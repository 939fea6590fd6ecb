package graft

/** Noop-sink wall time of registered queries, build included, in
  * alternating order (`<sfDir> <pairs> <query,query,...>`). An item
  * `a+b+c` times its queries in sequence as one run, so the consumers
  * of one `ModelCache` entry share a single fit. Every run, the warm-up
  * too, starts after `Stage.purge`, as each perfbench pass does, so no
  * run times a cache hit left by an earlier run. It runs on
  * [[ProbeSession]] and uses only the query registry and `Stage`, so
  * this file and `ProbeSession.scala` also compile in a checkout of an
  * older commit, for a parent/change comparison.
  */
object QueryNoopTimes {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val pairs = args(1).toInt
    val names = args(2).split(",").toSeq
    val spark = ProbeSession()
    def run(item: String): Double = {
      graft.operators.Stage.purge(spark)
      val t0 = System.nanoTime()
      item.split("\\+").foreach { q =>
        SparkEntry.queries(q)(spark, dir).write.format("noop")
          .mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach(run) // warm
    for (pair <- 1 to pairs) {
      val order = if (pair % 2 == 1) names else names.reverse
      order.foreach { q =>
        println(f"[noop] $dir pair=$pair $q wall=${run(q)}%.3fs")
      }
    }
    spark.stop()
  }
}
