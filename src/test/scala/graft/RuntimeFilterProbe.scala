package graft
import org.apache.spark.sql.functions._

/** Bloom runtime-filter probe: the non-broadcastable-dim regime (the
  * 100 TB shape — dim too big to broadcast, fact huge). The question:
  * does pre-shuffle bloom pruning beat shuffling the full fact side
  * into the semi-join? Results land in BASELINE.md.
  */
object RuntimeFilterProbe {
  def main(args: Array[String]): Unit = {
    val spark = ProbeSession(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // 100 TB regime
    import spark.implicits._

    val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice")
    val mult = 16
    val fact = (0 until mult).map(m =>
        li.select(($"l_orderkey" + lit(m * 100000000L)).as("l_orderkey"),
          $"l_suppkey", $"l_extendedprice"))
      .reduce(_ unionByName _).persist()
    val factN = fact.count()

    // ~1% of supplier keys pass: the selective-dim case runtime filters
    // exist for
    val dim = spark.read.parquet("/root/testdata/sf0.1/supplier.parquet")
      .filter($"s_acctbal" > 9900).select($"s_suppkey").persist()
    val dimN = dim.count()

    def time(tag: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"BLOOMPROBE $tag%-12s fact=$factN%9d dim=$dimN%4d out=$n%8d " +
        f"time=${(System.nanoTime() - t0) / 1e9}%6.2fs")
    }

    for (_ <- 1 to 2) { // second rep = warm JIT/cache, report both
      time("plain_semi") {
        fact.join(dim.withColumnRenamed("s_suppkey", "l_suppkey"),
          Seq("l_suppkey"), "left_semi").count()
      }
      time("bloom_semi") {
        graft.operators.RuntimeFilter
          .bloomSemiJoin(fact, "l_suppkey", dim, "s_suppkey").count()
      }
    }
    spark.stop()
  }
}
