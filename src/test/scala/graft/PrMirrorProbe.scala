package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** r18: union-mirror vs explode-mirror for PageRank's edge prep. The
  * union references the caller's edge lineage twice (two plan branches
  * each re-running the fact join); the explode emits both directions
  * from one pass. Same-session alternating A/B over the registered
  * query's real lineage (lineitem ⋈ orders at $SPARK_GRAFT_SF_DIR),
  * timing the edge-prep pipeline to a noop sink (repartition +
  * distinct + degree window — the stage write excluded so the variants
  * differ only in the mirrored-input shape). Row counts printed as the
  * value check.
  *
  * Manual: sbt "Test/runMain graft.PrMirrorProbe [reps]".
  */
object PrMirrorProbe {
  def main(args: Array[String]): Unit = {
    val reps = args.lift(0).map(_.toInt).getOrElse(5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = ProbeSession()

    def base(): DataFrame = queries.t(spark, sfDir, "lineitem")
      .join(queries.t(spark, sfDir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))

    def prep(dir: DataFrame): DataFrame =
      dir.repartition(col("src")).distinct()
        .withColumn("outdeg",
          count(lit(1)).over(Window.partitionBy("src")).cast("long"))

    def unionMirror(): DataFrame = {
      val b = base()
      prep(b.unionByName(
        b.select(col("dst").as("src"), col("src").as("dst"))))
    }
    def explodeMirror(): DataFrame = {
      val b = base()
      prep(b.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")))
    }
    println(s"[prmirror] rows: union=${unionMirror().count()} " +
      s"explode=${explodeMirror().count()}")
    def time(tag: String)(f: () => DataFrame): Unit = {
      val t0 = System.nanoTime()
      f().write.format("noop").mode("overwrite").save()
      println(f"[prmirror] $tag%-8s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
    }
    (1 to reps).foreach { _ =>
      time("union")(unionMirror _)
      time("explode")(explodeMirror _)
    }
    spark.stop()
  }
}
