package graft

import org.apache.spark.sql.functions._

/** Scale probe for PageRank (manual: sbt "Test/runMain
  * graft.PageRankProbe [sfDir]"): phase timing on the gate's
  * customer–supplier graph, then wall-clock on synthetic
  * preferential-attachment-ish graphs at 1M/5M/20M edges — rounds are
  * join+agg only, so the curve must stay near-linear in |E|.
  */
object PageRankProbe {
  def main(args: Array[String]): Unit = {
    val spark = ProbeSession()
    import spark.implicits._

    def timed[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val a = f
      println(f"PR $tag%-18s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      a
    }

    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val edges = timed("edges-build") {
      val e = graft.queries.t(spark, sfDir, "lineitem")
        .join(graft.queries.t(spark, sfDir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
        .distinct()
      val d = graft.operators.Stage.materialize(e, "probe_edges")
      println(s"PR gate edges = ${d.count()}")
      d
    }
    for (it <- Seq(1, 3, 5)) {
      timed(s"gate-iters-$it") {
        graft.operators.PageRank.ranks(edges, "a", "b", iters = it)
          .agg(sum("rank")).head()
      }
    }

    // synthetic: vertex v links to v % (v/2+1) — heavy-tailed in-degree
    for (m <- Seq(1L, 5L, 20L)) {
      val n = m * 1000000L
      val syn = spark.range(n)
        .select(col("id").cast("string").as("a"),
          pmod(col("id"), col("id") / 2 + 1).cast("string").as("b"))
        .filter(col("a") =!= col("b"))
      timed(s"synthetic-${m}M") {
        graft.operators.PageRank.ranks(syn, "a", "b", iters = 5)
          .agg(sum("rank")).head()
      }
    }
    spark.stop()
  }
}
