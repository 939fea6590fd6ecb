package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r18 (VERDICT r17 item 5): A/B the PageRank SHUFFLE-JOIN regime's
  * lineage-cut cadence on a fat graph — the >2M-vertex path the r17
  * broadcast-round pinning does not touch. Rounds chain lazily; every
  * `stageEvery`-th round is staged to bound plan depth (passed to
  * `PageRank.ranks`). Question: does staging every 2nd round (more
  * parquet round-trips, shorter replays) or every 6th/8th (no stage at
  * 5 iters, deepest plans) beat the shipped `PageRank.StageEvery` = 4?
  *
  * Manual: sbt "Test/runMain graft.PageRankCadenceProbe [nVerts] [reps]".
  * Graph: ~nVerts distinct vertices (default 3M — above
  * broadcastVertLimit, forcing the shuffle regime), 4·nVerts directed
  * pairs, mirrored by the operator; 5 iterations (the registered
  * query's setting). Rank-sum is printed as a cross-cadence value
  * check (identical arithmetic → identical sums).
  */
object PageRankCadenceProbe {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(3000000L)
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = ProbeSession()
    import spark.implicits._

    def edges(): DataFrame = spark.range(4L * n).select(
      pmod(xxhash64($"id"), lit(n)).as("src"),
      pmod(xxhash64($"id", lit(1)), lit(n)).as("dst"))

    (1 to reps).foreach { _ =>
      Seq(2, 4, 6, 8).foreach { c =>
        val t0 = System.nanoTime()
        val s = graft.operators.PageRank
          .ranks(edges(), "src", "dst", iters = 5, stageEvery = c)
          .agg(sum("rank")).head().getDouble(0)
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[prcadence] stageEvery=$c $secs%8.2f s (ranksum=$s%.4f)")
      }
    }
    spark.stop()
  }
}
