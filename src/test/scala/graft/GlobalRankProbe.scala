package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale probe for GlobalRank (manual: sbt "Test/runMain
  * graft.GlobalRankProbe"): exact-parity vs the single-partition window
  * at 1M rows, then wall-clock of the two-phase path at 2M/10M/50M —
  * the shape must stay near-linear (every stage is parallel; the only
  * single-point work is the partition-count offset scan). The global
  * window is timed at 2M only: it funnels all rows through ONE task's
  * sort, which is exactly the behavior GlobalRank exists to avoid.
  */
object GlobalRankProbe {
  def main(args: Array[String]): Unit = {
    val spark = ProbeSession()
    import spark.implicits._

    def data(n: Long) = spark.range(n)
      .select($"id", pmod(xxhash64($"id"), lit(1000)).as("k"))

    // exact parity at 1M (heavy ties → boundary-straddling keys)
    val small = data(1000000L)
    val two = graft.operators.GlobalRank
      .withGlobalRank(small, Seq($"k", $"id"), "r")
    val win = small.withColumn("r",
      row_number().over(Window.orderBy($"k", $"id")).cast("long"))
    val mism = two.exceptAll(win).count() + win.exceptAll(two).count()
    println(s"GRANK parity@1M mismatches=$mism")
    assert(mism == 0L, "two-phase rank diverged from the window answer")

    for (m <- Seq(2L, 10L, 50L)) {
      val n = m * 1000000L
      val t0 = System.nanoTime()
      val ranked = graft.operators.GlobalRank
        .withGlobalRank(data(n), Seq($"k", $"id"), "r")
      val mx = ranked.agg(max($"r")).head().getLong(0)
      val dt = (System.nanoTime() - t0) / 1e9
      // validation outside the timer: its distinct is a full extra
      // shuffle that would otherwise dominate the curve at 50M
      val distinct = ranked.agg(countDistinct($"r")).head().getLong(0)
      assert(mx == n && distinct == n, s"rank range broken at n=$n")
      println(f"GRANK two-phase rows=$n%9d time=$dt%6.1fs")
    }

    val t0 = System.nanoTime()
    data(2000000L).withColumn("r",
        row_number().over(Window.orderBy($"k", $"id")).cast("long"))
      .agg(max($"r")).head()
    println(f"GRANK global-window rows=  2000000 time=${(System.nanoTime() - t0) / 1e9}%6.1fs (ONE task sorts all rows)")
    spark.stop()
  }
}
