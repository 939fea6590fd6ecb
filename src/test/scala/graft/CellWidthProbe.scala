package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grid-width sweep for the interval-overlap join
  * (`sbt "Test/runMain graft.CellWidthProbe <sfDir> [reps] [widths]"`,
  * defaults /tmp/sfrep30, 2 reps, widths 1,2,3,4,8,16,32,64):
  * reproduces join_overlap's a/b interval frames from `orders`, runs
  * `IntervalJoin.overlap` at each fixed width plus the
  * `autoCellWidth` pick, and reports wall seconds (best of reps),
  * output rows (must be identical across widths — the grid is a
  * physical choice, not a semantic one), and exploded cell counts per
  * side (the shuffle-volume driver). The measured curve against the
  * cost model's closed-form w* = sqrt(La·Lb) is the evidence ledger
  * reports/SWEEP_CELLW_r14.md cites (VERDICT r13 #1b / r12 #4).
  */
object CellWidthProbe {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sfrep30")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val widths = args.lift(2)
      .map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(1L, 2L, 3L, 4L, 8L, 16L, 32L, 64L))
    val spark = ProbeSession()

    // join_overlap's frames, verbatim (queries/Relational.scala)
    val o = queries.t(spark, dir, "orders")
      .filter(col("o_orderdate").isNotNull)
      .withColumn("day", datediff(to_date(col("o_orderdate")),
        to_date(lit("1995-01-01"))).cast("long"))
    val a = o.filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderstatus").as("a_st"), col("day").as("a_lo"),
        (col("day") + col("o_orderkey") % 20).as("a_hi"))
    val b = o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderstatus").as("b_st"),
        col("o_totalprice").as("b_price"), col("day").as("b_lo"),
        (col("day") + col("o_orderkey") % 15).as("b_hi"))

    def cellsPerSide(df: DataFrame, lo: String, hi: String, w: Long) =
      df.filter(col(hi) >= col(lo))
        .select(sum(floor(col(hi) / w) - floor(col(lo) / w) + 1))
        .head().getLong(0)

    def run(joined: => DataFrame): (Double, Long) = {
      var best = Double.MaxValue
      var rows = -1L
      (1 to reps).foreach { _ =>
        val t0 = System.nanoTime()
        val n = joined.groupBy("a_st", "b_st")
          .agg(count(lit(1)).as("n"))
          .agg(sum("n")).head().getLong(0)
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        rows = n
      }
      (best, rows)
    }

    val wAuto = graft.operators.IntervalJoin.autoCellWidth(
      a, b, "a_lo", "a_hi", "b_lo", "b_hi")
    println(s"[cellw] corpus=$dir autoCellWidth=$wAuto")
    widths.foreach { w =>
      val (sec, rows) = run(graft.operators.IntervalJoin.overlap(
        a, b, "a_lo", "a_hi", "b_lo", "b_hi", w))
      val ca = cellsPerSide(a, "a_lo", "a_hi", w)
      val cb = cellsPerSide(b, "b_lo", "b_hi", w)
      val tag = if (w == wAuto) " <= auto pick" else ""
      println(f"[cellw] w=$w%-4d best=$sec%7.2fs pairs=$rows%12d " +
        f"cells_a=$ca%10d cells_b=$cb%12d$tag")
      System.out.flush()
    }
    spark.stop()
  }
}
