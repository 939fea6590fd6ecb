package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** r18 skew×fat sweep (VERDICT r17 item 3, owed since r16 item 8):
  * does the bucketed GlobalRank degrade when a single LEAD-KEY VALUE
  * carries most rows (all its rows funnel through one bucket's sort,
  * where the staged fallback spreads exact ties by the tiebreak), and
  * does corpus_interleave's per-source rank window funnel under a hot
  * `source`?
  *
  * Manual: sbt "Test/runMain graft.SkewFatProbe [rows] [reps]".
  * Three shapes, each timed hot-vs-balanced at the same row count:
  *
  *  1. withRunningTotal (corpus_budget's shape) — lead key `lead`
  *     DESC, 80% of rows sharing ONE lead value (hot) vs ~100k
  *     distinct values (balanced); parity of the hot run is asserted
  *     against the windowed ground truth on a 200k slice.
  *  2. the staged fallback forced onto the same hot frame (string-cast
  *     lead) — the comparison that says whether a detected-hot input
  *     should reroute there.
  *  3. corpus_interleave's composite: per-source rank window then
  *     GlobalRank over (src_rank, source) — 90% of rows in one source
  *     vs 10 uniform sources.
  */
object SkewFatProbe {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(4000000L)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = ProbeSession()
    import spark.implicits._

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(tag: String)(f: => DataFrame): Double = {
      val t0 = System.nanoTime()
      noop(f)
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[skewfat] $tag%-28s $s%8.3f s")
      s
    }

    // 80% of rows share lead == 500000 (sorts mid-range), 20% spread
    // over ~100k values; toks is a small positive long payload
    def hotLead(rows: Long): DataFrame = spark.range(rows).select($"id",
      when(pmod($"id", lit(5)) < 4, lit(500000L))
        .otherwise(pmod(xxhash64($"id"), lit(1000000L))).as("lead"),
      (pmod(xxhash64($"id", lit(7)), lit(997L)) + 1L).as("toks"))
    def balLead(rows: Long): DataFrame = spark.range(rows).select($"id",
      pmod(xxhash64($"id", lit(3)), lit(1000000L)).as("lead"),
      (pmod(xxhash64($"id", lit(7)), lit(997L)) + 1L).as("toks"))

    // parity pin: hot frame, bucketed vs global-window ground truth
    val probeDf = hotLead(200000L)
    val got = graft.operators.GlobalRank.withRunningTotal(probeDf,
      Seq($"lead".desc, $"id"), $"toks", "r", "cum")
    val want = probeDf
      .withColumn("r", row_number()
        .over(Window.orderBy($"lead".desc, $"id")).cast("long"))
      .withColumn("cum", sum($"toks")
        .over(Window.orderBy($"lead".desc, $"id")
          .rowsBetween(Window.unboundedPreceding, 0)))
    val mism = got.join(want, Seq("id"), "inner")
      .filter(got("r") =!= want("r") || got("cum") =!= want("cum")).count()
    require(mism == 0L, s"hot-lead parity broke: $mism mismatched rows")
    println(s"[skewfat] parity: 0 mismatches at 200k hot rows")
    // plan evidence for the sweep report: the hot value's rows must
    // fan out over second-key sub-buckets (a CASE on __gr_d2), not
    // funnel into one bucket id
    java.nio.file.Files.write(
      java.nio.file.Paths.get("reports/skewfat_hot_plan_r18.txt"),
      got.queryExecution.executedPlan.toString.getBytes("UTF-8"))

    (1 to reps).foreach { _ =>
      time("running_total hot")(graft.operators.GlobalRank
        .withRunningTotal(hotLead(n), Seq($"lead".desc, $"id"), $"toks",
          "r", "cum"))
      time("running_total balanced")(graft.operators.GlobalRank
        .withRunningTotal(balLead(n), Seq($"lead".desc, $"id"), $"toks",
          "r", "cum"))
      // the staged fallback on the SAME hot distribution (string lead
      // key forces it) — spreads exact ties by the range partitioner's
      // full-tuple boundaries
      time("running_total hot STAGED")(graft.operators.GlobalRank
        .withRunningTotal(
          hotLead(n).withColumn("lead",
            lpad($"lead".cast("string"), 8, "0")),
          Seq($"lead".desc, $"id"), $"toks", "r", "cum"))

      // corpus_interleave shape: hot source vs uniform sources, with
      // the per-source rank via the plain window (old) and via the
      // grouped bucketed rank (r18)
      def interleave(docs: DataFrame,
                     grouped: Boolean = false): DataFrame = {
        val ranked = (if (grouped)
          graft.operators.GlobalRank.withGroupedRank(docs,
            Seq("source"), Seq($"hk", $"id"), "src_rank")
        else docs.withColumn("src_rank",
          row_number().over(Window.partitionBy("source")
            .orderBy($"hk", $"id")).cast("long")))
          .select($"id", $"source", $"src_rank")
        graft.operators.GlobalRank.withGlobalRank(ranked,
          Seq($"src_rank", $"source".asc_nulls_last), "pos")
      }
      def docs(hot: Boolean): DataFrame = spark.range(n).select($"id",
        (if (hot) when(pmod($"id", lit(10)) < 9, lit("hot"))
          .otherwise(concat(lit("s"), pmod(xxhash64($"id"), lit(9))))
        else concat(lit("s"), pmod(xxhash64($"id"), lit(10)))).as("source"),
        xxhash64($"id", lit(11)).as("hk"))
      time("interleave hot-source")(interleave(docs(hot = true)))
      time("interleave hot GROUPED")(
        interleave(docs(hot = true), grouped = true))
      time("interleave uniform")(interleave(docs(hot = false)))
      time("interleave uniform GROUPED")(
        interleave(docs(hot = false), grouped = true))
    }
    spark.stop()
  }
}
