package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Checkpoint-restart recovery for the custom stateful streaming
  * operators — the first failure a real pipeline hits, and the one
  * StreamingSpec's single-query tests cannot see: run triggers, STOP
  * the query, start a NEW query from the same checkpoint, run more
  * triggers, and require the combined output to equal an uninterrupted
  * run bit-for-bit. That one equality catches both failure modes at
  * once: state loss (the restarted run under-reports rows whose
  * emission needed pre-restart state) and double emission (the
  * restarted run replays a committed batch).
  *
  * Batches are constructed so the post-restart output DEPENDS on
  * pre-restart state (a funnel that must remember its depth, an
  * anomaly baseline built before the restart, a carried last-touch,
  * an LSH bucket holding the pre-restart signature...) — recovery
  * equality is non-vacuous by construction, and each case asserts
  * non-emptiness besides.
  */
class StreamRestartSpec extends SparkFunSuite {
  import spark.implicits._
  import graft.streaming.{DocStreams, EventStreams}

  final case class Ev(ts: Timestamp, event_id: Long, user_id: Long,
                      event_type: String, value: Double)

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  /** Per-batch row collector: foreachBatch is the recovery-capable
    * sink (the memory sink REFUSES to restart from a checkpoint —
    * "This query does not support recovering from checkpoint
    * location"), and keeping batch ids lets complete mode compare
    * final snapshots.
    */
  private final class Collector {
    private val buf =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Array[String])]
    def sink(df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long): Unit = {
      val rows = df.collect().map(_.toString)
      buf.synchronized { buf += ((id, rows)); () }
    }
    def allRows: Seq[String] = buf.synchronized { buf.toSeq }
      .flatMap(_._2)
    def lastBatchRows: Seq[String] = buf.synchronized { buf.toSeq }
      .sortBy(_._1).lastOption.map(_._2.toSeq).getOrElse(Nil)
  }

  /** Run `transform` over batchA / STOP / restart from the same
    * checkpoint / batchB, and over batchA+batchB uninterrupted; return
    * (restarted, straight) row multisets (complete mode compares final
    * snapshots — each trigger re-emits the full result either way).
    */
  private def restartedVsStraight[T: Encoder](
      transform: DataFrame => DataFrame, mode: String,
      batchA: Seq[T], batchB: Seq[T]): (Seq[String], Seq[String]) = {
    implicit val sq = spark.sqlContext
    def ckpt() = Files.createTempDirectory("graft_ckpt").toString

    val in1 = MemoryStream[T]
    val ck = ckpt()
    val (c1, c2, c3) = (new Collector, new Collector, new Collector)
    val q1 = transform(in1.toDF()).writeStream.outputMode(mode)
      .option("checkpointLocation", ck).foreachBatch(c1.sink _).start()
    try { in1.addData(batchA); q1.processAllAvailable() } finally q1.stop()
    // new query, SAME source + checkpoint: recovery, not a fresh start
    val q2 = transform(in1.toDF()).writeStream.outputMode(mode)
      .option("checkpointLocation", ck).foreachBatch(c2.sink _).start()
    try { in1.addData(batchB); q2.processAllAvailable() } finally q2.stop()

    val in2 = MemoryStream[T]
    val q3 = transform(in2.toDF()).writeStream.outputMode(mode)
      .option("checkpointLocation", ckpt()).foreachBatch(c3.sink _).start()
    try {
      in2.addData(batchA); q3.processAllAvailable()
      in2.addData(batchB); q3.processAllAvailable()
    } finally q3.stop()

    val restarted =
      if (mode == "complete") c2.lastBatchRows.sorted
      else (c1.allRows ++ c2.allRows).sorted
    val straight =
      if (mode == "complete") c3.lastBatchRows.sorted
      else c3.allRows.sorted
    (restarted, straight)
  }

  private def assertRecovers[T: Encoder](
      name: String, transform: DataFrame => DataFrame, mode: String,
      batchA: Seq[T], batchB: Seq[T]): Unit = {
    val (restarted, straight) =
      restartedVsStraight(transform, mode, batchA, batchB)
    assert(straight.nonEmpty, s"$name: straight run emitted nothing — " +
      "recovery equality would be vacuous")
    assert(restarted === straight,
      s"$name: restart from checkpoint diverged from uninterrupted run")
  }

  /** The five flatMapGroupsWithState operators over events. */
  private def eventCases
      : Seq[(String, DataFrame => DataFrame, String, Seq[Ev], Seq[Ev])] = Seq(
    ("runningUserState",
      (df: DataFrame) => EventStreams.runningUserState(spark, df).toDF(),
      "update",
      Seq(Ev(ts(0), 1, 7, "click", 1.5)),
      // the restarted total must include batch A's 1.5
      Seq(Ev(ts(1), 2, 7, "click", 2.5))),
    ("funnelDepths",
      (df: DataFrame) => EventStreams.funnelDepths(spark, df,
        Seq("view", "click", "purchase")).toDF(),
      "update",
      Seq(Ev(ts(0), 1, 7, "view", 1.0)),
      // click->purchase only advance depth if the view survived
      Seq(Ev(ts(1), 2, 7, "click", 1.0), Ev(ts(2), 3, 7, "purchase", 9.0))),
    ("anomalies",
      (df: DataFrame) => EventStreams.anomalies(spark, df, minObs = 12,
        threshold = 3.0).toDF(),
      "append",
      // baseline (mean 10, tight spread) built BEFORE the restart
      (0 until 12).map(i =>
        Ev(ts(i), 100 + i, 7, "metric", 10.0 + 0.1 * (i % 3))),
      // the spike flags only against the recovered Welford state
      Seq(Ev(ts(20), 200, 7, "metric", 100.0))),
    ("cusumMonitor",
      (df: DataFrame) => EventStreams.cusumMonitor(spark, df, minObs = 12).toDF(),
      "append",
      (0 until 12).map(i =>
        Ev(ts(i), 100 + i, 7, "metric", 10.0 + 0.1 * (i % 3))),
      // sustained drift: alarms accumulate across the restart
      (0 until 8).map(i => Ev(ts(20 + i), 200 + i, 7, "metric", 30.0))),
    ("lastTouchAttribution",
      (df: DataFrame) => EventStreams.lastTouchAttribution(spark, df).toDF(),
      "append",
      Seq(Ev(ts(0), 1, 7, "click", 1.0), Ev(ts(1), 2, 8, "purchase", 2.5)),
      // credit the pre-restart click; user 8 stays direct
      Seq(Ev(ts(5), 3, 7, "purchase", 10.0),
        Ev(ts(6), 4, 8, "purchase", 1.0))))

  test("fmgws operators recover state from a checkpoint restart") {
    eventCases.foreach { case (name, tf, mode, a, b) =>
      assertRecovers(name, tf, mode, a, b)
    }
  }

  test("windowed sketch aggregations recover merged state after restart") {
    // built-in agg state rather than fmgws, but the recovery contract
    // is the same: the post-restart trigger must MERGE into window
    // state written before the stop
    assertRecovers[Ev]("windowTopTerms",
      df => EventStreams.windowTopTerms(df, "event_type",
        watermark = "5 minutes", k = 2, capacity = 16),
      "complete",
      Seq(Ev(ts(0), 1, 1, "click", 1.0), Ev(ts(5), 2, 1, "click", 1.0),
        Ev(ts(10), 3, 2, "view", 1.0)),
      Seq(Ev(ts(15), 4, 2, "view", 1.0), Ev(ts(20), 5, 2, "view", 1.0)))
    assertRecovers[Ev]("windowDistinct",
      df => EventStreams.windowDistinct(df, watermark = "5 minutes"),
      "complete",
      Seq(Ev(ts(0), 1, 7, "view", 1.0), Ev(ts(5), 2, 8, "view", 1.0)),
      // user 7 reappears: a restart that lost the sketch double-counts
      Seq(Ev(ts(10), 3, 7, "view", 1.0), Ev(ts(15), 4, 9, "view", 1.0)))
  }

  test("streaming near-dup recovers its bucket state across a restart") {
    val base = "the quick brown fox jumps over the lazy dog and runs far " +
      "away while the sun sets slowly behind the tall green hills tonight"
    val other = "completely different text about spark query engines and " +
      "distributed columnar execution at terabyte scale with shuffles"
    assertRecovers[(Long, String)]("nearDupMatches",
      df => DocStreams.nearDupMatches(spark, df.toDF("doc_id", "text")).toDF(),
      "append",
      Seq((1L, base), (2L, other)),
      // doc 3 only matches if doc 1's signature survived the restart
      Seq((3L, base + " extra")))
  }
}
