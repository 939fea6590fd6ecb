package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{AsofJoin, Classify, Cluster, Cohort, Dedup,
  Funnel, Similarity, TimeSeries}
import graft.streaming.EventStreams

/** The r15 library-wide NULL contracts (reports/SWEEP_NULL_r15.md),
  * pinned as unit tests so they survive refactors without needing the
  * null corpus: the null-corpus sweep found 13 operators CRASHING and
  * 36 silently diverging cross-engine on null data; each family now
  * has an explicit documented contract, and each test here drives an
  * operator with injected nulls and asserts both no-crash and the
  * contract's exclusion/placement semantics (usually: output over
  * nulled input == output over the pre-filtered input).
  */
class NullContractSpec extends SparkFunSuite {
  import spark.implicits._

  // an events-shaped frame with null ts / null value / null type rows
  // riding alongside clean rows
  private def ev: DataFrame = Seq(
    (1L, Some("2024-01-01 01:00:00"), 10L, Some("view"), Some(1.0)),
    (2L, Some("2024-01-01 02:00:00"), 10L, Some("click"), Some(2.0)),
    (3L, Some("2024-01-01 03:00:00"), 10L, Some("purchase"), Some(30.0)),
    (4L, None, 10L, Some("purchase"), Some(99.0)), // null ts
    (5L, Some("2024-01-01 04:00:00"), 10L, None, Some(4.0)), // null type
    (6L, Some("2024-01-01 05:00:00"), 10L, Some("view"), None), // null v
    (7L, None, 11L, None, None), // all-null payload
    (8L, Some("2024-01-01 06:00:00"), 11L, Some("view"), Some(8.0))
  ).toDF("event_id", "ts_s", "user_id", "event_type", "value")
    .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")

  private def clean: DataFrame = ev.filter(col("ts").isNotNull)

  private def sameRows(a: DataFrame, b: DataFrame, hint: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, hint)

  test("stateful family: null event-time/value rows never enter state " +
       "(and never NOT_NULL-crash the primitive tuple decode)") {
    // contract: nulled input == pre-filtered input, per operator's
    // consumed-field set
    sameRows(EventStreams.anomalies(spark, ev, minObs = 2).toDF(),
      EventStreams.anomalies(spark,
        clean.filter(col("value").isNotNull), minObs = 2).toDF(),
      "anomalies")
    sameRows(EventStreams.cusumMonitor(spark, ev, minObs = 2).toDF(),
      EventStreams.cusumMonitor(spark,
        clean.filter(col("value").isNotNull), minObs = 2).toDF(),
      "cusum")
    sameRows(
      EventStreams.funnelDepths(spark, ev,
        Seq("view", "click", "purchase")).toDF(),
      EventStreams.funnelDepths(spark, clean,
        Seq("view", "click", "purchase")).toDF(),
      "funnel")
    sameRows(EventStreams.lastTouchAttribution(spark, ev).toDF(),
      EventStreams.lastTouchAttribution(spark, clean).toDF(),
      "attrib")
    sameRows(EventStreams.runningUserState(spark, ev).toDF(),
      EventStreams.runningUserState(spark,
        ev.filter(col("value").isNotNull)).toDF(),
      "stateful")
  }

  test("ordered folds: a null order key or value is excluded, not " +
       "engine-dependently sorted") {
    def f(df: DataFrame) = TimeSeries.ewma(df, "user_id",
      unix_micros(col("ts")), col("event_id"), col("value"))
    sameRows(f(ev), f(clean.filter(col("value").isNotNull)), "ewma")
    def c(df: DataFrame) = TimeSeries.cusum(df, "user_id",
      unix_micros(col("ts")), col("event_id"), col("value"))
    sameRows(c(ev), c(clean.filter(col("value").isNotNull)), "cusum")
    sameRows(
      Funnel.report(ev, "user_id", "ts", "event_id", "event_type",
        Seq("view", "click")),
      Funnel.report(clean, "user_id", "ts", "event_id", "event_type",
        Seq("view", "click")),
      "funnel report")
    sameRows(Cohort.retention(ev, "user_id", col("ts")),
      Cohort.retention(clean, "user_id", col("ts")), "cohort")
  }

  test("as-of join: a null-time checkpoint is never 'latest' (the " +
       "phantom-earliest regression); a null-time probe keeps its row " +
       "with a null payload") {
    val probes = Seq((1L, Some(100L)), (2L, Some(300L)), (3L, None)
      ).toDF("pid", "t_o").select(col("pid"), col("t_o").as("t"))
    val cps = Seq((Some(50L), 1.0), (None, 99.0), (Some(250L), 2.0)
      ).toDF("ct_o", "rate").select(col("ct_o").as("t"), col("rate"))
    val out = AsofJoin.asofJoin(probes, cps, keyCols = Nil,
        timeCol = "t", payload = Seq("rate"))
      .select("pid", "rate").as[(Long, Option[Double])]
      .collect().toMap
    // the null-time checkpoint (99.0) must credit NOTHING — without
    // the right-side filter Spark's nulls-first sort would hand it to
    // every probe before t=50
    assert(out(1L) === Some(1.0), s"probe@100 got ${out(1L)}")
    assert(out(2L) === Some(2.0), s"probe@300 got ${out(2L)}")
    assert(out(3L) === None, "null-time probe must be a no-match row")
    assert(out.size === 3)
  }

  // an embeddings-shaped frame with null vectors / labels riding along
  private def emb: DataFrame = {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 40L).map { i =>
      val v: Option[Seq[Float]] =
        if (i % 9 == 0) None
        else Some(Seq.fill(8)(rnd.nextFloat()))
      val lab: Option[Int] = if (i % 7 == 0) None else Some((i % 3).toInt)
      (i, v, lab)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("vector family: null embeddings are neither indexed, scored, " +
       "nor queried; null-vector queries have no answer set") {
    val nn = emb.filter(col("embedding").isNotNull)
    // brute path: nulled corpus+queries == pre-filtered
    sameRows(
      Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 12), k = 3,
        roundTo = 6),
      Similarity.bruteTopK(nn, nn.filter(col("vec_id") < 12), k = 3,
        roundTo = 6),
      "bruteTopK")
    // staged index paths: fit + probe must not NPE and must equal the
    // pre-filtered fit (vec 9/18/27/36 are the null vectors)
    val mNull = Similarity.fitPq(emb, dim = 8, m = 4, kSub = 16)
    val mClean = Similarity.fitPq(nn, dim = 8, m = 4, kSub = 16)
    sameRows(
      Similarity.probePq(mNull, emb, emb.filter(col("vec_id") < 6),
        k = 3, rerank = 16, roundTo = 5),
      Similarity.probePq(mClean, nn, nn.filter(col("vec_id") < 6),
        k = 3, rerank = 16, roundTo = 5),
      "pq fit+probe")
    val ivfNull = Similarity.fitIvf(emb, nlist = 4)
    val ivfClean = Similarity.fitIvf(nn, nlist = 4)
    sameRows(
      Similarity.probeIvf(ivfNull, emb.filter(col("vec_id") < 12), k = 3,
        nprobe = 2, roundTo = 6),
      Similarity.probeIvf(ivfClean, nn.filter(col("vec_id") < 12), k = 3,
        nprobe = 2, roundTo = 6),
      "ivf fit+probe")
    val ivfPqNull = Similarity.fitIvfPq(emb, dim = 8, nlist = 4, m = 4,
      kSub = 16)
    val ivfPqClean = Similarity.fitIvfPq(nn, dim = 8, nlist = 4, m = 4,
      kSub = 16)
    sameRows(
      Similarity.probeIvfPq(ivfPqNull, emb, emb.filter(col("vec_id") < 12),
        k = 3, nprobe = 2, rerank = 16, roundTo = 5),
      Similarity.probeIvfPq(ivfPqClean, nn, nn.filter(col("vec_id") < 12),
        k = 3, nprobe = 2, rerank = 16, roundTo = 5),
      "ivf-pq fit+probe")
    // kmeans: null vectors excluded; cluster sizes sum to non-null n
    val km = Cluster.kmeans(emb, "vec_id", "embedding", k = 3, iters = 2)
    val total = km.select("cluster_id", "n").distinct()
      .agg(sum("n")).head().getLong(0)
    assert(total === nn.count(), s"kmeans clustered $total rows")
  }

  test("classifier family: a null label is UNLABELED — no class, no " +
       "training mass") {
    val docs = Seq(
      (1L, "alpha beta beta", Some("a")),
      (2L, "beta gamma gamma", Some("b")),
      (3L, "alpha alpha beta", None), // unlabeled — must not train
      (4L, "gamma gamma beta", Some("b"))
    ).toDF("doc_id", "text", "source")
    val model = Classify.trainNb(docs, "doc_id", "text", "source")
    assert(model.classes === Seq("a", "b"),
      s"null label leaked into classes: ${model.classes}")
    val cleanModel = Classify.trainNb(
      docs.filter(col("source").isNotNull), "doc_id", "text", "source")
    assert(model.classes === cleanModel.classes &&
      model.priorLp === cleanModel.priorLp, "unlabeled row trained")
  }

  test("clone collapse: null texts stay singleton members and never " +
       "merge as a 'null clone group'") {
    val docs = Seq((1L, Some("same text here")), (2L, Some("same text here")),
      (3L, None), (4L, None)).toDF("doc_id", "text")
    val (membership, reps) = Dedup.textGroups(docs, "doc_id", "text")
    val m = membership.as[(Long, Long)].collect().toMap
    assert(m(3L) === 3L && m(4L) === 4L,
      s"null texts must self-group, got $m")
    assert(m(1L) === 1L && m(2L) === 1L)
    assert(reps.filter(col("text").isNull).count() === 0L,
      "null text must not become a rep")
  }

  test("multimodal: a null payload is a missing asset — skipped, " +
       "never an NPE inside a codec") {
    val payloads = Seq(
      (1L, Option("RIFFxxxxWAVE".getBytes("UTF-8"))),
      (2L, Option.empty[Array[Byte]]),
      (3L, Option("plain bytes payload".getBytes("UTF-8")))
    ).toDF("id", "payload")
    val feats = graft.multimodal.Multimodal
      .extractFeatures(spark, payloads).toDF()
    assert(feats.count() === 2L &&
      feats.filter(col("id") === 2L).count() === 0L)
    val frames = graft.multimodal.Multimodal
      .sampleFrames(spark, payloads, everyN = 4).toDF()
    assert(frames.count() === 2L &&
      frames.filter(col("id") === 2L).count() === 0L)
  }
}
