package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** True Structured Streaming path (SURVEY.md §2.9): MemoryStream-driven
  * incremental execution of the EventStreams transforms — windows,
  * watermarked dedup, and custom flatMapGroupsWithState state.
  */
class StreamingSpec extends SparkFunSuite {
  import spark.implicits._

  final case class Ev(ts: Timestamp, event_id: Long, user_id: Long,
                      event_type: String, value: Double)

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private var tableN = 0
  private def nextTable(): String = { tableN += 1; s"stream_out_$tableN" }

  test("tumbling window aggregates incrementally over a stream") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val name = nextTable()
    val q = EventStreams.tumble(in.toDF(), watermark = "5 minutes")
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try {
      in.addData(Ev(ts(0), 1, 1, "click", 1.0), Ev(ts(10), 2, 1, "click", 2.0))
      q.processAllAvailable()
      in.addData(Ev(ts(20), 3, 2, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table(name)
        .select($"event_type", $"n", $"sum_v")
        .as[(String, Long, Double)].collect().toSet
      assert(rows === Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("windowed top-terms sketch merges across triggers (streaming Space-Saving)") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val name = nextTable()
    val q = EventStreams.windowTopTerms(in.toDF(), "event_type",
        watermark = "5 minutes", k = 2, capacity = 16)
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try {
      // trigger 1: click x2, view x1 — trigger 2 must MERGE into the
      // same window's sketch state, flipping the leader to view
      in.addData(Ev(ts(0), 1, 1, "click", 1.0), Ev(ts(5), 2, 1, "click", 1.0),
        Ev(ts(10), 3, 2, "view", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts(15), 4, 2, "view", 1.0), Ev(ts(20), 5, 2, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table(name)
        .selectExpr("inline(tt)").as[(String, Long, Long)].collect().toList
      assert(rows == List(("view", 3L, 0L), ("click", 2L, 0L)),
        s"sketch state did not merge across triggers: $rows")
    } finally q.stop()
  }

  test("watermarked dedup drops replayed event ids") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val name = nextTable()
    val q = EventStreams.dedup(in.toDF(), watermark = "30 minutes")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(Ev(ts(0), 1, 1, "click", 1.0), Ev(ts(1), 2, 1, "click", 2.0))
      q.processAllAvailable()
      // replay id=1 (late duplicate) + one new event
      in.addData(Ev(ts(0), 1, 1, "click", 1.0), Ev(ts(2), 3, 2, "view", 3.0))
      q.processAllAvailable()
      val ids = spark.table(name).select("event_id").as[Long].collect().sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stream-stream interval join pairs events incrementally") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val name = nextTable()
    val q = EventStreams.intervalJoin(in.toDF(), watermark = "30 minutes",
      horizon = "5 minutes")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(
        Ev(ts(0), 1, 1, "click", 1.0),
        Ev(ts(3), 2, 1, "view", 2.0),   // within 5 min of id 1
        Ev(ts(10), 3, 1, "view", 4.0),  // outside id 1+2's horizon
        Ev(ts(2), 4, 2, "click", 8.0))  // other user — never pairs
      q.processAllAvailable()
      in.addData(Ev(ts(12), 5, 1, "click", 16.0)) // within 5 min of id 3
      q.processAllAvailable()
      val pairs = spark.table(name).select("a_id", "b_id")
        .as[(Long, Long)].collect().toSet
      assert(pairs === Set((1L, 2L), (3L, 5L)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState keeps running per-user totals across triggers") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val name = nextTable()
    val q = EventStreams.runningUserState(spark, in.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      in.addData(Ev(ts(0), 1, 7, "click", 1.5))
      q.processAllAvailable()
      in.addData(Ev(ts(1), 2, 7, "click", 2.5))
      q.processAllAvailable()
      // last update for user 7 must reflect state carried across triggers
      val updates = spark.table(name)
        .as[(Long, Long, Double)].collect()
      assert(updates.toSet === Set((7L, 1L, 1.5), (7L, 2L, 4.0)))
    } finally q.stop()
  }

  test("streaming funnel advances depth across triggers; out-of-order events cannot rewind") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val name = nextTable()
    val q = EventStreams.funnelDepths(spark, in.toDF(),
        Seq("view", "click", "purchase"))
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      def lastDepth(): Int = spark.table(name)
        .filter(col("user_id") === 7).select("depth")
        .as[Int].collect().last
      in.addData(Ev(ts(0), 1, 7, "view", 1.0))
      q.processAllAvailable()
      assert(lastDepth() === 1)
      // click at minute 4 advances state carried from the first trigger
      in.addData(Ev(ts(4), 2, 7, "click", 1.0))
      q.processAllAvailable()
      assert(lastDepth() === 2)
      // LATE purchase at minute 2 — before the click the funnel already
      // matched — must NOT advance (online strict-after semantics)
      in.addData(Ev(ts(2), 3, 7, "purchase", 1.0))
      q.processAllAvailable()
      assert(lastDepth() === 2)
      in.addData(Ev(ts(9), 4, 7, "purchase", 1.0))
      q.processAllAvailable()
      assert(lastDepth() === 3)
      // non-step and wrong-order events never created state for user 8
      in.addData(Ev(ts(9), 5, 8, "purchase", 1.0))
      q.processAllAvailable()
      assert(spark.table(name).filter(col("user_id") === 8)
        .select("depth").as[Int].collect().forall(_ === 0))
    } finally q.stop()
  }

  test("streaming anomaly: spike flags against state built in earlier triggers") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val name = nextTable()
    val q = EventStreams.anomalies(spark, in.toDF(), minObs = 12)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // trigger 1: 12 tightly-spread baseline values — nothing fires
      // (the first 12 are below minObs; sd is tiny afterwards)
      in.addData((0 until 12).map(i =>
        Ev(ts(i), i.toLong, 7, "m", 10.0 + (i % 3))))
      q.processAllAvailable()
      assert(spark.table(name).count() === 0)
      // trigger 2: a 100 spike against the carried baseline must flag;
      // the normal value right after it must not (baseline absorbed
      // the spike but sd is now large)
      in.addData(Ev(ts(20), 100L, 7, "m", 100.0),
        Ev(ts(21), 101L, 7, "m", 11.0))
      q.processAllAvailable()
      val hits = spark.table(name)
        .select("event_id").as[Long].collect().toSeq
      assert(hits === Seq(100L))
      // a fresh user with < minObs history never scores
      in.addData(Ev(ts(22), 200L, 8, "m", 1e6))
      q.processAllAvailable()
      assert(!spark.table(name).select("user_id")
        .as[Long].collect().contains(8L))
    } finally q.stop()
  }

  test("streaming cusum: sustained drift alarms against cross-trigger state") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val name = nextTable()
    val q = EventStreams.cusumMonitor(spark, in.toDF(), minObs = 12)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      def latest(uid: Long) = spark.table(name)
        .filter(col("user_id") === uid)
        .orderBy(col("n").desc).select("alarms", "max_cusum", "n")
        .head()
      // trigger 1: baseline with some spread (sd ~ 0.8) — no alarms
      in.addData((0 until 12).map(i =>
        Ev(ts(i), i.toLong, 7, "m", 10.0 + (i % 3))))
      q.processAllAvailable()
      assert(latest(7).getAs[Long]("alarms") === 0L)
      // trigger 2: a sustained +2-sd shift the z-screen would miss
      // per-event, but CUSUM accumulates across THIS trigger against
      // state carried from the previous one
      in.addData((0 until 10).map(i =>
        Ev(ts(20 + i), (100 + i).toLong, 7, "m", 12.5)))
      q.processAllAvailable()
      val r = latest(7)
      assert(r.getAs[Long]("n") === 22L)
      assert(r.getAs[Long]("alarms") > 0L, s"sustained drift not flagged: $r")
      assert(r.getAs[Double]("max_cusum") > 4.0)
    } finally q.stop()
  }

  test("streaming near-dup: a later batch's doc matches state from an earlier batch") {
    implicit val sq = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and runs far " +
      "away while the sun sets slowly behind the tall green hills tonight"
    val other = "completely different text about spark query engines and " +
      "distributed columnar execution at terabyte scale with shuffles"
    val in = MemoryStream[(Long, String)]
    val name = nextTable()
    val q = graft.streaming.DocStreams.nearDupMatches(spark,
        in.toDS().toDF().withColumnRenamed("_1", "doc_id")
          .withColumnRenamed("_2", "text"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData((1L, base), (2L, other))
      q.processAllAvailable()
      assert(spark.table(name).count() === 0) // nothing matches yet
      in.addData((3L, base + " extra")) // near-dup of batch-1's doc 1
      q.processAllAvailable()
      val matches = spark.table(name)
        .select("doc_id", "dup_of").as[(Long, Long)].collect().toSet
      // state carried across triggers: doc 3 pairs with doc 1, never doc 2
      assert(matches.contains((3L, 1L)), s"got $matches")
      assert(!matches.exists(_._2 == 2L))
    } finally q.stop()
  }

  test("streaming contamination probe: arriving batches check the static MinHash index") {
    // the production daily-ingest shape: the corpus index is built ONCE
    // (staged postings); each arriving micro-batch sketches only itself
    // inside foreachBatch and probes the same staged index — across
    // triggers, with no re-sketch of the corpus
    implicit val sq = spark.sqlContext
    val t1 = "the quick brown fox jumps over the lazy dog and runs far " +
      "away while the sun sets slowly behind the tall green hills tonight"
    val t2 = "completely different text about spark query engines and " +
      "distributed columnar execution at terabyte scale with shuffles"
    val corpus = Seq((10L, t1), (20L, t2)).toDF("doc_id", "text")
    val idx = graft.operators.Dedup.buildMinhashIndex(
      corpus, "doc_id", "text")
    val hits = scala.collection.mutable.Set.empty[(Long, Long)]
    val in = MemoryStream[(Long, String)]
    val q = in.toDS().toDF()
      .withColumnRenamed("_1", "doc_id").withColumnRenamed("_2", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Dedup.probeMinhashIndex(idx, batch,
            "doc_id", "text", threshold = 0.35)
          .select("corpus_id", "batch_id")
          .collect().foreach(r => hits.synchronized {
            hits += ((r.getLong(0), r.getLong(1)))
          })
        ()
      }.start()
    try {
      in.addData((100L, t1 + " zz")) // contaminates corpus doc 10
      q.processAllAvailable()
      assert(hits.toSet == Set((10L, 100L)), s"got $hits")
      in.addData((200L, t2 + " yy"), (300L, "unrelated fresh content " +
        "nothing matches here at all in any shingle"))
      q.processAllAvailable()
      assert(hits.toSet == Set((10L, 100L), (20L, 200L)), s"got $hits")
    } finally q.stop()
  }

  test("streaming near-dup: mega-bucket burst honors the state cap, match count is closed-form") {
    implicit val sq = spark.sqlContext
    // identical text → identical sketch → every doc lands in the SAME
    // bucket of every band: one trigger delivers a 5x-oversized bucket
    // (100 docs vs cap 20). With identical signatures every comparison
    // matches (est 1.0), so the total is order-independent and
    // closed-form: per band, arrival i compares against min(i, cap)
    // retained entries → sum = cap(cap-1)/2 + (n-cap)·cap.
    val txt = "the same boilerplate navigation header text repeated on " +
      "every page of the scraped site with nothing document specific"
    val n = 100
    val cap = 20
    val bands = 16
    val perBand = cap * (cap - 1) / 2 + (n - cap) * cap
    val in = MemoryStream[(Long, String)]
    val name = nextTable()
    val q = graft.streaming.DocStreams.nearDupMatches(spark,
        in.toDS().toDF().withColumnRenamed("_1", "doc_id")
          .withColumnRenamed("_2", "text"), maxBucketSize = cap)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData((0L until n.toLong).map(i => (i, txt)): _*)
      q.processAllAvailable()
      assert(spark.table(name).count() === bands.toLong * perBand)
      // est is exactly 1.0 everywhere and labels are normalized
      val bad = spark.table(name).filter($"est" =!= 1.0 || $"doc_id" <= $"dup_of")
      assert(bad.count() === 0)
      // a later arrival compares against exactly `cap` retained entries
      // per band — state stayed capped through the burst
      in.addData((100000L, txt))
      q.processAllAvailable()
      assert(spark.table(name).count() === bands.toLong * (perBand + cap))
    } finally q.stop()
  }

  test("batch-mode near-dup runs the same capped incremental path") {
    // the driver gate runs this operator in batch mode; the same
    // closed-form count pins that batch groups are processed
    // incrementally against capped state, not materialized whole
    val n = 100
    val cap = 20
    val bands = 16
    val perBand = cap * (cap - 1) / 2 + (n - cap) * cap
    val txt = "the same boilerplate navigation header text repeated on " +
      "every page of the scraped site with nothing document specific"
    val docs = (0L until n.toLong).map(i => (i, txt)).toDF("doc_id", "text")
    val got = graft.streaming.DocStreams
      .nearDupMatches(spark, docs, maxBucketSize = cap).count()
    assert(got === bands.toLong * perBand)
  }

  test("file-source stream: new csv files are picked up incrementally") {
    val dir = java.nio.file.Files.createTempDirectory("fstream")
    val schema = "ts TIMESTAMP, event_id LONG, user_id LONG, " +
      "event_type STRING, value DOUBLE"
    val in = spark.readStream.schema(schema)
      .option("header", "false").csv(dir.toString)
    val name = nextTable()
    val q = EventStreams.tumble(in, watermark = "5 minutes")
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try {
      java.nio.file.Files.writeString(dir.resolve("batch1.csv"),
        "2024-01-01 10:00:00,1,1,click,1.0\n2024-01-01 10:10:00,2,1,click,2.0\n")
      q.processAllAvailable()
      assert(spark.table(name).select(sum($"n")).as[Long].head() === 2L)
      java.nio.file.Files.writeString(dir.resolve("batch2.csv"),
        "2024-01-01 10:20:00,3,2,view,5.0\n")
      q.processAllAvailable()
      val rows = spark.table(name).select($"event_type", $"n", $"sum_v")
        .as[(String, Long, Double)].collect().toSet
      assert(rows === Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("session windows group events within the gap") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val name = nextTable()
    val q = EventStreams.session(in.toDF(), gap = "10 minutes")
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try {
      // two events 5 min apart (one session), one 30 min later (new session)
      in.addData(Ev(ts(0), 1, 1, "a", 1.0), Ev(ts(5), 2, 1, "a", 1.0),
        Ev(ts(35), 3, 1, "a", 1.0))
      q.processAllAvailable()
      val n = spark.table(name).select($"n").as[Long].collect().sorted
      assert(n.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("stream-static enrichment joins a broadcast dim with zero join state") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY")).toDF("c_custkey", "c_mktsegment")
    val name = nextTable()
    val q = EventStreams.enrich(in.toDF(), dim,
        col("user_id") === col("c_custkey"), col("c_mktsegment"),
        watermark = "5 minutes")
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try {
      in.addData(Ev(ts(0), 1, 1, "click", 1.0), Ev(ts(10), 2, 2, "view", 2.0))
      q.processAllAvailable()
      // second trigger accumulates into the same windows incrementally
      in.addData(Ev(ts(20), 3, 1, "click", 4.0),
        Ev(ts(25), 4, 9, "view", 8.0)) // user 9 not in dim -> dropped
      q.processAllAvailable()
      val rows = spark.table(name)
        .select($"c_mktsegment", $"n", $"sum_v")
        .as[(String, Long, Double)].collect().toSet
      assert(rows === Set(("BUILDING", 2L, 5.0), ("MACHINERY", 1L, 2.0)))
      // stream-static must not allocate stream-stream join state
      assert(q.lastProgress.stateOperators.length <= 1,
        "enrichment join allocated its own state operator")
    } finally q.stop()
  }

  test("windowed distinct-user sketch merges across triggers (no double count)") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val name = nextTable()
    val q = EventStreams.windowDistinct(in.toDF(), watermark = "5 minutes")
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try {
      in.addData(Ev(ts(0), 1, 7, "view", 1.0), Ev(ts(5), 2, 8, "view", 1.0))
      q.processAllAvailable()
      // user 7 REAPPEARS a trigger later — the merged window sketch
      // counts users {7, 8, 9} = 3; a per-trigger (non-merged) count
      // would double-count user 7 and report 4
      in.addData(Ev(ts(10), 3, 7, "view", 1.0), Ev(ts(15), 4, 9, "view", 1.0))
      q.processAllAvailable()
      val n = spark.table(name).select($"approx_users")
        .as[Long].collect().toSeq
      assert(n === Seq(3L)) // exact at this cardinality
    } finally q.stop()
  }

  test("streaming last-touch attribution credits across triggers, direct when untouched") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val name = nextTable()
    val q = EventStreams.lastTouchAttribution(spark, in.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      def rows(): Set[(Long, Long, String, Long)] = spark.table(name)
        .select($"user_id", $"event_id", $"channel", $"cents")
        .as[(Long, Long, String, Long)].collect().toSet
      // trigger 1: view then purchase in ONE batch → credited to view;
      // user 8 purchases with no touch ever → direct
      in.addData(Ev(ts(0), 1, 7, "view", 1.0),
        Ev(ts(2), 2, 7, "purchase", 10.0),
        Ev(ts(1), 3, 8, "purchase", 2.5))
      q.processAllAvailable()
      assert(rows() === Set((7L, 2L, "view", 1000L), (8L, 3L, "direct", 250L)))
      // trigger 2: the click state persists ACROSS the boundary —
      // a purchase in trigger 3 credits the trigger-2 click
      in.addData(Ev(ts(4), 4, 7, "click", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts(6), 5, 7, "purchase", 0.5))
      q.processAllAvailable()
      assert(rows()((7L, 5L, "click", 50L)))
      // non-touch types (signup/error) never update the carried touch
      in.addData(Ev(ts(7), 6, 8, "signup", 1.0), Ev(ts(8), 7, 8, "purchase", 1.0))
      q.processAllAvailable()
      assert(rows()((8L, 7L, "direct", 100L)))
      // a LATE view older than the carried click (minute 4) must not
      // roll the touch backwards — the next purchase still credits the
      // click, not the stale view
      in.addData(Ev(ts(1), 8, 7, "view", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts(9), 9, 7, "purchase", 3.0))
      q.processAllAvailable()
      assert(rows()((7L, 9L, "click", 300L)))
    } finally q.stop()
  }
}
