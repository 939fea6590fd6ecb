package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Dedup

/** Streaming near-duplicate detection — the online twin of
  * `Dedup.minhashPairs`: documents arrive as a stream and each one is
  * checked against everything seen SO FAR, emitting
  * (doc_id, dup_of, est) the moment a near-duplicate lands.
  *
  * Shape: each incoming document explodes to its LSH band keys (the
  * same banding as the batch operator — computed by the native sketch
  * expressions in one narrow pass), the stream is keyed by
  * (band, bucket), and `flatMapGroupsWithState` holds per-bucket state:
  * the (id, signature) pairs previously seen in that bucket, capped at
  * `maxBucketSize` (mega-bucket guard — matches the batch sub-bucket
  * cap's bound on per-event work; beyond the cap the OLDEST entries
  * evict, bounding both memory and compare cost per arrival).
  *
  * What shuffles is the banded scalar stream — (band, bucket, id, sig),
  * ~520 B per doc per band at k=64 — never the text. A pair colliding
  * in several buckets emits once per collision; callers aggregate (the
  * batch twin takes min(dup_of) per doc).
  *
  * Bounded per-task work (the mega-bucket guard): the group iterator is
  * processed INCREMENTALLY — each arrival compares against the capped
  * state only, emits at most `maxBucketSize` matches, and the output
  * iterator is lazy — so a boilerplate burst that lands a whole
  * mega-bucket in one trigger never gets materialized or sorted in one
  * task (the round-3 version buffered `rows.toSeq.sortBy` per group).
  * Emitted labels are normalized (doc_id = the pair's larger id,
  * dup_of = the smaller), which is exactly what an id-ordered feed
  * produces, so the emitted pair SET and labels are arrival-order
  * independent while the cap is unhit; beyond the cap, which entries
  * remain in state (and hence recall) depends on arrival order — the
  * same recency contract a real stream has.
  *
  * Batch mode runs the same code path against an initially-empty state,
  * so batch output == the stream fed in id order — that equivalence is
  * what the driver's oracle checks, while StreamingSpec drives the true
  * incremental path (state carried ACROSS MemoryStream batches).
  */
object DocStreams {

  final case class Match(doc_id: Long, dup_of: Long, est: Double)

  private def agreement(a: Array[Long], b: Array[Long]): Double = {
    val n = math.min(a.length, b.length)
    var eq = 0
    var i = 0
    while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
    if (n == 0) 0.0 else eq.toDouble / n
  }

  /** Per-bucket incremental scan: compares each arrival against the
    * capped `seen` list (newest first), emits normalized matches lazily,
    * and writes the final list to `state` after the last emission —
    * flatMapGroupsWithState commits state only after the returned
    * iterator drains.
    */
  private def bucketScan(threshold: Double, maxBucketSize: Int,
                         state: GroupState[List[(Long, Array[Long])]],
                         rows: Iterator[(Int, Long, Long, Array[Long])])
      : Iterator[Match] = {
    var seen = state.getOption.getOrElse(Nil) // newest first
    val matches = rows.flatMap { case (_, _, id, sig) =>
      // ≤ maxBucketSize comparisons and emissions per arrival;
      // normalized labels == id-ordered-feed labels (see scaladoc)
      val hits = seen.flatMap { case (prevId, prevSig) =>
        if (prevId == id) None
        else {
          val est = agreement(sig, prevSig)
          if (est >= threshold)
            Some(Match(math.max(id, prevId), math.min(id, prevId), est))
          else None
        }
      }
      seen = ((id, sig) :: seen).take(maxBucketSize)
      hits
    }
    matches ++ { state.update(seen); Iterator.empty[Match] }
  }

  def nearDupMatches(spark: SparkSession, docs: DataFrame,
                     idCol: String = "doc_id", textCol: String = "text",
                     bands: Int = 16, rowsPerBand: Int = 4,
                     threshold: Double = 0.35,
                     maxBucketSize: Int = 1000): Dataset[Match] = {
    // a cap below 1 keeps no predecessor, so every match would vanish
    require(maxBucketSize >= 1, s"maxBucketSize must be >= 1, got $maxBucketSize")
    import spark.implicits._
    val k = bands * rowsPerBand
    val sigs = docs.select(col(idCol).as("id"),
      Dedup.minhashSignature(col(textCol), k).as("sig"))
    val banded = Dedup.bandBuckets(sigs, col("sig"), bands, rowsPerBand,
        col("id"), col("sig"))
      .select("band", "bucket", "id", "sig")
      .as[(Int, Long, Long, Array[Long])]

    val keyed = banded.groupByKey { case (band, bucket, _, _) => (band, bucket) }
    keyed.flatMapGroupsWithState[List[(Long, Array[Long])], Match](
      OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      case (_, rows, state: GroupState[List[(Long, Array[Long])]]) =>
        bucketScan(threshold, maxBucketSize, state, rows)
    }
  }

  /** Each doc with its earliest (min-id) near-dup predecessor — the
    * aggregate view of the match stream (and the oracle-checked batch
    * twin).
    */
  def firstNearDup(spark: SparkSession, docs: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text",
                   threshold: Double = 0.35): DataFrame =
    nearDupMatches(spark, docs, idCol, textCol, threshold = threshold)
      .toDF()
      .groupBy("doc_id").agg(min("dup_of").as("dup_of"))
}
