package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A/B probe for the r14 SHA-256 clone-key's full-corpus hash-pass
  * cost (`sbt "Test/runMain graft.HashPassProbe <docsDir> [reps]"`) —
  * VERDICT r14 #4: `Dedup.textGroups` runs `sha2(text, 256)` over the
  * whole corpus, and at 100 TB that pass is CPU-bound, so its cost
  * relative to the md5 key it replaced (and to a cheap 64-bit
  * prefilter) must be a measured number, not a guess.
  *
  * Four timed variants, identical scan/agg shape so the DELTA is the
  * hash kernel alone:
  *   - scan-only: `sum(length(text))` — the floor every variant pays
  *     (parquet read + UTF8String materialization);
  *   - md5: the r13 key;
  *   - sha2-256: the r14 key (current textGroups);
  *   - xx64+len: `xxhash64(text)` + `length(text)` — the candidate
  *     first-level key of the two-level scheme the verdict sketches
  *     (cheap 64-bit pass corpus-wide, SHA-256 only within 64-bit
  *     buckets of size >= 2).
  * Each variant consumes the digest through `sum(length(hash))` — a
  * non-constant-foldable reduction that forces per-row evaluation
  * without shuffling anything wider than one long per partition.
  *
  * Run against the 100× corpus (/tmp/sf100x) and the fat corpus
  * (/tmp/sffat); ledgered in reports/HASHPASS_r15.md + BASELINE.md.
  */
object HashPassProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf100x")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = ProbeSession()
    val docs = queries.t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull)

    def run(tag: String, probe: Column): Unit = {
      (1 to reps).foreach { rep =>
        val t0 = System.nanoTime()
        val r = docs.agg(sum(probe)).head().getLong(0)
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[hashpass] $dir $tag rep=$rep wall=$secs%.2fs sum=$r")
      }
    }
    run("scan-only", length(col("text")).cast("long"))
    run("md5", length(unhex(md5(col("text")))).cast("long"))
    run("sha2-256", length(unhex(sha2(col("text"), 256))).cast("long"))
    run("xx64+len",
      (xxhash64(col("text")) % 7 + length(col("text"))).cast("long"))
    spark.stop()
  }
}
