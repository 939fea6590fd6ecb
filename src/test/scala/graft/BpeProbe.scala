package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Bpe, WordPiece}

/** Subword trainer scale probe: a synthetic vocabulary far above the
  * local fast-path limit forces the distributed loop, and the same
  * corpus trained through the forced-local path checks equality —
  * the spec-level parity assertion at a scale where the plans
  * actually diverge (staged rounds + TakeOrdered argmax vs an
  * in-memory fold). One leg per trainer, BPE and WordPiece; each
  * prints both times and requires identical merges. Runs on
  * [[ProbeSession]].
  *
  * Run: `sbt "Test/runMain graft.BpeProbe"`.
  */
object BpeProbe {
  def main(args: Array[String]): Unit = {
    val spark = ProbeSession()
    // ~1.1M distinct words, zipf-ish frequencies via repetition of the
    // hot head: "docs" of deterministic pseudo-words
    val docs = spark.range(0, 1000000L).select(
      concat_ws(" ",
        // hot head word (1k distinct, high freq)
        concat(lit("w"), pmod(col("id"), lit(1000))),
        // warm middle (100k distinct)
        concat(lit("m"), pmod(col("id") * 31, lit(100000))),
        // cold tail (unique per row)
        concat(lit("t"), col("id"))).as("text"))
    docs.persist().count()

    def leg(name: String, train: Long => DataFrame): Unit = {
      def timed(limit: Long) = {
        val t0 = System.nanoTime()
        val rows = train(limit).collect().sortBy(_.getInt(0)).toSeq
        (rows.map(_.toSeq), (System.nanoTime() - t0) / 1e9)
      }
      val (dist, tDist) = timed(0L)
      val (local, tLocal) = timed(Long.MaxValue)
      val same = dist == local
      println(f"$name-PROBE cpus=${ProbeSession.cpus} vocab~1.1M merges=6 " +
        f"distributed=$tDist%6.1fs local=$tLocal%6.1fs identical=$same")
      dist.foreach(r => println(s"  merge ${r.mkString(" ")}"))
      require(same, s"$name: distributed and local paths diverged at probe scale")
    }
    leg("BPE", l => Bpe.trainMerges(docs, "text", numMerges = 6,
      localVocabLimit = l))
    leg("WORDPIECE", l => WordPiece.trainMerges(docs, "text",
      numMerges = 6, localVocabLimit = l))
    spark.stop()
  }
}
