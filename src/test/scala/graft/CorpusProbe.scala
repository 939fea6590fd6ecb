package graft
import org.apache.spark.sql.functions._
import graft.operators.Corpus

/** Round-5 corpus-pipeline scale probe: chunking, packing, capping,
  * and perplexity at 1x / 5x / 20x the sf0.1 corpus (to ~2.2M docs).
  * The narrow ops (chunk) should scale linearly with input; the
  * keyed-aggregate ops (cap, perplexity, pack) stay one-exchange
  * shapes whose cost tracks the corpus, not its square.
  * Run: `sbt "Test/runMain graft.CorpusProbe"`.
  */
object CorpusProbe {
  def main(args: Array[String]): Unit = {
    val spark = ProbeSession()
    import spark.implicits._
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select($"doc_id", $"text", $"source")
    for (mult <- Seq(20, 100, 400)) {
      val corpus = (0 until mult).map { m =>
        base.select(($"doc_id" + lit(m * 10000000L)).as("doc_id"),
          $"text", concat($"source", lit("_" + m)).as("source"))
      }.reduce(_ unionByName _).persist()
      val nDocs = corpus.count()

      var t0 = System.nanoTime()
      val nChunks = Corpus.chunkText(corpus, "doc_id", "text", 200, 50).count()
      val tChunk = (System.nanoTime() - t0) / 1e9

      t0 = System.nanoTime()
      val nCapped = Corpus.capPerGroup(corpus, col("source"), col("doc_id"),
        maxPerGroup = 1000).count()
      val tCap = (System.nanoTime() - t0) / 1e9

      t0 = System.nanoTime()
      val nPpl = Corpus.unigramCrossEntropy(corpus, "doc_id", "text").count()
      val tPpl = (System.nanoTime() - t0) / 1e9

      t0 = System.nanoTime()
      val nPack = Corpus.packChunks(corpus, "doc_id",
        graft.functions.TextFns.wsTokenCount(col("text")),
        window = 256L, shards = 32).count()
      val tPack = (System.nanoTime() - t0) / 1e9

      println(f"CORPUS mult=$mult%2d docs=$nDocs%8d chunks=$nChunks%9d " +
        f"chunk=$tChunk%6.1fs cap=$tCap%6.1fs ppl=$tPpl%6.1fs pack=$tPack%6.1fs " +
        f"(capped=$nCapped, ppl_rows=$nPpl, pack_rows=$nPack)")
      corpus.unpersist()
    }
    spark.stop()
  }
}
