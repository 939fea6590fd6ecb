package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece tokenizer training (Schuster & Nakajima, ICASSP'12; the
  * variant popularized by Wu et al.'16 / BERT) — the third production
  * tokenizer next to BPE (operators/Bpe.scala) and unigram-LM
  * (operators/Unigram.scala). The reference has no tokenizer surface;
  * this is the [EXT] generalization over the same corpus the other
  * operators curate.
  *
  * WordPiece differs from BPE in exactly two observable ways, both
  * implemented here:
  *
  *  1. **The merge criterion is a likelihood ratio, not a raw count**:
  *     each round merges the adjacent symbol pair maximizing
  *     `count(ab) / (count(a) * count(b))` — the pair whose merge most
  *     increases corpus likelihood under a unigram LM over symbols —
  *     instead of BPE's plain `count(ab)` argmax.
  *  2. **Word-internal pieces are `##`-marked**: a word's first
  *     character seeds unmarked, every later character seeds as
  *     `##c`, and a merge concatenates the left piece with the right
  *     piece minus its `##` (the right side of an adjacent pair is
  *     always word-internal, so it always carries the marker). The
  *     marking is semantic, not cosmetic — `a` (word-initial) and
  *     `##a` (internal) are DIFFERENT symbols with different counts
  *     and different merge opportunities, exactly as in BERT's vocab.
  *
  * Cross-engine determinism (the oracle-replay property BpeSpec
  * established for BPE): the score is ONE double division of two
  * exact integers — `f::DOUBLE / (cl*cr)::DOUBLE`, the denominator a
  * BIGINT product cast once — so the JVM and any SQL engine compute
  * bit-identical doubles and the argmax (score DESC, pair-string ASC)
  * can never diverge; everything the gate hashes is integers and
  * symbol strings. (Counts are corpus character counts: cl*cr
  * overflows BIGINT only past ~3e9 total characters PER SYMBOL, far
  * beyond any single-table corpus this library targets; the fat
  * corpus's 64 MB giant contributes ~6.7e7.)
  *
  * Scale shape (100 TB): identical to BPE's — the one corpus-sized
  * pass is the word-frequency count ([[Bpe.vocabulary]]); each round of
  * the distributed loop stages the word table once, recounts the pair
  * AND symbol counts from it, joins the two to score every candidate
  * and ships ONE row to the driver. Vocabularies at or below
  * `localVocabLimit` ([[Bpe.LocalVocabLimit]] words) collect once and
  * train driver-side — bit-identical, WordPieceSpec-asserted.
  */
object WordPiece {

  /** Learn `numMerges` WordPiece merges from the corpus.
    *
    * @param docs corpus; tokenized as lowercase [a-z0-9]+ runs (the
    *             BPE / tf-idf convention)
    * @return (step, lhs, rhs, merged, pair_freq, left_freq,
    *         right_freq) — one row per learned merge, step 1-based;
    *         left/right_freq are the symbol counts the score divided
    *         by, so the gate pins the criterion's inputs, not just
    *         its winner. Fewer than `numMerges` rows when the
    *         vocabulary runs out of adjacent pairs.
    */
  def trainMerges(docs: DataFrame, textCol: String, numMerges: Int,
                  localVocabLimit: Long = Bpe.LocalVocabLimit): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (_, merges, _) = trainCore(docs, textCol, numMerges, localVocabLimit)
    merges.toDF("step", "lhs", "rhs", "merged", "pair_freq",
      "left_freq", "right_freq")
  }

  /** Per-document subword statistics under the learned merges — the
    * tok_bpe_apply twin: merge-replay encodes the VOCABULARY (never
    * per token occurrence), documents join their tokens on the word.
    * Fertility is floor-snapped (`floor(x·10⁴+0.5)/10⁴`, the repo's
    * portable rounding convention) — never engine-native round().
    *
    * @return (idCol, n_words, n_subwords, fertility); token-less
    *         documents keep a (0, 0, NULL) row
    */
  def subwordStats(docs: DataFrame, idCol: String, textCol: String,
                   numMerges: Int,
                   localVocabLimit: Long = Bpe.LocalVocabLimit): DataFrame = {
    val (vocab, merges, finalSyms) = trainCore(docs, textCol, numMerges,
      localVocabLimit)
    val applied = finalSyms.getOrElse {
      val base = vocab.select(col("w"), expr(seedExpr("w")).as("syms"))
      merges.foldLeft(base) { case (df, (_, a, b, m, _, _, _)) =>
        df.select(col("w"), expr(Bpe.mergeExpr(a, b, m)).as("syms"))
      }
    }
    Bpe.docStats(docs, idCol, textCol, None)(_ => Bpe.subwordCounts(applied))
  }

  /** `a b c` → `a ##b ##c`: word-initial char unmarked, the rest
    * `##`-marked. The regexp form is shared verbatim (modulo dialect
    * backref syntax) with the DuckDB oracle.
    */
  private[graft] def seedExpr(wCol: String): String =
    s"concat(substring($wCol, 1, 1), " +
      s"regexp_replace(substring($wCol, 2), '(.)', ' ##$$1'))"

  private def trainCore(docs: DataFrame, textCol: String, numMerges: Int,
                        localVocabLimit: Long)
      : (DataFrame, Seq[(Int, String, String, String, Long, Long, Long)],
         Option[DataFrame]) = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    Bpe.vocabulary(docs, textCol, "wp", localVocabLimit) match {
      case (words, Some(vocab)) => (words, localTrain(vocab, numMerges), None)
      case (words, None) =>
        val (merges, finalSyms) = distributedTrain(words, numMerges)
        (words, merges, Some(finalSyms))
    }
  }

  /** Driver-side trainer over a bounded collected vocabulary — the
    * same pure function as the distributed loop (one double division
    * per candidate, (score DESC, pair ASC) argmax), asserted
    * bit-identical by WordPieceSpec.
    */
  private def localTrain(vocab: Array[(String, Long)], numMerges: Int)
      : Seq[(Int, String, String, String, Long, Long, Long)] = {
    var syms = vocab.map { case (w, f) =>
      (w.toCharArray.zipWithIndex.map { case (c, i) =>
        if (i == 0) c.toString else "##" + c
      }, f)
    }
    val out = Seq.newBuilder[(Int, String, String, String, Long, Long, Long)]
    var step = 1
    var done = false
    while (step <= numMerges && !done) {
      val pairCounts = new java.util.HashMap[String, Long]()
      val symCounts = new java.util.HashMap[String, Long]()
      syms.foreach { case (s, f) =>
        var i = 0
        while (i < s.length) {
          symCounts.merge(s(i), f, _ + _)
          if (i < s.length - 1) pairCounts.merge(s(i) + " " + s(i + 1), f, _ + _)
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        // argmax by (score desc, pair-string asc); score is the one
        // double division both engines compute bit-identically
        var bestPair: String = null
        var bestScore = Double.NegativeInfinity
        var bestF = 0L; var bestCl = 0L; var bestCr = 0L
        pairCounts.forEach { (p, f) =>
          val Array(a, b) = p.split(" ", 2)
          val cl = symCounts.get(a); val cr = symCounts.get(b)
          val score = f.toDouble / (cl * cr).toDouble
          if (score > bestScore || (score == bestScore && p < bestPair)) {
            bestPair = p; bestScore = score
            bestF = f; bestCl = cl; bestCr = cr
          }
        }
        val Array(a, b) = bestPair.split(" ", 2)
        val m = a + b.substring(2) // right side always carries '##'
        syms = syms.map { case (s, f) => (Bpe.mergeOnce(s, a, b, m), f) }
        out += ((step, a, b, m, bestF, bestCl, bestCr))
        step += 1
      }
    }
    out.result()
  }

  /** Distributed loop: BPE's full-recount loop under the
    * likelihood-ratio criterion, the same recount [[localTrain]] does on
    * the driver. Per round: stage the word table (cutting the loop's
    * lineage), recount pair and symbol counts from it, join the two to
    * score every candidate pair, TakeOrdered(1) for the argmax (one row
    * to the driver), then rewrite the words with the shared merge scan.
    * Both aggregates map-side-combine to a few thousand rows before the
    * shuffle, so a recount costs a scan of the staged table per count.
    */
  private def distributedTrain(words0: DataFrame, numMerges: Int)
      : (Seq[(Int, String, String, String, Long, Long, Long)], DataFrame) = {
    var cur = words0.select(col("w"),
      expr(seedExpr("w")).as("syms"), col("freq"))
    val out = Seq.newBuilder[(Int, String, String, String, Long, Long, Long)]
    var step = 1
    var done = false
    while (step <= numMerges && !done) {
      val staged = Stage.materialize(cur, "wp_round")
      val symCounts = staged
        .select(explode(split(col("syms"), " ")).as("sym"), col("freq"))
        .groupBy("sym").agg(sum("freq").as("c"))
      val best = staged
        .select(explode(expr(Bpe.pairListExpr)).as("pair"), col("freq"))
        .groupBy("pair").agg(sum("freq").as("f"))
        .withColumn("lhs", split(col("pair"), " ").getItem(0))
        .withColumn("rhs", split(col("pair"), " ").getItem(1))
        .join(symCounts.withColumnRenamed("sym", "lhs")
          .withColumnRenamed("c", "cl"), "lhs")
        .join(symCounts.withColumnRenamed("sym", "rhs")
          .withColumnRenamed("c", "cr"), "rhs")
        .withColumn("score",
          col("f").cast("double") / (col("cl") * col("cr")).cast("double"))
        .orderBy(col("score").desc, col("pair"))
        .limit(1)
        .select("pair", "f", "cl", "cr")
        .collect()
      if (best.isEmpty) done = true
      else {
        val pair = best(0).getString(0)
        val f = best(0).getLong(1)
        val cl = best(0).getLong(2); val cr = best(0).getLong(3)
        val Array(a, b) = pair.split(" ", 2)
        val m = a + b.substring(2) // right side always carries '##'
        cur = staged.select(col("w"),
          expr(Bpe.mergeExpr(a, b, m)).as("syms"), col("freq"))
        out += ((step, a, b, m, f, cl, cr))
        step += 1
      }
    }
    (out.result(), cur)
  }
}
