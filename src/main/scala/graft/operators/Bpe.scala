package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training — the tokenizer-learning step of
  * an LLM data pipeline (Sennrich et al., "Neural Machine Translation
  * of Rare Words with Subword Units", ACL'16). The reference has no
  * tokenizer surface; this is the [EXT] generalization that turns the
  * corpus the other operators curate into a trainable vocabulary.
  *
  * Algorithm (classic word-level BPE): words start as character
  * sequences; each round counts adjacent symbol pairs weighted by word
  * frequency, merges the globally most frequent pair (ties broken by
  * the space-joined pair string — symbols are alphanumeric and ' '
  * sorts below them, so string order equals (left, right) tuple order
  * in every engine), and rewrites the vocabulary with a single greedy
  * left-to-right scan per word (a fresh merge output never re-merges
  * within the same round).
  *
  * Scale shape: training runs over the WORD-FREQUENCY table, not the
  * corpus — the one corpus-sized pass is the token count. Per round the
  * distributed loop does one map-side-combinable pair aggregate, one
  * TakeOrdered(1) for the argmax (a single row to the driver — the
  * same bounded count-then-choose posture as broadcast planning), and
  * one narrow higher-order-function rewrite of the symbol strings;
  * each round's vocabulary is stage-checkpointed ([[Stage]]) to
  * truncate the iterative lineage. Vocabularies at or below
  * [[LocalVocabLimit]] words (≈ a few MB) instead collect once and
  * train driver-side in microseconds — bit-identical results, asserted
  * by spec.
  *
  * The vocabulary pass ([[vocabulary]]) and the per-document apply tail
  * ([[docStats]]) serve all three subword trainers: BPE, [[WordPiece]]
  * and [[Unigram]].
  */
object Bpe {

  /** Distinct-word count at or below which the subword trainers collect
    * the vocabulary and train on the driver.
    */
  val LocalVocabLimit = 100000L

  /** Learn `numMerges` BPE merges from the corpus.
    *
    * @param docs corpus; tokenized as lowercase [a-z0-9]+ runs (the
    *             same convention as the tf-idf / perplexity operators)
    * @param localVocabLimit max distinct-word count for the driver-side
    *             fast path; 0 forces the distributed loop
    * @return (step, lhs, rhs, merged, pair_freq) — one row per learned
    *         merge, step 1-based; fewer than `numMerges` rows when the
    *         vocabulary runs out of adjacent pairs
    */
  def trainMerges(docs: DataFrame, textCol: String, numMerges: Int,
                  localVocabLimit: Long = LocalVocabLimit): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (_, merges, _) = trainCore(docs, textCol, numMerges, localVocabLimit)
    merges.toDF("step", "lhs", "rhs", "merged", "pair_freq")
      .select(col("step"), col("lhs"), col("rhs"), col("merged"),
        col("pair_freq"))
  }

  /** Per-document subword statistics under the learned merges — the
    * apply side of the tokenizer lifecycle: how many whitespace-ish
    * words and how many BPE subwords each document encodes to, and the
    * fertility ratio (subwords per word) that tokenizer evaluations
    * report. Merges apply to the VOCABULARY (one HOF rewrite per merge
    * over the word table), never per token occurrence; documents then
    * join their tokens to the encoded vocabulary on the word — the
    * token stream only ever shuffles as (doc, word) scalars.
    *
    * @return (idCol, n_words, n_subwords, fertility); token-less
    *         documents keep a (0, 0, NULL) row
    */
  def subwordStats(docs: DataFrame, idCol: String, textCol: String,
                   numMerges: Int,
                   localVocabLimit: Long = LocalVocabLimit): DataFrame = {
    val (vocab, merges, finalSyms) = trainCore(docs, textCol, numMerges,
      localVocabLimit)
    // the distributed trainer already staged the fully-merged
    // vocabulary — reuse it instead of re-running the merge folds
    val applied = finalSyms.getOrElse {
      val base = vocab.select(col("w"),
        expr("trim(regexp_replace(w, '(.)', '$1 '))").as("syms"))
      merges.foldLeft(base) { case (df, (_, a, b, m, _)) =>
        df.select(col("w"), expr(mergeExpr(a, b, m)).as("syms"))
      }
    }
    docStats(docs, idCol, textCol, None)(_ => subwordCounts(applied))
  }

  /** (w, n_sub) from a (w, syms) table of space-joined symbols. */
  private[operators] def subwordCounts(applied: DataFrame): DataFrame =
    applied.select(col("w"),
      size(split(col("syms"), " ")).cast("long").as("n_sub"))

  /** The apply tail shared by the subword trainers: the corpus tokens
    * (idCol, w) of length <= `maxWordLen` join `encode(tokens)`, a
    * (w, n_sub) table, on the word; per document, the word count, the
    * subword count and their floor-snapped ratio.
    *
    * @return (idCol, n_words, n_subwords, fertility); token-less
    *         documents keep a (0, 0, NULL) row
    */
  private[operators] def docStats(docs: DataFrame, idCol: String,
                                  textCol: String, maxWordLen: Option[Int])
                                 (encode: DataFrame => DataFrame): DataFrame = {
    val tok = words(docs, textCol, maxWordLen, col(idCol))
    val agg = tok.join(encode(tok), "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("nw"), sum("n_sub").as("ns"))
    docs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("nw"), lit(0L)).as("n_words"),
        coalesce(col("ns"), lit(0L)).as("n_subwords"),
        // floor-snap, not engine-native round() — the repo's portable
        // rounding convention (VERDICT r15 #2); the oracle matches
        (floor(col("ns") / col("nw") * lit(10000.0) + lit(0.5)) /
          lit(10000.0)).as("fertility"))
  }

  /** The corpus words: lowercase [a-z0-9]+ runs of `textCol`, one row
    * per occurrence (next to `keep`), no longer than `maxWordLen`.
    */
  private def words(docs: DataFrame, textCol: String,
                    maxWordLen: Option[Int], keep: Column*): DataFrame = {
    val nonEmpty = col("w") =!= ""
    docs.select(keep :+
        explode(split(lower(col(textCol)), "[^a-z0-9]+")).as("w"): _*)
      .filter(maxWordLen.fold(nonEmpty)(n =>
        nonEmpty && length(col("w")) <= n))
  }

  /** The vocabulary pass shared by the subword trainers, the ONE
    * corpus-sized pass of each: word counts → a staged (w, freq) table.
    * Its rows come back collected too when there are at most
    * `localVocabLimit` of them (the driver-side trainers' input);
    * `None` sends the caller to its distributed loop.
    */
  private[operators] def vocabulary(docs: DataFrame, textCol: String,
                                    tag: String, localVocabLimit: Long,
                                    maxWordLen: Option[Int] = None)
      : (DataFrame, Option[Array[(String, Long)]]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = Stage.materialize(
      words(docs, textCol, maxWordLen)
        .groupBy("w").agg(count(lit(1)).as("freq")),
      s"${tag}_vocab")
    (vocab,
      if (vocab.count() <= localVocabLimit)
        Some(vocab.as[(String, Long)].collect())
      else None)
  }

  /** Shared trainer: staged vocabulary + the learned merge list. */
  private def trainCore(docs: DataFrame, textCol: String, numMerges: Int,
                        localVocabLimit: Long)
      : (DataFrame, Seq[(Int, String, String, String, Long)],
         Option[DataFrame]) = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    vocabulary(docs, textCol, "bpe", localVocabLimit) match {
      case (words, Some(vocab)) => (words, localTrain(vocab, numMerges), None)
      case (words, None) =>
        val (merges, finalSyms) = distributedTrain(words, numMerges)
        (words, merges, Some(finalSyms))
    }
  }

  /** The greedy left-to-right merge scan as a SQL higher-order fold —
    * shared by the distributed trainer, the apply path, and the
    * WordPiece trainer (whose merge SCAN is identical; only the
    * criterion differs); the DuckDB oracle lambda mirrors the fold term
    * for term. The fold is an interpreted lambda, so it runs only on
    * words where `a b` are adjacent symbols; on any other word it would
    * rebuild `syms` unchanged.
    */
  private[graft] def mergeExpr(a: String, b: String, m: String): String =
    s"""CASE WHEN instr(concat(' ', syms, ' '), ' $a $b ') = 0 THEN syms
       |ELSE aggregate(slice(split(syms, ' '), 2, size(split(syms, ' ')) - 1),
       |  element_at(split(syms, ' '), 1),
       |  (acc, x) -> CASE
       |    WHEN acc = '$a' AND x = '$b' THEN '$m'
       |    WHEN endswith(acc, concat(' ', '$a')) AND x = '$b'
       |      THEN concat(substring(acc, 1,
       |        length(acc) - length('$a') - 1), ' ', '$m')
       |    ELSE concat(acc, ' ', x) END) END""".stripMargin

  /** Driver-side trainer over a bounded collected vocabulary. */
  private def localTrain(vocab: Array[(String, Long)],
                         numMerges: Int): Seq[(Int, String, String, String, Long)] = {
    var syms = vocab.map { case (w, f) => (w.toCharArray.map(_.toString), f) }
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var step = 1
    var done = false
    while (step <= numMerges && !done) {
      val counts = new java.util.HashMap[String, Long]()
      syms.foreach { case (s, f) =>
        var i = 0
        while (i < s.length - 1) {
          counts.merge(s(i) + " " + s(i + 1), f, _ + _)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        // argmax by (freq desc, pair-string asc) — the engine-portable order
        var bestPair: String = null
        var bestF = Long.MinValue
        counts.forEach { (p, f) =>
          if (f > bestF || (f == bestF && p < bestPair)) {
            bestPair = p; bestF = f
          }
        }
        val Array(a, b) = bestPair.split(" ", 2)
        val m = a + b
        syms = syms.map { case (s, f) => (mergeOnce(s, a, b, m), f) }
        out += ((step, a, b, m, bestF))
        step += 1
      }
    }
    out.result()
  }

  /** One greedy left-to-right merge pass — the reference semantics the
    * distributed HOF and the DuckDB oracle lambda both replicate.
    */
  private[graft] def mergeOnce(s: Array[String], a: String, b: String,
                                   m: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
    var i = 0
    while (i < s.length) {
      if (i < s.length - 1 && s(i) == a && s(i + 1) == b) {
        out += m; i += 2
      } else { out += s(i); i += 1 }
    }
    out.toArray
  }

  /** The adjacent-pair list of a symbol string — shared by the BPE and
    * WordPiece pair recounts. One regex pass: at the start and at each
    * space, a lookahead captures the next two symbols (symbols never
    * hold a space), so a single-symbol word yields an empty array.
    */
  private[graft] val pairListExpr: String =
    "regexp_extract_all(syms, '(?:^| )(?=([^ ]+ [^ ]+))', 1)"

  /** Distributed loop: per-round pair aggregate → TakeOrdered(1)
    * argmax → HOF rewrite, vocabulary staged per round. The greedy
    * scan folds the token array with a space-joined string
    * accumulator; a just-merged symbol differs textually from its
    * parts, so it can never re-merge within the round — identical
    * semantics to [[mergeOnce]].
    *
    * r17: this RE-INSTATES the full-recount loop, reverting r16's
    * incremental pair-count trainer on measured evidence
    * (reports/BPE_FAT_r17.md): on the fat corpus (~4M-word generated
    * vocabulary) the recount loop is STABLE at 128-146 s across four
    * quiet samples while the incremental loop was bimodal — ~95 s
    * when its per-round delta materialization behaved, ~350 s (2.6×
    * WORSE than recount) when it didn't, with the variance localized
    * to the bpe_counts stage writes by the bench's stage ledger. The
    * full pair aggregate it re-runs per round map-side-combines to a
    * few thousand distinct symbol pairs before the shuffle, so
    * "recount everything" costs one cheap scan — the incremental
    * bookkeeping (two extra full scans + three staged frames per
    * round) was priced higher than the recount it avoided.
    */
  private def distributedTrain(words0: DataFrame, numMerges: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    // `w` rides along so the apply path can map word → final symbols
    var cur = words0.select(col("w"),
      expr("trim(regexp_replace(w, '(.)', '$1 '))").as("syms"),
      col("freq"))
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var step = 1
    var done = false
    while (step <= numMerges && !done) {
      val staged = Stage.materialize(cur, "bpe_round")
      val best = staged
        .select(explode(expr(pairListExpr)).as("pair"), col("freq"))
        .groupBy("pair").agg(sum("freq").as("f"))
        .orderBy(col("f").desc, col("pair"))
        .limit(1)
        .collect()
      if (best.isEmpty) done = true
      else {
        val pair = best(0).getString(0)
        val f = best(0).getLong(1)
        val Array(a, b) = pair.split(" ", 2)
        val m = a + b
        cur = staged.select(col("w"),
          expr(mergeExpr(a, b, m)).as("syms"), col("freq"))
        out += ((step, a, b, m, f))
        step += 1
      }
    }
    (out.result(), cur)
  }
}
