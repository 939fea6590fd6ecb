package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (Kudo '18, "Subword Regularization" —
  * the SentencePiece unigram model), the other production tokenizer
  * next to BPE. This is the deterministic Viterbi-EM (hard-EM)
  * variant: the E-step segments every vocabulary word with the exact
  * Viterbi best path under the current piece scores, the M-step
  * re-estimates piece scores from the Viterbi usage counts, and the
  * vocabulary prunes between rounds (Kudo's paper notes the Viterbi
  * approximation of the E-step; SentencePiece's encoder IS Viterbi).
  *
  * Cross-engine determinism (the reason this is oracle-replayable the
  * way BpeSpec replays merges): piece probabilities are add-one-
  * smoothed integer ratios (c+1)/(N+|V|), each computed with ONE
  * double division, and a path score is the left-to-right product of
  * those doubles — a fixed IEEE expression tree, bit-identical in the
  * JVM and in any SQL engine, with NO transcendental functions (no
  * log-likelihoods, which would sit on the libm fault line). Viterbi
  * ties break by the total order (score DESC, piece-count ASC,
  * last-piece ASC, segmentation-string ASC); every comparison is on
  * values both engines computed identically, so the argmax can never
  * diverge. All gate-crossing outputs are INTEGER usage counts.
  *
  * Training contract:
  *  - words are the corpus [a-z0-9]+ tokens (the BPE/tf-idf
  *    convention) of length <= `maxWordLen` (16; production trainers
  *    cap training-word length the same way — longer tail words are
  *    excluded from ESTIMATION, not from later encoding);
  *  - the seed vocabulary is every corpus substring of length
  *    1..`maxPieceLen` (4), scored by freq-weighted occurrence count:
  *    ALL single characters plus the top `seedMulti` (64) multi-char
  *    pieces by (count DESC, piece ASC);
  *  - each round prunes to: all single characters (coverage can never
  *    be lost) plus the top `keepMulti` (48) multi-char pieces with
  *    usage > 0 by (usage DESC, piece ASC).
  *
  * Scale shape (100 TB): the ONE corpus-sized pass is the word count;
  * every round is one distributed map over the (word, freq) table
  * with the vocabulary in the task closure — the vocabulary is
  * BOUNDED (<= seedMulti + alphabet, ~100 entries), so the per-round
  * driver traffic is the usage table (<= |V| rows), the same
  * metadata-scale count-then-choose posture as kmeans centroids.
  * Word tables at or below `localVocabLimit` ([[Bpe.LocalVocabLimit]])
  * train driver-side in microseconds — bit-identical (the per-word Viterbi
  * and the integer sums are the same pure function), asserted by
  * UnigramSpec like BpeSpec asserts the BPE fast path.
  */
object Unigram {

  final case class Cfg(maxPieceLen: Int = 4, maxWordLen: Int = 16,
                       seedMulti: Int = 64, keepMulti: Int = 48)

  /** One Viterbi-EM training run.
    *
    * @return (em_round, piece, usage) — for every round r = 1..rounds,
    *         one row per piece of the round's INPUT vocabulary with
    *         its Viterbi usage count (freq-weighted; 0 when unused)
    */
  def train(docs: DataFrame, textCol: String, rounds: Int = 2,
            cfg: Cfg = Cfg(),
            localVocabLimit: Long = Bpe.LocalVocabLimit): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainCore(docs, textCol, rounds, cfg, localVocabLimit)._1
      .toDF("em_round", "piece", "usage")
  }

  /** Shared trainer: the per-round usage rows plus the FINAL pruned
    * vocabulary (piece -> usage) the apply path encodes under.
    */
  private def trainCore(docs: DataFrame, textCol: String, rounds: Int,
                        cfg: Cfg, localVocabLimit: Long)
      : (Seq[(Int, String, Long)], Array[(String, Long)]) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(cfg.maxPieceLen >= 2 && cfg.maxPieceLen <= cfg.maxWordLen,
      s"bad cfg: $cfg")
    val spark = docs.sparkSession
    import spark.implicits._
    // (word, freq) of the estimation-capped words
    val (words, local) = Bpe.vocabulary(docs, textCol, "unigram",
      localVocabLimit, Some(cfg.maxWordLen))

    // ---- seed vocabulary -------------------------------------------
    val seedCounts: Array[(String, Long)] = local match {
      case Some(wf) =>
        val m = new java.util.HashMap[String, Long]()
        wf.foreach { case (w, f) =>
          var l = 1
          while (l <= math.min(cfg.maxPieceLen, w.length)) {
            var i = 0
            while (i + l <= w.length) {
              m.merge(w.substring(i, i + l), f, _ + _); i += 1
            }
            l += 1
          }
        }
        m.entrySet().toArray(Array.empty[java.util.Map.Entry[String, Long]])
          .map(e => (e.getKey, e.getValue))
      case None =>
        words.select(explode(expr(
            s"""flatten(transform(
               |  sequence(1, least(${cfg.maxPieceLen}, length(w))),
               |  l -> transform(sequence(1, length(w) - l + 1),
               |    i -> substring(w, i, l))))""".stripMargin)).as("piece"),
            col("freq"))
          .groupBy("piece").agg(sum("freq").as("cnt"))
          .as[(String, Long)].collect() // bounded: distinct substrings of
          // the DISTINCT-word table at length <= 4 over [a-z0-9] — at most
          // 36^4 + 36^3 + ... ~ 1.7M entries, metadata-scale; real corpora
          // are far sparser
    }
    val singles0 = seedCounts.filter(_._1.length == 1)
    val vocab0 = (singles0 ++
      seedCounts.filter(_._1.length > 1)
        .sortBy { case (p, c) => (-c, p) }.take(cfg.seedMulti))
      .sortBy(_._1)

    // ---- EM rounds --------------------------------------------------
    val out = Seq.newBuilder[(Int, String, Long)]
    var vocab = vocab0
    for (r <- 1 to rounds) {
      val n = vocab.map(_._2).sum
      val vsz = vocab.length.toLong
      val vmap = vocab.toMap
      val mpl = cfg.maxPieceLen
      val usage: Map[String, Long] = local match {
        case Some(wf) =>
          val m = new java.util.HashMap[String, Long]()
          wf.foreach { case (w, f) =>
            viterbi(w, vmap, n, vsz, mpl).foreach(p => m.merge(p, f, _ + _))
          }
          import scala.jdk.CollectionConverters._
          m.asScala.toMap.map { case (k, v) => (k, v.longValue) }
        case None =>
          words.as[(String, Long)]
            .flatMap { case (w, f) =>
              viterbi(w, vmap, n, vsz, mpl).map(p => (p, f)) }
            .groupBy(col("_1").as("piece"))
            .agg(sum(col("_2")).as("u"))
            .as[(String, Long)].collect().toMap // <= |V| rows
      }
      vocab.foreach { case (p, _) =>
        out += ((r, p, usage.getOrElse(p, 0L)))
      }
      vocab = (vocab.filter(_._1.length == 1)
          .map { case (p, _) => (p, usage.getOrElse(p, 0L)) } ++
        vocab.filter(_._1.length > 1)
          .map { case (p, _) => (p, usage.getOrElse(p, 0L)) }
          .filter(_._2 > 0L)
          .sortBy { case (p, u) => (-u, p) }.take(cfg.keepMulti))
        .sortBy(_._1)
    }
    (out.result(), vocab)
  }

  /** Per-document subword statistics under the TRAINED unigram
    * vocabulary — the apply side of the tokenizer lifecycle, the twin
    * of [[Bpe.subwordStats]]: every distinct corpus word of length <=
    * `applyMaxWordLen` (32; the oracle replay unrolls that many DP
    * stages, so both engines pin the same encoding cap — estimation
    * already capped at Cfg.maxWordLen) Viterbi-encodes ONCE under the
    * final pruned vocabulary's smoothed scores, with the UNK
    * convention: a single character absent from the vocabulary scores
    * as count 0 (probability 1/(N+|V|) after add-one smoothing), so
    * words excluded from estimation still encode. Documents then join
    * their tokens to the encoded word table — the corpus-sized stream
    * is (doc, word) scalars, exactly the BPE apply shape.
    *
    * @return (idCol, n_words, n_subwords, fertility); token-less
    *         documents keep a (0, 0, NULL) row; fertility snaps to 4
    *         decimals through the portable floor-snap
    */
  def subwordStats(docs: DataFrame, idCol: String, textCol: String,
                   rounds: Int = 2, cfg: Cfg = Cfg(),
                   localVocabLimit: Long = Bpe.LocalVocabLimit,
                   applyMaxWordLen: Int = 32): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (_, vocabF) = trainCore(docs, textCol, rounds, cfg,
      localVocabLimit)
    val nF = vocabF.map(_._2).sum
    val vszF = vocabF.length.toLong
    val vmapF = vocabF.toMap
    val mpl = cfg.maxPieceLen
    Bpe.docStats(docs, idCol, textCol, Some(applyMaxWordLen)) { tok =>
      tok.select("w").distinct().as[String]
        .map(w => (w, viterbi(w, vmapF, nF, vszF, mpl,
          unkSingle = true).length.toLong))
        .toDF("w", "n_sub")
    }
  }

  /** The exact Viterbi best segmentation of one word under smoothed
    * piece scores — the pure function both the local and distributed
    * E-steps run, and the function the DuckDB oracle's unrolled DP
    * stages mirror term for term. Score of a path = left-to-right
    * product of (c_piece + 1)/(N + |V|) doubles; ties break by
    * (score DESC, pieces ASC, last-piece ASC, segmentation ASC).
    */
  private[graft] def viterbi(w: String, cnt: Map[String, Long], n: Long,
                             vsz: Long, maxPieceLen: Int,
                             unkSingle: Boolean = false): Seq[String] = {
    val den = (n + vsz).toDouble
    final case class P(score: Double, np: Int, seg: String, last: String)
    def better(a: P, b: P): Boolean =
      if (a.score != b.score) a.score > b.score
      else if (a.np != b.np) a.np < b.np
      else if (a.last != b.last) a.last < b.last
      else a.seg < b.seg
    val len = w.length
    val dp = new Array[P](len + 1)
    dp(0) = P(1.0, 0, "", "")
    var i = 1
    while (i <= len) {
      var best: P = null
      var l = 1
      while (l <= math.min(maxPieceLen, i)) {
        if (dp(i - l) != null) {
          val piece = w.substring(i - l, i)
          // ENCODING mode (unkSingle): a single char absent from the
          // vocabulary scores as an UNK piece with count 0 — the
          // add-one smoothing gives it probability 1/(N+|V|), the
          // SentencePiece UNK convention — so every word has a path
          val c0 = cnt.get(piece) match {
            case None if unkSingle && l == 1 => Some(0L)
            case x => x
          }
          c0 match {
            case Some(c) =>
              val q = (c + 1L).toDouble / den
              val prev = dp(i - l)
              val seg = if (prev.seg.isEmpty) piece
                        else prev.seg + " " + piece
              val cand = P(prev.score * q, prev.np + 1, seg, piece)
              if (best == null || better(cand, best)) best = cand
            case None => ()
          }
        }
        l += 1
      }
      dp(i) = best
      i += 1
    }
    // single characters are always in the vocabulary, so a path exists
    dp(len).seg.split(" ").toSeq
  }
}
