package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.VecFns
import graft.operators.{ConnectedComponents, Corpus, Dedup}

/** Corpus-curation operators (SURVEY.md §2 [EXT], round 5): line-level
  * boilerplate dedup, tf-idf keyword extraction, quality-aware
  * canonical selection, random-projection dimensionality reduction,
  * and target-proportion data mixing. Every entry carries an
  * INDEPENDENT DuckDB oracle that recomputes the semantics from the
  * raw tables.
  */
object CorpusQ {

  /** The ONE source of truth for text_chunk's geometry — both the
    * Spark call and the DuckDB oracle SQL interpolate these, so the
    * engine and the replay cannot drift (r15, ADVICE). The oracle's
    * tile discipline (split once into stride-wide tiles, reassemble
    * chunk k from tile k + the first `overlap` chars of tile k+1)
    * requires overlap <= stride, asserted here at class-load.
    */
  private object ChunkCfg {
    val size = 200
    val overlap = 50
    val stride: Int = size - overlap
    require(overlap <= stride,
      s"tile oracle requires overlap <= stride ($overlap > $stride)")
  }

  /** DuckDB replay of `numMerges` rounds of BPE training, unrolled as
    * one CTE chain per round: pair counting (unnest of adjacent token
    * pairs weighted by word freq), the argmax with the engine-portable
    * (freq DESC, pair-string ASC) tie-break, and the greedy
    * left-to-right merge as a `list_reduce` whose lambda mirrors the
    * operator's fold exactly (string accumulator, suffix test,
    * just-merged symbols never re-merge within a round). A round with
    * no pairs left yields empty CTEs from there on — the same
    * early-stop row count as the operator.
    */
  /** Shared CTE chain for the BPE oracles: doc-tagged tokens, word
    * frequencies, and `numMerges` unrolled training rounds
    * (w0..wN / m1..mN). The wk stages carry the original word so the
    * apply oracle can map word → encoded symbols.
    */
  private def bpeStageSql(numMerges: Int): String = {
    // Every w/i stage is MATERIALIZED (same lesson as graph_pagerank,
    // reports/SWEEP100X_r12.md): DuckDB 1.0 inlines CTEs, and each
    // w_k is referenced twice (by i_{k+1} and w_{k+1}) — inlined, the
    // evaluation tree doubles per merge round (2^numMerges scans; the
    // r14 fat sweep watched the apply replay spill 73 GB and die).
    // Materialized, each round evaluates once over the word table.
    val head =
      """WITH dtok AS (SELECT doc_id, unnest(string_split_regex(lower(text),
        |    '[^a-z0-9]+')) AS w FROM documents),
        |tok AS MATERIALIZED (SELECT doc_id, w FROM dtok WHERE w <> ''),
        |words AS (SELECT w, count(*)::BIGINT AS freq FROM tok GROUP BY w),
        |w0 AS MATERIALIZED (SELECT w,
        |  trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS syms,
        |  freq FROM words)""".stripMargin
    val stages = (1 to numMerges).map { k =>
      s"""i$k AS (SELECT unnest(generate_series(1, len(tok) - 1)) AS i,
         |    tok, freq
         |  FROM (SELECT string_split(syms, ' ') AS tok, freq
         |        FROM w${k - 1})),
         |p$k AS (SELECT tok[i] || ' ' || tok[i + 1] AS pair,
         |    sum(freq)::BIGINT AS f
         |  FROM i$k GROUP BY 1),
         |m$k AS MATERIALIZED (SELECT pair, f,
         |    string_split(pair, ' ')[1] AS lhs,
         |    string_split(pair, ' ')[2] AS rhs,
         |    replace(pair, ' ', '') AS merged
         |  FROM p$k ORDER BY f DESC, pair LIMIT 1),
         |w$k AS MATERIALIZED (SELECT w, CASE WHEN m.lhs IS NULL THEN syms
         |    ELSE list_reduce(string_split(syms, ' '),
         |    (acc, x) -> CASE
         |      WHEN acc = m.lhs AND x = m.rhs THEN m.merged
         |      WHEN ends_with(acc, ' ' || m.lhs) AND x = m.rhs
         |        THEN left(acc, length(acc) - length(m.lhs) - 1)
         |          || ' ' || m.merged
         |      ELSE acc || ' ' || x END) END AS syms, freq
         |  FROM w${k - 1} LEFT JOIN m$k m ON true)""".stripMargin
    }
    (head +: stages).mkString(",\n")
  }

  private def bpeOracleSql(numMerges: Int): String = {
    val union = (1 to numMerges)
      .map(k => s"SELECT $k::INT AS step, lhs, rhs, merged, f AS pair_freq FROM m$k")
      .mkString("\nUNION ALL\n")
    bpeStageSql(numMerges) + "\n" + union
  }

  private def bpeApplySql(numMerges: Int): String =
    bpeStageSql(numMerges) +
      s""",
         |sub AS (SELECT w, len(string_split(syms, ' '))::BIGINT AS n_sub
         |  FROM w$numMerges),
         |ag AS (SELECT t.doc_id, count(*)::BIGINT AS nw,
         |    sum(s.n_sub)::BIGINT AS ns
         |  FROM tok t JOIN sub s USING (w) GROUP BY t.doc_id)
         |SELECT d.doc_id, coalesce(ag.nw, 0) AS n_words,
         |  coalesce(ag.ns, 0) AS n_subwords,
         |  floor(ag.ns::DOUBLE / ag.nw::DOUBLE * 10000.0 + 0.5)
         |    / 10000.0 AS fertility
         |FROM documents d LEFT JOIN ag ON d.doc_id = ag.doc_id""".stripMargin


  /** DuckDB replay of `numMerges` WordPiece training rounds
    * (tok_wordpiece), the BPE replay's twin with the two WordPiece
    * deltas: symbols seed `##`-marked (word-initial char unmarked),
    * and the per-round argmax maximizes the likelihood-ratio score
    * `f::DOUBLE / (cl*cr)::DOUBLE` — one double division of exact
    * integers, the identical IEEE expression the operator computes
    * (operators/WordPiece.scala), so the argmax cannot drift — with
    * the (score DESC, pair ASC) tie-break. Stages MATERIALIZED for
    * the same 2^k-inlining reason as the BPE chain.
    */
  private def wordpieceStageSql(numMerges: Int): String = {
    val head =
      """WITH dtok AS (SELECT doc_id, unnest(string_split_regex(lower(text),
        |    '[^a-z0-9]+')) AS w FROM documents),
        |tok AS MATERIALIZED (SELECT doc_id, w FROM dtok WHERE w <> ''),
        |words AS (SELECT w, count(*)::BIGINT AS freq FROM tok GROUP BY w),
        |x0 AS MATERIALIZED (SELECT w,
        |  substr(w, 1, 1) ||
        |    regexp_replace(substr(w, 2), '(.)', ' ##\1', 'g') AS syms,
        |  freq FROM words)""".stripMargin
    val stages = (1 to numMerges).map { k =>
      s"""xi$k AS (SELECT unnest(generate_series(1, len(tok) - 1)) AS i,
         |    tok, freq
         |  FROM (SELECT string_split(syms, ' ') AS tok, freq
         |        FROM x${k - 1})),
         |xp$k AS (SELECT tok[i] || ' ' || tok[i + 1] AS pair,
         |    sum(freq)::BIGINT AS f
         |  FROM xi$k GROUP BY 1),
         |xs$k AS MATERIALIZED (SELECT sym, sum(freq)::BIGINT AS c
         |  FROM (SELECT unnest(string_split(syms, ' ')) AS sym, freq
         |        FROM x${k - 1})
         |  GROUP BY 1),
         |xm$k AS MATERIALIZED (SELECT pair, f, lhs, rhs,
         |    lhs || substr(rhs, 3) AS merged, cl, cr
         |  FROM (SELECT p.pair, p.f,
         |      string_split(p.pair, ' ')[1] AS lhs,
         |      string_split(p.pair, ' ')[2] AS rhs,
         |      ca.c AS cl, cb.c AS cr,
         |      p.f::DOUBLE / (ca.c * cb.c)::DOUBLE AS score
         |    FROM xp$k p
         |    JOIN xs$k ca ON ca.sym = string_split(p.pair, ' ')[1]
         |    JOIN xs$k cb ON cb.sym = string_split(p.pair, ' ')[2]
         |    ORDER BY score DESC, pair LIMIT 1)),
         |x$k AS MATERIALIZED (SELECT w, CASE WHEN m.lhs IS NULL THEN syms
         |    ELSE list_reduce(string_split(syms, ' '),
         |    (acc, y) -> CASE
         |      WHEN acc = m.lhs AND y = m.rhs THEN m.merged
         |      WHEN ends_with(acc, ' ' || m.lhs) AND y = m.rhs
         |        THEN left(acc, length(acc) - length(m.lhs) - 1)
         |          || ' ' || m.merged
         |      ELSE acc || ' ' || y END) END AS syms, freq
         |  FROM x${k - 1} LEFT JOIN xm$k m ON true)""".stripMargin
    }
    (head +: stages).mkString(",\n")
  }

  private def wordpieceOracleSql(numMerges: Int): String = {
    val union = (1 to numMerges)
      .map(k => s"SELECT $k::INT AS step, lhs, rhs, merged, f AS pair_freq, " +
        s"cl AS left_freq, cr AS right_freq FROM xm$k")
      .mkString("\nUNION ALL\n")
    wordpieceStageSql(numMerges) + "\n" + union
  }

  private def wordpieceApplySql(numMerges: Int): String =
    wordpieceStageSql(numMerges) +
      s""",
         |sub AS (SELECT w, len(string_split(syms, ' '))::BIGINT AS n_sub
         |  FROM x$numMerges),
         |ag AS (SELECT t.doc_id, count(*)::BIGINT AS nw,
         |    sum(s.n_sub)::BIGINT AS ns
         |  FROM tok t JOIN sub s USING (w) GROUP BY t.doc_id)
         |SELECT d.doc_id, coalesce(ag.nw, 0) AS n_words,
         |  coalesce(ag.ns, 0) AS n_subwords,
         |  floor(ag.ns::DOUBLE / ag.nw::DOUBLE * 10000.0 + 0.5)
         |    / 10000.0 AS fertility
         |FROM documents d LEFT JOIN ag ON d.doc_id = ag.doc_id""".stripMargin

  /** DuckDB replay of `rounds` Viterbi-EM unigram-LM training rounds
    * (tok_unigram), unrolled like the BPE replay: the seed substring
    * counts, then per round 16 MATERIALIZED Viterbi DP stages (one per
    * word position; candidates from the <= 4 piece lengths, winner by
    * the portable (score DESC, np ASC, last-piece ASC, seg ASC)
    * order), the usage M-step, and the prune. Scores are the same
    * fixed IEEE expression tree the operator computes — one double
    * division per piece, left-to-right products — so every comparison
    * is on bit-identical values (see operators/Unigram.scala).
    */
  private def unigramStageSql(rounds: Int): String = {
    val (mpl, mwl, seedM, keepM) = (4, 16, 64, 48)
    val head =
      s"""WITH tok AS (SELECT unnest(string_split_regex(lower(text),
         |    '[^a-z0-9]+')) AS w FROM documents),
         |words AS MATERIALIZED (SELECT w, count(*)::BIGINT AS freq
         |  FROM tok WHERE w <> '' AND len(w) <= $mwl GROUP BY w),
         |subs AS MATERIALIZED (SELECT substr(w, i, l) AS piece,
         |    sum(freq)::BIGINT AS cnt
         |  FROM words,
         |    (SELECT unnest(generate_series(1, $mpl)) AS l) ll,
         |    (SELECT unnest(generate_series(1, $mwl)) AS i) ii
         |  WHERE l <= len(w) AND i <= len(w) - l + 1
         |  GROUP BY 1),
         |v0 AS MATERIALIZED (
         |  SELECT piece, cnt FROM subs WHERE len(piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt FROM (SELECT piece, cnt FROM subs
         |    WHERE len(piece) > 1
         |    ORDER BY cnt DESC, piece LIMIT $seedM)),
         |n0 AS (SELECT sum(cnt)::BIGINT AS n, count(*)::BIGINT AS v
         |  FROM v0)""".stripMargin
    val roundsSql = (1 to rounds).map { r =>
      val pv = r - 1
      val dp0 =
        s"""dp${r}_0 AS (SELECT w, freq, len(w) AS len,
           |  CAST(1.0 AS DOUBLE) AS score, 0 AS np, '' AS seg
           |  FROM words)""".stripMargin
      val dps = (1 to mwl).map { i =>
        val branches = (1 to math.min(mpl, i)).map { l =>
          s"""      SELECT d.w, d.freq, d.len,
             |        d.score * ((v.cnt + 1)::DOUBLE
             |          / (nn.n + nn.v)::DOUBLE) AS score,
             |        d.np + 1 AS np,
             |        CASE WHEN d.seg = '' THEN v.piece
             |          ELSE d.seg || ' ' || v.piece END AS seg,
             |        v.piece AS lastp
             |      FROM dp${r}_${i - l} d CROSS JOIN n$pv nn
             |      JOIN v$pv v ON v.piece = substr(d.w, ${i - l + 1}, $l)
             |      WHERE d.len >= $i""".stripMargin
        }.mkString("\n      UNION ALL\n")
        // argmax per word as a STRUCT-MIN HASH AGGREGATE, not a
        // row_number window (r16, null×fat sweep): 16 window stages
        // over the fat corpus's 9.77M-word vocabulary spilled the
        // replay past 60 GB; min of {-score, np, lastp, seg} compares
        // fields in order — the IDENTICAL total order (score DESC,
        // np ASC, lastp ASC, seg ASC; negation of a positive double
        // is exact), so the winner per (w, stage) cannot change
        s"""dp${r}_$i AS MATERIALIZED (
           |  SELECT w, best.freq AS freq, best.len AS len,
           |    -best.ns AS score, best.np AS np, best.seg AS seg
           |  FROM (SELECT w, min({'ns': -score, 'np': np,
           |      'lastp': lastp, 'seg': seg, 'freq': freq,
           |      'len': len}) AS best
           |    FROM (
           |$branches
           |    ) GROUP BY w))""".stripMargin
      }
      val segs = (1 to mwl)
        .map(i => s"SELECT freq, seg FROM dp${r}_$i WHERE len = $i")
        .mkString("\n  UNION ALL\n  ")
      val tail =
        s"""seg$r AS (
           |  $segs),
           |u$r AS MATERIALIZED (SELECT v.piece,
           |    coalesce(uu.u, 0)::BIGINT AS usage
           |  FROM v$pv v LEFT JOIN (
           |    SELECT piece, sum(freq)::BIGINT AS u FROM (
           |      SELECT unnest(string_split(seg, ' ')) AS piece, freq
           |      FROM seg$r) GROUP BY 1) uu ON v.piece = uu.piece),
           |v$r AS MATERIALIZED (
           |  SELECT piece, usage AS cnt FROM u$r WHERE len(piece) = 1
           |  UNION ALL
           |  SELECT piece, cnt FROM (SELECT piece, usage AS cnt FROM u$r
           |    WHERE len(piece) > 1 AND usage > 0
           |    ORDER BY usage DESC, piece LIMIT $keepM)),
           |n$r AS (SELECT sum(cnt)::BIGINT AS n, count(*)::BIGINT AS v
           |  FROM v$r)""".stripMargin
      (dp0 +: dps :+ tail).mkString(",\n")
    }.mkString(",\n")
    head + ",\n" + roundsSql
  }

  private def unigramOracleSql(rounds: Int): String = {
    val out = (1 to rounds)
      .map(r => s"SELECT $r::INT AS em_round, piece, usage FROM u$r")
      .mkString("\nUNION ALL\n")
    unigramStageSql(rounds) + "\n" + out
  }

  /** The APPLY oracle: encode every distinct corpus word (length <= 32,
    * the pinned encoding cap) under the final pruned vocabulary with
    * 32 more unrolled DP stages — the l = 1 candidate branch LEFT-joins
    * the vocabulary and coalesces the count to 0 (the UNK convention:
    * add-one smoothing gives an out-of-vocabulary character probability
    * 1/(N+|V|)), so every word has a path. Then the per-doc
    * word/subword aggregate, the tok_bpe_apply shape.
    */
  private def unigramApplySql(rounds: Int): String = {
    val applyMax = 32
    val vF = s"v$rounds"
    val nF = s"n$rounds"
    val dps = (1 to applyMax).map { i =>
      val branches = (1 to math.min(4, i)).map { l =>
        val joinKind = if (l == 1) "LEFT JOIN" else "JOIN"
        val cntExpr = if (l == 1) "coalesce(v.cnt, 0)" else "v.cnt"
        s"""      SELECT d.w, d.len,
           |        d.score * (($cntExpr + 1)::DOUBLE
           |          / (nn.n + nn.v)::DOUBLE) AS score,
           |        d.np + 1 AS np,
           |        CASE WHEN d.seg = '' THEN substr(d.w, ${i - l + 1}, $l)
           |          ELSE d.seg || ' ' || substr(d.w, ${i - l + 1}, $l)
           |          END AS seg,
           |        substr(d.w, ${i - l + 1}, $l) AS lastp
           |      FROM dpA_${i - l} d CROSS JOIN $nF nn
           |      $joinKind $vF v ON v.piece = substr(d.w, ${i - l + 1}, $l)
           |      WHERE d.len >= $i""".stripMargin
      }.mkString("\n      UNION ALL\n")
      // same struct-min rewrite as the training DP (see above): the
      // apply side runs 32 stages over every distinct corpus word —
      // the null×fat replay's worst spill surface
      s"""dpA_$i AS MATERIALIZED (
         |  SELECT w, best.len AS len, -best.ns AS score,
         |    best.np AS np, best.seg AS seg
         |  FROM (SELECT w, min({'ns': -score, 'np': np,
         |      'lastp': lastp, 'seg': seg, 'len': len}) AS best
         |    FROM (
         |$branches
         |    ) GROUP BY w))""".stripMargin
    }
    val segs = (1 to applyMax)
      .map(i => s"SELECT w, len(string_split(seg, ' '))::BIGINT AS n_sub " +
        s"FROM dpA_$i WHERE len = $i")
      .mkString("\n  UNION ALL\n  ")
    unigramStageSql(rounds) +
      s""",
         |dtokA AS (SELECT doc_id, unnest(string_split_regex(lower(text),
         |    '[^a-z0-9]+')) AS w FROM documents),
         |tokA AS MATERIALIZED (SELECT doc_id, w FROM dtokA
         |  WHERE w <> '' AND len(w) <= $applyMax),
         |wordsA AS MATERIALIZED (SELECT w, len(w) AS len
         |  FROM (SELECT DISTINCT w FROM tokA)),
         |dpA_0 AS (SELECT w, len, CAST(1.0 AS DOUBLE) AS score,
         |  0 AS np, '' AS seg FROM wordsA),
         |${dps.mkString(",\n")},
         |segA AS (
         |  $segs),
         |agA AS (SELECT t.doc_id, count(*)::BIGINT AS nw,
         |    sum(s.n_sub)::BIGINT AS ns
         |  FROM tokA t JOIN segA s USING (w) GROUP BY 1)
         |SELECT d.doc_id, coalesce(agA.nw, 0) AS n_words,
         |  coalesce(agA.ns, 0) AS n_subwords,
         |  floor(agA.ns::DOUBLE / agA.nw::DOUBLE * 10000.0 + 0.5)
         |    / 10000.0 AS fertility
         |FROM documents d LEFT JOIN agA ON d.doc_id = agA.doc_id""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // tok_bpe [EXT]: BPE tokenizer-merge training (Sennrich'16) — 8
    // learned merges over the corpus vocabulary. The pipeline's one
    // corpus-sized pass is the token count; every round then works the
    // (word, freq) table. Independent oracle: the full 8-round replay
    // in SQL (pair counts, portable argmax tie-break, list_reduce
    // greedy merge) — any regression in counting, ordering, or the
    // merge scan diverges the learned merges and breaks the gate.
    Q("tok_bpe",
      (s, d) => graft.operators.Bpe.trainMerges(
        t(s, d, "documents").select(col("text")), "text", numMerges = 8),
      Some(bpeOracleSql(8))),


    // tok_unigram [EXT, new r16]: unigram-LM tokenizer training
    // (Kudo '18 / SentencePiece), the deterministic Viterbi-EM
    // variant — seed substring vocabulary, two EM rounds of exact
    // Viterbi segmentation + usage re-estimation + pruning, integer
    // usage counts as the gate output. Independent oracle: the full
    // 2-round replay in SQL (unrolled DP stages; the score arithmetic
    // is the identical IEEE expression tree, so the argmaxes cannot
    // drift). Any regression in seeding, the DP order, the tie-break,
    // or the prune diverges the usage table and breaks the gate.
    Q("tok_unigram",
      (s, d) => graft.operators.Unigram.train(
        t(s, d, "documents").select(col("text")), "text", rounds = 2),
      Some(unigramOracleSql(2))),


    // tok_unigram_apply [EXT, new r16]: encode the corpus under the
    // trained unigram vocabulary (the tok_bpe_apply twin) — every
    // distinct word <= 32 chars Viterbi-encodes once under the final
    // pruned vocab (UNK single-char fallback at count 0), documents
    // join their tokens on the word, per-doc word/subword counts and
    // floor-snapped fertility. Oracle: the training replay extended by
    // 32 unrolled apply-DP stages and the doc join-back.
    Q("tok_unigram_apply",
      (s, d) => graft.operators.Unigram.subwordStats(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", rounds = 2),
      Some(unigramApplySql(2))),

    // tok_bpe_apply [EXT]: the apply side of the tokenizer lifecycle —
    // encode the corpus under the 8 learned merges and report per-doc
    // word/subword counts and fertility (subwords per word). Merges
    // rewrite the VOCABULARY (8 narrow HOF passes over the word
    // table); documents join their tokens to the encoded vocabulary on
    // the word, so the corpus-sized stream is (doc, word) scalars.
    // Oracle: the same 8-round replay, then the word→subword-count
    // join-back.
    Q("tok_bpe_apply",
      (s, d) => graft.operators.Bpe.subwordStats(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", numMerges = 8),
      Some(bpeApplySql(8))),

    // tok_wordpiece [EXT, new r16]: WordPiece tokenizer training
    // (Schuster & Nakajima '12 / BERT) — completes the production
    // tokenizer trio next to tok_bpe and tok_unigram. Two observable
    // deltas vs BPE, both gate-pinned: `##` continuation marking
    // (word-initial vs internal pieces are DIFFERENT symbols), and
    // the likelihood-ratio merge criterion count(ab)/(count(a)·
    // count(b)) — the gate output carries the left/right symbol
    // counts so the criterion's INPUTS are pinned, not just its
    // winner. Independent oracle: the full 8-round replay in SQL with
    // the identical one-division IEEE score.
    Q("tok_wordpiece",
      (s, d) => graft.operators.WordPiece.trainMerges(
        t(s, d, "documents").select(col("text")), "text", numMerges = 8),
      Some(wordpieceOracleSql(8))),

    // tok_wordpiece_apply [EXT, new r16]: encode the corpus under the
    // learned WordPiece merges (merge-replay over the VOCABULARY, the
    // tok_bpe_apply shape) — per-doc word/subword counts and
    // floor-snapped fertility.
    Q("tok_wordpiece_apply",
      (s, d) => graft.operators.WordPiece.subwordStats(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", numMerges = 8),
      Some(wordpieceApplySql(8))),

    // line_dedup [EXT]: CCNet-style boilerplate line removal — a line
    // occurring in >= 10 distinct docs (headers/footers/banners) is
    // stripped everywhere, preserving the order of surviving lines.
    // The synthetic corpus is single-line, so multi-line "pages" are
    // assembled deterministically: a nav header shared by doc_id % 7,
    // two body lines from the text, a copyright footer on even ids —
    // the header/footer cross the threshold, the bodies don't. The
    // oracle rebuilds the same pages and replays the threshold + strip
    // in SQL.
    Q("line_dedup",
      (s, d) => {
        val pages = t(s, d, "documents").select(col("doc_id"),
          concat_ws("\n",
            concat(lit("=== NEWSLETTER src"), col("doc_id") % 7, lit(" ===")),
            substring(col("text"), 1, 80),
            substring(col("text"), 81, 80),
            when(col("doc_id") % 2 === 0,
              lit("(c) example.com all rights reserved"))).as("page"))
        Corpus.stripBoilerplateLines(pages, "doc_id", "page", minDocs = 10L)
      },
      Some("""WITH pages AS (
             |  SELECT doc_id, concat_ws(chr(10),
             |    '=== NEWSLETTER src' || (doc_id % 7) || ' ===',
             |    substr(text, 1, 80),
             |    substr(text, 81, 80),
             |    CASE WHEN doc_id % 2 = 0
             |      THEN '(c) example.com all rights reserved' END) AS page
             |  FROM documents),
             |l0 AS (SELECT doc_id, string_split(page, chr(10)) AS sp FROM pages),
             |l1 AS (SELECT doc_id, unnest(generate_series(1, len(sp))) AS pos, sp
             |  FROM l0),
             |l AS (SELECT doc_id, pos, sp[pos] AS line FROM l1),
             |b AS (SELECT line FROM l GROUP BY line
             |  HAVING count(DISTINCT doc_id) >= 10),
             |k AS (SELECT l.doc_id, l.pos, l.line,
             |    l.line IN (SELECT line FROM b) AS is_b FROM l)
             |SELECT doc_id,
             |  coalesce(string_agg(CASE WHEN NOT is_b THEN line END,
             |    chr(10) ORDER BY pos), '') AS clean_text,
             |  sum(CASE WHEN is_b THEN 1 ELSE 0 END)::BIGINT AS n_removed
             |FROM k GROUP BY doc_id""".stripMargin)),

    // text_tfidf [EXT]: top-3 tf-idf keywords per doc; score =
    // tf * ln(N/df), ties by term. Integer tf/df/N on both engines;
    // the only float ops (one ln, one multiply, one divide) hit the
    // same IEEE doubles on both sides, so ranking and the 4-decimal
    // rounding are stable cross-engine.
    Q("text_tfidf",
      (s, d) => Corpus.tfidfTopK(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", k = 3),
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split_regex(lower(text),
             |    '[^a-z0-9]+')) AS term FROM documents),
             |tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
             |tf AS (SELECT doc_id, term, count(*) AS tf
             |  FROM tok2 GROUP BY doc_id, term),
             |dfq AS (SELECT term, count(DISTINCT doc_id) AS df
             |  FROM tok2 GROUP BY term),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |sc AS (SELECT tf.doc_id, tf.term,
             |    tf.tf * ln(n.n_docs / dfq.df) AS score
             |  FROM tf JOIN dfq ON tf.term = dfq.term, n),
             |r AS (SELECT doc_id, term, score, row_number() OVER (
             |    PARTITION BY doc_id ORDER BY score DESC, term) AS rank
             |  FROM sc)
             |SELECT doc_id, term, round(score, 4) AS tfidf, rank
             |FROM r WHERE rank <= 3""".stripMargin)),

    // dedup_best [EXT]: quality-aware canonical selection — the same
    // near-dup clusters as dedup_cluster, but the kept member is the
    // LONGEST document (ties → lowest id), the keep-the-most-complete-
    // version heuristic real pipelines use. The planted " zz" copies
    // are longer than their originals, so the canonical member
    // genuinely differs from dedup_cluster's min-id keep. Oracle =
    // full sketch replay + recursive-CTE ground-truth components +
    // the same argmax.
    Q("dedup_best",
      (s, d) => {
        val docs = TextQ.plantedDocs(s, d)
        // r12: clone-collapsed component labels (Dedup.minhashClusters)
        // instead of CC over materialized doc-level pairs
        val labels = Dedup.minhashClusters(docs, "doc_id", "text",
          threshold = 0.35)
        val labeled = docs
          .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
          .select(col("doc_id"), col("cluster").as("cluster_id"),
            length(col("text")).cast("long").as("n_chars"))
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("cluster_id")
          .orderBy(col("n_chars").desc, col("doc_id"))
        labeled.withColumn("keep", row_number().over(w) === 1)
      },
      Some(MinhashOracle.bestSql)),

    // embed_project [EXT]: Johnson-Lindenstrauss random projection of
    // the 64-dim embeddings to 8 doubles — the ship-less-data path for
    // downstream clustering/dedup at 100 TB. Seeded mix64 weight
    // matrix (same mapping as the LSH hyperplanes, different seed);
    // the oracle regenerates the matrix and replays every projection
    // from the raw embeddings. Sum order differs (DuckDB aggregates in
    // arbitrary order) but reorder error ~1e-13 cannot move a value
    // across a 4-decimal rounding boundary at these magnitudes.
    // class_centroid [EXT, new r8]: nearest-centroid (Rocchio)
    // classifier on the embeddings — train on even vec_ids, confusion
    // matrix on the odd half; the zero-hyperparameter baseline every
    // embedding-quality claim must beat. EXACT argmin under
    // distribution: coordinates quantize to the ×2^21 integer grid
    // (embed_covar's lossless snap), centroids round to the SAME grid
    // (model definition, not approximation — both engines derive the
    // identical integer from exact sums), so every distance is an
    // order-free INTEGER sum of squares (≤ 2^50: 64 dims × (2^22)²)
    // and the argmin with label-asc tie-break cannot flip on a float
    // ulp — a double distance would make near-ties
    // partition-order-dependent. The model is one keyless-aggregate
    // row broadcast to the odd half, which is scored row-locally in
    // one codegen'd projection (Classify.scoreGridCentroids: the grid
    // quantizer feeding the exact nearest-centroid kernel), so nothing
    // explodes, fans out by label or shuffles before the confusion-
    // matrix count. vec_id is the table key: the oracle's per-vec_id
    // pick is the per-row pick.
    Q("class_centroid",
      (s, d) => {
        import graft.operators.Classify
        // r15 null contract (classifier family, same as class_nb /
        // cluster_kmeans): null label = unlabeled (no training row,
        // no confusion-matrix row), null embedding = unscorable
        val e = t(s, d, "embeddings")
          .filter(col("label").isNotNull && col("embedding").isNotNull)
        val model = Classify.fitGridCentroids(e.filter(col("vec_id") % 2 === 0),
          "label", "embedding", scale = 2097152.0)
        Classify.scoreGridCentroids(e.filter(col("vec_id") % 2 === 1),
            model, "embedding")
          .groupBy(col("label").as("true_label"), col("pred"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""WITH q AS (SELECT vec_id, label, g.i AS i,
             |    CAST(round(CAST(embedding[g.i] AS DOUBLE) * 2097152.0)
             |      AS BIGINT) AS qv
             |  FROM embeddings, generate_series(1, 64) g(i)
             |  WHERE label IS NOT NULL AND embedding IS NOT NULL),
             |tr AS (SELECT label AS cand, i,
             |    CAST(round(sum(qv)::DOUBLE / count(*)::DOUBLE)
             |      AS BIGINT) AS c
             |  FROM q WHERE vec_id % 2 = 0 GROUP BY 1, 2),
             |ds AS (SELECT e.vec_id, e.label AS true_label, tr.cand,
             |    sum((e.qv - tr.c) * (e.qv - tr.c))::BIGINT AS dist
             |  FROM q e JOIN tr ON e.i = tr.i
             |  WHERE e.vec_id % 2 = 1 GROUP BY 1, 2, 3),
             |pk AS (SELECT vec_id, true_label, cand,
             |    row_number() OVER (PARTITION BY vec_id
             |      ORDER BY dist, cand) AS rn
             |  FROM ds)
             |SELECT true_label, cand AS pred, count(*)::BIGINT AS n
             |FROM pk WHERE rn = 1 GROUP BY 1, 2""".stripMargin)),

    // embed_drift [EXT, new r8]: embedding-distribution drift between
    // two corpus halves (even vs odd vec_ids standing in for
    // yesterday's vs today's embedding snapshot) — per label, the L2
    // distance between the halves' centroids in original embedding
    // units; THE regression check before swapping an embedding model
    // version (a silent encoder change shifts centroids long before
    // top-k metrics move). Same
    // quantize-then-accumulate exactness as embed_covar: ×2^21
    // integer sums per (half, label, dim), centroids through fixed
    // IEEE divisions, and the 64-term squared-difference reduction
    // folds in FIXED dimension order (sort_array + aggregate here,
    // list_sort + list_reduce in the oracle — a plain sum() would
    // accumulate in shuffle-dependent order, the exact failure class
    // this family's integer machinery exists to exclude; 0.0+x = x
    // exactly, so the differing fold inits agree bit-for-bit).
    Q("embed_drift",
      (s, d) => {
        // the embedding quantizes once per row; the 64 rows per vector
        // stay (a null embedding still yields 64 null-qv rows that
        // count in n, as in the oracle — posexplode would drop them)
        val q = t(s, d, "embeddings")
          .select((col("vec_id") % 2).as("half"), col("label"),
            VecFns.gridQuantize(col("embedding"), 2097152.0).as("qa"))
          .select(col("half"), col("label"), explode(expr(
              "transform(sequence(1, 64), i -> struct(i AS i, " +
                "element_at(qa, i) AS qv))")).as("e"))
          .select(col("half"), col("label"),
            col("e.i").as("i"), col("e.qv").as("qv"))
        val cent = q.groupBy("half", "label", "i")
          .agg(count(lit(1)).as("n"), sum("qv").as("sq"))
          .select(col("half"), col("label"), col("i"),
            (col("sq").cast("double") / col("n").cast("double"))
              .as("c"))
        val a = cent.filter(col("half") === 0)
          .select(col("label"), col("i"), col("c").as("c0"))
        val b = cent.filter(col("half") === 1)
          .select(col("label"), col("i"), col("c").as("c1"))
        a.join(b, Seq("label", "i"))
          .select(col("label"), struct(col("i"),
            ((col("c1") - col("c0")) * (col("c1") - col("c0")))
              .as("d2")).as("e"))
          .groupBy("label")
          .agg(sqrt(aggregate(sort_array(collect_list(col("e"))),
            lit(0.0), (acc, x) => acc + x.getField("d2"))).as("raw"))
          .select(col("label"),
            (floor(col("raw") / lit(2097152.0) * lit(1000000.0)
              + lit(0.5)) / lit(1000000.0)).as("centroid_shift"))
      },
      Some("""WITH q AS (SELECT vec_id % 2 AS half, label, g.i AS i,
             |    CAST(round(CAST(embedding[g.i] AS DOUBLE) * 2097152.0)
             |      AS BIGINT) AS qv
             |  FROM embeddings, generate_series(1, 64) g(i)),
             |cent AS (SELECT half, label, i,
             |    sum(qv)::BIGINT::DOUBLE / count(*)::BIGINT::DOUBLE AS c
             |  FROM q GROUP BY 1, 2, 3),
             |j AS (SELECT a.label, a.i, a.c AS c0, b.c AS c1
             |  FROM cent a JOIN cent b
             |    ON a.label = b.label AND a.i = b.i
             |  WHERE a.half = 0 AND b.half = 1),
             |r AS (SELECT label, sqrt(list_reduce(
             |    list_transform(list_sort(list({'i': i,
             |      'd2': (c1 - c0) * (c1 - c0)})), x -> x.d2),
             |    (a, b) -> a + b)) AS raw
             |  FROM j GROUP BY 1)
             |SELECT label,
             |  floor(raw / 2097152.0 * 1000000.0 + 0.5) / 1000000.0
             |    AS centroid_shift
             |FROM r""".stripMargin)),

    // embed_covar [EXT, new r8]: per-label covariance block of the
    // embedding distribution (leading 8×8 of dims 1-8, labels 0-2) —
    // the whitening/PCA-prep statistic and the drift check between a
    // corpus's class-conditional embedding clouds. Exactness at scale
    // via QUANTIZE-THEN-ACCUMULATE: float sums across a cluster are
    // summation-order-dependent (different partitionings → different
    // last-ulp results → broken retries and oracles), so each
    // coordinate snaps to an integer grid FIRST (×2^21 — exact in
    // binary: a float widens exactly to double and a power-of-two
    // multiply is lossless) and all three moments (Σq_i, Σq_j, Σq_iq_j)
    // accumulate as order-free LONGs; the covariance then derives
    // through one fixed IEEE expression the oracle replays verbatim.
    // Each row expands to its own 36 (i ≤ j) coordinate pairs, so one
    // embeddings scan feeds one aggregate: no vec_id self-join. Group
    // count is bounded by labels × 36 cells.
    Q("embed_covar",
      (s, d) => {
        // Dims 1-8 quantize once per row. A null embedding still yields
        // 36 null-valued pairs that count in n, as in the oracle's
        // self-join of its 8 null-qv rows
        val q = t(s, d, "embeddings").filter(col("label") < 3)
          .select(col("label"), VecFns.gridQuantize(
            slice(col("embedding"), 1, 8), 2097152.0).as("qa"))
          .select(col("label"), expr("inline(flatten(transform(" +
            "sequence(1, 8), i -> transform(sequence(i, 8), j -> " +
            "struct(i AS i, j AS j, element_at(qa, i) AS qv, " +
            "element_at(qa, j) AS qw)))))"))
        val nD = col("n").cast("double")
        q.groupBy("label", "i", "j")
          .agg(count(lit(1)).as("n"), sum("qv").as("si"),
            sum("qw").as("sj"), sum(col("qv") * col("qw")).as("sij"))
          .select(col("label"), col("i"), col("j"), col("n"),
            ((col("sij").cast("double") -
              col("si").cast("double") * col("sj").cast("double") / nD)
              / (col("n") - 1).cast("double")
              / lit(4398046511104.0)).as("cov"))
      },
      Some("""WITH q AS (SELECT vec_id, label, g.i AS i,
             |    CAST(round(CAST(embedding[g.i] AS DOUBLE) * 2097152.0)
             |      AS BIGINT) AS qv
             |  FROM embeddings, generate_series(1, 8) g(i)
             |  WHERE label < 3),
             |p AS (SELECT a.label, a.i AS i, b.i AS j,
             |    a.qv AS qa, b.qv AS qb
             |  FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i),
             |m AS (SELECT label, i, j, count(*)::BIGINT AS n,
             |    sum(qa)::BIGINT AS si, sum(qb)::BIGINT AS sj,
             |    sum(qa * qb)::BIGINT AS sij
             |  FROM p GROUP BY 1, 2, 3)
             |SELECT label, i, j, n,
             |  (sij::DOUBLE - si::DOUBLE * sj::DOUBLE / n::DOUBLE)
             |    / (n - 1)::DOUBLE / 4398046511104.0 AS cov
             |FROM m""".stripMargin)),

    Q("embed_project",
      (s, d) => t(s, d, "embeddings")
        .select(col("vec_id"),
          posexplode(VecFns.randomProjection(col("embedding"), 64, 8, 1337L))
            .as(Seq("j", "p")))
        .select(col("vec_id"), col("j"), round(col("p"), 4).as("proj")),
      Some(s"""WITH grid AS (
              |  SELECT j.j AS j, i.i AS i,
              |    (1337 + j.j*1000003 + i.i)::UBIGINT AS z0
              |  FROM generate_series(0,7) j(j), generate_series(0,63) i(i)),
              |${MinhashOracle.mixStages("grid", "z0", "mx", "w1")},
              |w AS (SELECT j, i,
              |    (mx >> 12)::DOUBLE / 4503599627370496.0 * 2.0 - 1.0 AS wt
              |  FROM w1d),
              |v AS (SELECT vec_id, unnest(embedding) AS x,
              |    generate_subscripts(embedding, 1) - 1 AS i FROM embeddings),
              |p AS (SELECT v.vec_id, w.j, sum(v.x::DOUBLE * w.wt) AS pr
              |  FROM v JOIN w ON v.i = w.i GROUP BY v.vec_id, w.j)
              |SELECT vec_id, j, round(pr, 4) AS proj FROM p""".stripMargin)),

    // embed_quant [EXT, new r7]: int8 scalar quantization of the
    // embedding column — per-dimension (min, max) over the corpus, each
    // component snapped to 256 levels, plus the per-vector
    // reconstruction MSE that decides whether the 4× storage cut is
    // acceptable (the serving-memory knob PQ's 8-byte codes sit below).
    // Per-dim stats are a 64-row bounded collect composed back as
    // literal arrays (the centroid/label-prior posture); quantize +
    // error fold run inside ONE transform+aggregate pass per row,
    // SEQUENTIAL in index order, so every double is bit-identical to
    // the oracle's list_reduce replay. Constant dims (max == min)
    // quantize to level 0 and reconstruct exactly.
    Q("embed_quant",
      (s, d) => {
        // r15 null contract: a NULL vector has nothing to quantize —
        // no output row (the oracle's unnest drops it identically)
        val emb = t(s, d, "embeddings")
          .filter(col("embedding").isNotNull)
        val stats = emb
          .select(posexplode(col("embedding")).as(Seq("i", "x")))
          .select(col("i"), col("x").cast("double").as("xd"))
          .groupBy("i").agg(min("xd").as("mn"), max("xd").as("mx"))
          .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
          .sortBy(_._1)
        val mnA = array(stats.map(t3 => lit(t3._2)).toSeq: _*)
        val sA = array(stats.map(t3 => lit((t3._3 - t3._2) / 255.0))
          .toSeq: _*)
        val dim = stats.length
        val err = transform(col("embedding"), (x, i) => {
          val xd = x.cast("double")
          val mn = element_at(mnA, i + 1)
          val sc = element_at(sA, i + 1)
          val q = least(greatest(
            floor((xd - mn) / sc + lit(0.5)), lit(0.0)), lit(255.0))
          val rec = when(sc > 0.0, mn + q * sc).otherwise(mn)
          (xd - rec) * (xd - rec)
        })
        emb.select(col("vec_id"),
          (floor(aggregate(err, lit(0.0), (acc, e) => acc + e) /
            lit(dim.toDouble) * lit(1e8) + lit(0.5)) / lit(1e8)).as("mse"))
      },
      Some("""WITH v AS (SELECT vec_id, generate_subscripts(embedding, 1)
             |      AS i, unnest(embedding)::DOUBLE AS x
             |  FROM embeddings),
             |st AS (SELECT i, min(x) AS mn,
             |    (max(x) - min(x)) / 255.0 AS s
             |  FROM v GROUP BY i),
             |e AS (SELECT v.vec_id, v.i,
             |    CASE WHEN st.s > 0.0 THEN
             |      (v.x - (st.mn + least(greatest(
             |        floor((v.x - st.mn) / st.s + 0.5), 0.0), 255.0)
             |        * st.s)) *
             |      (v.x - (st.mn + least(greatest(
             |        floor((v.x - st.mn) / st.s + 0.5), 0.0), 255.0)
             |        * st.s))
             |    ELSE (v.x - st.mn) * (v.x - st.mn) END AS err
             |  FROM v JOIN st USING (i)),
             |g AS (SELECT vec_id, list(err ORDER BY i) AS es,
             |    count(*)::BIGINT AS dim
             |  FROM e GROUP BY vec_id)
             |SELECT vec_id,
             |  floor(list_reduce(es, (a, b) -> a + b) / dim * 1e8 + 0.5)
             |    / 1e8 AS mse
             |FROM g""".stripMargin)),

    // cluster_kmeans [EXT]: distributed Lloyd k-means over the FULL
    // embedding corpus (curation clustering — topic bucketing,
    // cluster-balanced sampling), k=4, 2 rounds. Deterministic
    // contract: lowest-id init, ties to lowest cluster, float32
    // centroid snap each round (kills partial-agg sum-order jitter).
    // The oracle unrolls both rounds as CTEs — assignment by
    // row_number over (d2, cid), update by CAST(avg AS REAL) — and
    // replays the final assignment + 4-decimal centroid coordinates.
    // Sum-order d2 differences (~1e-15) cannot flip an argmin whose
    // real gaps are O(1).
    Q("cluster_kmeans",
      (s, d) => graft.operators.Cluster.kmeans(
        t(s, d, "embeddings"), "vec_id", "embedding", k = 4, iters = 2),
      Some("""WITH ev AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
             |    generate_subscripts(embedding, 1) - 1 AS i
             |  FROM embeddings WHERE embedding IS NOT NULL),
             |-- r15 null contract: null vectors neither seed nor join
             |-- clusters (mirrors Cluster.kmeans' entry filter)
             |sel AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id)
             |    - 1 AS cid FROM embeddings
             |  WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 4),
             |c0 AS (SELECT sel.cid, ev.i, ev.x AS c
             |  FROM sel JOIN ev USING (vec_id)),
             |d1 AS (SELECT ev.vec_id, c0.cid,
             |    sum((ev.x - c0.c) * (ev.x - c0.c)) AS d2
             |  FROM ev JOIN c0 ON ev.i = c0.i GROUP BY 1, 2),
             |a1 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
             |    row_number() OVER (PARTITION BY vec_id
             |      ORDER BY d2, cid) AS rn FROM d1) WHERE rn = 1),
             |u1 AS (SELECT a1.cid, ev.i,
             |    CAST(CAST(avg(ev.x) AS REAL) AS DOUBLE) AS c
             |  FROM a1 JOIN ev USING (vec_id) GROUP BY 1, 2),
             |c1 AS (SELECT c0.cid, c0.i, coalesce(u1.c, c0.c) AS c
             |  FROM c0 LEFT JOIN u1 ON c0.cid = u1.cid AND c0.i = u1.i),
             |d2r AS (SELECT ev.vec_id, c1.cid,
             |    sum((ev.x - c1.c) * (ev.x - c1.c)) AS d2
             |  FROM ev JOIN c1 ON ev.i = c1.i GROUP BY 1, 2),
             |a2 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
             |    row_number() OVER (PARTITION BY vec_id
             |      ORDER BY d2, cid) AS rn FROM d2r) WHERE rn = 1),
             |u2 AS (SELECT a2.cid, ev.i,
             |    CAST(CAST(avg(ev.x) AS REAL) AS DOUBLE) AS c
             |  FROM a2 JOIN ev USING (vec_id) GROUP BY 1, 2),
             |c2 AS (SELECT c1.cid, c1.i, coalesce(u2.c, c1.c) AS c
             |  FROM c1 LEFT JOIN u2 ON c1.cid = u2.cid AND c1.i = u2.i),
             |d3 AS (SELECT ev.vec_id, c2.cid,
             |    sum((ev.x - c2.c) * (ev.x - c2.c)) AS d2
             |  FROM ev JOIN c2 ON ev.i = c2.i GROUP BY 1, 2),
             |a3 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
             |    row_number() OVER (PARTITION BY vec_id
             |      ORDER BY d2, cid) AS rn FROM d3) WHERE rn = 1),
             |n3 AS (SELECT cid, count(*)::BIGINT AS n FROM a3
             |  GROUP BY 1)
             |SELECT c2.cid::BIGINT AS cluster_id, c2.i::BIGINT AS dim,
             |  round(c2.c, 4) AS c, n3.n
             |FROM c2 JOIN n3 USING (cid)""".stripMargin)),

    // text_topterms [EXT]: EXACT corpus-wide top-20 terms, adaptive
    // (operators.Corpus.topTermsExact): one Space-Saving pass first
    // (capacity-bounded partials, vocabulary never shuffles); when the
    // merged summary certifies itself (< capacity slots ⇒ nothing was
    // ever evicted ⇒ counts exact AND complete), the result builds
    // from the ≤ 256 collected slots — the gate corpora (31 distinct
    // terms) take this path, so any sketch regression (wrong merge,
    // lost counts, unstable ordering) still breaks the gate. An
    // uncertifiable vocabulary falls back to the exact distributed
    // count + TakeOrdered top-k — the r14 FAT audit's forcing case: a
    // 64 MB doc with ~1M distinct tokens pushes the sketch's error
    // bound (~N/256 ≈ 65k) past the true top counts (~960), a regime
    // where NO affordable sketch capacity recovers the answer, caught
    // as a VALUE_MISMATCH by the fat sweep (reports/SWEEP_FAT_r14.md).
    Q("text_topterms",
      (s, d) => {
        val tok = t(s, d, "documents")
          .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
          .filter(col("term") =!= "")
        graft.operators.Corpus.topTermsExact(tok, "term", 20, 256)
      },
      Some("""WITH tok AS (SELECT unnest(string_split_regex(lower(text),
             |    '[^a-z0-9]+')) AS term FROM documents),
             |c AS (SELECT term, count(*) AS cnt FROM tok
             |  WHERE term <> '' GROUP BY term),
             |r AS (SELECT term, cnt,
             |    row_number() OVER (ORDER BY cnt DESC, term) AS rank FROM c)
             |SELECT CAST(rank AS INT) AS rank, term, cnt
             |FROM r WHERE rank <= 20""".stripMargin)),

    // corpus_pack [EXT]: concat-then-chunk sequence packing — the
    // standard LLM-pretraining batching step. Documents lay end-to-end
    // per content-hash shard (4 shards, portable md5) in doc_id order;
    // the token stream slices into 256-token chunks and each doc
    // reports its chunk range (a doc straddling a boundary has
    // last_chunk > first_chunk). One ordered window over scalars per
    // shard — deterministic, parallel across shards, replayed exactly
    // by the oracle's windowed cumulative sum. Oracle gotchas: DuckDB's
    // windowed sum(BIGINT) returns HUGEINT (pandas → float64, breaking
    // the driver hash on 768.0 vs 768) → cast the cum ::BIGINT; and
    // DuckDB trim() strips only SPACES, so the token count filters
    // empty split tokens instead (matches TextSignals n_words on
    // tab/newline-led text), with the same empty→1 floor.
    Q("corpus_pack",
      // r15 null contract: every doc packs — a null/empty text takes
      // the same 1-token floor the oracle's greatest(len, 1) encodes
      // (DuckDB's greatest skips the NULL; Spark must coalesce first
      // or the cumulative sum poisons the whole shard with NaN)
      (s, d) => graft.operators.Corpus.packChunks(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", greatest(graft.functions.TextFns.wsTokenCount(
          coalesce(col("text"), lit(""))), lit(1L)),
        window = 256L, shards = 4, portable = true),
      Some("""WITH tkn AS (SELECT doc_id,
             |    greatest(len(list_filter(string_split_regex(text, '\s+'),
             |      x -> x <> '')), 1) AS n_tokens,
             |    ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 15))
             |      ::BIGINT % 4 AS shard
             |  FROM documents),
             |c AS (SELECT doc_id, shard, n_tokens,
             |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM tkn)
             |SELECT doc_id, shard, n_tokens,
             |  cum - n_tokens AS start_off,
             |  (cum - n_tokens) // 256 AS first_chunk,
             |  (cum - 1) // 256 AS last_chunk
             |FROM c""".stripMargin)),

    // text_perplexity [EXT]: unigram cross-entropy quality scoring
    // (the CCNet perplexity-filter shape, with the corpus's own unigram
    // LM standing in for KenLM). Integer tf/cnt/total on both engines;
    // per-term ln() hits the same IEEE doubles, per-doc sums reorder
    // with ~1e-13 relative error — far from any 4-decimal boundary.
    Q("text_perplexity",
      (s, d) => Corpus.unigramCrossEntropy(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text"),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(
             |    lower(text), '[^a-z0-9]+')) AS term FROM documents),
             |tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
             |tf AS (SELECT doc_id, term, count(*) AS tf
             |  FROM tok2 GROUP BY doc_id, term),
             |tc AS (SELECT term, sum(tf)::BIGINT AS cnt FROM tf GROUP BY term),
             |tot AS (SELECT sum(cnt)::BIGINT AS total FROM tc),
             |sc AS (SELECT tf.doc_id, sum(tf.tf)::BIGINT AS n_tokens,
             |    round(-sum(tf.tf * ln(tc.cnt / tot.total)) / sum(tf.tf), 4)
             |      AS xent
             |  FROM tf JOIN tc USING (term), tot GROUP BY tf.doc_id)
             |SELECT d.doc_id, coalesce(sc.n_tokens, 0) AS n_tokens, sc.xent
             |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin)),

    // text_chunk [EXT]: fixed-size overlapping chunking (RAG / context-
    // window prep) — 200-char windows advancing by 150 (50 overlap).
    // Narrow exploding projection, no shuffle; integer-DIV chunk count
    // so the oracle replays offsets exactly. The oracle recomputes
    // count, offsets, lengths, and the substring slices from raw text.
    // r14 (fat sweep): the replay must NEVER carry the raw text across
    // the per-chunk fan-out — DuckDB copies the referenced string into
    // every output row, so `unnest(...), t` priced 447k × 64 MB on the
    // fat giant (the replay ran 5+ h without finishing). Restructured
    // to the tile discipline: split the text ONCE into 150-char tiles
    // (regexp_extract_all, dotall), and each chunk reassembles from
    // tile k + the first 50 chars of tile k+1 via narrow equi-joins —
    // 3 s on the same corpus, byte-identical output.
    // r15: the tile width (= stride) and next-tile carry (= overlap)
    // in the SQL derive from the SAME constants the Spark side uses,
    // so the two cannot drift independently (r14 hardcoded 150/50 and
    // a parameter change would have broken the oracle silently). The
    // tile reassembly is only valid while overlap <= stride (chunk =
    // tile k + first `overlap` chars of tile k+1), checked here.
    Q("text_chunk",
      (s, d) => Corpus.chunkText(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", chunkSize = ChunkCfg.size,
        overlap = ChunkCfg.overlap),
      Some(s"""WITH dd AS (SELECT doc_id, coalesce(text, '') AS t,
             |    length(coalesce(text, ''))::BIGINT AS len FROM documents),
             |n AS MATERIALIZED (SELECT doc_id, len,
             |    CASE WHEN len <= ${ChunkCfg.size} THEN 1
             |      ELSE (len - ${ChunkCfg.size} + ${ChunkCfg.stride - 1})
             |        // ${ChunkCfg.stride} + 1 END AS n_chunks,
             |    regexp_extract_all(t, '.{1,${ChunkCfg.stride}}', 0, 's')
             |      AS tl
             |  FROM dd),
             |tile AS MATERIALIZED (SELECT doc_id, unnest(tl) AS tile,
             |    generate_subscripts(tl, 1) AS ti FROM n),
             |c AS (SELECT doc_id, len,
             |    unnest(generate_series(0, n_chunks - 1)) AS chunk_id
             |  FROM n)
             |SELECT c.doc_id, chunk_id, chunk_id * ${ChunkCfg.stride}
             |    AS start_off,
             |  least(${ChunkCfg.size}, c.len - chunk_id * ${ChunkCfg.stride})
             |    AS chunk_len,
             |  coalesce(t1.tile, '')
             |    || coalesce(left(t2.tile, ${ChunkCfg.overlap}), '')
             |    AS chunk_text
             |FROM c
             |LEFT JOIN tile t1
             |  ON t1.doc_id = c.doc_id AND t1.ti = chunk_id + 1
             |LEFT JOIN tile t2
             |  ON t2.doc_id = c.doc_id AND t2.ti = chunk_id + 2""".stripMargin)),

    // corpus_cap [EXT]: per-source document cap (C4-style "at most N
    // pages per domain") — deterministic md5 priority, top-10 kept per
    // source. The rank-filter shape plans as WindowGroupLimit (map-side
    // prune to 10 rows per group before the exchange — the skew guard).
    // Oracle replays the hash, the rank, and the cut.
    Q("corpus_cap",
      (s, d) => Corpus.capPerGroup(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        col("source"), col("doc_id"), maxPerGroup = 10, portable = true),
      Some("""WITH p AS (SELECT doc_id, source,
             |    ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 15))
             |      ::BIGINT AS pri
             |  FROM documents),
             |r AS (SELECT doc_id, source, row_number() OVER (
             |    PARTITION BY source ORDER BY pri, doc_id) AS cap_rank
             |  FROM p)
             |SELECT doc_id, source, cap_rank FROM r
             |WHERE cap_rank <= 10""".stripMargin)),

    // corpus_dsir [EXT, new r16]: DSIR importance-resampling selection
    // (Xie et al. '23) — rank every document by how src0-like its
    // hashed-unigram profile is (add-one-smoothed per-bucket
    // likelihood ratio, snapped once to integer ten-thousandths; the
    // per-doc score is an order-free INTEGER sum), keep the top 100
    // by (points per token DESC, doc_id). md5-bucketed like
    // text_fingerprint so the oracle replays bucketing exactly;
    // deltas from the paper (ratio- not log-points, deterministic
    // top-k not Gumbel resampling) documented at operators/Dsir.scala.
    Q("corpus_dsir",
      (s, d) => graft.operators.Dsir.select(
        t(s, d, "documents").select(col("doc_id"), col("text"),
          col("source")),
        "doc_id", "text", isTarget = col("source") === "src0",
        topK = 100),
      Some("""WITH tk AS (SELECT doc_id, source,
             |    list_filter(string_split_regex(lower(text),
             |    '[^a-z0-9]+'), x -> x <> '') AS t FROM documents),
             |tok AS (SELECT doc_id, source, unnest(t) AS w FROM tk),
             |bt AS MATERIALIZED (SELECT doc_id,
             |    CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_t,
             |    ('0x' || substr(md5(w), 1, 6))::BIGINT % 4096 AS b
             |  FROM tok),
             |bc AS MATERIALIZED (SELECT b, count(*)::BIGINT AS cr,
             |    sum(is_t)::BIGINT AS ct FROM bt GROUP BY 1),
             |n AS (SELECT sum(cr)::BIGINT AS nr, sum(ct)::BIGINT AS nt
             |  FROM bc),
             |pts AS (SELECT b, floor(
             |    ((ct + 1)::DOUBLE * (nr + 4096)::DOUBLE)
             |      / ((cr + 1)::DOUBLE * (nt + 4096)::DOUBLE)
             |      * 10000.0 + 0.5)::BIGINT AS p
             |  FROM bc, n),
             |ds AS (SELECT bt.doc_id, count(*)::BIGINT AS n_tokens,
             |    sum(p)::BIGINT AS pts FROM bt JOIN pts USING (b)
             |  GROUP BY 1)
             |SELECT doc_id, n_tokens, pts, pts // n_tokens AS avg_pts
             |FROM ds ORDER BY pts // n_tokens DESC, doc_id
             |LIMIT 100""".stripMargin)),

    // lm_kn [EXT, new r16]: interpolated Kneser-Ney bigram LM training
    // (Kneser & Ney '95 / Chen & Goodman '98) — the KenLM-style count
    // LM a CCNet-shape pipeline trains for perplexity filtering;
    // text_perplexity's unigram model upgraded with continuation-count
    // smoothing. NO transcendentals: KN is rational, the probability
    // is one fixed IEEE expression over exact integers (the SAME
    // interpolated string on both engines — NgramLm.probExpr),
    // floor-snapped to 8 decimals. Gate output: top-300 bigrams by
    // (c12 DESC, pair) with every smoothing input pinned as integers.
    Q("lm_kn",
      (s, d) => graft.operators.NgramLm.trainKnBigram(
        t(s, d, "documents").select(col("text")), "text", topK = 300),
      Some(s"""WITH tk AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(text),
             |    '[^a-z0-9]+'), x -> x <> '') AS t FROM documents),
             |tok AS MATERIALIZED (SELECT doc_id, unnest(t) AS w,
             |    generate_subscripts(t, 1) AS j FROM tk),
             |bg AS MATERIALIZED (SELECT a.w AS w1, b.w AS w2,
             |    count(*)::BIGINT AS c12
             |  FROM tok a JOIN tok b
             |    ON a.doc_id = b.doc_id AND b.j = a.j + 1
             |  GROUP BY 1, 2),
             |h AS (SELECT w1, sum(c12)::BIGINT AS c1,
             |    count(*)::BIGINT AS n1fwd FROM bg GROUP BY 1),
             |r AS (SELECT w2, count(*)::BIGINT AS n1rev FROM bg GROUP BY 1),
             |n AS (SELECT count(*)::BIGINT AS ntot FROM bg),
             |p AS (SELECT w1, w2, c12, n1fwd, n1rev,
             |    ${graft.operators.NgramLm.probExpr(c => s"$c::DOUBLE")}
             |      AS prob
             |  FROM bg JOIN h USING (w1) JOIN r USING (w2), n)
             |SELECT w1, w2, c12, n1fwd, n1rev, prob FROM p
             |ORDER BY c12 DESC, w1, w2 LIMIT 300""".stripMargin)),

    // lm_kn_score [EXT, new r16]: score the WHOLE corpus under a KN
    // bigram LM trained on its even-doc_id half (the class_nb
    // train/score split) — per doc the INTEGER surprise profile a
    // perplexity filter thresholds on: bigram count, in-model count,
    // and how many known bigrams score below 0.01. Integers only
    // cross the gate — no accumulated-float hash surface at all; the
    // 0.01 threshold compares the same bit-identical snapped double
    // on both engines.
    Q("lm_kn_score",
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        graft.operators.NgramLm.scoreKnBigram(
          docs.filter(col("doc_id") % 2 === 0), docs,
          "doc_id", "text", lowProb = 0.01)
      },
      Some(s"""WITH tk AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(text),
             |    '[^a-z0-9]+'), x -> x <> '') AS t FROM documents),
             |tok AS MATERIALIZED (SELECT doc_id, unnest(t) AS w,
             |    generate_subscripts(t, 1) AS j FROM tk),
             |bg AS MATERIALIZED (SELECT a.w AS w1, b.w AS w2,
             |    count(*)::BIGINT AS c12
             |  FROM tok a JOIN tok b
             |    ON a.doc_id = b.doc_id AND b.j = a.j + 1
             |  WHERE a.doc_id % 2 = 0
             |  GROUP BY 1, 2),
             |h AS (SELECT w1, sum(c12)::BIGINT AS c1,
             |    count(*)::BIGINT AS n1fwd FROM bg GROUP BY 1),
             |r AS (SELECT w2, count(*)::BIGINT AS n1rev FROM bg GROUP BY 1),
             |n AS (SELECT count(*)::BIGINT AS ntot FROM bg),
             |model AS MATERIALIZED (SELECT w1, w2, c12, n1fwd, n1rev,
             |    ${graft.operators.NgramLm.probExpr(c => s"$c::DOUBLE")}
             |      AS prob
             |  FROM bg JOIN h USING (w1) JOIN r USING (w2), n),
             |sbg AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
             |  FROM tok a JOIN tok b
             |    ON a.doc_id = b.doc_id AND b.j = a.j + 1),
             |sc AS (SELECT s.doc_id, count(*)::BIGINT AS nb,
             |    count(m.prob)::BIGINT AS nh,
             |    sum(CASE WHEN m.prob < 0.01 THEN 1 ELSE 0 END)::BIGINT
             |      AS nl
             |  FROM sbg s LEFT JOIN model m USING (w1, w2) GROUP BY 1)
             |SELECT d.doc_id, coalesce(sc.nb, 0) AS n_bigrams,
             |  coalesce(sc.nh, 0) AS n_in_lm, coalesce(sc.nl, 0) AS n_low
             |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id"""
        .stripMargin)),

    // lm_kn3 [EXT, new r17]: trigram interpolated Kneser-Ney — the
    // production perplexity-filter order (CCNet/KenLM train 5-gram KN;
    // the trigram completes the recursive-interpolation machinery one
    // order up from lm_kn, and higher orders repeat this exact shape).
    // Middle/low levels use CONTINUATION counts derived from the
    // trigram TYPE table per Chen-Goodman (NgramLm.probExpr3 scaladoc);
    // the recursion bottoms out in the mid-table Pcont. Rational
    // smoothing, no transcendentals: one fixed IEEE expression over
    // exact integer counts, shared VERBATIM with the oracle via
    // probExpr3, floor-snapped to 8 decimals. The oracle recomputes
    // the whole model — token split, trigram stream (two j+1/j+2
    // self-joins on the narrow token frame, the text_colloc fat-sweep
    // discipline), all six count rollups, and the identical formula.
    Q("lm_kn3",
      (s, d) => graft.operators.NgramLm.trainKnTrigram(
        t(s, d, "documents").select(col("text")), "text", topK = 300),
      Some(s"""WITH tk AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(text),
             |    '[^a-z0-9]+'), x -> x <> '') AS t FROM documents),
             |tok AS MATERIALIZED (SELECT doc_id, unnest(t) AS w,
             |    generate_subscripts(t, 1) AS j FROM tk),
             |tg AS MATERIALIZED (SELECT a.w AS w1, b.w AS w2, c.w AS w3,
             |    count(*)::BIGINT AS c123
             |  FROM tok a JOIN tok b
             |    ON a.doc_id = b.doc_id AND b.j = a.j + 1
             |  JOIN tok c ON a.doc_id = c.doc_id AND c.j = a.j + 2
             |  GROUP BY 1, 2, 3),
             |h AS (SELECT w1, w2, sum(c123)::BIGINT AS c12,
             |    count(*)::BIGINT AS n1mid FROM tg GROUP BY 1, 2),
             |m AS MATERIALIZED (SELECT w2, w3, count(*)::BIGINT AS nc23
             |  FROM tg GROUP BY 1, 2),
             |m2 AS (SELECT w2, sum(nc23)::BIGINT AS nc2dot,
             |    count(*)::BIGINT AS n1fwd2 FROM m GROUP BY 1),
             |lo AS (SELECT w3, count(*)::BIGINT AS n1rev3
             |  FROM m GROUP BY 1),
             |n AS (SELECT count(*)::BIGINT AS ntot FROM m),
             |p AS (SELECT w1, w2, w3, c123, n1mid, nc23,
             |    ${graft.operators.NgramLm.probExpr3(c => s"$c::DOUBLE")}
             |      AS prob
             |  FROM tg JOIN h USING (w1, w2) JOIN m USING (w2, w3)
             |    JOIN m2 USING (w2) JOIN lo USING (w3), n)
             |SELECT w1, w2, w3, c123, n1mid, nc23, prob FROM p
             |ORDER BY c123 DESC, w1, w2, w3 LIMIT 300""".stripMargin)),

    // text_colloc [EXT]: PMI collocations — top-20 adjacent word pairs
    // by ln(p(ab)/(p(a)p(b))) among pairs occurring >= 5 times. Integer
    // counts on both engines; the PMI formula is written with the same
    // division/multiplication order on both sides so the doubles agree
    // bit-for-bit; ties rank by the pair.
    Q("text_colloc",
      (s, d) => Corpus.collocations(
        t(s, d, "documents").select(col("text")), "text",
        minCount = 5L, k = 20),
      Some("""WITH tk AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(text),
             |    '[^a-z0-9]+'), x -> x <> '') AS t FROM documents),
             |-- r14 (fat sweep): flatten tokens to narrow rows FIRST;
             |-- `unnest(generate_series(...)), t` copied the giant
             |-- doc's full 6.7M-token list into every bigram row.
             |-- Adjacent pairs come from a (doc_id, j+1) self-join on
             |-- the narrow token frame instead. The self-join keys on
             |-- doc_id being UNIQUE in documents (the table's key by
             |-- contract — TESTDATA.md; duplicate doc_id rows would
             |-- cross-match tokens between copies).
             |tok AS MATERIALIZED (SELECT doc_id, unnest(t) AS w,
             |    generate_subscripts(t, 1) AS j FROM tk),
             |bg AS (SELECT a.w AS w1, b.w AS w2, count(*) AS c_ab
             |  FROM tok a JOIN tok b
             |    ON a.doc_id = b.doc_id AND b.j = a.j + 1
             |  GROUP BY 1, 2),
             |u AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
             |nb AS (SELECT sum(c_ab)::BIGINT AS nb FROM bg),
             |nu AS (SELECT sum(c)::BIGINT AS nu FROM u),
             |sc AS (SELECT bg.w1, bg.w2, bg.c_ab,
             |    ln((bg.c_ab / nb.nb) / ((a.c / nu.nu) * (b.c / nu.nu)))
             |      AS pmi
             |  FROM bg JOIN u a ON bg.w1 = a.w JOIN u b ON bg.w2 = b.w,
             |    nb, nu
             |  WHERE bg.c_ab >= 5),
             |r AS (SELECT w1, w2, c_ab, pmi, row_number() OVER (
             |    ORDER BY pmi DESC, w1, w2) AS rank FROM sc)
             |SELECT w1, w2, c_ab, round(pmi, 4) AS pmi, rank
             |FROM r WHERE rank <= 20""".stripMargin)),

    // corpus_topfrac [EXT]: EXACT "keep the best p% by score"
    // curation cut (the FineWeb-style quality-percentile filter) —
    // top 10% of documents by (n_chars desc, doc_id) via
    // GlobalRank.topFraction: distributed two-phase rank + a codegen'd
    // boundary filter, no approxQuantile fuzz at the cut line and no
    // single-partition window. The oracle replays the literal window
    // SQL with the same round()-based boundary.
    Q("corpus_topfrac",
      (s, d) => graft.operators.GlobalRank.topFraction(
          t(s, d, "documents").select(col("doc_id"), col("n_chars")),
          Seq(col("n_chars").desc, col("doc_id")), 0.10, "rnk")
        .select(col("doc_id"), col("n_chars"), col("rnk")),
      Some("""WITH r AS (SELECT doc_id, n_chars, row_number() OVER (
             |    ORDER BY n_chars DESC, doc_id) AS rnk FROM documents),
             |n AS (SELECT count(*) AS cnt FROM documents)
             |SELECT doc_id, n_chars, rnk FROM r, n
             |WHERE rnk <= CAST(round(0.10 * cnt) AS BIGINT)""".stripMargin)),

    // corpus_shuffle [EXT]: deterministic epoch shuffle — the
    // training-order permutation for one epoch as an explicit pos
    // (1..n), ordered by the portable content hash of (doc_id, epoch
    // seed). Content-addressed: reproducible across runs, retries,
    // cluster sizes, and engines (the oracle replays the md5-low-60
    // hash and the same window order); a new seed is a fresh
    // independent permutation. Distributed via GlobalRank — no
    // single-partition window, no rand().
    Q("corpus_shuffle",
      (s, d) => graft.operators.GlobalRank.epochShuffle(
          t(s, d, "documents").select(col("doc_id")), "doc_id",
          seed = 7L, "pos", portable = true)
        .select(col("doc_id"), col("pos")),
      Some("""WITH h AS (SELECT doc_id,
             |    ('0x' || substr(md5(doc_id::VARCHAR || ':7'), 1, 15))
             |      ::BIGINT AS hk FROM documents)
             |SELECT doc_id, row_number() OVER (ORDER BY hk, doc_id) AS pos
             |FROM h""".stripMargin)),

    // corpus_split [EXT]: deterministic 80/10/10 train/val/test
    // assignment by the portable content hash — a doc keeps its split
    // across runs, retries, cluster sizes, engines, and corpus growth.
    // Narrow projection (no shuffle); the oracle replays hash, bounds,
    // and labels per row.
    Q("corpus_split",
      (s, d) => graft.operators.Sampling.assignSplits(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), portable = true),
      Some("""SELECT doc_id, lang,
             |  CASE WHEN b < 800000 THEN 'train'
             |       WHEN b < 900000 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM (SELECT doc_id, lang,
             |  ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 15))
             |    ::BIGINT % 1000000 AS b FROM documents)""".stripMargin)),

    // corpus_mix [EXT]: data mixing to target proportions — largest
    // corpus achievable at exactly 40/20/20/20 en/de/fr/es: the
    // scarcest stratum (relative to its weight) stays whole, the rest
    // are deterministically downsampled via the portable md5 membership
    // hash. The oracle recomputes counts → budget → per-stratum
    // fraction → membership with the same IEEE arithmetic.
    Q("corpus_mix",
      (s, d) => Corpus.mixToTarget(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        col("lang"), col("doc_id"),
        Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.2),
        portable = true)
        .select(col("doc_id"), col("lang")),
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents
             |  WHERE lang IN ('en','de','fr','es') GROUP BY lang),
             |cw AS (SELECT lang, n, CASE lang WHEN 'en' THEN 0.4::DOUBLE
             |    WHEN 'de' THEN 0.2::DOUBLE WHEN 'fr' THEN 0.2::DOUBLE
             |    WHEN 'es' THEN 0.2::DOUBLE END AS w FROM c),
             |b AS (SELECT min(n / w) AS budget FROM cw),
             |f AS (SELECT lang, least(1.0::DOUBLE, b.budget * w / n) AS frac
             |  FROM cw, b)
             |SELECT d.doc_id, d.lang FROM documents d JOIN f ON d.lang = f.lang
             |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':42'), 1, 15))
             |    ::BIGINT % 1000000
             |  < CAST(floor(frac * 1e6) AS BIGINT)""".stripMargin)),

    // corpus_temp_mix [EXT]: temperature-based source rebalancing
    // (mT5/XLM-R alpha sampling) at alpha = 0.5 — stratum s keeps
    // sqrt(n_min/n_s) of its rows by content-hash membership. Output is
    // the per-source audit (full size, kept size, fraction); n_kept
    // depends on every membership decision, so the gate verifies the
    // sampled SET, not just the fractions. sqrt and double division
    // are IEEE-correctly-rounded in both engines, making the threshold
    // bit-identical; the oracle floors explicitly because DuckDB's
    // double->BIGINT cast rounds while Spark's truncates.
    Q("corpus_temp_mix",
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
        val kept = graft.operators.Corpus.temperatureMix(
          docs, col("source"), col("doc_id"), alpha = 0.5, portable = true)
        val c = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val f = c.crossJoin(c.agg(min("n").as("n_min")))
          .withColumn("frac", sqrt(col("n_min") / col("n")))
        f.join(kept.groupBy(col("source")).agg(count(lit(1)).as("n_kept")),
            Seq("source"), "left")
          .select(col("source"), col("n"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            round(col("frac"), 6).as("frac"))
      },
      Some("""WITH c AS (SELECT source, count(*) AS n FROM documents
             |           GROUP BY 1),
             |m AS (SELECT min(n) AS n_min FROM c),
             |f AS (SELECT source, n, sqrt(m.n_min / c.n) AS frac
             |      FROM c, m),
             |k AS (SELECT d.source FROM documents d JOIN f USING (source)
             |      WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':42'),
             |          1, 15))::BIGINT % 1000000
             |        < CAST(floor(frac * 1e6) AS BIGINT)),
             |kc AS (SELECT source, count(*) AS n_kept FROM k GROUP BY 1)
             |SELECT f.source, f.n, coalesce(kc.n_kept, 0) AS n_kept,
             |  round(f.frac, 6) AS frac
             |FROM f LEFT JOIN kc USING (source)""".stripMargin)),

    // rank_bm25 [EXT]: Okapi BM25 scoring of the corpus against the
    // fixed term query (scan, vector, dup) — mixed document
    // frequencies (398/382/25 of 500 at sf0.01) so idf genuinely
    // differentiates. Both engines compute avgdl as one division of
    // exactly-summed integers and walk the scoring formula in the
    // same operation order; the per-doc sum has <= 3 terms, so the
    // 4-decimal rounding is stable cross-engine.
    Q("rank_bm25",
      (s, d) => graft.operators.Corpus.bm25(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", Seq("scan", "vector", "dup")),
      Some("""WITH base AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(text),
             |      '[^a-z0-9]+'), x -> x <> '') AS tk
             |  FROM documents),
             |dd AS (SELECT doc_id, len(tk)::BIGINT AS dl FROM base),
             |st AS (SELECT count(*)::BIGINT AS n_docs,
             |    sum(dl)::BIGINT AS sum_dl FROM dd),
             |tok AS (SELECT doc_id, unnest(tk) AS term FROM base),
             |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
             |  FROM tok WHERE term IN ('scan', 'vector', 'dup')
             |  GROUP BY 1, 2),
             |dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1)
             |SELECT tf.doc_id, dd.dl, count(*)::BIGINT AS n_hit,
             |  round(sum(
             |    ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
             |    (tf.tf * 2.2) /
             |    (tf.tf + 1.2 * (0.25 + 0.75 * dd.dl /
             |      (st.sum_dl::DOUBLE / st.n_docs)))), 4) AS bm25
             |FROM tf
             |JOIN dfq USING (term)
             |JOIN dd ON tf.doc_id = dd.doc_id, st
             |GROUP BY 1, 2""".stripMargin)),

    // rank_rrf [EXT]: hybrid retrieval — Reciprocal Rank Fusion of the
    // BM25 lexical top-50 and the embedding-cosine top-50 (query =
    // vec 0, self excluded), the RAG serving-side combiner. Ranks are
    // integers, so the fused score (two 1/(60+rk) reciprocals) is
    // bit-identical cross-engine; the BM25 list orders on the
    // 4-decimal-rounded score with doc_id tiebreak so its ranks are
    // stable too. Window-free on the Spark side: TakeOrderedAndProject
    // top-50s + pack-sort-explode ranks (the text_colloc shape).
    Q("rank_rrf",
      (s, d) => {
        import graft.operators.{Corpus, Retrieval}
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val emb = t(s, d, "embeddings")
        val textRank = Retrieval.topKRanked(
          Corpus.bm25(docs, "doc_id", "text", Seq("scan", "vector", "dup")),
          "doc_id", "bm25", k = 50)
        val qv = emb.filter(col("vec_id") === 0).limit(1)
        val cos = emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv.select(col("embedding").as("qvec"))))
          .select(col("vec_id").as("doc_id"),
            graft.functions.VecFns.cosine(col("qvec"), col("embedding"))
              .as("s"))
        Retrieval.rrfFuse(
          Seq("text" -> textRank,
            "vec" -> Retrieval.topKRanked(cos, "doc_id", "s", k = 50)),
          "doc_id")
      },
      Some("""WITH base AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(text),
             |      '[^a-z0-9]+'), x -> x <> '') AS tk FROM documents),
             |dd AS (SELECT doc_id, len(tk)::BIGINT AS dl FROM base),
             |st AS (SELECT count(*)::BIGINT AS n_docs,
             |    sum(dl)::BIGINT AS sum_dl FROM dd),
             |tok AS (SELECT doc_id, unnest(tk) AS term FROM base),
             |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok
             |  WHERE term IN ('scan', 'vector', 'dup') GROUP BY 1, 2),
             |dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf
             |  GROUP BY 1),
             |bm AS (SELECT tf.doc_id, round(sum(
             |    ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
             |    (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dd.dl /
             |      (st.sum_dl::DOUBLE / st.n_docs)))), 4) AS bm25
             |  FROM tf JOIN dfq USING (term)
             |    JOIN dd ON tf.doc_id = dd.doc_id, st
             |  GROUP BY 1),
             |tr AS (SELECT doc_id, rk FROM (SELECT doc_id,
             |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk
             |  FROM bm) WHERE rk <= 50),
             |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
             |  FROM embeddings WHERE vec_id = 0),
             |sc AS (SELECT vec_id, list_cosine_similarity(q.qe,
             |    CAST(embedding AS DOUBLE[])) AS s
             |  FROM embeddings, q WHERE vec_id != 0),
             |vr AS (SELECT vec_id AS doc_id, rk FROM (SELECT vec_id,
             |    row_number() OVER (ORDER BY s DESC, vec_id) AS rk
             |  FROM sc) WHERE rk <= 50),
             |f AS (SELECT coalesce(tr.doc_id, vr.doc_id) AS doc_id,
             |    tr.rk AS r_text, vr.rk AS r_vec,
             |    coalesce(1.0::DOUBLE / (60 + tr.rk), 0.0) +
             |    coalesce(1.0::DOUBLE / (60 + vr.rk), 0.0) AS rrf
             |  FROM tr FULL JOIN vr ON tr.doc_id = vr.doc_id)
             |SELECT doc_id, CAST(r_text AS INT) AS r_text,
             |  CAST(r_vec AS INT) AS r_vec, round(rrf, 6) AS rrf,
             |  CAST(rank AS INT) AS rank
             |FROM (SELECT doc_id, r_text, r_vec, rrf,
             |    row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
             |  FROM f)
             |WHERE rank <= 10""".stripMargin)),

    // text_entropy [EXT]: per-doc unigram Shannon entropy in nats —
    // the lexical-diversity / gibberish quality signal. Both engines
    // compute ln(n) - sum(tf*ln(tf))/n: integer tf/n, identical ln
    // inputs, and a <= 31-term sum whose reordering error sits ~1e-13
    // from any 4-decimal boundary (same posture as text_perplexity).
    Q("text_entropy",
      (s, d) => graft.operators.Corpus.tokenEntropy(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text"),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(
             |    lower(text), '[^a-z0-9]+')) AS term FROM documents),
             |tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
             |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
             |  FROM tok2 GROUP BY doc_id, term),
             |h AS (SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
             |    count(*)::BIGINT AS n_types,
             |    round(ln(sum(tf)::BIGINT) -
             |      sum(tf * ln(tf)) / sum(tf)::BIGINT, 4) AS entropy
             |  FROM tf GROUP BY doc_id)
             |SELECT d.doc_id, coalesce(h.n_tokens, 0) AS n_tokens,
             |  coalesce(h.n_types, 0) AS n_types, h.entropy
             |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id""".stripMargin)),

    // class_nb [EXT]: multinomial Naive Bayes classifier — the
    // fastText/CCNet-style quality/domain filter (train on the labeled
    // half, score the held-out half). Spark side pivots the vocabulary
    // into word -> per-class log-prob arrays so scoring joins 1x the
    // token stream (operators/Classify.scala); the oracle replays the
    // identical Laplace math in long form (token x class) and breaks
    // argmax ties identically (score DESC, class DESC). The reported
    // score is the winning log-posterior PER TOKEN, rounded to 4
    // decimals: summation-order jitter grows with the doc (the null×
    // fat sweep's 6.8M-token giant pushed the RAW sum's jitter across
    // the rounding), while the per-token value keeps it ~n× inside —
    // see Classify.scoreNb's scaladoc.
    Q("class_nb",
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("text"), col("source"))
        val model = graft.operators.Classify.trainNb(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", "source")
        graft.operators.Classify.scoreNb(
          docs.filter(col("doc_id") % 2 === 1), model, "doc_id", "text")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, source, unnest(string_split(trim(
             |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '))
             |    AS w
             |  FROM documents),
             |tok2 AS (SELECT * FROM tok WHERE len(w) > 0),
             |-- r15 null contract: null source = UNLABELED, never a
             |-- training class (mirrors Classify.trainNb's filter)
             |trn AS (SELECT * FROM tok2
             |        WHERE doc_id % 2 = 0 AND source IS NOT NULL),
             |wc AS (SELECT source AS cls, w, count(*) AS c
             |       FROM trn GROUP BY 1, 2),
             |cstat AS (SELECT cls, sum(c) AS n_tok FROM wc GROUP BY 1),
             |v AS (SELECT count(DISTINCT w) AS v FROM trn),
             |pri AS (SELECT source AS cls, ln(count(*) * 1.0 /
             |          (SELECT count(*) FROM documents
             |           WHERE doc_id % 2 = 0 AND source IS NOT NULL))
             |          AS prior_lp
             |        FROM documents
             |        WHERE doc_id % 2 = 0 AND source IS NOT NULL
             |        GROUP BY 1),
             |lp AS (SELECT wc.cls, wc.w,
             |         ln((wc.c + 1.0) / (cs.n_tok + v.v)) AS lp
             |       FROM wc JOIN cstat cs ON wc.cls = cs.cls CROSS JOIN v),
             |sc AS (SELECT tt.doc_id, cs.cls,
             |         any_value(p.prior_lp) + sum(coalesce(l.lp,
             |           ln(1.0 / (cs.n_tok + (SELECT v FROM v))))) AS score,
             |         count(*) AS n_tok
             |       FROM (SELECT doc_id, w FROM tok2 WHERE doc_id % 2 = 1) tt
             |       CROSS JOIN cstat cs
             |       LEFT JOIN lp l ON l.cls = cs.cls AND l.w = tt.w
             |       JOIN pri p ON p.cls = cs.cls
             |       GROUP BY 1, 2)
             |SELECT doc_id, cls AS pred, n_tok,
             |  round(score / n_tok, 4) AS score
             |FROM sc
             |QUALIFY row_number() OVER (PARTITION BY doc_id
             |  ORDER BY score DESC, cls DESC) = 1""".stripMargin)),

    // class_auc [EXT, new r8]: EXACT distributed ROC AUC — the
    // classifier-quality audit beside class_nb's predictions. AUC is
    // the Mann-Whitney rank-sum, so the textbook shape is a global
    // rank over scores (a scale-killer as a single-partition window);
    // here it reduces to grouped score counts + ONE running total of
    // negatives over the distinct-score groups (GlobalRank's two-phase
    // range ranking — the exchange is bounded by |distinct scores|,
    // never |rows|), with the standard ½-tie correction carried as
    // INTEGERS: 2U = Σ p·(2·neg_below + neg_tied), AUC = 2U / (2·P·N)
    // is the only float op, so the value is bit-identical
    // cross-engine. The scorer is a deliberately simple codegen'd
    // stopword-ratio signal in integer micro-units (score exactness is
    // the point of the gate, not model quality — any integer-valued
    // model score plugs in).
    Q("class_auc",
      (s, d) => {
        val toks = filter(split(lower(col("text")), "[^a-z0-9]+"),
          t => t =!= "")
        val sc = t(s, d, "documents")
          .select(when(col("lang") === "en", 1L).otherwise(0L).as("pos"),
            size(filter(toks, t => t === "the" || t === "a"))
              .cast("long").as("n_stop"),
            size(toks).cast("long").as("n_tok"))
          .filter(col("n_tok") > 0)
          .select(col("pos"),
            expr("(1000000 * n_stop) div n_tok").as("score"))
        graft.operators.Metrics.exactAuc(sc)
      },
      Some("""WITH tk AS (SELECT lang,
             |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             |      x -> x <> '') AS toks
             |  FROM documents),
             |sc AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
             |    (1000000 * len(list_filter(toks,
             |      x -> x = 'the' OR x = 'a'))) // len(toks) AS score
             |  FROM tk WHERE len(toks) > 0),
             |g AS (SELECT score, sum(pos)::BIGINT AS p,
             |    sum(1 - pos)::BIGINT AS ng FROM sc GROUP BY 1),
             |r AS (SELECT p, ng, sum(ng) OVER (ORDER BY score
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS cum_ng FROM g)
             |SELECT sum(p)::BIGINT AS n_pos, sum(ng)::BIGINT AS n_neg,
             |  sum(p * (2 * (cum_ng - ng) + ng))::BIGINT::DOUBLE
             |    / (2 * sum(p) * sum(ng))::BIGINT::DOUBLE AS auc
             |FROM r""".stripMargin)),

    // rank_ndcg [EXT, new r7]: retrieval-quality evaluation — NDCG@10
    // of label-match relevance over the brute-force cosine ranking
    // (the metric every embedding/ANN change gets judged by). Gains
    // use integer MICRO-UNIT discounts (round(1e6/log2(i+1)), ten
    // literal constants embedded in BOTH engines), so DCG/IDCG are
    // exact integer sums — no float-summation-order risk anywhere —
    // and NDCG is their single division, bit-identical cross-engine.
    // IDCG normalizes by the corpus-wide relevant count (capped at
    // k=10), the standard definition.
    Q("rank_ndcg",
      (s, d) => {
        import graft.operators.Similarity
        val emb = t(s, d, "embeddings")
        val top = Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 25),
          k = 10, roundTo = 6)
        val lbl = emb.select(col("vec_id"), col("label"))
        val disc = array(Seq(1000000L, 630930L, 500000L, 430677L,
          386853L, 356207L, 333333L, 315465L, 301030L, 289065L)
          .map(lit): _*)
        val pref = array(Seq(1000000L, 1630930L, 2130930L, 2561607L,
          2948460L, 3304667L, 3638000L, 3953465L, 4254495L, 4543560L)
          .map(lit): _*)
        val rel = top
          .join(broadcast(lbl.withColumnRenamed("vec_id", "nid")
            .withColumnRenamed("label", "nlabel")),
            col("vec_id") === col("nid"))
          .join(broadcast(lbl.withColumnRenamed("vec_id", "qv")
            .withColumnRenamed("label", "qlabel")),
            col("qid") === col("qv"))
          .groupBy(col("qid"), col("qlabel"))
          .agg(sum(when(col("nlabel") === col("qlabel"),
            element_at(disc, col("rk"))).otherwise(0L)).as("dcg"))
        val cnt = emb.groupBy(col("label")).agg(count(lit(1)).as("cl"))
        rel.join(broadcast(cnt), col("qlabel") === col("label"))
          .withColumn("nrel",
            least(col("cl") - 1, lit(10L)).cast("int"))
          .select(col("qid"), col("nrel").cast("long").as("nrel"),
            col("dcg"),
            when(col("nrel") === 0, lit(0.0))
              .otherwise(col("dcg").cast("double") /
                element_at(pref, greatest(col("nrel"), lit(1)))
                  .cast("double")).as("ndcg"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[])
             |    AS qe, label AS qlabel FROM embeddings
             |  WHERE vec_id < 25 AND embedding IS NOT NULL),
             |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce,
             |    label FROM embeddings WHERE embedding IS NOT NULL),
             |sc AS (SELECT qid, qlabel, vec_id, label,
             |    list_cosine_similarity(qe, ce) AS sim_raw
             |  FROM q CROSS JOIN c WHERE vec_id != qid),
             |r AS (SELECT qid, qlabel, label, row_number() OVER (
             |    PARTITION BY qid ORDER BY sim_raw DESC, vec_id) AS rk
             |  FROM sc),
             |g AS (SELECT qid, qlabel,
             |    sum(CASE WHEN label = qlabel THEN
             |      [1000000, 630930, 500000, 430677, 386853, 356207,
             |       333333, 315465, 301030, 289065][rk]
             |      ELSE 0 END)::BIGINT AS dcg
             |  FROM r WHERE rk <= 10 GROUP BY 1, 2),
             |cl AS (SELECT label, count(*)::BIGINT AS cl
             |  FROM embeddings GROUP BY 1)
             |SELECT g.qid, least(cl.cl - 1, 10)::BIGINT AS nrel, g.dcg,
             |  CASE WHEN least(cl.cl - 1, 10) = 0 THEN 0.0
             |    ELSE CAST(g.dcg AS DOUBLE) / CAST(
             |      [1000000, 1630930, 2130930, 2561607, 2948460, 3304667,
             |       3638000, 3953465, 4254495, 4543560]
             |        [greatest(least(cl.cl - 1, 10), 1)] AS DOUBLE)
             |  END AS ndcg
             |FROM g JOIN cl ON g.qlabel = cl.label""".stripMargin)),

    // rank_mrr [EXT, new r8]: Mean Reciprocal Rank @10 — the
    // first-relevant-hit metric that complements rank_ndcg's graded
    // gain (RAG evals report both). Same fixture and candidate
    // generation as rank_ndcg (brute cosine top-10 per query vec_id <
    // 25, relevance = label match), so the two metrics are directly
    // comparable rows over identical rankings. first_rank is an exact
    // integer MIN over the top-10 (null → no relevant hit → rr 0.0);
    // rr = round(1/first_rank, 4) is one identical IEEE division in
    // both engines. Broadcast label joins — the 64-row label table
    // never shuffles the ranking.
    Q("rank_mrr",
      (s, d) => {
        import graft.operators.Similarity
        val emb = t(s, d, "embeddings")
        val top = Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 25),
          k = 10, roundTo = 6)
        val lbl = emb.select(col("vec_id"), col("label"))
        top
          .join(broadcast(lbl.withColumnRenamed("vec_id", "nid")
            .withColumnRenamed("label", "nlabel")),
            col("vec_id") === col("nid"))
          .join(broadcast(lbl.withColumnRenamed("vec_id", "qv")
            .withColumnRenamed("label", "qlabel")),
            col("qid") === col("qv"))
          .groupBy(col("qid"))
          .agg(min(when(col("nlabel") === col("qlabel"), col("rk")))
            .cast("long").as("first_rank"))
          .select(col("qid"), col("first_rank"),
            when(col("first_rank").isNull, lit(0.0))
              .otherwise(round(lit(1.0) / col("first_rank"), 4)).as("rr"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[])
             |    AS qe, label AS qlabel FROM embeddings
             |  WHERE vec_id < 25 AND embedding IS NOT NULL),
             |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce,
             |    label FROM embeddings WHERE embedding IS NOT NULL),
             |r AS (SELECT qid, qlabel, label, row_number() OVER (
             |    PARTITION BY qid ORDER BY
             |      list_cosine_similarity(qe, ce) DESC, vec_id) AS rk
             |  FROM q CROSS JOIN c WHERE vec_id != qid),
             |g AS (SELECT qid,
             |    min(CASE WHEN label = qlabel THEN rk END)::BIGINT
             |      AS first_rank
             |  FROM r WHERE rk <= 10 GROUP BY 1)
             |SELECT qid, first_rank,
             |  CASE WHEN first_rank IS NULL THEN 0.0
             |    ELSE round(1.0 / first_rank, 4) END AS rr
             |FROM g""".stripMargin)),

    // rank_map [EXT, new r8]: Average Precision @10 — completes the
    // retrieval-eval trio beside rank_ndcg (graded position discount)
    // and rank_mrr (first hit only): AP rewards EVERY relevant hit by
    // the precision at its position, the ranking-quality workhorse.
    // Exactness: precision terms are 1/k rationals, and a float SUM of
    // them is order-dependent — so the numerator carries as the
    // INTEGER Σ hits@k · (2520/k) (2520 = lcm(1..10): every division
    // is exact), and ap = num/(2520·n_found) is the single IEEE
    // division. Same brute-cosine rankings and broadcast label joins
    // as its siblings; per-query windows are qid-partitioned.
    Q("rank_map",
      (s, d) => {
        import graft.operators.Similarity
        import org.apache.spark.sql.expressions.Window
        val emb = t(s, d, "embeddings")
        val top = Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 25),
          k = 10, roundTo = 6)
        val lbl = emb.select(col("vec_id"), col("label"))
        val w = Window.partitionBy("qid").orderBy("rk")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        top
          .join(broadcast(lbl.withColumnRenamed("vec_id", "nid")
            .withColumnRenamed("label", "nlabel")),
            col("vec_id") === col("nid"))
          .join(broadcast(lbl.withColumnRenamed("vec_id", "qv")
            .withColumnRenamed("label", "qlabel")),
            col("qid") === col("qv"))
          .withColumn("rel",
            when(col("nlabel") === col("qlabel"), 1L).otherwise(0L))
          .withColumn("hits", sum("rel").over(w))
          .groupBy("qid")
          .agg(sum("rel").as("n_found"),
            sum(when(col("rel") === 1,
              col("hits") * expr("2520 div rk")).otherwise(0L))
              .as("num"))
          .select(col("qid"), col("n_found"),
            when(col("n_found") === 0, lit(0.0))
              .otherwise(col("num").cast("double") /
                (lit(2520L) * col("n_found")).cast("double")).as("ap"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[])
             |    AS qe, label AS qlabel FROM embeddings
             |  WHERE vec_id < 25 AND embedding IS NOT NULL),
             |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce,
             |    label FROM embeddings WHERE embedding IS NOT NULL),
             |r AS (SELECT qid, qlabel, label, row_number() OVER (
             |    PARTITION BY qid ORDER BY
             |      list_cosine_similarity(qe, ce) DESC, vec_id) AS rk
             |  FROM q CROSS JOIN c WHERE vec_id != qid),
             |t10 AS (SELECT qid,
             |    CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel, rk
             |  FROM r WHERE rk <= 10),
             |h AS (SELECT qid, rel, rk, sum(rel) OVER (PARTITION BY qid
             |    ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND
             |    CURRENT ROW) AS hits
             |  FROM t10),
             |g AS (SELECT qid, sum(rel)::BIGINT AS n_found,
             |    sum(CASE WHEN rel = 1 THEN hits * (2520 // rk)
             |      ELSE 0 END)::BIGINT AS num
             |  FROM h GROUP BY 1)
             |SELECT qid, n_found,
             |  CASE WHEN n_found = 0 THEN 0.0
             |    ELSE num::DOUBLE / (2520 * n_found)::DOUBLE END AS ap
             |FROM g""".stripMargin)),

    // sim_mmr [EXT, new r8]: Maximal Marginal Relevance diversification
    // (Carbonell-Goldstein '98) — the RAG serving-side re-ranker that
    // trades relevance against redundancy: after brute top-12 candidate
    // generation, greedily pick 3 results maximizing
    // 0.7·rel − 0.3·max_sim_to_already_picked. The greedy loop runs per
    // query over its BOUNDED candidate set (12 rows) via mapGroups —
    // parallel across queries, constant work per query, never a pair
    // enumeration beyond 12×3 — while candidate generation stays the
    // broadcast-query brute scan every sim_* query shares. Every
    // compared quantity (rel, max-sim, score) is snapped to 6 decimals
    // with the SAME floor(x·1e6+0.5) formula in both engines, and ties
    // break on vec_id, so the greedy argmax is deterministic
    // cross-engine; the oracle replays the three steps as unrolled
    // CTEs (the cluster_kmeans oracle convention) with QUALIFY
    // row_number argmax.
    Q("sim_mmr",
      (s, d) => {
        import s.implicits._
        import graft.operators.Similarity
        val emb = t(s, d, "embeddings")
        val top = Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 15),
          k = 12, roundTo = 6)
        val withE = top
          .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
          .select(col("qid"), col("vec_id"), col("sim"), col("embedding"))
          .as[(Long, Long, Double, Array[Float])]
        withE.groupByKey(_._1)
          .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Array[Float])]) =>
            def f6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
            def cos(a: Array[Float], b: Array[Float]): Double = {
              var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
              while (i < a.length) {
                dot += a(i).toDouble * b(i).toDouble
                na += a(i).toDouble * a(i).toDouble
                nb += b(i).toDouble * b(i).toDouble
                i += 1
              }
              dot / (math.sqrt(na) * math.sqrt(nb))
            }
            val cands = it.map { case (_, vid, rel, e) => (vid, rel, e) }
              .toArray.sortBy(_._1)
            val picked = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Int, Long, Double)]
            val chosen = scala.collection.mutable.ArrayBuffer
              .empty[Array[Float]]
            val used = scala.collection.mutable.Set.empty[Long]
            (1 to 3).foreach { step =>
              val scored = cands.iterator.filterNot(c => used(c._1)).map {
                case (vid, rel, e) =>
                  val ms =
                    if (chosen.isEmpty) 0.0
                    else f6(chosen.iterator.map(p => cos(e, p)).max)
                  (vid, f6(0.7 * rel - 0.3 * ms), e)
              }.toArray
              if (scored.nonEmpty) {
                val best = scored.minBy { case (vid, sc, _) => (-sc, vid) }
                picked += ((qid, step, best._1, best._2))
                chosen += best._3
                used += best._1
              }
            }
            picked.iterator
          }
          .toDF("qid", "step", "vec_id", "score")
      },
      Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[])
             |    AS qe FROM embeddings
             |  WHERE vec_id < 15 AND embedding IS NOT NULL),
             |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
             |  FROM embeddings WHERE embedding IS NOT NULL),
             |sc AS (SELECT qid, vec_id,
             |    list_cosine_similarity(qe, ce) AS raw, ce
             |  FROM q CROSS JOIN c WHERE vec_id != qid),
             |cand AS (SELECT qid, vec_id,
             |    floor(raw * 1e6 + 0.5) / 1e6 AS rel, ce
             |  FROM sc
             |  QUALIFY row_number() OVER (PARTITION BY qid
             |    ORDER BY raw DESC, vec_id) <= 12),
             |s1 AS (SELECT qid, vec_id,
             |    floor(0.7 * rel * 1e6 + 0.5) / 1e6 AS score, ce
             |  FROM cand
             |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY
             |    floor(0.7 * rel * 1e6 + 0.5) / 1e6 DESC, vec_id) = 1),
             |m2 AS (SELECT c2.qid, c2.vec_id, c2.rel, c2.ce,
             |    floor(list_cosine_similarity(c2.ce, s1.ce) * 1e6 + 0.5)
             |      / 1e6 AS ms
             |  FROM cand c2 JOIN s1 USING (qid)
             |  WHERE c2.vec_id != s1.vec_id),
             |s2 AS (SELECT qid, vec_id,
             |    floor((0.7 * rel - 0.3 * ms) * 1e6 + 0.5) / 1e6 AS score,
             |    ce
             |  FROM m2
             |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY
             |    floor((0.7 * rel - 0.3 * ms) * 1e6 + 0.5) / 1e6 DESC,
             |    vec_id) = 1),
             |m3 AS (SELECT c3.qid, c3.vec_id, c3.rel, c3.ce,
             |    floor(greatest(
             |        list_cosine_similarity(c3.ce, s1.ce),
             |        list_cosine_similarity(c3.ce, s2.ce)) * 1e6 + 0.5)
             |      / 1e6 AS ms
             |  FROM cand c3 JOIN s1 USING (qid) JOIN s2 USING (qid)
             |  WHERE c3.vec_id != s1.vec_id AND c3.vec_id != s2.vec_id),
             |s3 AS (SELECT qid, vec_id,
             |    floor((0.7 * rel - 0.3 * ms) * 1e6 + 0.5) / 1e6 AS score
             |  FROM m3
             |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY
             |    floor((0.7 * rel - 0.3 * ms) * 1e6 + 0.5) / 1e6 DESC,
             |    vec_id) = 1)
             |SELECT qid, 1::INT AS step, vec_id, score FROM s1
             |UNION ALL SELECT qid, 2, vec_id, score FROM s2
             |UNION ALL SELECT qid, 3, vec_id, score FROM s3""".stripMargin)),

    // corpus_budget [EXT, new r7]: budgeted curation — keep documents
    // in descending (n_chars, doc_id) quality order until a fixed
    // token budget is spent (the "best N tokens" corpus assembly every
    // pretraining mix ends with). Exact greedy prefix via
    // GlobalRank.withRunningTotal: two-phase rank + integer prefix sum
    // of token counts carried through the same partition offsets — no
    // global window, no approx cut, order-free LONG arithmetic so the
    // boundary is bit-identical cross-engine. Oracle replays the
    // literal running-sum window SQL.
    Q("corpus_budget",
      (s, d) => graft.operators.GlobalRank.withRunningTotal(
          t(s, d, "documents").select(col("doc_id"), col("n_chars"),
            graft.functions.TextFns.wsTokenCount(col("text"))
              .cast("long").as("toks")),
          Seq(col("n_chars").desc, col("doc_id")), col("toks"),
          "rnk", "cum")
        .filter(col("cum") <= 15000L)
        .select(col("doc_id"), col("n_chars"), col("toks"), col("rnk"),
          col("cum")),
      Some("""WITH dd AS (SELECT doc_id, n_chars,
             |    len(string_split_regex(trim(text), '\s+'))::BIGINT
             |      AS toks
             |  FROM documents),
             |r AS (SELECT doc_id, n_chars, toks,
             |    row_number() OVER (ORDER BY n_chars DESC, doc_id)
             |      AS rnk,
             |    sum(toks) OVER (ORDER BY n_chars DESC, doc_id
             |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
             |  FROM dd)
             |SELECT doc_id, n_chars, toks, rnk, cum FROM r
             |WHERE cum <= 15000""".stripMargin)),

    // corpus_interleave [EXT, new r7]: balanced source-interleaved
    // training order — round-robin across sources in deterministic
    // per-source content-hash order (position p takes each source's
    // p-th pick in turn), the stratified complement to corpus_shuffle's
    // uniform permutation: a small source spreads evenly through the
    // epoch instead of clumping by luck. Per-source ranks are
    // source-partitioned windows (parallel across sources); the global
    // position is GlobalRank over (src_rank, source) — no global
    // window, fully replayable (portable md5 hash, seed 11).
    Q("corpus_interleave",
      (s, d) => {
        val h = t(s, d, "documents").select(col("doc_id"), col("source"),
          graft.operators.Sampling.contentHash(col("doc_id"), 11L,
            portable = true).as("hk"))
        // r18: the plain source-partitioned window co-located every row
        // of a source in ONE task's sort (the skew sweep measured a
        // 90%-hot source at 3.7× the uniform cost). withGroupedRank
        // buckets on global hk quantiles and windows by (source,
        // bucket) — a hot source splits across all buckets; per-source
        // in-plan offsets keep src_rank bit-identical to the window.
        val ranked = graft.operators.GlobalRank.withGroupedRank(
            h, Seq("source"), Seq(col("hk"), col("doc_id")), "src_rank")
          .select(col("doc_id"), col("source"), col("src_rank"))
        // r15: the interleave ORDER crosses a NULLABLE key (source) —
        // null placement must be PINNED (Spark defaults nulls-first,
        // DuckDB nulls-last; the r15 null sweep caught the off-by-one)
        graft.operators.GlobalRank.withGlobalRank(ranked,
          Seq(col("src_rank"), col("source").asc_nulls_last), "pos")
      },
      Some("""WITH h AS (SELECT doc_id, source,
             |    ('0x' || substr(md5(doc_id::VARCHAR || ':11'), 1, 15))
             |      ::BIGINT AS hk FROM documents),
             |r AS (SELECT doc_id, source, row_number() OVER (
             |    PARTITION BY source ORDER BY hk, doc_id) AS src_rank
             |  FROM h)
             |SELECT doc_id, source, src_rank,
             |  row_number() OVER (ORDER BY src_rank, source NULLS LAST)
             |    AS pos
             |FROM r""".stripMargin)),

    // corpus_gini [EXT, new r7]: source-concentration audit — the Gini
    // coefficient of whitespace-token mass across document sources
    // (how skewed is the mix one corpus_mix/cap run produces?). Token
    // counts stay LONGs through the pairwise |xi−xj| sum, so the only
    // float op is the final division — bit-identical cross-engine,
    // order-free. The pair join is over the per-source aggregate
    // (dimension-bounded); the `<` condition keeps it off the
    // cross-join guard and halves the symmetric sum, folded into the
    // G = Σ_{i<j}|xi−xj| / (k·Σx) form.
    Q("corpus_gini",
      (s, d) => {
        val bySrc = t(s, d, "documents")
          .groupBy(col("source"))
          .agg(sum(graft.functions.TextFns.wsTokenCount(col("text")))
            .cast("long").as("x"))
        val pairs = bySrc.as("a")
          // broadcast: the per-source aggregate is dimension-bounded
          // (a handful of sources) — the hint both picks the right
          // physical join (no shuffle of the non-equi pair join) and
          // declares the bound to the ScaleGuard audit
          .join(broadcast(bySrc.as("b")), col("a.source") < col("b.source"))
          .agg(sum(abs(col("a.x") - col("b.x"))).as("sd"))
        val tot = bySrc.agg(count(lit(1)).as("k"),
          sum(col("x")).as("total_tokens"))
        tot.crossJoin(pairs)
          .select(col("k"), col("total_tokens"),
            (col("sd").cast("double") /
              (col("k") * col("total_tokens")).cast("double")).as("gini"))
      },
      Some("""WITH s AS (SELECT source,
             |    sum(len(string_split_regex(trim(text), '\s+')))::BIGINT
             |      AS x
             |  FROM documents GROUP BY 1),
             |p AS (SELECT sum(abs(a.x - b.x))::BIGINT AS sd
             |  FROM s a JOIN s b ON a.source < b.source),
             |t2 AS (SELECT count(*)::BIGINT AS k, sum(x)::BIGINT AS tot
             |  FROM s)
             |SELECT t2.k, t2.tot AS total_tokens,
             |  CAST(p.sd AS DOUBLE) / CAST(t2.k * t2.tot AS DOUBLE) AS gini
             |FROM t2, p""".stripMargin))
  )
}
