package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{TextFns, VecFns}
import graft.operators.{Dedup, Similarity}

/** LLM-training-data pipeline operators (BASELINE.json north-star):
  * text analysis, dedup family, similarity search, multimodal plumbing.
  * Near-dup queries plant deterministic perturbed copies (id + 1,000,000)
  * so the operators demonstrably fire on the synthetic corpus.
  */
object TextQ {

  /** Bounded fit-once cache for ANN models, keyed per (session, corpus
    * dir). Hits validate the SESSION IDENTITY (`eq`) — an
    * identityHashCode collision between two live sessions must refit,
    * never hand session B a model whose staged frames belong to session
    * A. LRU-bounded at `max` entries so a long-lived JVM creating many
    * sessions pins at most `max` model graphs (an unbounded map keyed
    * by dead sessions would leak them forever).
    *
    * STATIC INSTANCES ONLY: the purge listener below holds a strong
    * reference to this instance forever (Stage has no unregister), so a
    * per-request `new ModelCache` would leak one map per construction.
    * Every instance in this repo is a top-level `val` on a query
    * object — keep it that way.
    */
  private[queries] final class ModelCache[M](max: Int) {
    private val m = new java.util.LinkedHashMap[(Int, String),
        (java.lang.ref.WeakReference[org.apache.spark.sql.SparkSession], M)](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, String),
            (java.lang.ref.WeakReference[org.apache.spark.sql.SparkSession], M)])
          : Boolean = size() > max
    }
    // entries may reference staged files — drop them whenever
    // Stage.purge deletes the stage directories (next access refits).
    // Registered AFTER `m`'s initializer: a purge racing construction
    // must never observe a null map.
    graft.operators.Stage.onPurge(() => m.synchronized(m.clear()))
    def getOrFit(s: org.apache.spark.sql.SparkSession, d: String,
                 fit: => M): M = m.synchronized {
      val k = (System.identityHashCode(s), d)
      val hit = m.get(k)
      if (hit != null && (hit._1.get eq s)) hit._2
      else { val v = fit; m.put(k, (new java.lang.ref.WeakReference(s), v)); v }
    }
  }

  /** Fitted IVF indexes — fitIvf once, probeIvf per query batch. Seeded
    * k-means keeps the cached model's output identical to a fresh fit.
    */
  private[queries] val ivfCache = new ModelCache[Similarity.IvfModel](4)

  /** Fitted PQ indexes — same fit-once discipline as ivfCache. */
  private[queries] val pqCache = new ModelCache[Similarity.PqModel](4)

  /** Fitted IVF-PQ composite indexes — same fit-once discipline. */
  private[queries] val ivfPqCache = new ModelCache[Similarity.IvfPqModel](4)

  /** Staged-once planted corpora, keyed per (session, sf-dir) — eight
    * queries (dedup_minhash/simhash/jaccard/cluster/substr/best,
    * text_novelty, corpus_split_safe) consume the same union, and the
    * eight, run in sequence after one `Stage.purge`, are slower with a
    * lazy union (CHANGES.md). NOTE: `Stage.purge` deletes the staged file
    * AND clears every ModelCache (the purge-listener registration in
    * the class body), so a purge in a long-lived session restages on
    * next access instead of handing out frames over deleted files.
    */
  private[queries] val plantedCache = new ModelCache[DataFrame](4)

  /** Fitted near-dup sketch/bucket stages — fit-once discipline for the
    * cosine near-dup machinery: `sim_neardup_cos` and `dedup_semantic`
    * run [[Similarity.nearDupPairs]] over the SAME planted corpus, and
    * before round 11 each call re-staged its own sign sketch + LSH
    * buckets (two embedding scans × dot products per gate/bench rep).
    */
  private[queries] val neardupCache =
    new ModelCache[Similarity.NearDupModel](4)

  /** Staged-once jaccard fit — round 13 staged the doc-level shingle
    * postings; round 14 collapses to the distinct-text discipline, so
    * the cached fit is (membership, repSets): the (id → rep) clone map
    * plus the per-DISTINCT-text shingle postings. Fit-once keyed per
    * (session, corpus) like every other model here (the 21-52 s 100×
    * median swing of an in-rep fit was the r13 lesson).
    */
  private[queries] val jaccardSetsCache =
    new ModelCache[(DataFrame, DataFrame)](4)

  /** embeddings ∪ +0.01-perturbed copies of every 50th vector — the
    * planted near-dup corpus shared by sim_neardup_cos/dedup_semantic
    * (cheap to rebuild: two narrow scans; the expensive sketch state is
    * what [[neardupCache]] stages once).
    */
  private[queries] def plantedEmb(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    emb.unionByName(emb.filter(col("vec_id") % 50 === 0).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(0.01f)).otherwise(x))
        .as("embedding")))
  }

  /** Near-dup pairs at `threshold` over the planted corpus, via the
    * per-(session, dir) fitted model.
    */
  private[queries] def plantedNearDupPairs(s: org.apache.spark.sql.SparkSession,
                                           d: String, threshold: Double): DataFrame = {
    val corpus = plantedEmb(s, d)
    val model = neardupCache.getOrFit(s, d,
      Similarity.fitNearDup(corpus, dim = 64))
    Similarity.nearDupPairs(model, corpus, threshold)
  }

  /** documents ∪ one-token-perturbed copies of every 50th doc,
    * materialized once per (session, corpus dir) and shared by every
    * planted-corpus query.
    */
  private[queries] def plantedDocs(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    plantedCache.getOrFit(s, d, {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      graft.operators.Stage.materialize(
        docs.unionByName(
          docs.filter(col("doc_id") % 50 === 0).select(
            (col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" zz")).as("text"))),
        "planted_docs")
    })


  /** DuckDB replay of the exact-substring scrub (dedup_substr): the
    * planted corpus, narrow token rows, 50-grams from 49 lead windows
    * (the r14 fat-OOM-safe form), duplicate grams joined on the RAW
    * STRING (no hashes — the engine's xxhash64 prefilter is exactness-
    * preserving and invisible here), window-max coverage, and the
    * ordered string_agg rebuild.
    */
  private val substrScrubSql: String =
    s"""WITH planted AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' zz'
       |  FROM documents WHERE doc_id % 50 = 0),
       |norm AS (SELECT doc_id,
       |    CASE WHEN tk = [''] THEN []::VARCHAR[] ELSE tk END AS tk
       |  FROM (SELECT doc_id, string_split(trim(regexp_replace(
       |      lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')), ' ')
       |      AS tk FROM planted)),
       |tokn AS MATERIALIZED (SELECT doc_id, unnest(tk) AS w,
       |    generate_subscripts(tk, 1) AS p FROM norm),
       |gr AS (SELECT doc_id, p,
       |      count(*) OVER (PARTITION BY doc_id) AS nn,
       |      concat_ws(' ', w,
       |        lead(w, 1) OVER win,
             |        lead(w, 2) OVER win,
             |        lead(w, 3) OVER win,
             |        lead(w, 4) OVER win,
             |        lead(w, 5) OVER win,
             |        lead(w, 6) OVER win,
             |        lead(w, 7) OVER win,
             |        lead(w, 8) OVER win,
             |        lead(w, 9) OVER win,
             |        lead(w, 10) OVER win,
             |        lead(w, 11) OVER win,
             |        lead(w, 12) OVER win,
             |        lead(w, 13) OVER win,
             |        lead(w, 14) OVER win,
             |        lead(w, 15) OVER win,
             |        lead(w, 16) OVER win,
             |        lead(w, 17) OVER win,
             |        lead(w, 18) OVER win,
             |        lead(w, 19) OVER win,
             |        lead(w, 20) OVER win,
             |        lead(w, 21) OVER win,
             |        lead(w, 22) OVER win,
             |        lead(w, 23) OVER win,
             |        lead(w, 24) OVER win,
             |        lead(w, 25) OVER win,
             |        lead(w, 26) OVER win,
             |        lead(w, 27) OVER win,
             |        lead(w, 28) OVER win,
             |        lead(w, 29) OVER win,
             |        lead(w, 30) OVER win,
             |        lead(w, 31) OVER win,
             |        lead(w, 32) OVER win,
             |        lead(w, 33) OVER win,
             |        lead(w, 34) OVER win,
             |        lead(w, 35) OVER win,
             |        lead(w, 36) OVER win,
             |        lead(w, 37) OVER win,
             |        lead(w, 38) OVER win,
             |        lead(w, 39) OVER win,
             |        lead(w, 40) OVER win,
             |        lead(w, 41) OVER win,
             |        lead(w, 42) OVER win,
             |        lead(w, 43) OVER win,
             |        lead(w, 44) OVER win,
             |        lead(w, 45) OVER win,
             |        lead(w, 46) OVER win,
             |        lead(w, 47) OVER win,
             |        lead(w, 48) OVER win,
             |        lead(w, 49) OVER win) AS g
       |    FROM tokn WINDOW win AS (PARTITION BY doc_id ORDER BY p)),
       |gq AS MATERIALIZED (SELECT doc_id, p, g FROM gr WHERE p <= nn - 49),
       |dup AS (SELECT g FROM (SELECT DISTINCT g, doc_id FROM gq)
       |        GROUP BY g HAVING count(*) >= 2),
       |starts AS (SELECT doc_id, p FROM gq JOIN dup USING (g)),
       |cov AS (SELECT t.doc_id, t.p, t.w,
       |    max(CASE WHEN s.p IS NULL THEN 0 ELSE 1 END) OVER (
       |      PARTITION BY t.doc_id ORDER BY t.p
       |      ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS c
       |  FROM tokn t LEFT JOIN starts s
       |    ON t.doc_id = s.doc_id AND t.p = s.p),
       |rem AS (SELECT doc_id, count(*)::BIGINT AS n_removed,
       |    count(DISTINCT p - rn)::BIGINT AS n_spans
       |  FROM (SELECT doc_id, p, row_number() OVER (
       |      PARTITION BY doc_id ORDER BY p) AS rn FROM cov WHERE c = 1)
       |  GROUP BY 1),
       |scr AS (SELECT doc_id, string_agg(w, ' ' ORDER BY p)
       |    FILTER (WHERE c = 0) AS scrubbed FROM cov GROUP BY 1)
       |SELECT n.doc_id, len(n.tk)::BIGINT AS n_tokens,
       |  coalesce(r.n_removed, 0) AS n_removed,
       |  coalesce(r.n_spans, 0) AS n_spans,
       |  coalesce(s.scrubbed, '') AS scrubbed
       |FROM norm n LEFT JOIN rem r ON n.doc_id = r.doc_id
       |LEFT JOIN scr s ON n.doc_id = s.doc_id""".stripMargin

  /** A w×h top-down RGB fixture: pixel (x, y) takes `px(x, y)`'s
    * channel values mod 256 — the formula each multimodal oracle
    * replays in SQL, so the gate checks the codec round-trip.
    */
  private def fixtureImage(w: Int, h: Int)(
      px: (Int, Int) => (Long, Long, Long)): graft.multimodal.Media.Image = {
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = px(x, y)
      val i = (y * w + x) * 3
      rgb(i) = (r % 256).toByte; rgb(i + 1) = (g % 256).toByte
      rgb(i + 2) = (b % 256).toByte
    }
    graft.multimodal.Media.Image(w, h, rgb)
  }

  /** Sniff and decode (id, payload) images on the executors; per image
    * its kind, size and per-channel means rounded to 4 places.
    */
  private def decodedMeans(s: org.apache.spark.sql.SparkSession,
                           imgs: DataFrame): DataFrame = {
    import s.implicits._
    import graft.multimodal.{Media, Multimodal}
    imgs.select(col("id"),
        Multimodal.sniffKind(col("payload")).as("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, kind, bytes) =>
        val img = Media.decodeImage(kind, bytes)
        val n = img.width * img.height
        def mean(c: Int): Double =
          (0 until n).map(i => img.rgb(3 * i + c) & 0xff).sum.toDouble / n
        (id, kind, img.width, img.height, mean(0), mean(1), mean(2))
      })
      .toDF("id", "kind", "w", "h", "mean_r", "mean_g", "mean_b")
      .select(col("id"), col("kind"), col("w"), col("h"),
        round(col("mean_r"), 4).as("mean_r"),
        round(col("mean_g"), 4).as("mean_g"),
        round(col("mean_b"), 4).as("mean_b"))
  }

  val all: Seq[Q] = Seq(

    // text_tokens: whitespace + BPE-ish token counting.
    Q("text_tokens",
      (s, d) => t(s, d, "documents").select(col("doc_id"),
        TextFns.wsTokenCount(col("text")).as("n_ws"),
        TextFns.bpeTokenCount(col("text")).as("n_bpe")),
      Some("""SELECT doc_id,
             len(string_split_regex(trim(text), '\s+')) AS n_ws,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
               AS n_bpe
             FROM documents""")),

    // text_quality: length/punct/stopword quality signals.
    // text_readability [EXT]: Flesch Reading Ease per document — the
    // classic readability quality filter. Words use the repo's
    // standard [a-z0-9]+ tokens, sentences are terminal-punctuation
    // runs (min 1), syllables are vowel-group runs; both engines walk
    // the FRE formula in the same operation order (two divisions with
    // <= 3-term combinations — 4-decimal rounding is stable).
    Q("text_readability",
      (s, d) => {
        val words = size(filter(split(lower(col("text")), "[^a-z0-9]+"),
          t => t =!= "")).cast("long")
        val sent = greatest(size(regexp_extract_all(col("text"),
          lit("[.!?]+"), lit(0))), lit(1)).cast("long")
        val syll = size(regexp_extract_all(lower(col("text")),
          lit("[aeiouy]+"), lit(0))).cast("long")
        t(s, d, "documents").select(col("doc_id"),
          words.as("n_words"), sent.as("n_sent"), syll.as("n_syll"),
          round(TextFns.readingEase(col("text")), 4).as("fre"))
      },
      Some("""WITH r AS (SELECT doc_id,
             |    len(list_filter(string_split_regex(lower(text),
             |      '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS n_words,
             |    greatest(len(regexp_extract_all(text, '[.!?]+')),
             |      1)::BIGINT AS n_sent,
             |    len(regexp_extract_all(lower(text),
             |      '[aeiouy]+'))::BIGINT AS n_syll
             |  FROM documents)
             |SELECT doc_id, n_words, n_sent, n_syll,
             |  CASE WHEN n_words > 0 THEN
             |    round(206.835 -
             |      1.015 * (n_words::DOUBLE / n_sent::DOUBLE) -
             |      84.6 * (n_syll::DOUBLE / n_words::DOUBLE), 4)
             |  END AS fre
             |FROM r""".stripMargin)),

    Q("text_quality",
      (s, d) => t(s, d, "documents").select(col("doc_id"),
        TextFns.wsTokenCount(col("text")).as("n_words"),
        round(TextFns.avgWordLen(col("text")), 4).as("avg_wlen"),
        round(TextFns.punctRatio(col("text")), 4).as("punct_ratio"),
        round(TextFns.stopwordRatio(col("text")), 4).as("stop_ratio"),
        TextFns.qualityScore(col("text")).as("quality")),
      Some("""WITH r AS (SELECT doc_id,
               len(string_split_regex(trim(text), '\s+')) AS n_words,
               length(text) AS n_chars,
               length(regexp_replace(text, '\s+', '', 'g')) AS n_nonws,
               len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
               len(regexp_extract_all(text,
                 '(?i)\b(the|and|of|to|in|is|that|it|for|was)\b')) AS n_stop
             FROM documents)
             SELECT doc_id, n_words,
               round(CASE WHEN n_words > 0
                 THEN CAST(n_nonws AS DOUBLE)/n_words ELSE 0 END, 4) AS avg_wlen,
               round(CASE WHEN n_chars > 0
                 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0 END, 4) AS punct_ratio,
               round(CASE WHEN n_words > 0
                 THEN CAST(n_stop AS DOUBLE)/n_words ELSE 0 END, 4) AS stop_ratio,
               round(least(n_chars/500.0, 1.0)
                 * (CASE WHEN (CASE WHEN n_chars > 0
                     THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0 END) < 0.2
                    THEN 1.0 ELSE 0.5 END)
                 * (CASE WHEN (CASE WHEN n_words > 0
                     THEN CAST(n_stop AS DOUBLE)/n_words ELSE 0 END) > 0.0
                    THEN 1.0 ELSE 0.7 END), 4) AS quality
             FROM r""")),

    // text_langid: stopword-hit argmax heuristic with deterministic
    // alphabetical tie-break.
    Q("text_langid",
      (s, d) => t(s, d, "documents").select(col("doc_id"),
        TextFns.langId(col("text")).as("lang_pred")),
      Some("""WITH h AS (SELECT doc_id,
               len(regexp_extract_all(text,
                 '(?i)\b(der|die|und|das|ist|von|mit|den|nicht|ein)\b')) AS de,
               len(regexp_extract_all(text,
                 '(?i)\b(the|and|of|to|in|is|that|it|for|was)\b')) AS en,
               len(regexp_extract_all(text,
                 '(?i)\b(el|la|de|que|y|los|del|las|por|una)\b')) AS es,
               len(regexp_extract_all(text,
                 '(?i)\b(le|la|et|les|des|en|un|du|une|est)\b')) AS fr,
               len(regexp_extract_all(text, '[一-鿿]')) AS zh
             FROM documents)
             SELECT doc_id, CASE
               WHEN greatest(de,en,es,fr,zh) > 0 AND de = greatest(de,en,es,fr,zh) THEN 'de'
               WHEN greatest(de,en,es,fr,zh) > 0 AND en = greatest(de,en,es,fr,zh) THEN 'en'
               WHEN greatest(de,en,es,fr,zh) > 0 AND es = greatest(de,en,es,fr,zh) THEN 'es'
               WHEN greatest(de,en,es,fr,zh) > 0 AND fr = greatest(de,en,es,fr,zh) THEN 'fr'
               WHEN greatest(de,en,es,fr,zh) > 0 AND zh = greatest(de,en,es,fr,zh) THEN 'zh'
               ELSE 'und' END AS lang_pred
             FROM h""")),

    // text_fingerprint: normalized md5 fingerprint.
    Q("text_fingerprint",
      (s, d) => t(s, d, "documents").select(col("doc_id"),
        TextFns.fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id, md5(trim(regexp_replace(lower(text),
             '[^a-z0-9]+', ' ', 'g'))) AS fp FROM documents""")),

    // text_repetition [EXT]: Gopher-style n-gram repetition quality
    // signals (fraction of tokens in duplicate / most-common n-grams,
    // Rae et al. 2021 §A1.1) from ONE native scan per document
    // (expressions.RepetitionSignals) — no shuffle at any scale. The
    // oracle replays the full scheme from raw strings: normalize,
    // tokenize, build 2/3-grams, count. (The expression counts by
    // 64-bit gram hash; equality with the string replay holds modulo a
    // within-document hash collision, P ≈ m²/2⁻⁶⁵ — the same tolerance
    // every sketch oracle here accepts.)
    Q("text_repetition",
      // r15 null contract (per-doc signal family): every doc gets an
      // output row; null text = empty text = all-zero signals (the
      // oracle's coalesce(n2, 0) tail already says exactly this)
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          TextFns.repetitionSignals(coalesce(col("text"), lit("")))
            .as("_r"))
        .select(col("doc_id"),
          col("_r.n2").as("n2"), col("_r.top2").as("top2"),
          col("_r.dup2").as("dup2"), col("_r.n3").as("n3"),
          col("_r.top3").as("top3"), col("_r.dup3").as("dup3")),
      Some("""WITH norm AS (
               SELECT doc_id,
                 trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
               FROM documents),
             toks AS (
               SELECT doc_id, CASE WHEN s = '' THEN CAST([] AS VARCHAR[])
                 ELSE string_split(s, ' ') END AS tk
               FROM norm),
             g2 AS (
               SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1]
                 FOR i IN generate_series(1, len(tk)-1)]) AS gram
               FROM toks WHERE len(tk) >= 2),
             c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
             a2 AS (SELECT doc_id, CAST(sum(c) AS INTEGER) AS n2,
                      CAST(max(c) AS INTEGER) AS top2,
                      CAST(coalesce(sum(c) FILTER (c > 1), 0) AS INTEGER) AS dup2
                    FROM c2 GROUP BY 1),
             g3 AS (
               SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                 FOR i IN generate_series(1, len(tk)-2)]) AS gram
               FROM toks WHERE len(tk) >= 3),
             c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY 1, 2),
             a3 AS (SELECT doc_id, CAST(sum(c) AS INTEGER) AS n3,
                      CAST(max(c) AS INTEGER) AS top3,
                      CAST(coalesce(sum(c) FILTER (c > 1), 0) AS INTEGER) AS dup3
                    FROM c3 GROUP BY 1)
             SELECT norm.doc_id,
               coalesce(n2, 0) AS n2, coalesce(top2, 0) AS top2,
               coalesce(dup2, 0) AS dup2, coalesce(n3, 0) AS n3,
               coalesce(top3, 0) AS top3, coalesce(dup3, 0) AS dup3
             FROM norm LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)""")),

    // dedup_fingerprint: exact dedup on the normalized fingerprint —
    // min-id winner per group, group size.
    Q("dedup_fingerprint",
      (s, d) => Dedup.exactByKey(t(s, d, "documents"), "doc_id",
        TextFns.fingerprint(col("text"))),
      Some("""SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
             'g'))) AS dedup_key, min(doc_id) AS keep_id, count(*) AS n_dups
             FROM documents GROUP BY 1""")),

    // dedup_minhash [EXT]: MinHash+LSH near-dup candidate pairs over the
    // planted corpus. Estimate is k-of-64 signature agreement.
    // Independent oracle: DuckDB replays the ENTIRE sketch from raw
    // text — per-token FNV-1a, the mix64 shingle chains (wraparound
    // mult via UHUGEINT mod-2^64, one CTE stage per mix64 step so no
    // expression blowup), the 64 seed-derived universal hash params,
    // per-doc signature minima, and ALL-pairs signature agreement at
    // est >= 0.35. Equality also certifies that 16x4 banding loses no
    // est-qualifying pair on this corpus.
    Q("dedup_minhash",
      // clone-collapsed candidate generation (r12): identical result
      // set, but banding work bounded by text diversity — see
      // Dedup.minhashPairsDistinct
      (s, d) => Dedup.minhashPairsDistinct(plantedDocs(s, d), "doc_id",
        "text", threshold = 0.35)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4)
          .as("est_jaccard")),
      Some(MinhashOracle.sql)),

    // dedup_simhash [EXT]: 64-bit SimHash pairs, Hamming <= 7.
    // Independent oracle: because 8x8-bit chunk blocking GUARANTEES
    // recall for dist <= 7 (pigeonhole), the output equals ALL pairs at
    // Hamming <= 7 — and DuckDB recomputes every SimHash from raw text:
    // per-token FNV-1a 64 replayed bit-exactly with UHUGEINT mod-2^64
    // wraparound arithmetic, +-1 bit votes, sign packing (HUGEINT sum —
    // a UHUGEINT sum silently falls back to DOUBLE and loses low bits),
    // then an all-pairs XOR popcount. The gate thus verifies the hash,
    // the sketch, AND the blocking's recall guarantee.
    Q("dedup_simhash",
      (s, d) => Dedup.simhashPairs(plantedDocs(s, d), "doc_id", "text"),
      Some("""WITH planted AS (
               SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 1000000, text || ' zz'
               FROM documents WHERE doc_id % 50 = 0
             ),
             toks AS (
               SELECT doc_id, unnest(string_split(trim(regexp_replace(
                 lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
               FROM planted
             ),
             th AS (
               SELECT doc_id, list_reduce(
                 list_prepend(14695981039346656037::UBIGINT,
                   list_transform(generate_series(1, length(tok)),
                     i -> ord(substr(tok, i, 1))::UBIGINT)),
                 (h, b) -> ((xor(h, b)::UHUGEINT * 1099511628211::UHUGEINT)
                            % '18446744073709551616'::UHUGEINT)::UBIGINT) AS h
               FROM toks
             ),
             votes AS (
               SELECT doc_id, g.bit,
                 sum(CASE WHEN (h >> g.bit) & 1::UBIGINT = 1::UBIGINT
                     THEN 1 ELSE -1 END) AS v
               FROM th, generate_series(0, 63) AS g(bit)
               GROUP BY doc_id, g.bit
             ),
             sh AS (
               SELECT doc_id,
                 CAST(sum(CASE WHEN v > 0
                   THEN ((1::UBIGINT << CAST(bit AS INT))::HUGEINT)
                   ELSE 0::HUGEINT END) AS UBIGINT) AS sh
               FROM votes GROUP BY doc_id
             ),
             -- pigeonhole candidates over DISTINCT signatures (r10:
             -- clone groups inflate doc-level byte blocks quadratically
             -- while adding zero signatures — the same restructure the
             -- Spark side uses, so both engines stay replica-scalable);
             -- hamming <= 7 across 8 bytes forces at least one EQUAL
             -- byte, so a byte-bucket equi-join loses no qualifying pair
             uq AS (SELECT DISTINCT sh AS s FROM sh),
             by AS (SELECT s, g.k AS k,
                 (s >> CAST(8 * g.k AS INT)) & 255::UBIGINT AS byte
               FROM uq, generate_series(0, 7) AS g(k)),
             sigp AS (SELECT DISTINCT a.s AS sa, b.s AS sb
               FROM by a JOIN by b
                 ON a.k = b.k AND a.byte = b.byte AND a.s < b.s)
             SELECT least(a.doc_id, b.doc_id) AS id_a,
               greatest(a.doc_id, b.doc_id) AS id_b,
               bit_count(xor(sa, sb))::INT AS hamming
             FROM sigp JOIN sh a ON a.sh = sigp.sa
                       JOIN sh b ON b.sh = sigp.sb
             WHERE bit_count(xor(sa, sb)) <= 7
             UNION ALL
             SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0 AS hamming
             FROM sh a JOIN sh b
               ON a.sh = b.sh AND a.doc_id < b.doc_id""")),

    // dedup_jaccard [EXT]: exact n-gram Jaccard verification of the
    // MinHash candidates, keeping pairs at or above the final 0.5
    // threshold — the standard candidate→verify→threshold dedup shape.
    // Independently oracle-checked: the DuckDB oracle computes ALL-pairs
    // word-3-shingle Jaccard from raw text (list_intersect over distinct
    // shingle strings; no Spark-derived goldens), so the gate verifies
    // both the exact Jaccard math AND that LSH candidate generation
    // loses no qualifying pair (recall at j >= 0.5 under 16x4 banding is
    // 1 - (1 - 0.5^4)^16 ≈ 0.65 in the worst case, but every qualifying
    // pair in this corpus sits at j >= 0.9 where recall ≈ 1 - 4e-8).
    // Spark computes Jaccard over 31-bit hashed shingles — exact modulo
    // collisions (P ≈ 4e-5 per pair at these set sizes).
    // r13: the shingle-posting fit stages ONCE per (session, corpus)
    // via jaccardSetsCache. r14: clone-collapsed
    // (Dedup.verifiedPairsDistinct) — band + exact-verify once per
    // DISTINCT text, expand to doc pairs at the output boundary; the
    // doc-level path measured 150 s steady-state at 100× (clone²
    // banded candidates, ~1.3 kB shingle arrays per verify-join row).
    Q("dedup_jaccard",
      (s, d) => {
        val (membership, repSets) = jaccardSetsCache.getOrFit(s, d, {
          val (m, reps) = Dedup.textGroups(plantedDocs(s, d),
            "doc_id", "text")
          (m, Dedup.fitShingleSets(reps, "rep", "text"))
        })
        Dedup.verifiedPairsDistinct(membership, repSets,
            finalThreshold = 0.5)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 4)
            .as("jaccard"))
      },
      Some("""WITH planted AS (
               SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 1000000, text || ' zz'
               FROM documents WHERE doc_id % 50 = 0
             ),
             -- r12: distinct-text discipline (same restructure as
             -- MinhashOracle) — Jaccard is a pure function of the two
             -- texts, so shingle + pair enumeration runs once per
             -- DISTINCT text; clone docs re-enter via the dmap
             -- expansion below. The r11 per-doc form re-shingled every
             -- clone and its shared-shingle equi-join saw clone-group-
             -- sized buckets per shingle: clone² join output at 100×
             -- inside a grouped aggregate (>90 GB).
             dmap AS (SELECT doc_id, md5(text) AS tkey FROM planted),
             dt AS (SELECT md5(text) AS tkey, any_value(text) AS text
               FROM planted GROUP BY 1),
             toks AS (
               SELECT tkey,
                 string_split(trim(regexp_replace(lower(text),
                   '[^a-z0-9]+', ' ', 'g')), ' ') AS tk
               FROM dt
             ),
             sh AS (
               SELECT tkey,
                 list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                   FOR i IN generate_series(1, greatest(len(tk) - 2, 0))]) AS s
               FROM toks
             ),
             -- shared-shingle equi-join pair enumeration (lossless: a
             -- pair at jaccard >= 0.5 shares a shingle; zero-overlap
             -- pairs cannot qualify) — per-shingle buckets now hold
             -- distinct TEXTS, so bucket sizes are clone-count-free
             gr AS (SELECT tkey, len(s) AS n, unnest(s) AS g FROM sh),
             ix AS (SELECT a.tkey AS ta, b.tkey AS tb,
                 max(a.n) AS na, max(b.n) AS nb, count(*) AS c
               FROM gr a JOIN gr b ON a.g = b.g AND a.tkey < b.tkey
               GROUP BY 1, 2),
             tp AS (SELECT ta, tb,
                 CAST(c AS DOUBLE) / (na + nb - c) AS j
               FROM ix
               WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
             -- texts with >= 1 shingle: a shingle-less doc never joined
             -- in the per-doc form, so identical shingle-less clones
             -- must not pair here either
             tnz AS (SELECT tkey FROM sh WHERE len(s) > 0)
             SELECT least(a.doc_id, b.doc_id) AS id_a,
               greatest(a.doc_id, b.doc_id) AS id_b,
               round(j, 4) AS jaccard
             FROM tp
             JOIN dmap a ON a.tkey = tp.ta
             JOIN dmap b ON b.tkey = tp.tb
             UNION ALL
             SELECT a.doc_id, b.doc_id, round(1.0, 4) AS jaccard
             FROM dmap a
             JOIN dmap b ON a.tkey = b.tkey AND a.doc_id < b.doc_id
             JOIN tnz t ON t.tkey = a.tkey""")),

    // sim_topk [EXT]: exact brute-force cosine top-5 (ANN baseline).
    Q("sim_topk",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 5), k = 5,
          roundTo = 3)
      },
      Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[])
               AS qe FROM embeddings
               WHERE vec_id < 5 AND embedding IS NOT NULL),
             c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
               FROM embeddings WHERE embedding IS NOT NULL),
             sc AS (SELECT qid, vec_id,
               list_cosine_similarity(qe, ce) AS sim_raw
               FROM q CROSS JOIN c WHERE vec_id != qid),
             r AS (SELECT qid, vec_id, sim_raw, row_number() OVER (
               PARTITION BY qid ORDER BY sim_raw DESC, vec_id) AS rk FROM sc)
             SELECT qid, vec_id, round(sim_raw, 3) AS sim, rk
             FROM r WHERE rk <= 5""")),

    // sim_hardneg [EXT]: hard-negative mining — per query, the top-5
    // corpus vectors with cosine in [0.2, 0.6] (informative negatives
    // for contrastive embedding training). Threshold-on-exact-cosine
    // crosses engines bit-exactly (same IEEE double sums in index
    // order — the sim_neardup_cos argument); ties rank by vec_id.
    Q("sim_hardneg",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.bruteHardNegatives(emb, emb.filter(col("vec_id") < 5),
          k = 5, loSim = 0.2, hiSim = 0.6, roundTo = 3)
      },
      Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[])
               AS qe FROM embeddings
               WHERE vec_id < 5 AND embedding IS NOT NULL),
             c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
               FROM embeddings WHERE embedding IS NOT NULL),
             sc AS (SELECT qid, vec_id,
               list_cosine_similarity(qe, ce) AS sim_raw
               FROM q CROSS JOIN c WHERE vec_id != qid),
             b AS (SELECT qid, vec_id, sim_raw FROM sc
               WHERE sim_raw >= 0.2 AND sim_raw <= 0.6),
             r AS (SELECT qid, vec_id, sim_raw, row_number() OVER (
               PARTITION BY qid ORDER BY sim_raw DESC, vec_id) AS rk FROM b)
             SELECT qid, vec_id, round(sim_raw, 3) AS sim, rk
             FROM r WHERE rk <= 5""")),

    // sim_ann_lsh [EXT]: hyperplane-LSH bucketed ANN (the scale path;
    // recall vs. brute force asserted in ScalaTest). Independent
    // oracle: DuckDB replays the hyperplane sketch end-to-end from raw
    // embeddings (mix64-derived weight matrix, projection sign buckets,
    // candidate join, exact-cosine ranking) — see LshOracle for the
    // numeric-robustness argument.
    Q("sim_ann_lsh",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), k = 5,
          dim = 64, planes = 4, tables = 12, roundTo = 3)
      },
      Some(LshOracle.sql)),

    // sim_recall [EXT, new r7]: ANN index VALIDATION as a first-class
    // op — per-query recall@5 of the LSH index against the exact
    // brute-force truth (the number every index build gets judged by
    // before serving; SimilaritySpec asserts it in-test, this makes it
    // a queryable audit). hits is an integer join count, recall its
    // single division by k — bit-identical cross-engine. Oracle =
    // LshOracle's full sketch replay joined against the brute ranking.
    Q("sim_recall",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
        val ann = Similarity.lshTopK(emb, q, k = 5,
            dim = 64, planes = 4, tables = 12, roundTo = 3)
          .select(col("qid").as("aqid"), col("vec_id").as("avid"))
        val exact = Similarity.bruteTopK(emb, q, k = 5, roundTo = 3)
          .select(col("qid"), col("vec_id"))
        exact.join(ann,
            col("qid") === col("aqid") && col("vec_id") === col("avid"),
            "left")
          .groupBy(col("qid"))
          .agg(count(col("avid")).as("hits"))
          .select(col("qid"), col("hits"),
            (col("hits").cast("double") / lit(5.0)).as("recall"))
      },
      Some(LshOracle.ctes +
        """,
          |ann AS (SELECT qid, vec_id FROM r WHERE rk <= 5),
          |eq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[])
          |    AS qe FROM embeddings
          |  WHERE vec_id < 5 AND embedding IS NOT NULL),
          |ec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
          |  FROM embeddings WHERE embedding IS NOT NULL),
          |esc AS (SELECT qid, vec_id,
          |    list_cosine_similarity(qe, ce) AS sim_raw
          |  FROM eq CROSS JOIN ec WHERE vec_id != qid),
          |er AS (SELECT qid, vec_id, row_number() OVER (
          |    PARTITION BY qid ORDER BY sim_raw DESC, vec_id) AS rk
          |  FROM esc),
          |ex AS (SELECT qid, vec_id FROM er WHERE rk <= 5)
          |SELECT ex.qid, count(ann.vec_id)::BIGINT AS hits,
          |  CAST(count(ann.vec_id) AS DOUBLE) / 5.0 AS recall
          |FROM ex LEFT JOIN ann
          |  ON ex.qid = ann.qid AND ex.vec_id = ann.vec_id
          |GROUP BY ex.qid""".stripMargin)),

    // sim_ann_ivf [EXT]: inverted-file ANN (k-means cells + nprobe
    // probing) — the second scale path; recall vs. brute force asserted
    // in SimilaritySpec. Deterministic (seeded KMeans). The index is fit
    // ONCE per (session, corpus) and memoized — the production shape;
    // round 2 retrained the quantizer on every invocation.
    // Independent oracle (replaces the round-3 golden): the EXACT
    // brute-force top-5 in SQL. Valid because the gate probes nprobe=7
    // of nlist=8 cells, where measured recall is 1.0 on both gate
    // corpora (ProbeIvf round-4: nprobe<=6 misses rows, 7 is exact) —
    // the unprobed cell provably contains no top-5 neighbor, so any
    // centroid/assignment/probing regression that costs recall breaks
    // the gate. Production keeps the default nprobe=4 — recall there is
    // a tuning knob, not a correctness gate.
    Q("sim_ann_ivf",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val model = TextQ.ivfCache.getOrFit(s, d,
          Similarity.fitIvf(emb, nlist = 8))
        Similarity.probeIvf(model, emb.filter(col("vec_id") < 5), k = 5,
          nprobe = 7, roundTo = 3)
      },
      Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[])
               AS qe FROM embeddings
               WHERE vec_id < 5 AND embedding IS NOT NULL),
             c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
               FROM embeddings WHERE embedding IS NOT NULL),
             sc AS (SELECT qid, vec_id,
               list_cosine_similarity(qe, ce) AS sim_raw
               FROM q CROSS JOIN c WHERE vec_id != qid),
             r AS (SELECT qid, vec_id, sim_raw, row_number() OVER (
               PARTITION BY qid ORDER BY sim_raw DESC, vec_id) AS rk FROM sc)
             SELECT qid, vec_id, round(sim_raw, 3) AS sim, rk
             FROM r WHERE rk <= 5""")),

    // sim_ann_pq [EXT]: product-quantization ANN — the memory-bounded
    // scale path (m·log2(k) bits per vector; the corpus-wide scan reads
    // 8-int codes, not 64-float vectors), ADC shortlist + exact-cosine
    // rerank. Independent oracle: the EXACT brute-force top-5 in SQL —
    // valid because the 64-deep shortlist's recall is 1.0 on the gate
    // corpus, so the reranked output must equal ground truth; any
    // codebook/ADC regression that costs recall breaks the gate.
    Q("sim_ann_pq",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val model = TextQ.pqCache.getOrFit(s, d,
          Similarity.fitPq(emb, dim = 64))
        Similarity.probePq(model, emb, emb.filter(col("vec_id") < 5),
          k = 5, rerank = 256, roundTo = 3)
      },
      Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[])
               AS qe FROM embeddings
               WHERE vec_id < 5 AND embedding IS NOT NULL),
             c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
               FROM embeddings WHERE embedding IS NOT NULL),
             sc AS (SELECT qid, vec_id,
               list_cosine_similarity(qe, ce) AS sim_raw
               FROM q CROSS JOIN c WHERE vec_id != qid),
             r AS (SELECT qid, vec_id, sim_raw, row_number() OVER (
               PARTITION BY qid ORDER BY sim_raw DESC, vec_id) AS rk FROM sc)
             SELECT qid, vec_id, round(sim_raw, 3) AS sim, rk
             FROM r WHERE rk <= 5""")),

    // sim_ann_ivfpq [EXT]: the composite serving index — IVF cell
    // restriction AND 8-byte ADC codes in one staged table; the two
    // scan reductions multiply (Similarity.fitIvfPq scaladoc). Oracle
    // posture (same as sim_ann_ivf/sim_ann_pq): the exact brute-force
    // top-5 is the oracle because MEASURED recall at the gate settings
    // (nprobe=7/8 cells, rerank-256 ADC shortlist, exact rerank) is
    // 1.0 on all three local corpora — an empirical property of the
    // fixture, NOT a bound; it is rechecked every gate run, so any
    // centroid/codebook/shortlist regression (or a fixture change that
    // breaks the property) fails loudly rather than silently. The
    // shortlist is 256, not the 64 default: at the 6k-vector sf0.1
    // corpus a 64-code shortlist dropped one true top-5 neighbor
    // (8-byte codes blur dense clusters; the round-8 sf0.1 sweep
    // caught it) — 256 restores exactness there at shortlist cost
    // that is still rerank·|queries|, corpus-size-free. SimilaritySpec
    // separately pins recall >= 0.9 as the operator-level floor.
    // Production keeps nprobe/rerank as tuning knobs.
    Q("sim_ann_ivfpq",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val model = TextQ.ivfPqCache.getOrFit(s, d,
          Similarity.fitIvfPq(emb, dim = 64, nlist = 8))
        Similarity.probeIvfPq(model, emb, emb.filter(col("vec_id") < 5),
          k = 5, nprobe = 7, rerank = 256, roundTo = 3)
      },
      Some("""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[])
               AS qe FROM embeddings
               WHERE vec_id < 5 AND embedding IS NOT NULL),
             c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
               FROM embeddings WHERE embedding IS NOT NULL),
             sc AS (SELECT qid, vec_id,
               list_cosine_similarity(qe, ce) AS sim_raw
               FROM q CROSS JOIN c WHERE vec_id != qid),
             r AS (SELECT qid, vec_id, sim_raw, row_number() OVER (
               PARTITION BY qid ORDER BY sim_raw DESC, vec_id) AS rk FROM sc)
             SELECT qid, vec_id, round(sim_raw, 3) AS sim, rk
             FROM r WHERE rk <= 5""")),

    // sim_ann_incr [EXT, new r17]: persisted/incremental ANN probe —
    // the vector-index twin of dedup_incr (ScaleQ.scala): the IVF-PQ
    // index over the corpus is built ONCE per (session, corpus) —
    // Stage-persisted (vec_id, cell, code) table + metadata-scale
    // centroids/codebooks, SHARED with sim_ann_ivfpq through
    // ivfPqCache — and an ARRIVING batch (the planted +0.01f-perturbed
    // every-50th vectors, id +1,000,000, none of them in the index)
    // probes it with zero refitting. At 100 TB this turns per-batch
    // ANN cost from O(corpus) (refit + re-encode) to O(batch):
    // centroid ranking per query, an (nprobe/nlist)-restricted scan of
    // 8-byte codes, and a rerank join bounded by rerank·|batch|.
    // Oracle posture (the sim_ann_ivf/pq/ivfpq convention): exact
    // brute-force top-5 of each perturbed query against the corpus —
    // valid because measured recall at the gate settings (nprobe=8/8,
    // rerank=256) is 1.0; rechecked every gate run. nprobe is 8, not
    // sim_ann_ivfpq's 7: batch queries land ANYWHERE in the corpus
    // (unlike the vec_id<5 fixture queries) and their weak rank-2..5
    // neighbors (cos≈0.35 — random 64-dim vectors) don't respect cell
    // locality, so at the gate the ADC-shortlist+rerank path carries
    // exactness and the cell restriction stays a production knob. The
    // perturbation replays in FLOAT (sim_neardup_cos convention) so
    // the query vectors are bit-identical cross-engine.
    Q("sim_ann_incr",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val model = TextQ.ivfPqCache.getOrFit(s, d,
          Similarity.fitIvfPq(emb, dim = 64, nlist = 8))
        val batch = emb.filter(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"),
              (x, i) => when(i === 0, x + lit(0.01f)).otherwise(x))
              .as("embedding"))
        Similarity.probeIvfPq(model, emb, batch, k = 5,
          nprobe = 8, rerank = 256, roundTo = 3)
      },
      Some("""WITH q AS (SELECT vec_id + 1000000 AS qid,
               CAST(list_prepend(CAST(embedding[1] + '0.01'::FLOAT
                   AS FLOAT), embedding[2:]) AS DOUBLE[]) AS qe
               FROM embeddings
               WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
             c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
               FROM embeddings WHERE embedding IS NOT NULL),
             sc AS (SELECT qid, vec_id,
               list_cosine_similarity(qe, ce) AS sim_raw
               FROM q CROSS JOIN c WHERE vec_id != qid),
             r AS (SELECT qid, vec_id, sim_raw, row_number() OVER (
               PARTITION BY qid ORDER BY sim_raw DESC, vec_id) AS rk FROM sc)
             SELECT qid, vec_id, round(sim_raw, 3) AS sim, rk
             FROM r WHERE rk <= 5""")),

    // text_winnow [EXT]: winnowing fingerprint set size per document
    // (the fingerprints themselves are array-valued; the count is the
    // stable scalar projection). Uses the PORTABLE md5 gram hash so the
    // DuckDB oracle re-runs the whole winnow — gram hashing, the
    // rolling w-window minimum, distinct selection — independently from
    // raw text. (After normalization the text is pure [a-z0-9 ] ASCII,
    // so SQL character positions equal the expression's byte offsets.)
    // The Rabin-Karp rolling hash stays the 100 TB default.
    Q("text_winnow",
      // r15 null contract (per-doc signal family): null text = empty
      // text = the single whole-text fingerprint the n<k branch emits
      (s, d) => t(s, d, "documents").select(col("doc_id"),
        size(graft.functions.TextFns.winnowFingerprint(
          coalesce(col("text"), lit("")),
          portable = true)).as("n_fingerprints")),
      Some("""WITH d AS (SELECT doc_id,
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt
             FROM documents),
             -- r14 (fat sweep): never carry nt across the per-position
             -- fan-out (DuckDB copies the referenced string per row —
             -- 64M positions x 64 MB on the fat giant). Tile discipline:
             -- split nt once into 256-char tiles, extend each with the
             -- next tile's first 7 chars so every 8-gram starting in a
             -- tile is local, then fan out positions per ~263-char tile.
             dn AS MATERIALIZED (SELECT doc_id, length(nt) - 7 AS ng,
               regexp_extract_all(nt, '.{1,256}', 0, 's') AS tl
             FROM d WHERE length(nt) >= 8),
             tile AS MATERIALIZED (SELECT doc_id, ng, unnest(tl) AS tile,
               generate_subscripts(tl, 1) AS k FROM dn),
             xt AS MATERIALIZED (SELECT t1.doc_id, t1.ng, t1.k,
               t1.tile || coalesce(left(t2.tile, 7), '') AS xt
             FROM tile t1 LEFT JOIN tile t2
               ON t2.doc_id = t1.doc_id AND t2.k = t1.k + 1),
             g AS (SELECT doc_id, ng, k, xt,
               unnest(generate_series(1, length(xt) - 7)) AS j
             FROM xt),
             h AS (SELECT doc_id, ng, (k - 1) * 256 + j AS i,
               ('0x' || substr(md5(substr(xt, j::INT, 8)), 1, 15))::BIGINT AS hv
             FROM g),
             m AS (SELECT doc_id, ng, i,
               min(hv) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS wmin
             FROM h)
             SELECT doc_id, count(DISTINCT wmin) AS n_fingerprints
             FROM m WHERE i >= least(16, ng) GROUP BY doc_id
             UNION ALL
             SELECT doc_id, 1 AS n_fingerprints FROM d
             WHERE nt IS NULL OR length(nt) < 8""")),

    // sim_neardup_cos [EXT]: embedding-cosine near-dup pairs over a
    // corpus with planted perturbed copies. Independent oracle: DuckDB
    // recomputes ALL-pairs exact cosine from the raw embeddings (float
    // perturbation replayed bit-exactly via FLOAT arithmetic, cosine in
    // double) — so the gate checks both the cosine math and that the
    // LSH bucket/Hamming-prefilter path loses no qualifying pair.
    Q("sim_neardup_cos",
      (s, d) => plantedNearDupPairs(s, d, threshold = 0.99),
      Some("""WITH planted AS (
               SELECT vec_id, embedding FROM embeddings
               UNION ALL
               SELECT vec_id + 1000000,
                 -- r15: a NULL embedding perturbs to a NULL LIST
                 -- (Spark's transform(null) = null -> cosine NULL ->
                 -- singleton), never a list with a NULL element
                 -- (DuckDB's list_cosine_similarity hard-errors)
                 CASE WHEN embedding IS NULL THEN NULL
                   ELSE list_prepend(
                     CAST(embedding[1] + '0.01'::FLOAT AS FLOAT),
                     embedding[2:]) END
               FROM embeddings WHERE vec_id % 50 = 0
             ),
             p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM planted)
             SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.e, b.e), 6) AS cos
             FROM p a JOIN p b ON a.vec_id < b.vec_id
             WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.99""")),

    // text_novelty [EXT]: per-doc memorization/self-containment score —
    // the fraction of a document's distinct 3-gram shingles that occur
    // in at least one OTHER document (planted corpus, so the perturbed
    // copies score near 1.0 shared). One shingle pass; the (doc, sh)
    // stream repartitions by shingle ONCE and both the doc-frequency
    // aggregate and the join-back ride that exchange (the tfidf
    // single-exchange shape). The 63-BIT shingle hash is the
    // production key (8 B shuffles, not n-gram strings); the oracle
    // replays with exact STRING shingles — equal up to 63-bit hash
    // collisions (~n²/2^64, ~5e-8 even at the fat giant's 1M distinct
    // shingles). r14: WAS 31-bit, which the fat sweep caught red-
    // handed — ~230 expected collisions on the giant doc merged
    // distinct string shingles and bent n_shingles/shared_frac off
    // the exact oracle (reports/SWEEP_FAT_r14.md). dedup_jaccard's
    // gate is unaffected: its oracle replays the same 31-bit mask, so
    // collisions cancel engine-to-engine there.
    Q("text_novelty",
      (s, d) => {
        val sh = plantedDocs(s, d).select(col("doc_id"),
          explode(Dedup.shingleHashes(col("text"), n = 3, bits = 63))
            .as("sh"))
          .repartition(col("sh"))
        val dfq = sh.groupBy("sh").agg(count(lit(1)).as("ndocs"))
        sh.join(dfq, "sh")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            round(avg(when(col("ndocs") >= 2, 1.0).otherwise(0.0)), 4)
              .as("shared_frac"))
      },
      Some("""WITH planted AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, text || ' zz'
             |  FROM documents WHERE doc_id % 50 = 0),
             |toks AS (SELECT doc_id,
             |    string_split(trim(regexp_replace(lower(text),
             |      '[^a-z0-9]+', ' ', 'g')), ' ') AS tk FROM planted),
             |sh AS (SELECT DISTINCT doc_id,
             |    tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS s
             |  FROM (SELECT doc_id, tk,
             |      unnest(generate_series(1, len(tk) - 2)) AS i
             |    FROM toks)),
             |dfq AS (SELECT s, count(*) AS ndocs FROM sh GROUP BY s)
             |SELECT sh.doc_id, count(*) AS n_shingles,
             |  round(avg(CASE WHEN dfq.ndocs >= 2 THEN 1.0 ELSE 0.0 END), 4)
             |    AS shared_frac
             |FROM sh JOIN dfq ON sh.s = dfq.s
             |GROUP BY sh.doc_id""".stripMargin)),

    // dedup_semantic [EXT]: SemDeDup-shape semantic dedup — embedding-
    // cosine near-dup PAIRS (the sim_neardup_cos machinery, planted
    // +0.01 perturbed copies) contracted to connected COMPONENTS, every
    // vector labeled with its component minimum and a keep flag. The
    // oracle recomputes ALL pairwise cosines exactly, thresholds, and
    // runs a recursive reachability fixpoint — ground-truth clusters by
    // an unrelated algorithm family (same posture as dedup_cluster).
    Q("dedup_semantic",
      (s, d) => {
        val planted = plantedEmb(s, d)
        val pairs = plantedNearDupPairs(s, d, threshold = 0.99)
          .select(col("id_a"), col("id_b"))
        val labels = graft.operators.ConnectedComponents
          .labels(pairs, "id_a", "id_b")
        planted.select(col("vec_id"))
          .join(labels.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("cluster"), col("vec_id")).as("cluster_id"))
          .withColumn("keep", col("vec_id") === col("cluster_id"))
      },
      Some("""WITH RECURSIVE planted AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 1000000,
             |    CASE WHEN embedding IS NULL THEN NULL
             |      ELSE list_prepend(
             |        CAST(embedding[1] + '0.01'::FLOAT AS FLOAT),
             |        embedding[2:]) END
             |  FROM embeddings WHERE vec_id % 50 = 0),
             |p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
             |  FROM planted),
             |prs AS (SELECT a.vec_id AS ia, b.vec_id AS ib
             |  FROM p a JOIN p b ON a.vec_id < b.vec_id
             |  WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.99),
             |edges AS (SELECT ia AS a, ib AS b FROM prs
             |  UNION SELECT ib, ia FROM prs),
             |reach(src, dst) AS (
             |  SELECT vec_id, vec_id FROM planted
             |  UNION
             |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
             |SELECT src AS vec_id, min(dst) AS cluster_id,
             |  src = min(dst) AS keep
             |FROM reach GROUP BY src""".stripMargin)),

    // dedup_contain [EXT]: train/test contamination — which "benchmark"
    // docs (perturbed copies of every 25th doc, simulating leaked eval
    // items) near-duplicate a training doc. Cross-corpus MinHash
    // banding generates candidates, exact shingle-Jaccard verifies, and
    // pairs at or above the 0.5 final threshold are reported — the
    // candidate→verify→threshold contamination shape. Independent
    // oracle: DuckDB computes ALL train×bench pair Jaccards from raw
    // text, so the gate checks both the exact math and cross-corpus
    // candidate recall (every qualifying pair here sits at j >= 0.9,
    // where 16x4 banding recall ≈ 1).
    Q("dedup_contain",
      (s, d) => {
        val train = t(s, d, "documents").select(col("doc_id"), col("text"))
        val bench = train.filter(col("doc_id") % 25 === 0).select(
          (col("doc_id") + 5000000L).as("doc_id"),
          concat(lit("Q: "), col("text")).as("text"))
        Dedup.crossVerifiedPairs(train, bench, "doc_id", "text",
          finalThreshold = 0.5)
          .select(col("left_id"), col("right_id"),
            round(col("jaccard"), 4).as("jaccard"))
      },
      // pair enumeration via shared-shingle equi-join (not the r8
      // train-x-bench cross join): a pair at jaccard >= 0.5 must share
      // a shingle, so pairs sharing none are lossless to drop — and at
      // the 10x replicated corpus the cross join was 121M pairs of
      // list_intersect where the equi-join stays candidate-bounded
      Some("""WITH bench AS (
               SELECT doc_id + 5000000 AS doc_id, 'Q: ' || text AS text
               FROM documents WHERE doc_id % 25 = 0
             ),
             sh AS (
               SELECT doc_id,
                 list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                   FOR i IN generate_series(1, greatest(len(tk) - 2, 0))]) AS s
               FROM (SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text),
                   '[^a-z0-9]+', ' ', 'g')), ' ') AS tk FROM documents)
             ),
             shb AS (
               SELECT doc_id,
                 list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                   FOR i IN generate_series(1, greatest(len(tk) - 2, 0))]) AS s
               FROM (SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text),
                   '[^a-z0-9]+', ' ', 'g')), ' ') AS tk FROM bench)
             ),
             ga AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
             gb AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM shb),
             ix AS (SELECT ga.doc_id AS left_id, gb.doc_id AS right_id,
                 max(ga.n) AS na, max(gb.n) AS nb, count(*) AS c
               FROM ga JOIN gb ON ga.g = gb.g
               GROUP BY 1, 2)
             SELECT left_id, right_id,
               round(CAST(c AS DOUBLE) / (na + nb - c), 4) AS jaccard
             FROM ix
             WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5""")),

    // decontam_ngram [EXT]: exact 13-gram eval-set decontamination —
    // the collision rule used to scrub benchmarks out of LLM training
    // corpora. The planted "benchmark" is a PARTIAL quote (tokens 4-23
    // of every 25th doc), so whole-doc Jaccard sits far below the 0.5
    // near-dup threshold (~20 of ~54 tokens) and dedup_contain would
    // stay silent — but every 13-token window of the quote collides
    // exactly. Independent oracle: DuckDB rebuilds both gram sets from
    // raw text (list comprehension over token slices) and joins on the
    // gram STRING — no hashes anywhere, so the gate is collision-free
    // exact. Train side never shuffles: per-doc array_distinct before
    // the explode, bench grams broadcast.
    Q("decontam_ngram",
      (s, d) => {
        val train = t(s, d, "documents").select(col("doc_id"), col("text"))
        val bench = train.filter(col("doc_id") % 25 === 0).select(
          (col("doc_id") + 5000000L).as("doc_id"),
          array_join(slice(Dedup.normTokens(col("text")), 4, 20), " ")
            .as("text"))
        Dedup.ngramContamination(train, bench, "doc_id", "text", n = 13)
      },
      Some("""WITH norm AS (
               SELECT doc_id, string_split(trim(regexp_replace(lower(text),
                 '[^a-z0-9]+', ' ', 'g')), ' ') AS tk
               FROM documents
             ),
             bench AS (
               SELECT doc_id + 5000000 AS doc_id, tk[4:23] AS tk
               FROM norm WHERE doc_id % 25 = 0
             ),
             -- r14 (fat sweep): the list comprehension over tk slices
             -- re-referenced the giant doc's 6.7M-token list per gram
             -- (DuckDB priced the vector at 256 GiB and aborted).
             -- Train grams now build from narrow token rows + 12 lead
             -- windows — linear, per-row payload one gram string. The
             -- bench side keeps the comprehension: its docs are
             -- 20-token slices, bounded by construction. The windowed
             -- gram rebuild keys on doc_id being UNIQUE in documents
             -- (the table key by contract — TESTDATA.md; duplicates
             -- would interleave token streams in the PARTITION BY).
             tokn AS MATERIALIZED (
               SELECT doc_id, unnest(tk) AS w,
                 generate_subscripts(tk, 1) AS j
               FROM norm
             ),
             gr AS (
               SELECT doc_id, j, count(*) OVER (PARTITION BY doc_id) AS n,
                 concat_ws(' ', w,
                   lead(w, 1) OVER win, lead(w, 2) OVER win,
                   lead(w, 3) OVER win, lead(w, 4) OVER win,
                   lead(w, 5) OVER win, lead(w, 6) OVER win,
                   lead(w, 7) OVER win, lead(w, 8) OVER win,
                   lead(w, 9) OVER win, lead(w, 10) OVER win,
                   lead(w, 11) OVER win, lead(w, 12) OVER win) AS g
               FROM tokn
               WINDOW win AS (PARTITION BY doc_id ORDER BY j)
             ),
             tg AS (
               SELECT DISTINCT doc_id, g FROM gr WHERE j <= n - 12
             ),
             bg AS (
               SELECT doc_id, unnest(list_distinct(
                 [array_to_string(tk[i:i+12], ' ')
                  FOR i IN generate_series(1, greatest(len(tk) - 12, 0))]))
                 AS g
               FROM bench
             )
             SELECT t.doc_id AS left_id, b.doc_id AS right_id,
               count(*) AS n_shared
             FROM tg t JOIN bg b ON t.g = b.g
             GROUP BY 1, 2""")),

    // dedup_span [EXT]: cross-document repeated-passage profile — the
    // RefinedWeb/MassiveText exact-substring filter signal. Per doc:
    // how many 8-gram positions are covered by grams occurring in >= 2
    // distinct documents, and in how many maximal contiguous spans
    // (pos - row_number run-grouping, window partitioned per doc).
    // Fires non-vacuously on the raw corpus (1015 naturally duplicated
    // 8-grams at sf0.01). Oracle rebuilds positions and runs from raw
    // text with the identical run-grouping — gram strings joined
    // directly, no hashes.
    Q("dedup_span",
      (s, d) => graft.operators.Dedup.duplicatedSpans(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", n = 8, minDocs = 2),
      Some("""WITH norm AS (
             |  SELECT doc_id, string_split(trim(regexp_replace(lower(text),
             |    '[^a-z0-9]+', ' ', 'g')), ' ') AS tk
             |  FROM documents),
             |base AS (SELECT doc_id, len(tk) - 7 AS n_grams FROM norm
             |         WHERE len(tk) - 7 > 0),
             |-- r14 (fat sweep): the struct comprehension re-referenced
             |-- the giant doc's token list per gram position and OOM'd;
             |-- positions now come from narrow token rows + 7 lead
             |-- windows (see decontam_ngram for the same restructure;
             |-- like there, the PARTITION BY keys on doc_id being
             |-- UNIQUE in documents — the table key by contract).
             |tokn AS MATERIALIZED (
             |  SELECT doc_id, unnest(tk) AS w,
             |    generate_subscripts(tk, 1) AS j FROM norm),
             |p AS MATERIALIZED (
             |  SELECT doc_id, j AS pos, g FROM (
             |    SELECT doc_id, j, count(*) OVER (PARTITION BY doc_id) AS n,
             |      concat_ws(' ', w,
             |        lead(w, 1) OVER win, lead(w, 2) OVER win,
             |        lead(w, 3) OVER win, lead(w, 4) OVER win,
             |        lead(w, 5) OVER win, lead(w, 6) OVER win,
             |        lead(w, 7) OVER win) AS g
             |    FROM tokn WINDOW win AS (PARTITION BY doc_id ORDER BY j))
             |  WHERE j <= n - 7),
             |dup AS (SELECT g FROM (SELECT g, doc_id FROM p GROUP BY 1, 2)
             |        GROUP BY g HAVING count(*) >= 2),
             |sp AS (SELECT doc_id, count(*) AS n_dup,
             |         count(DISTINCT pos - rn) AS n_spans
             |       FROM (SELECT p.doc_id, p.pos, row_number() OVER
             |               (PARTITION BY p.doc_id ORDER BY p.pos) AS rn
             |             FROM p JOIN dup ON p.g = dup.g)
             |       GROUP BY 1)
             |SELECT b.doc_id, b.n_grams, coalesce(sp.n_dup, 0) AS n_dup,
             |  coalesce(sp.n_spans, 0) AS n_spans,
             |  round(coalesce(sp.n_dup, 0) * 1.0 / b.n_grams, 4) AS dup_frac
             |FROM base b LEFT JOIN sp ON b.doc_id = sp.doc_id""".stripMargin)),


    // dedup_substr [EXT, new r16]: the exact-substring dedup CUT
    // (Lee et al. '22 ExactSubstr) — the corpus re-emitted with every
    // >= 50-token passage duplicated across >= 2 docs REMOVED
    // (dedup_span is the profile twin; this is the standard
    // pretraining dedup cut itself). Runs on the planted corpus so
    // the gate fires non-vacuously: each planted clone shares its
    // full token stream with its original, so both lose the shared
    // passage. Oracle rebuilds the scrub from raw text with direct
    // gram-STRING joins — the engine's staged hash prefilter must be
    // exactness-invisible or the scrubbed text diverges.
    Q("dedup_substr",
      (s, d) => graft.operators.Dedup.scrubSubstrings(
        plantedDocs(s, d), "doc_id", "text", n = 50, minDocs = 2),
      Some(substrScrubSql)),

    // dedup_cluster [EXT]: the clustering stage of the dedup pipeline —
    // MinHash candidate PAIRS contracted to connected COMPONENTS
    // (alternating large-star/small-star, O(log n) rounds), every doc
    // labeled with its component-minimum doc_id and a keep flag for the
    // canonical member. Independent oracle: DuckDB replays the full
    // sketch to the same edge set, then computes ground-truth
    // components by a RECURSIVE reachability fixpoint — a different
    // algorithm family entirely, so the gate verifies both the sketch
    // AND the star-contraction's transitive closure.
    Q("dedup_cluster",
      // r12: CC over rep pairs + doc→rep star edges (same components,
      // linearly many edges) — Dedup.minhashClusters
      (s, d) => Dedup.minhashClusters(plantedDocs(s, d), "doc_id", "text",
          threshold = 0.35)
        .select(col("id").as("doc_id"), col("cluster").as("cluster_id"))
        .withColumn("keep", col("doc_id") === col("cluster_id")),
      Some(MinhashOracle.clusterSql)),

    // corpus_split_safe [EXT]: leakage-free train/val/test split — the
    // assignment hash runs on the near-dup CLUSTER id, not the doc id,
    // so a document and its near-duplicates can never straddle the
    // train/test boundary (the eval-contamination failure corpus_split
    // alone cannot prevent). Same sketch → pairs → components pipeline
    // as dedup_cluster, then one narrow split projection; the oracle
    // replays the full sketch + recursive-CTE ground-truth components
    // + the md5 membership on the cluster id.
    Q("corpus_split_safe",
      // r12: clone-collapsed clusters (Dedup.minhashClusters) — the
      // 100x bench's worst residue (96 s, 91 s of it materializing
      // quadratic clone-pair cc_edges) drops to the linear star graph
      (s, d) => {
        val labeled = Dedup.minhashClusters(plantedDocs(s, d), "doc_id",
            "text", threshold = 0.35)
          .select(col("id").as("doc_id"), col("cluster").as("cluster_id"))
        graft.operators.Sampling.assignSplits(labeled, col("cluster_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          portable = true)
      },
      Some(MinhashOracle.splitSafeSql)),

    // corpus_sample [EXT]: deterministic content-hash stratified sampling
    // for corpus balancing — unlike rand()-based sampleBy, the same rows
    // are kept on every run/retry/cluster size. Uses the PORTABLE md5
    // bucket so DuckDB recomputes membership independently from the raw
    // table (the xxhash64 fast path stays available for 100 TB runs).
    Q("corpus_sample",
      (s, d) => graft.operators.Sampling.stratifiedSample(
        t(s, d, "documents"), col("lang"), col("doc_id"),
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25, "es" -> 0.25),
        portable = true)
        .select("doc_id", "lang"),
      Some("""WITH f AS (SELECT doc_id, lang,
               CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                 WHEN 'fr' THEN 0.25 WHEN 'es' THEN 0.25 END AS frac
             FROM documents)
             SELECT doc_id, lang FROM f
             WHERE frac IS NOT NULL
               AND ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 15))::BIGINT
                   % 1000000 < CAST(frac * 1000000 AS BIGINT)""")),

    // text_stats [EXT]: corpus token-count distribution — count, mean,
    // exact interpolated percentiles (identical interpolation rule in
    // Spark `percentile` and DuckDB `quantile_cont`).
    Q("text_stats",
      (s, d) => t(s, d, "documents")
        .select(TextFns.wsTokenCount(col("text")).as("n_ws"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg("n_ws"), 4).as("mean_tokens"),
          round(expr("percentile(n_ws, 0.5)"), 4).as("p50"),
          round(expr("percentile(n_ws, 0.9)"), 4).as("p90"),
          round(expr("percentile(n_ws, 0.99)"), 4).as("p99")),
      Some("""SELECT count(*) AS n_docs,
             round(avg(n_ws), 4) AS mean_tokens,
             round(quantile_cont(n_ws, 0.5), 4) AS p50,
             round(quantile_cont(n_ws, 0.9), 4) AS p90,
             round(quantile_cont(n_ws, 0.99), 4) AS p99
             FROM (SELECT len(string_split_regex(trim(text), '\s+')) AS n_ws
                   FROM documents)""")),

    // str_url_norm [EXT, new r8]: URL canonicalization — the step every
    // web-corpus pipeline runs BEFORE url-level dedup (CommonCrawl-style
    // crawls carry the same page as http/HTTP/:80/utm-tagged variants).
    // Rules: lowercase scheme+host, strip the scheme's default port
    // (:80 http, :443 https), collapse duplicate path slashes, empty
    // path → '/', drop the fragment, drop utm_* tracking params, sort
    // the surviving query params. Synthetic messy URLs are derived
    // deterministically from doc_id (the repo's planted-fixture
    // pattern — documents has no url column); the whole normalization
    // is builtin string/array functions (codegen'd, no UDF) and the
    // oracle replays the identical chain with DuckDB's regexp/list
    // functions. n_variants-per-canonical makes the dedup payoff
    // visible: 4 raw variants collapse onto each canonical form.
    Q("str_url_norm",
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"))
        val url = concat(
          when(col("doc_id") % 2 === 0, lit("HTTP://ExAmple.COM:80"))
            .otherwise(lit("https://Sub.Example.Com:443")),
          lit("/p//"), (col("doc_id") % 7).cast("string"),
          when(col("doc_id") % 4 === 0,
            lit("?utm_source=feed&b=2&a=1#top"))
            .when(col("doc_id") % 4 === 1, lit("?a=1"))
            .when(col("doc_id") % 4 === 2, lit("?utm_campaign=x"))
            .otherwise(lit("#frag")))
        val scheme = lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1))
        val hostport = regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]+)", 1)
        val host = when(scheme === "http",
            regexp_replace(lower(hostport), ":80$", ""))
          .when(scheme === "https",
            regexp_replace(lower(hostport), ":443$", ""))
          .otherwise(lower(hostport))
        val path0 = regexp_replace(
          regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
          "/{2,}", "/")
        val path = when(path0 === "", lit("/")).otherwise(path0)
        val params = array_sort(filter(
          split(regexp_extract(col("url"), "\\?([^#]*)", 1), "&"),
          p => p =!= "" && !p.startsWith("utm_")))
        val qs = when(size(params) > 0,
          concat(lit("?"), array_join(params, "&"))).otherwise(lit(""))
        val normed = docs.withColumn("url", url)
          .select(col("doc_id"), col("url"),
            concat(scheme, lit("://"), host, path, qs).as("norm_url"))
        normed.groupBy("norm_url")
          .agg(count(lit(1)).as("n_variants"),
            min(col("doc_id")).as("first_doc"))
      },
      Some("""WITH u AS (SELECT doc_id,
             |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://ExAmple.COM:80'
             |      ELSE 'https://Sub.Example.Com:443' END ||
             |     '/p//' || (doc_id % 7)::VARCHAR ||
             |     CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&b=2&a=1#top'
             |       WHEN doc_id % 4 = 1 THEN '?a=1'
             |       WHEN doc_id % 4 = 2 THEN '?utm_campaign=x'
             |       ELSE '#frag' END) AS url
             |  FROM documents),
             |p AS (SELECT doc_id, url,
             |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             |    regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1) AS hostport,
             |    regexp_replace(regexp_extract(url,
             |      '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/{2,}', '/') AS path0,
             |    regexp_extract(url, '\?([^#]*)', 1) AS q
             |  FROM u),
             |n AS (SELECT doc_id,
             |    scheme || '://' ||
             |    (CASE WHEN scheme = 'http' THEN
             |        regexp_replace(lower(hostport), ':80$', '')
             |      WHEN scheme = 'https' THEN
             |        regexp_replace(lower(hostport), ':443$', '')
             |      ELSE lower(hostport) END) ||
             |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
             |    (CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&')
             |      ELSE '' END) AS norm_url
             |  FROM (SELECT *, list_sort(list_filter(string_split(q, '&'),
             |      x -> x <> '' AND NOT starts_with(x, 'utm_'))) AS ps
             |    FROM p))
             |SELECT norm_url, count(*)::BIGINT AS n_variants,
             |  min(doc_id) AS first_doc
             |FROM n GROUP BY 1""".stripMargin)),

    // text_scrub [EXT]: boilerplate strip + PII redaction over a corpus
    // with planted HTML/emails/phones (synthetic docs are clean text, so
    // the fixtures are injected deterministically per doc_id). Oracle
    // replays the same RE2-compatible regex chain in DuckDB.
    Q("text_scrub",
      (s, d) => {
        val dirty = t(s, d, "documents").select(col("doc_id"),
          concat(
            when(col("doc_id") % 3 === 0,
              lit("<div class=\"x\"><p>Contact: bob.smith+a@example.org</p></div> "))
              .otherwise(lit("")),
            col("text"),
            when(col("doc_id") % 4 === 0,
              lit(" call +1 555 0100 9999 &amp; write&#33;"))
              .otherwise(lit(""))).as("text"))
        dirty.select(col("doc_id"),
          TextFns.scrub(col("text")).as("clean"))
          .filter(col("clean").contains("<EMAIL>") ||
            col("clean").contains("<PHONE>"))
          .select(col("doc_id"),
            length(col("clean")).as("n_chars"),
            substring(col("clean"), 1, 40).as("head"))
      },
      Some("""WITH dirty AS (SELECT doc_id,
               (CASE WHEN doc_id % 3 = 0
                 THEN '<div class="x"><p>Contact: bob.smith+a@example.org</p></div> '
                 ELSE '' END)
               || text ||
               (CASE WHEN doc_id % 4 = 0
                 THEN ' call +1 555 0100 9999 &amp; write&#33;'
                 ELSE '' END) AS text
             FROM documents),
             cleaned AS (SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   trim(regexp_replace(
                     regexp_replace(
                       regexp_replace(text, '<[^>]*>', ' ', 'g'),
                       '&[a-zA-Z]{2,6};|&#[0-9]{1,5};', ' ', 'g'),
                     '\s+', ' ', 'g')),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                 '\+?[0-9]{1,3}[-. ][0-9]{2,4}[-. ][0-9]{2,4}[-. ][0-9]{2,6}',
                 '<PHONE>', 'g') AS clean
             FROM dirty)
             SELECT doc_id, length(clean) AS n_chars,
               substring(clean, 1, 40) AS head
             FROM cleaned
             WHERE clean LIKE '%<EMAIL>%' OR clean LIKE '%<PHONE>%'""")),

    // text_stats_approx [EXT]: the 100 TB variant of text_stats —
    // approx_percentile is partially aggregatable (a fixed-size sketch
    // merges map-side, so per-group memory is constant), unlike exact
    // percentile which buffers each group. Per-language distribution.
    // Independent oracle: below the sketch's compression threshold
    // (every sf0.01 group has n < accuracy = 1000) Greenwald-Khanna
    // holds each value exactly and query(p) returns the element at
    // nearest rank ceil(p·n) — a closed-form rule DuckDB recomputes
    // from raw data (verified against all 5 language groups at both
    // percentiles). The gate therefore checks real semantics, not a
    // pinned dump; at larger SF the sketch compresses and only the
    // rank-error bound holds.
    Q("text_stats_approx",
      // r15 null contract: a doc with no text has no token count —
      // it is absent from the distribution (NOT a zero: Spark's
      // sketch would silently skip the null while DuckDB's rank
      // walks it, so the two percentiles diverge unless the row is
      // excluded explicitly on both sides)
      (s, d) => t(s, d, "documents").filter(col("text").isNotNull)
        .select(col("lang"), TextFns.wsTokenCount(col("text")).as("n_ws"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          expr("approx_percentile(n_ws, array(0.5, 0.9), 1000)").as("p"))
        .select(col("lang"), col("n_docs"),
          element_at(col("p"), 1).as("p50"),
          element_at(col("p"), 2).as("p90")),
      Some("""WITH v AS (SELECT lang,
               len(string_split_regex(trim(text), '\s+')) AS n_ws
             FROM documents WHERE text IS NOT NULL),
             r AS (SELECT lang, n_ws,
               row_number() OVER (PARTITION BY lang ORDER BY n_ws) AS rk,
               count(*) OVER (PARTITION BY lang) AS n FROM v)
             SELECT lang, any_value(n) AS n_docs,
               max(CASE WHEN rk = CAST(ceil(0.5*n) AS BIGINT) THEN n_ws END) AS p50,
               max(CASE WHEN rk = CAST(ceil(0.9*n) AS BIGINT) THEN n_ws END) AS p90
             FROM r GROUP BY lang""")),

    // corpus_clean [EXT]: the end-to-end training-corpus cleaning
    // pipeline a data-pipeline user actually runs — language filter →
    // quality gate → exact dedup (min-id per normalized fingerprint).
    // One narrow pass computes all three signals (codegen'd expressions),
    // then a single groupBy(fingerprint) shuffle dedups; at 100 TB this
    // is one scan + one shuffle of (fp, doc_id) scalars.
    Q("corpus_clean",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          TextFns.langId(col("text")).as("lang_pred"),
          TextFns.qualityScore(col("text")).as("quality"),
          TextFns.fingerprint(col("text")).as("fp"))
        .filter(col("lang_pred") === "en" && col("quality") >= 0.5)
        .groupBy("fp")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies")),
      Some("""WITH sig AS (
             SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
                 AS fp,
               len(regexp_extract_all(text,
                 '(?i)\b(der|die|und|das|ist|von|mit|den|nicht|ein)\b')) AS de,
               len(regexp_extract_all(text,
                 '(?i)\b(the|and|of|to|in|is|that|it|for|was)\b')) AS en,
               len(regexp_extract_all(text,
                 '(?i)\b(el|la|de|que|y|los|del|las|por|una)\b')) AS es,
               len(regexp_extract_all(text,
                 '(?i)\b(le|la|et|les|des|en|un|du|une|est)\b')) AS fr,
               len(regexp_extract_all(text, '[一-鿿]')) AS zh,
               len(string_split_regex(trim(text), '\s+')) AS n_words,
               length(text) AS n_chars,
               len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
               len(regexp_extract_all(text,
                 '(?i)\b(the|and|of|to|in|is|that|it|for|was)\b')) AS n_stop
             FROM documents),
             scored AS (
             SELECT doc_id, fp,
               CASE
                 WHEN greatest(de,en,es,fr,zh) > 0 AND de = greatest(de,en,es,fr,zh) THEN 'de'
                 WHEN greatest(de,en,es,fr,zh) > 0 AND en = greatest(de,en,es,fr,zh) THEN 'en'
                 WHEN greatest(de,en,es,fr,zh) > 0 AND es = greatest(de,en,es,fr,zh) THEN 'es'
                 WHEN greatest(de,en,es,fr,zh) > 0 AND fr = greatest(de,en,es,fr,zh) THEN 'fr'
                 WHEN greatest(de,en,es,fr,zh) > 0 AND zh = greatest(de,en,es,fr,zh) THEN 'zh'
                 ELSE 'und' END AS lang_pred,
               round(least(n_chars/500.0, 1.0)
                 * (CASE WHEN (CASE WHEN n_chars > 0
                     THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0 END) < 0.2
                    THEN 1.0 ELSE 0.5 END)
                 * (CASE WHEN (CASE WHEN n_words > 0
                     THEN CAST(n_stop AS DOUBLE)/n_words ELSE 0 END) > 0.0
                    THEN 1.0 ELSE 0.7 END), 4) AS quality
             FROM sig)
             SELECT fp, min(doc_id) AS keep_id, count(*) AS n_copies
             FROM scored
             WHERE lang_pred = 'en' AND quality >= 0.5
             GROUP BY fp""")),

    // multimodal_frames [EXT]: frame-sample → resize chain over opaque
    // binary payloads (stub decode, real partition-parallel plumbing —
    // blobs never shuffle; emitted frames are fixed-size binaries ready
    // for batch inference). Independent oracle since round 5: the stub
    // sampler is deterministic byte arithmetic (64-byte strides, then
    // an 8x8 strided resample thumb[j] = frame[j*flen/64]), which the
    // SQL replays byte-for-byte over hex(encode(text)) — DuckDB has no
    // BLOB substring, so byte i lives at hex-string offset 2i+1.
    Q("multimodal_frames",
      (s, d) => {
        import graft.multimodal.Multimodal
        val docs = t(s, d, "documents")
          .filter(col("doc_id") < 50)
          .select(col("doc_id").as("id"),
            to_binary(col("text"), lit("utf-8")).as("payload"))
        import s.implicits._
        Multimodal.sampleFrames(s, docs, everyN = 64, maxFrames = 4)
          .flatMap(f => f.frames.zipWithIndex.map { case (fr, i) =>
            (f.id, i, Multimodal.resizeStub(fr, 8, 8))
          })
          .toDF("id", "frame", "thumb")
          .select(col("id"), col("frame"),
            lower(hex(substring(col("thumb"), 1, 8))).as("thumb_head"),
            length(col("thumb")).as("thumb_len"))
      },
      Some {
        // thumb byte j = frame[(j*flen) // 64]; one hex pair per byte
        val head8 = (0 until 8).map(j =>
          s"substr(fh, 2*(($j*flen)//64)+1, 2)").mkString(" || ")
        s"""WITH d AS (SELECT doc_id AS id, hex(encode(text)) AS h,
           |    octet_length(encode(text)) AS plen
           |  FROM documents WHERE doc_id < 50),
           |fr AS (SELECT id, h, plen, f.f AS frame
           |  FROM d, generate_series(0, 3) f(f) WHERE f.f*64 < plen),
           |fx AS (SELECT id, frame,
           |    substr(h, frame*128+1, 128) AS fh,
           |    least(64, plen - frame*64) AS flen FROM fr)
           |SELECT id, frame, lower($head8) AS thumb_head,
           |  64 AS thumb_len
           |FROM fx""".stripMargin
      }),

    // multimodal_decode [EXT]: REAL image decode — deterministic 5x3
    // 24-bit BMPs are encoded from a pixel formula, ride as binary
    // payloads, and are decoded back on the executors through the JDK's
    // BMP codec (bottom-up rows, 4-byte row padding, BGR order all
    // exercised: width 5 forces a non-trivial pad). The oracle
    // recomputes each channel mean STRAIGHT FROM THE PIXEL FORMULA in
    // SQL — if decode mangles padding, row order, or channel order,
    // the gate fails.
    Q("multimodal_decode",
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Media
        decodedMeans(s, t(s, d, "documents").filter(col("doc_id") < 40)
          .select(col("doc_id").as("id")).as[Long]
          .map { id =>
            (id, Media.encodeImage(fixtureImage(5, 3)((x, y) =>
              (id * 31 + x * 7 + y * 13, id * 17 + x * 5 + y * 3,
                id * 29 + x * 11 + y * 19)), "bmp"))
          }.toDF("id", "payload"))
      },
      Some("""WITH ids AS (SELECT doc_id AS id FROM documents
               WHERE doc_id < 40),
             px AS (SELECT id, gx.x AS x, gy.y AS y
               FROM ids, generate_series(0, 4) AS gx(x),
                    generate_series(0, 2) AS gy(y))
             SELECT id, 'bmp' AS kind, 5 AS w, 3 AS h,
               round(avg((id*31 + x*7 + y*13) % 256), 4) AS mean_r,
               round(avg((id*17 + x*5 + y*3) % 256), 4) AS mean_g,
               round(avg((id*29 + x*11 + y*19) % 256), 4) AS mean_b
             FROM px GROUP BY id""")),

    // multimodal_png [EXT]: REAL PNG round-trip — deterministic 6x4
    // truecolor pixels from a formula, encoded and decoded back through
    // the JDK's PNG codec (chunk framing, DEFLATE, scanline filters),
    // channel means out. The oracle recomputes each mean STRAIGHT FROM
    // THE PIXEL FORMULA in SQL — any framing/inflate/unfilter defect
    // breaks the gate.
    Q("multimodal_png",
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Media
        decodedMeans(s, t(s, d, "documents")
          .filter(col("doc_id") >= 40 && col("doc_id") < 80)
          .select(col("doc_id").as("id")).as[Long]
          .map { id =>
            (id, Media.encodeImage(fixtureImage(6, 4)((x, y) =>
              (id * 37 + x * 11 + y * 5, id * 23 + x * 3 + y * 17,
                id * 41 + x * 13 + y * 7)), "png"))
          }.toDF("id", "payload"))
      },
      Some("""WITH ids AS (SELECT doc_id AS id FROM documents
             WHERE doc_id >= 40 AND doc_id < 80),
             px AS (SELECT id, gx.x AS x, gy.y AS y
               FROM ids, generate_series(0, 5) AS gx(x),
                    generate_series(0, 3) AS gy(y))
             SELECT id, 'png' AS kind, 6 AS w, 4 AS h,
               round(avg((id*37 + x*11 + y*5) % 256), 4) AS mean_r,
               round(avg((id*23 + x*3 + y*17) % 256), 4) AS mean_g,
               round(avg((id*41 + x*13 + y*7) % 256), 4) AS mean_b
             FROM px GROUP BY id""")),

    // multimodal_gif [EXT]: REAL GIF round-trip — deterministic 7x3
    // pixels from a formula, written by the JDK's GIF codec from their
    // exact palette (not interlaced), decoded back (LZW + palette
    // mapping), channel means out. Same formula-oracle gating as the
    // BMP/PNG legs: any palette/LZW/framing defect breaks the gate.
    Q("multimodal_gif",
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Media
        decodedMeans(s, t(s, d, "documents")
          .filter(col("doc_id") >= 80 && col("doc_id") < 120)
          .select(col("doc_id").as("id")).as[Long]
          .map { id =>
            (id, Media.encodeImage(fixtureImage(7, 3)((x, y) =>
              (id * 43 + x * 9 + y * 21, id * 19 + x * 7 + y * 11,
                id * 53 + x * 17 + y * 3)), "gif"))
          }.toDF("id", "payload"))
      },
      Some("""WITH ids AS (SELECT doc_id AS id FROM documents
             WHERE doc_id >= 80 AND doc_id < 120),
             px AS (SELECT id, gx.x AS x, gy.y AS y
               FROM ids, generate_series(0, 6) AS gx(x),
                    generate_series(0, 2) AS gy(y))
             SELECT id, 'gif' AS kind, 7 AS w, 3 AS h,
               round(avg((id*43 + x*9 + y*21) % 256), 4) AS mean_r,
               round(avg((id*19 + x*7 + y*11) % 256), 4) AS mean_g,
               round(avg((id*53 + x*17 + y*3) % 256), 4) AS mean_b
             FROM px GROUP BY id""")),

    // multimodal_jpeg [EXT]: REAL JPEG round-trip. The fixture is
    // gray (r = g = b) with pixels constant per 8x8 block, written at
    // quality 1.0: the one regime where lossy JPEG is exact (DC-only
    // blocks, unit quantizers, zero chroma), so the JDK's encode/decode
    // gates against the pixel formula like the lossless BMP/PNG/GIF
    // legs; general content is spec-gated by PSNR.
    Q("multimodal_jpeg",
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Media
        decodedMeans(s, t(s, d, "documents")
          .filter(col("doc_id") >= 120 && col("doc_id") < 160)
          .select(col("doc_id").as("id")).as[Long]
          .map { id =>
            (id, Media.encodeImage(fixtureImage(16, 16) { (x, y) =>
              val v = id * 47 + (x / 8) * 31 + (y / 8) * 13
              (v, v, v)
            }, "jpeg"))
          }.toDF("id", "payload"))
          .select(col("id"), col("kind"), col("w"), col("h"),
            col("mean_r").as("mean_lum"))
      },
      Some("""WITH ids AS (SELECT doc_id AS id FROM documents
             WHERE doc_id >= 120 AND doc_id < 160),
             blk AS (SELECT id, gx.bx AS bx, gy.by AS by
               FROM ids, generate_series(0, 1) AS gx(bx),
                    generate_series(0, 1) AS gy(by))
             SELECT id, 'jpeg' AS kind, 16 AS w, 16 AS h,
               round(avg((id*47 + bx*31 + by*13) % 256), 4) AS mean_lum
             FROM blk GROUP BY id""")),

    // multimodal_meta [EXT]: opaque-binary column plumbing — bytes are
    // first-class (byte length + header hex of the payload); the
    // decode/feature-extract stage lives in graft.multimodal (stubbed,
    // Spark plumbing real).
    Q("multimodal_meta",
      (s, d) => t(s, d, "documents").select(col("doc_id"),
        length(to_binary(col("text"), lit("utf-8"))).as("byte_len"),
        lower(hex(to_binary(substring(col("text"), 1, 4), lit("utf-8"))))
          .as("header_hex")),
      Some("""SELECT doc_id, octet_length(encode(text)) AS byte_len,
             lower(hex(encode(substring(text, 1, 4)))) AS header_hex
             FROM documents""")),

    // multimodal_thumb [EXT]: decode → REAL box resample — the
    // thumbnail step on decoded pixels (replacing the byte-stub resize
    // for the decoded path): 5x3 formula BMPs decode and downscale to
    // 2x2 with UNEVEN integer box boundaries (5 and 3 are not
    // divisible by 2 — both split paths exercised). The oracle
    // recomputes every cell straight from the pixel formula with the
    // same x*ow//w assignment and integer-mean arithmetic.
    Q("multimodal_thumb",
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{Media, Multimodal}
        t(s, d, "documents").filter(col("doc_id") < 40)
          .select(col("doc_id").as("id")).as[Long]
          .map { id =>
            (id, Media.encodeImage(fixtureImage(5, 3)((x, y) =>
              (id * 31 + x * 7 + y * 13, id * 17 + x * 5 + y * 3,
                id * 29 + x * 11 + y * 19)), "bmp"))
          }
          .mapPartitions(_.flatMap { case (id, bytes) =>
            val img = Media.decodeImage("bmp", bytes)
            val t = Multimodal.boxResize(img.width, img.height, img.rgb, 2, 2)
            for (oy <- 0 until 2; ox <- 0 until 2) yield {
              val i = (oy * 2 + ox) * 3
              (id, oy, ox, (t(i) & 0xff).toLong, (t(i + 1) & 0xff).toLong,
                (t(i + 2) & 0xff).toLong)
            }
          })
          .toDF("id", "oy", "ox", "r", "g", "b")
      },
      Some("""WITH ids AS (SELECT doc_id AS id FROM documents
             |  WHERE doc_id < 40),
             |px AS (SELECT id, gx.x AS x, gy.y AS y
             |  FROM ids, generate_series(0, 4) AS gx(x),
             |       generate_series(0, 2) AS gy(y)),
             |m AS (SELECT id, (y * 2) // 3 AS oy, (x * 2) // 5 AS ox,
             |    (id*31 + x*7 + y*13) % 256 AS r,
             |    (id*17 + x*5 + y*3) % 256 AS g,
             |    (id*29 + x*11 + y*19) % 256 AS b
             |  FROM px)
             |SELECT id, oy::INT AS oy, ox::INT AS ox,
             |  (sum(r) // count(*))::BIGINT AS r,
             |  (sum(g) // count(*))::BIGINT AS g,
             |  (sum(b) // count(*))::BIGINT AS b
             |FROM m GROUP BY id, oy, ox""".stripMargin)),

    // multimodal_phash [EXT, new r7]: IMAGE near-duplicate detection —
    // dHash perceptual fingerprints over decoded BMPs, paired by
    // exact-hash bucket join (the image analog of MinHash banding:
    // candidates come from hash buckets, never an all-pairs product).
    // Fixture: 9×8 formula BMPs where every id % 4 == 3 re-encodes the
    // image of id−3 — the planted duplicates every bucket join must
    // find. The oracle replays decode → grayscale → neighbor-gradient
    // bits → row-byte hex straight from the pixel formula; dHash's
    // brightness-shift invariance is spec-gated (MultimodalSpec).
    // multimodal_audio [EXT, new r8]: frame-level audio features —
    // per-16-sample-frame RMS energy and zero-crossing counts, the
    // first stage of every speech/audio curation pipeline (silence
    // trimming, music-vs-speech screens). The signal path is REAL:
    // synthetic PCM (deterministic per doc_id) encodes to WAV and
    // decodes back through the JDK's AudioSystem on the executors
    // (partition-parallel, the multimodal plumbing contract), then the
    // exploded samples take ONE id-keyed exchange serving both the lag
    // window (crossings) and the frame aggregate. Cross-engine
    // exactness: sum-of-squares is LONG arithmetic, /16.0 and sqrt are
    // single correctly-rounded IEEE ops (sqrt exactness is guaranteed
    // by 754, unlike ln/exp), crossings are integer sign products —
    // the oracle replays the generator formula, never touching the
    // codec, so encode→decode is what the gate actually checks.
    Q("multimodal_audio",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        import graft.multimodal.Media
        val pcmRows = t(s, d, "documents").select(col("doc_id")).as[Long]
          .flatMap { id =>
            val samples = Array.tabulate(64) { i =>
              (((id * 31 + i * 7) % 4096 - 2048) * 16).toShort
            }
            val decoded =
              Media.decodeWav(Media.encodeWav(Media.Pcm(8000, 1, samples)))
            decoded.samples.iterator.zipWithIndex
              .map { case (smp, idx) => (id, idx, smp.toLong) }
          }
          .toDF("id", "idx", "smp")
        val w = Window.partitionBy("id").orderBy("idx")
        pcmRows
          .withColumn("prev", lag(col("smp"), 1).over(w))
          .withColumn("frame", (col("idx") / 16).cast("int"))
          .groupBy("id", "frame")
          .agg(count(lit(1)).as("n"),
            round(sqrt(sum(col("smp") * col("smp")).cast("double") /
              lit(16.0)), 4).as("rms"),
            sum(when(col("idx") % 16 =!= 0 &&
              col("smp") * col("prev") < 0, 1L).otherwise(0L)).as("zcr"))
      },
      Some("""WITH s AS (SELECT doc_id AS id, g.i AS idx,
             |    ((((doc_id * 31 + g.i * 7) % 4096) - 2048) * 16)::BIGINT
             |      AS smp
             |  FROM documents, generate_series(0, 63) AS g(i)),
             |l AS (SELECT id, idx, smp, (idx // 16)::INT AS frame,
             |    lag(smp) OVER (PARTITION BY id ORDER BY idx) AS prev
             |  FROM s)
             |SELECT id, frame, count(*)::BIGINT AS n,
             |  round(sqrt(sum(smp * smp) / 16.0), 4) AS rms,
             |  sum(CASE WHEN idx % 16 != 0 AND smp * prev < 0
             |    THEN 1 ELSE 0 END)::BIGINT AS zcr
             |FROM l GROUP BY id, frame""".stripMargin)),

    Q("multimodal_phash",
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{Media, Multimodal}
        val hashes = t(s, d, "documents")
          .filter(col("doc_id") >= 160 && col("doc_id") < 200)
          .select(col("doc_id").as("id")).as[Long]
          .map { id =>
            val gid = if (id % 4 == 3) id - 3 else id
            (id, Media.encodeImage(fixtureImage(9, 8)((x, y) =>
              (gid * 31 + x * 7 + y * 13, gid * 17 + x * 5 + y * 3,
                gid * 29 + x * 11 + y * 19)), "bmp"))
          }
          .map { case (id, bytes) =>
            val img = Media.decodeImage("bmp", bytes)
            (id, Multimodal.dhash(img.width, img.height, img.rgb))
          }.toDF("id", "phash")
        hashes.as("x")
          .join(hashes.as("y"),
            col("x.phash") === col("y.phash") && col("x.id") < col("y.id"))
          .select(col("x.id").as("a"), col("y.id").as("b"),
            col("x.phash").as("phash"))
      },
      Some("""WITH ids AS (SELECT doc_id AS id FROM documents
             |  WHERE doc_id >= 160 AND doc_id < 200),
             |base AS (SELECT id,
             |    CASE WHEN id % 4 = 3 THEN id - 3 ELSE id END AS gid
             |  FROM ids),
             |px AS (SELECT id, gid, gx.x AS x, gy.y AS y
             |  FROM base, generate_series(0, 8) AS gx(x),
             |       generate_series(0, 7) AS gy(y)),
             |g AS (SELECT id, x, y,
             |    (((gid*31 + x*7 + y*13) % 256) +
             |     ((gid*17 + x*5 + y*3) % 256) +
             |     ((gid*29 + x*11 + y*19) % 256)) // 3 AS gray
             |  FROM px),
             |bits AS (SELECT a.id, a.y,
             |    sum(CASE WHEN b.gray > a.gray THEN 1 << a.x
             |      ELSE 0 END)::INT AS rowbyte
             |  FROM g a JOIN g b
             |    ON a.id = b.id AND a.y = b.y AND b.x = a.x + 1
             |  WHERE a.x < 8 GROUP BY a.id, a.y),
             |h AS (SELECT id, string_agg(lpad(lower(hex(rowbyte)), 2, '0'),
             |    '' ORDER BY y) AS phash
             |  FROM bits GROUP BY id)
             |SELECT h1.id AS a, h2.id AS b, h1.phash
             |FROM h h1 JOIN h h2
             |  ON h1.phash = h2.phash AND h1.id < h2.id""".stripMargin)),

    // multimodal_neardup [EXT, new r7]: NEAR-miss image duplicates —
    // banded dHash pairing at hamming ≤ 3: the 8 row-bytes are 8 LSH
    // bands (pigeonhole: hamming ≤ 7 guarantees ≥ 1 identical band),
    // candidates join per (band, byte) bucket, exact hamming verifies.
    // Fixture plants single-pixel-perturbed re-encodes (center pixel
    // forced white → ≤ 2 gradient bits flip) that exact-hash pairing
    // (multimodal_phash) cannot find. A common row-byte (e.g. 0x00)
    // is the standard LSH mega-bucket: at corpus scale it gets the
    // same sub-bucket salting Dedup applies; at gate scale the bucket
    // join is exact and tiny. Oracle replays bits, bands, and
    // bit_count(xor) verification from the pixel formula.
    Q("multimodal_neardup",
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{Media, Multimodal}
        val hashes = t(s, d, "documents")
          .filter(col("doc_id") >= 200 && col("doc_id") < 240)
          .select(col("doc_id").as("id")).as[Long]
          .map { id =>
            val gid = if (id % 4 == 3) id - 3 else id
            // the re-encode of id - 3 has its (4, 3) pixel forced white
            val img = fixtureImage(9, 8)((x, y) =>
              if (id % 4 == 3 && x == 4 && y == 3) (255L, 255L, 255L)
              else (gid * 31 + x * 7 + y * 13, gid * 17 + x * 5 + y * 3,
                gid * 29 + x * 11 + y * 19))
            (id, Media.encodeImage(img, "bmp"))
          }
          .map { case (id, bytes) =>
            val img = Media.decodeImage("bmp", bytes)
            val hex = Multimodal.dhash(img.width, img.height, img.rgb)
            val rb = Array.tabulate(8)(y =>
              Integer.parseInt(hex.substring(2 * y, 2 * y + 2), 16))
            (id, rb)
          }.toDF("id", "rb")
        val bands = hashes.select(col("id"), col("rb"),
          posexplode(col("rb")).as(Seq("band", "bv")))
        val cand = bands.as("x")
          .join(bands.as("y"),
            col("x.band") === col("y.band") &&
              col("x.bv") === col("y.bv") && col("x.id") < col("y.id"))
          .select(col("x.id").as("a"), col("y.id").as("b"),
            col("x.rb").as("ra"), col("y.rb").as("rb2"))
          .distinct()
        cand
          .withColumn("hamming",
            aggregate(zip_with(col("ra"), col("rb2"),
                (p, q) => bit_count(p.bitwiseXOR(q)).cast("long")),
              lit(0L), (acc, e) => acc + e))
          .filter(col("hamming") <= 3)
          .select(col("a"), col("b"), col("hamming"))
      },
      Some("""WITH ids AS (SELECT doc_id AS id FROM documents
             |  WHERE doc_id >= 200 AND doc_id < 240),
             |base AS (SELECT id,
             |    CASE WHEN id % 4 = 3 THEN id - 3 ELSE id END AS gid
             |  FROM ids),
             |px AS (SELECT id, gid, gx.x AS x, gy.y AS y
             |  FROM base, generate_series(0, 8) AS gx(x),
             |       generate_series(0, 7) AS gy(y)),
             |g AS (SELECT id, x, y,
             |    CASE WHEN id % 4 = 3 AND x = 4 AND y = 3 THEN 255
             |    ELSE (((gid*31 + x*7 + y*13) % 256) +
             |      ((gid*17 + x*5 + y*3) % 256) +
             |      ((gid*29 + x*11 + y*19) % 256)) // 3 END AS gray
             |  FROM px),
             |bits AS (SELECT a.id, a.y,
             |    sum(CASE WHEN b.gray > a.gray THEN 1 << a.x
             |      ELSE 0 END)::INT AS rowbyte
             |  FROM g a JOIN g b
             |    ON a.id = b.id AND a.y = b.y AND b.x = a.x + 1
             |  WHERE a.x < 8 GROUP BY a.id, a.y),
             |cand AS (SELECT DISTINCT b1.id AS a, b2.id AS b
             |  FROM bits b1 JOIN bits b2
             |    ON b1.y = b2.y AND b1.rowbyte = b2.rowbyte
             |      AND b1.id < b2.id),
             |hm AS (SELECT cand.a, cand.b,
             |    sum(bit_count(xor(x.rowbyte::BIGINT, y.rowbyte::BIGINT)))
             |      ::BIGINT AS hamming
             |  FROM cand JOIN bits x ON x.id = cand.a
             |    JOIN bits y ON y.id = cand.b AND y.y = x.y
             |  GROUP BY 1, 2)
             |SELECT a, b, hamming FROM hm
             |WHERE hamming <= 3""".stripMargin)),

    // multimodal_features [EXT]: partition-parallel decode/feature-extract
    // over opaque binary payloads. The RIFF/WAVE branch is REAL — the
    // JDK's WAV reader (through multimodal.Media) decodes planted
    // WAV files generated from a sample formula, and the oracle
    // recomputes the amplitude-histogram feature STRAIGHT FROM THAT
    // FORMULA in SQL (the audio analog of multimodal_decode's BMP
    // pixel-formula oracle). The PNG/JPEG/GIF rows here are DELIBERATELY
    // UNDECODABLE (a codec magic prefixing raw UTF-8 text — 0xFF never
    // occurs in UTF-8, a PNG/GIF body never inflates/LZW-decodes), so
    // what this query gates is the per-ROW degradation path: real
    // decoders throw, the row falls to the byte-histogram stub, and the
    // oracle replays the stub independently (header-constant nibble-0
    // counts + the control-char count of the raw text — every payload
    // byte < 0x10 is a single-byte UTF-8 char), with the stub's FLOAT
    // division replayed via DuckDB REAL division (bit-exact; verified
    // by probe). The REAL decode paths for all five formats are gated by
    // multimodal_decode/_png/_gif/_jpeg and the WAV branch here.
    Q("multimodal_features",
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{Media, Multimodal}
        import graft.multimodal.Multimodal.{GifHeader, JpegHeader, PngHeader}
        // r15 null contract: a doc with no text has no media payload
        // in this synthetic fixture — skipped on both engines
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
          .filter(col("text").isNotNull)
          .as[(Long, String)]
          .map { case (id, text) =>
            val payload: Array[Byte] =
              if (id % 5 == 2)
                Media.encodeWav(Media.Pcm(8000, 1, Array.tabulate(64) { i =>
                  (((id * 31 + i * 7) % 4096 - 2048) * 16).toShort
                }))
              else {
                val hdr = (id % 5) match {
                  case 0 => PngHeader
                  case 1 => JpegHeader
                  case 3 => GifHeader
                  case _ => Array.empty[Byte]
                }
                hdr ++ text.getBytes("UTF-8")
              }
            (id, payload)
          }.toDF("id", "payload")
        Multimodal.extractFeatures(s, docs)
          .toDF()
          .select(col("id"), col("kind"), col("n_bytes"),
            round(element_at(col("feature"), 1).cast("double"), 4).as("f0"))
      },
      Some("""WITH base AS (SELECT doc_id AS id, text FROM documents
               WHERE text IS NOT NULL),
             wav AS (SELECT id, 'wav' AS kind, CAST(172 AS BIGINT) AS n_bytes,
               round(avg(CASE WHEN (id*31 + g.i*7) % 4096 < 256
                 THEN 1.0 ELSE 0.0 END), 4) AS f0
               FROM base, generate_series(0, 63) AS g(i)
               WHERE id % 5 = 2 GROUP BY id),
             stub AS (SELECT id,
               CASE WHEN id % 5 = 0 THEN 'png'
                    WHEN id % 5 = 1 THEN 'jpeg'
                    WHEN id % 5 = 3 THEN 'gif'
                    WHEN substring(text, 1, 4) = 'RIFF' THEN 'riff'
                    WHEN substring(text, 1, 4) = 'GIF8' THEN 'gif'
                    WHEN substring(text, 1, 2) = 'BM' THEN 'bmp'
                    ELSE 'unknown' END AS kind,
               CAST(hlen + octet_length(encode(text)) AS BIGINT) AS n_bytes,
               round(CAST(CAST(h0 + length(text)
                   - length(regexp_replace(text, '[\x00-\x0f]', '', 'g')) AS REAL)
                 / CAST(greatest(hlen + octet_length(encode(text)), 1) AS REAL)
                 AS DOUBLE), 4) AS f0
               FROM (SELECT id, text,
                   CASE id % 5 WHEN 0 THEN 8 WHEN 1 THEN 11
                     WHEN 3 THEN 6 ELSE 0 END AS hlen,
                   CASE id % 5 WHEN 0 THEN 3 WHEN 1 THEN 2
                     ELSE 0 END AS h0
                 FROM base WHERE id % 5 != 2) s)
             SELECT * FROM wav UNION ALL SELECT * FROM stub""")),

    // multimodal_hist [EXT, new r8]: luminance histogram over REAL
    // BMP encode→decode on the executors — the exposure/contrast
    // screen of an image-curation pipeline (all-dark / blown-out
    // frames drop before training). Deterministic doc_id-derived 8×4
    // pixel ramps (the multimodal convention: the oracle replays the
    // GENERATOR formula and never touches the codec, so the
    // encode→decode round-trip is what the gate checks). Luminance and
    // bucketing are INTEGER ops end-to-end ((r+g+b) div 3, div 64) —
    // nothing to drift. Partition-parallel decode, output bounded at
    // images × 4 buckets.
    Q("multimodal_hist",
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Media
        t(s, d, "documents")
          .filter(col("doc_id") >= 80 && col("doc_id") < 120)
          .select(col("doc_id").as("id")).as[Long]
          .map { id =>
            (id, Media.encodeImage(fixtureImage(8, 4)((x, y) =>
              (id * 19 + x * 7 + y * 3, id * 29 + x * 5 + y * 13,
                id * 31 + x * 17 + y * 11)), "bmp"))
          }
          .flatMap { case (id, bytes) =>
            val img = Media.decodeImage("bmp", bytes)
            val buckets = new Array[Long](4)
            for (i <- 0 until img.width * img.height)
              buckets(((img.rgb(3 * i) & 0xff) + (img.rgb(3 * i + 1) & 0xff) +
                (img.rgb(3 * i + 2) & 0xff)) / 3 / 64) += 1
            buckets.zipWithIndex.collect {
              case (cnt, b) if cnt > 0 => (id, b.toLong, cnt)
            }
          }
          .toDF("id", "bucket", "n")
      },
      Some("""WITH ids AS (SELECT doc_id AS id FROM documents
             |  WHERE doc_id >= 80 AND doc_id < 120),
             |px AS (SELECT id, x.x AS x, y.y AS y
             |  FROM ids, generate_series(0, 7) x(x),
             |       generate_series(0, 3) y(y)),
             |c AS (SELECT id,
             |    (((id * 19 + x * 7 + y * 3) % 256)
             |     + ((id * 29 + x * 5 + y * 13) % 256)
             |     + ((id * 31 + x * 17 + y * 11) % 256)) // 3 AS lum
             |  FROM px)
             |SELECT id, (lum // 64)::BIGINT AS bucket,
             |  count(*)::BIGINT AS n
             |FROM c GROUP BY 1, 2""".stripMargin)),

    // text_code [EXT, new r8]: code-vs-prose detection — the
    // pretraining router that decides whether a document belongs in
    // the code or natural-language bucket (mixing them untagged hurts
    // both). Signals are structural-character and keyword densities
    // (builtin regexp counts, integers end-to-end; the verdict is an
    // integer cross-multiplication so no ratio float exists to drift).
    // The synthetic corpus is pure word-salad, so every 64th doc gets
    // a deterministic code snippet appended (planted convention) —
    // output = flagged docs only, non-vacuous at every SF and empty
    // would mean the detector broke.
    Q("text_code",
      (s, d) => {
        val snippet = " def f(x) = { val y = x * 2; return y; }"
        val aug = when(col("doc_id") % 64 === 0,
          concat(col("text"),
            repeat(lit(snippet), (col("doc_id") % 3 + 1).cast("int"))))
          .otherwise(col("text"))
        def nPat(c: org.apache.spark.sql.Column, pat: String) =
          size(regexp_extract_all(c, lit(pat), lit(0))).cast("long")
        t(s, d, "documents")
          .select(col("doc_id"), aug.as("tx"))
          .select(col("doc_id"),
            nPat(col("tx"), "[{}();=]").as("n_struct"),
            nPat(col("tx"),
              "\\b(def|val|var|return|if|else|for|while|import)\\b")
              .as("n_kw"),
            nPat(col("tx"), "\\S+").as("n_tok"))
          .withColumn("is_code",
            (col("n_struct") + col("n_kw")) * 10 >= col("n_tok"))
          .filter(col("is_code"))
      },
      Some("""WITH aug AS (SELECT doc_id,
             |    CASE WHEN doc_id % 64 = 0 THEN text ||
             |      repeat(' def f(x) = { val y = x * 2; return y; }',
             |        (doc_id % 3 + 1)::INT)
             |      ELSE text END AS tx
             |  FROM documents),
             |sig AS (SELECT doc_id,
             |    len(regexp_extract_all(tx, '[{}();=]'))::BIGINT
             |      AS n_struct,
             |    len(regexp_extract_all(tx,
             |      '\b(def|val|var|return|if|else|for|while|import)\b'))
             |      ::BIGINT AS n_kw,
             |    len(regexp_extract_all(tx, '\S+'))::BIGINT AS n_tok
             |  FROM aug)
             |SELECT doc_id, n_struct, n_kw, n_tok,
             |  (n_struct + n_kw) * 10 >= n_tok AS is_code
             |FROM sig WHERE (n_struct + n_kw) * 10 >= n_tok""".stripMargin)),

    // text_pii [EXT, new r8]: PII detection over the corpus — the
    // pre-training scrub/compliance pass (emails, NANP phones, IPv4s
    // with octet-range validation, payment-card candidates with a full
    // Luhn mod-10 check separating real PANs from look-alike digit
    // runs). The synthetic corpus is PII-free, so every 40th doc is
    // augmented with deterministic doc_id-derived PII (the planted-docs
    // convention — an empty detector proves nothing); every 80th also
    // carries an out-of-range IP and a Luhn-INVALID card so both
    // validators are load-bearing, not decorative. All detection is
    // builtin regexp_extract_all + array HOFs over each doc
    // independently — narrow, partition-parallel, no exchange until
    // the final filter; the Luhn fold runs per candidate (≤ a few per
    // doc), not per corpus. The oracle re-derives the augmentation AND
    // re-runs Luhn/octet validation through DuckDB list lambdas —
    // integer arithmetic end-to-end, nothing to drift.
    Q("text_pii",
      (s, d) => {
        val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phonePat = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
        val ipPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        val cardPat = "\\b\\d{13,19}\\b"
        def nMatches(c: org.apache.spark.sql.Column, pat: String) =
          size(regexp_extract_all(c, lit(pat), lit(0))).cast("long")
        val blob = concat(lit(" contact user"), col("doc_id"),
          lit("@example.com ph 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" ip 10."), (col("doc_id") % 256).cast("string"), lit("."),
          (expr("doc_id div 256") % 256).cast("string"), lit(".7"),
          when(col("doc_id") % 80 === 0,
            lit(" 999.1.2.3 card 4111111111111112"))
            .otherwise(lit(" card 4111111111111111")))
        t(s, d, "documents")
          .select(col("doc_id"),
            when(col("doc_id") % 40 === 0, concat(col("text"), blob))
              .otherwise(col("text")).as("tx"))
          .select(col("doc_id"),
            nMatches(col("tx"), emailPat).as("n_email"),
            nMatches(col("tx"), phonePat).as("n_phone"),
            size(filter(regexp_extract_all(col("tx"), lit(ipPat), lit(0)),
              c => forall(split(c, "\\."), o => o.cast("int") <= 255)))
              .cast("long").as("n_ipv4"),
            nMatches(col("tx"), cardPat).as("n_card"),
            size(filter(regexp_extract_all(col("tx"), lit(cardPat),
              lit(0)), c => graft.functions.TextFns.luhnValid(c)))
              .cast("long").as("n_card_luhn"))
          .filter(col("n_email") + col("n_phone") + col("n_ipv4") +
            col("n_card") > 0)
      },
      Some("""WITH aug AS (SELECT doc_id,
             |    CASE WHEN doc_id % 40 = 0 THEN text
             |      || ' contact user' || doc_id || '@example.com ph 555-'
             |      || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-'
             |      || lpad((doc_id % 10000)::VARCHAR, 4, '0')
             |      || ' ip 10.' || (doc_id % 256) || '.'
             |      || ((doc_id // 256) % 256) || '.7'
             |      || CASE WHEN doc_id % 80 = 0
             |           THEN ' 999.1.2.3 card 4111111111111112'
             |           ELSE ' card 4111111111111111' END
             |      ELSE text END AS tx
             |  FROM documents),
             |sc AS (SELECT doc_id,
             |    len(regexp_extract_all(tx,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             |      ::BIGINT AS n_email,
             |    len(regexp_extract_all(tx, '\b\d{3}-\d{3}-\d{4}\b'))
             |      ::BIGINT AS n_phone,
             |    len(list_filter(
             |      regexp_extract_all(tx,
             |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'),
             |      c -> list_aggregate(list_transform(string_split(c, '.'),
             |        o -> CAST(o AS INT) <= 255), 'bool_and')))
             |      ::BIGINT AS n_ipv4,
             |    len(regexp_extract_all(tx, '\b\d{13,19}\b'))
             |      ::BIGINT AS n_card,
             |    len(list_filter(regexp_extract_all(tx, '\b\d{13,19}\b'),
             |      c -> list_sum(list_transform(
             |          range(1, length(c) + 1),
             |          i -> CASE WHEN (length(c) - i) % 2 = 1
             |            THEN CASE WHEN 2 * CAST(c[i] AS INT) > 9
             |              THEN 2 * CAST(c[i] AS INT) - 9
             |              ELSE 2 * CAST(c[i] AS INT) END
             |            ELSE CAST(c[i] AS INT) END)) % 10 = 0))
             |      ::BIGINT AS n_card_luhn
             |  FROM aug)
             |SELECT * FROM sc
             |WHERE n_email + n_phone + n_ipv4 + n_card > 0""".stripMargin)),
  )
}
