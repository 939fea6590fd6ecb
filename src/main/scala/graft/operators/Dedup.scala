package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import graft.expressions.{BandHashes, MinHashSig, ShingleHashes, SigAgreement, SimHash64, SortedJaccard}

/** Deduplication operators for training-data pipelines (SURVEY.md §2 [EXT],
  * BASELINE.json north-star): exact, MinHash+LSH, SimHash, and exact n-gram
  * Jaccard verification.
  *
  * Scale design (the 100 TB contract):
  *  - sketches (MinHash signatures, SimHash longs, band keys) are computed
  *    once per row by native codegen'd expressions (graft.expressions) —
  *    a narrow projection, no shuffle;
  *  - candidate generation shuffles ONLY (band, bucket, id) — a few longs
  *    per document per band, never text, signatures, or vectors;
  *  - candidate pairs are deduplicated as bare (id_a, id_b) keys BEFORE any
  *    similarity math, so each surviving pair is scored exactly once;
  *  - signatures are joined back by id for scoring — at k=64 that is 512 B
  *    per matched document, broadcast/AQE-eligible;
  *  - mega-buckets (degenerate keys that would explode quadratically) are
  *    split into deterministic hash sub-buckets of at most `maxBucketSize`
  *    members, bounding per-task self-join work by cap² without the
  *    recall cliff of dropping whole buckets.
  */
object Dedup {

  /** Normalized word tokens: lowercase, strip non-alphanumerics, split.
    * Normalization is the one-pass native scan (TextFns.normalizedBytes);
    * the split on the collapsed single spaces is linear.
    */
  def normTokens(text: Column): Column =
    split(graft.functions.TextFns.normalizedBytes(text).cast("string"), " ")

  /** Distinct 31-bit hashes of word n-gram shingles — the MinHash input
    * set, computed in one native pass from the token array. `bits`
    * widens the hash for callers whose oracle is exact strings
    * (text_novelty; 63-bit is collision-free at any realistic per-doc
    * distinct count, where 31-bit books ~n²/2^32 collisions — ~230 on
    * the fat corpus giant). MinHash consumers MUST stay at the 31-bit
    * default: `MinHashSig`'s universal hash (a·x + b) mod p only fits
    * a long for x < 2^31.
    */
  def shingleHashes(text: Column, n: Int = 3, bits: Int = 31): Column =
    Shim.column(ShingleHashes(Shim.expression(normTokens(text)), n, bits))

  /** MinHash signature: k minima of universal hashes over the shingle
    * set. One k·S primitive loop per row, no shuffle.
    */
  def minhashSignature(text: Column, k: Int = 64, n: Int = 3,
                       seed: Long = 42L): Column =
    Shim.column(MinHashSig(Shim.expression(shingleHashes(text, n)), k, seed))

  /** MinHash signature from an ALREADY-COMPUTED shingle-hash array —
    * lets a pipeline that also needs the exact sets (candidate → verify)
    * tokenize/shingle the text ONCE and derive the sketch from the
    * staged sets instead of re-scanning the text.
    */
  def minhashSignatureOfSets(sets: Column, k: Int = 64,
                             seed: Long = 42L): Column =
    Shim.column(MinHashSig(Shim.expression(sets), k, seed))

  /** Estimated Jaccard similarity from two equal-length signatures. */
  def sigSimilarity(sigA: Column, sigB: Column): Column =
    Shim.column(SigAgreement(Shim.expression(sigA), Shim.expression(sigB)))

  /** 64-bit SimHash of the normalized token multiset. */
  def simhash64(text: Column): Column =
    Shim.column(SimHash64(Shim.expression(normTokens(text))))

  /** MinHash+LSH near-duplicate candidate pairs.
    *
    * Banding: k = bands * rowsPerBand; a pair is a candidate iff one band
    * of their signatures matches exactly.
    *
    * @return (id_a, id_b, est_jaccard) with id_a < id_b,
    *         est_jaccard >= threshold.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   bands: Int = 16, rowsPerBand: Int = 4, n: Int = 3,
                   threshold: Double = 0.5, seed: Long = 42L,
                   maxBucketSize: Int = 1000): DataFrame = {
    val k = bands * rowsPerBand
    // The signature frame feeds three plan branches (banding + two
    // score join-backs); without materialization each branch re-reads
    // and re-hashes the full corpus. A parquet stage checkpoint
    // (Stage.materialize) collapses that to one pass without leaking
    // cached blocks into the caller's session — the production shape
    // at 100 TB (checkpoint signatures, not text).
    val sigs = Stage.materialize(df.select(
      col(idCol).as("id"),
      minhashSignature(col(textCol), k, n, seed).as("sig")), "minhash_sigs")
    selfPairs(sigs, "sig", col("sig"), bands, rowsPerBand, maxBucketSize,
      "est_jaccard", threshold)(sigSimilarity)
  }

  /** Exact-clone collapse: (membership, reps) where `membership` =
    * (id, rep) with rep = min id over identical-text rows and `reps` =
    * one (rep, text) row per distinct text. Both frames are staged:
    * membership is a narrow two-long frame feeding several branches;
    * reps bounds every downstream sketch/band/join by text DIVERSITY,
    * not corpus size.
    *
    * Shuffle keying: grouping and the membership join key on the
    * 256-bit content hash `unhex(sha2(text, 256))` — 32 bytes — not on
    * the raw text, so the corpus's heaviest column does not cross both
    * exchanges. Text crosses the wire once, inside the partially
    * aggregated groupBy (one row per hash key per map task — bounded by
    * per-mapper diversity, never corpus rows), and the membership join
    * carries nothing but (hkey, id). Equality semantics are
    * hash-equality. The hash is SHA-256 rather than md5: an untrusted
    * web corpus can contain chosen-prefix md5 collisions (two distinct
    * documents built to share a digest would silently merge into one
    * clone group, which the random-collision argument does not cover),
    * while no SHA-256 collision is publicly known. A fixed-width
    * 32-byte key still beats megabyte texts on the wire by orders of
    * magnitude.
    *
    * NULL texts: SQL equality never equates NULLs, so null-text rows
    * are NOT clones of each other — each is its own singleton (id, id)
    * membership row, excluded from `reps` (a null sketch can never
    * pair). Membership so keeps the "(id, cluster) for EVERY input
    * document" contract downstream.
    */
  def textGroups(df: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    val norm = df.select(col(idCol).as("id"), col(textCol).as("text"))
    // both staged sides consume the hashed frame; persist it across
    // the two materializes so the corpus text is scanned and SHA-256'd
    // once, not once per side (operator-owned lifecycle: persist →
    // materialize both → unpersist)
    val nn = norm.filter(col("text").isNotNull)
      .withColumn("hkey", unhex(sha2(col("text"), 256)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val reps = Stage.materialize(
        nn.groupBy("hkey").agg(min("id").as("rep"),
          first(col("text")).as("text")), "text_reps")
      val membership = Stage.materialize(
        nn.select("id", "hkey")
          .join(reps.select("hkey", "rep"), Seq("hkey")).select("id", "rep")
          .unionByName(norm.filter(col("text").isNull)
            .select(col("id"), col("id").as("rep"))),
        "text_membership")
      (membership, reps.select(col("rep"), col("text")))
    } finally { val _ = nn.unpersist(blocking = false) }
  }

  /** `minhashPairs` with clone-collapsed candidate generation: sketch
    * and band one REPRESENTATIVE per distinct text, then expand back to
    * document pairs only at the output boundary. Same result set as
    * the doc-level path (signatures are functions of the text, so every
    * member of a clone group carries its rep's signature verbatim —
    * intra-group pairs agree on all k minima, est exactly 1.0) WHILE
    * no band-bucket exceeds `maxBucketSize`: past the cap the doc-level
    * path's salt probabilistically drops intra-clone and cross pairs
    * that this path (correctly) keeps, so beyond the cap the collapsed
    * path strictly improves recall toward the lossless oracle rather
    * than matching the doc-level output bit-for-bit. Cost-wise,
    * LSH work scales with text diversity while the quadratic clone-pair
    * blow-up is confined to output-bounded equi-join expansions — the
    * 100× bench measured the doc-level path's banded self-join paying
    * ~25M candidate rows per clone decade.
    */
  def minhashPairsDistinct(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 16, rowsPerBand: Int = 4, n: Int = 3,
      threshold: Double = 0.5, seed: Long = 42L,
      maxBucketSize: Int = 1000): DataFrame = {
    val (membership, reps) = textGroups(df, idCol, textCol)
    val repPairs = minhashPairs(reps, "rep", "text", bands, rowsPerBand,
      n, threshold, seed, maxBucketSize)
    // identical signatures agree on every band and every minimum — est
    // is exactly 1.0 and recall is certain, so the intra-group pairs
    // enumerate directly (output-inherent quadratic, no banding pass)
    expandClones(repPairs, membership, "est_jaccard")(
      _.select(col("id").as("id_a"), col("id2").as("id_b"),
        lit(1.0).as("est_jaccard"))
        .filter(lit(1.0) >= lit(threshold)))
  }

  /** Near-dup component labels over the MinHash pair graph, clone-
    * collapsed: CC runs on the rep-pair graph only, and every document
    * takes its rep's label — the same components as doc-level pairs
    * (every clone group is connected through its rep; groups connect
    * through rep pairs) without materializing doc-level pairs, which
    * grow ~mult² per clone group (the 100× bench's cc_edges stage: 91 s
    * of corpus_split_safe's 96 s). Returns (id, cluster) for EVERY
    * input document, cluster = min doc id of the component (singletons
    * map to themselves) — the contract dedup_cluster/corpus_split_safe/
    * dedup_best share.
    */
  def minhashClusters(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 16, rowsPerBand: Int = 4, n: Int = 3,
      threshold: Double = 0.5, seed: Long = 42L,
      maxBucketSize: Int = 1000): DataFrame = {
    val (membership, reps) = textGroups(df, idCol, textCol)
    val repPairs = minhashPairs(reps, "rep", "text", bands, rowsPerBand,
      n, threshold, seed, maxBucketSize).select("id_a", "id_b")
    // No star edge (id → rep) enters CC: rep = min id of its clone group
    // (textGroups), so the component minimum over doc ids equals the
    // component minimum over the member groups' reps, and labeling the
    // rep graph then mapping members through (id, rep) gives the
    // identical (id, cluster) set. CC's input is the pair graph, not a
    // corpus-sized edge list (which would run its canonicalize,
    // distinct, stage write and every large-star/small-star round over
    // the corpus). The member expansion is one equi-join of membership
    // against the pair-bounded rep labels — broadcast under AQE. Reps
    // outside the pair graph keep cluster = rep via the left-join
    // coalesce (their component is exactly their clone group, whose
    // minimum is the rep itself).
    val labels = ConnectedComponents.labels(repPairs, "id_a", "id_b")
    membership
      .join(labels.withColumnRenamed("id", "rep"), Seq("rep"), "left")
      .select(col("id"), coalesce(col("cluster"), col("rep")).as("cluster"))
  }

  /** SimHash near-duplicate pairs: block on 8 8-bit chunks — by pigeonhole
    * any pair with Hamming distance <= 7 shares at least one exact chunk,
    * so recall is guaranteed for maxDist <= 7. The sketch is one long per
    * doc, so it rides along with the (chunk, key) shuffle for free and
    * pairs are Hamming-filtered before the dedup shuffle.
    *
    * Candidate generation runs over DISTINCT signatures, not documents:
    * exact-duplicate clone groups inflate every block quadratically
    * while adding ZERO new signatures (on the 10x replicated-corpus
    * bench the doc-level chunk join measured 308x the 1x time). Chunk-
    * block join work is therefore bounded by signature DIVERSITY — a
    * corpus of a billion docs over a million distinct signatures pays
    * the quadratic blocking cost of a million. Documents re-enter only
    * in two output-bounded expansions:
    *
    *  - same-signature pairs (hamming 0, the exact-duplicate clusters):
    *    a self-join keyed on the signature, grid-covered above
    *    `maxBucketSize` members so a giant clone group spreads its
    *    O(group²) OUTPUT (inherent — every pair must be emitted) over
    *    (n/cap)² tasks instead of one straggler;
    *  - cross-signature pairs: each qualifying (sig_a, sig_b) pair
    *    expands to its member cross product via two signature-keyed
    *    equi-joins — row count is exactly the output size.
    *
    * Unlike the probabilistic MinHash bands (where a salt split re-rolls
    * per band), the pigeonhole guarantee is DETERMINISTIC and the oracle
    * asserts exact all-pairs output — so the oversize-bucket guardrail
    * must not lose cross-sub pairs: oversized blocks use the grid cover
    * ([[gridCover]]), which loses no pair.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 7, maxBucketSize: Int = 1000): DataFrame = {
    val sk = Stage.materialize(
      df.select(col(idCol).as("id"), simhash64(col(textCol)).as("sh")),
      "simhash_sk")
    sketchHammingPairs(sk, maxDist, maxBucketSize)
  }

  /** The [[simhashPairs]] core over a PRECOMPUTED (id, sh) 64-bit
    * sketch frame — exact all-pairs output at Hamming <= maxDist,
    * `maxDist` <= 7 so the 8-byte pigeonhole recall argument holds.
    * Callers must pass a materialized frame (it is scanned by several
    * branches). Shared by [[simhashPairs]] (SimHash of text) and
    * `Similarity.cosineNearDupPairs` (hyperplane sign sketch of an
    * embedding — the deterministic dense-core candidate channel the
    * probabilistic LSH tables cannot provide).
    */
  def sketchHammingPairs(sk: DataFrame, maxDist: Int = 7,
                         maxBucketSize: Int = 1000): DataFrame = {
    require(maxDist <= 7,
      s"8-byte pigeonhole blocking guarantees recall only to 7, got $maxDist")
    // --- same-signature pairs: output-bounded, grid-covered per group.
    // Group sizes come from groupBy + join-back, NOT a window
    // partitioned on the signature: in a dedup workload exact-clone
    // groups ARE the hot keys by construction, and a window would
    // funnel every member of a 10^8-row boilerplate group through one
    // task's sort just to count it. The aggregate computes the same
    // count with map-side partials (each map task contributes ONE row
    // per signature it saw), and the join back is a plain equi-join —
    // AQE's skew-join splitting applies to it, which window semantics
    // forbid. The count side is one row per duplicated signature, so
    // AQE usually broadcasts it.
    val groupSizes = sk.groupBy("sh").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1L)
    val grouped = gridCover(sk.join(groupSizes, Seq("sh")), col("n"),
      maxBucketSize, col("id"))
    val same = grouped
      .select(col("sh"), col("c1"), col("c2"), col("id").as("id_a"),
        col("home").as("home_a"))
      .join(grouped.select(col("sh"), col("c1"), col("c2"),
        col("id").as("id_b"), col("home").as("home_b")),
        Seq("sh", "c1", "c2"))
      .filter(col("id_a") < col("id_b"))
      .filter(canonicalCell)
      .select(col("id_a"), col("id_b"), lit(0).cast("integer").as("hamming"))
    // --- cross-signature candidates over the DISTINCT signature table
    val uniq = sk.select(col("sh")).distinct()
    val chunked = uniq.select(
      col("sh"),
      posexplode(transform(sequence(lit(0), lit(7)),
        i => call_function("shiftrightunsigned", col("sh"), i * 8)
          .bitwiseAND(lit(0xffL)))))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "key")
    // NOTE: unlike the MinHash band buckets, the chunk keyspace is only
    // 256 values wide — at corpus scale EVERY (chunk, key) block is
    // populated and many exceed the cap, so the oversize-only
    // aggregate+broadcast plan ([[oversizeSubs]]) degenerates to a
    // broadcast of most blocks plus a third pass over the chunked
    // stream (measured 0.9 s → 1.5 s at sf0.1). The inline count
    // window stays the right plan here: one exchange over ≤ 2048
    // groups, counts computed in the same pass the join will reuse.
    val capped = gridCover(chunked.withColumn("n",
        count(lit(1)).over(Window.partitionBy("chunk", "key"))),
      col("n"), maxBucketSize, col("sh"), col("chunk")).drop("n")
    val a = capped.select(col("chunk"), col("key"), col("c1"), col("c2"),
      col("sh").as("sh_a"), col("home").as("home_a"))
    val b = capped.select(col("chunk"), col("key"), col("c1"), col("c2"),
      col("sh").as("sh_b"), col("home").as("home_b"))
    // first zero byte of the XOR = first agreeing chunk; a plain CASE
    // chain of shift/mask compares stays inside whole-stage codegen
    // (a transform()/array_position() formulation runs the lambda
    // interpreted per joined row — measured 1.5x slower end-to-end)
    def firstAgreeingChunk(x: Column): Column =
      (0 to 7).foldRight(lit(-1): Column) { (c, rest) =>
        when(call_function("shiftrightunsigned", x, lit(c * 8))
          .bitwiseAND(lit(0xffL)) === 0L, lit(c)).otherwise(rest)
      }
    val sigPairs = a.join(b, Seq("chunk", "key", "c1", "c2"))
      .filter(col("sh_a") < col("sh_b"))
      // each qualifying signature pair is emitted exactly ONCE, so no
      // dedup shuffle is needed afterwards: (1) of the up-to-8 agreeing
      // chunks, only the FIRST emits (both sketches are in-row); (2) of
      // the grid cells both members share, only the canonical one emits
      .filter(col("chunk") ===
        firstAgreeingChunk(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(canonicalCell)
      .select(col("sh_a"), col("sh_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
    // signature groups are disjoint, so each unordered id pair appears
    // in exactly one (sig_a, sig_b) expansion — least/greatest
    // canonicalizes without a dedup shuffle
    val cross = sigPairs
      .join(sk.select(col("sh").as("sh_a"), col("id").as("ia")), "sh_a")
      .join(sk.select(col("sh").as("sh_b"), col("id").as("ib")), "sh_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("hamming"))
    cross.unionByName(same)
  }

  /** Exact n-gram Jaccard for a candidate-pair relation: joins the
    * (hashed, distinct) shingle sets back in and computes |A∩B|/|A∪B|.
    * Hashing shingles to 31-bit longs before the set ops keeps the joined
    * payload compact (8 B per shingle vs. the n-gram string) — exact up
    * to 31-bit hash collisions. Use after `minhashPairs` to verify.
    */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, n: Int = 3): DataFrame = {
    val sets = Stage.materialize(docs.select(col(idCol).as("id"),
      shingleHashes(col(textCol), n).as("sh")), "jaccard_sets")
    scoreSelf(pairs, sets, "sh", "jaccard", None)(sortedJaccard)
  }

  /** Cross-corpus MinHash contamination check — the train/test-overlap
    * detector of an LLM data pipeline: which `right` documents (e.g. an
    * eval benchmark) near-duplicate a `left` document (the training
    * corpus)? Same banding discipline as `minhashPairs`, but the band
    * join runs BETWEEN the two corpora, so cost is governed by shared
    * buckets, not |left|·|right|. Only (band, bucket, id) scalars
    * shuffle; each surviving (left_id, right_id) pair is signature-
    * scored once.
    *
    * Mega-bucket guardrail ([[saltedCrossCandidates]]): a training-side
    * band-bucket larger than `maxBucketSize` (boilerplate-heavy corpora
    * share every band) is split into hash sub-buckets and the (tiny)
    * benchmark side is REPLICATED across them, so unlike the self-join
    * variant the cross path loses NO recall to salting — dropping
    * oversized buckets instead would be a silent recall cliff exactly
    * where contamination is densest.
    *
    * At 100 TB: the benchmark side is typically tiny — its banded frame
    * broadcast-joins against the training side's, making candidate
    * generation a narrow pass over the big corpus.
    */
  def crossMinhashPairs(left: DataFrame, right: DataFrame,
                        idCol: String, textCol: String,
                        bands: Int = 16, rowsPerBand: Int = 4, n: Int = 3,
                        threshold: Double = 0.5, seed: Long = 42L,
                        maxBucketSize: Int = 1000): DataFrame = {
    val k = bands * rowsPerBand
    def sigs(df: DataFrame, side: String) =
      Stage.materialize(df.select(col(idCol).as(s"${side}_id"),
        minhashSignature(col(textCol), k, n, seed).as(s"${side}_sig")),
        s"cross_${side}_sigs")
    crossPairs(sigs(left, "left"), sigs(right, "right"), identity, bands,
      rowsPerBand, maxBucketSize, "est_jaccard", threshold)(sigSimilarity)
  }

  /** A persisted MinHash band index over a corpus: the staged
    * signature table and the staged (band, bucket, id) posting table.
    * This is the INCREMENTAL-ingest shape: at 100 TB the corpus is
    * hashed once when it lands, and every subsequent batch probes (and
    * can be appended to) the posting table — re-sketching the full
    * corpus per arriving batch, as a naive crossMinhashPairs loop
    * would, costs O(|corpus|) per day instead of O(|batch|).
    */
  final case class MinhashIndex(bands: Int, rowsPerBand: Int, n: Int,
                                seed: Long, sigs: DataFrame,
                                banded: DataFrame)

  /** Sketch + band the corpus once and stage both frames (parquet, see
    * [[Stage]]) — the index build pass.
    */
  def buildMinhashIndex(corpus: DataFrame, idCol: String, textCol: String,
                        bands: Int = 16, rowsPerBand: Int = 4, n: Int = 3,
                        seed: Long = 42L): MinhashIndex = {
    val k = bands * rowsPerBand
    val sigs = Stage.materialize(corpus.select(col(idCol).as("corpus_id"),
      minhashSignature(col(textCol), k, n, seed).as("corpus_sig")),
      "mh_index_sigs")
    val banded = Stage.materialize(bandBuckets(sigs, col("corpus_sig"),
      bands, rowsPerBand, col("corpus_id")), "mh_index_bands")
    MinhashIndex(bands, rowsPerBand, n, seed, sigs, banded)
  }

  /** Near-dup pairs between a NEW batch and the indexed corpus. Only
    * the batch is tokenized/sketched here; the corpus contributes its
    * staged postings. Same mega-bucket discipline as the cross path
    * (corpus side salts, small batch side replicates — no recall loss).
    * Output: (corpus_id, batch_id, est_jaccard), est >= threshold.
    */
  def probeMinhashIndex(index: MinhashIndex, batch: DataFrame,
                        idCol: String, textCol: String,
                        threshold: Double = 0.5,
                        maxBucketSize: Int = 1000): DataFrame = {
    val k = index.bands * index.rowsPerBand
    val bSigs = Stage.materialize(batch.select(col(idCol).as("batch_id"),
      minhashSignature(col(textCol), k, index.n, index.seed)
        .as("batch_sig")),
      "mh_probe_sigs")
    crossPairs(index.sigs, bSigs, identity, index.bands, index.rowsPerBand,
        maxBucketSize, "est_jaccard", threshold,
        Some(index.banded.withColumnRenamed("corpus_id", "left_id")))(
        sigSimilarity)
      .withColumnRenamed("left_id", "corpus_id")
      .withColumnRenamed("right_id", "batch_id")
  }

  /** Candidate → exact-verify → threshold near-dup pipeline over one
    * corpus, tokenizing/shingling the text exactly ONCE: the
    * (id, shingle-set) frame is staged, MinHash banding derives from
    * the staged sets in a narrow pass, and the SAME staged sets
    * exact-verify the candidate pairs. No est_jaccard pre-filter — the
    * exact verify IS the filter, so recall vs. the all-pairs truth can
    * only be limited by banding, never by sketch underestimation.
    * Output: (id_a, id_b, jaccard), id_a < id_b,
    * jaccard >= finalThreshold.
    */
  def verifiedPairs(df: DataFrame, idCol: String, textCol: String,
                    bands: Int = 16, rowsPerBand: Int = 4, n: Int = 3,
                    finalThreshold: Double = 0.5, seed: Long = 42L,
                    maxBucketSize: Int = 1000): DataFrame =
    verifiedPairsOfSets(fitShingleSets(df, idCol, textCol, n), bands,
      rowsPerBand, finalThreshold, seed, maxBucketSize)

  /** The staged (id, shingle-hash-set) posting frame [[verifiedPairs]]
    * consumes — ONE tokenize/shingle pass over the corpus, written to a
    * stage file. A session running the verify pipeline repeatedly over
    * the SAME corpus (bench reps, a long-lived service) fits the
    * postings once and replays [[verifiedPairsOfSets]] from the staged
    * scan, instead of paying the corpus scan + hash per call — the
    * NearDupModel/ModelCache discipline applied to the jaccard family.
    */
  def fitShingleSets(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3): DataFrame =
    Stage.materialize(df.select(col(idCol).as("id"),
      shingleHashes(col(textCol), n).as("sh")), "verified_sets")

  /** [[verifiedPairsOfSets]]' clone-collapsed twin — the
    * distinct-text discipline ([[minhashPairsDistinct]]) applied to
    * the EXACT-verify pipeline. The doc-level path measured 150 s
    * steady-state on the 100× bench: with ~100 verbatim clones per
    * text, every band bucket holds whole clone groups, the banded
    * self-join emits ~clone² candidate rows, and the verify join drags
    * both ~1.3 kB shingle arrays across the exchange for every one of
    * the ~25M doc pairs. Collapsed: band + verify once per DISTINCT
    * text over `repSets` (jaccard is a pure function of the two texts),
    * then expand to doc pairs at the output boundary via narrow
    * (rep → id) equi-joins. Intra-group pairs take the rep's
    * SELF-jaccard (SortedJaccard(sh, sh): 1.0 for any non-empty
    * shingle set, 0.0 for the empty set — exactly the value the
    * doc-level path computes for two identical docs, so degenerate
    * texts filter identically). Null-text docs are singleton groups in
    * `membership` and pair with nothing, matching the doc-level path's
    * null-signature behavior.
    *
    * Parity scope: exact pair-set parity with the doc-level path holds
    * while every CLONE GROUP fits `maxBucketSize`. Above it the two
    * paths intentionally diverge — the doc-level path's oversize
    * salting ([[selfCandidates]]) splits same-text clones across
    * sub-buckets and can DROP intra-clone pairs, while the collapsed
    * path emits every intra-group pair regardless of group size
    * (strictly better recall; the group never enters a band bucket, so
    * no salt can split it). DedupSpec pins both regimes: parity at
    * mult=5, and the collapsed path's full C(n,2) intra-pair emission
    * on a clone group > maxBucketSize where the doc-level path
    * under-emits.
    *
    * @param membership (id, rep) from [[textGroups]]
    * @param repSets    (id = rep, sh) from [[fitShingleSets]] over the
    *                   reps frame
    */
  def verifiedPairsDistinct(membership: DataFrame, repSets: DataFrame,
      bands: Int = 16, rowsPerBand: Int = 4,
      finalThreshold: Double = 0.5, seed: Long = 42L,
      maxBucketSize: Int = 1000): DataFrame = {
    val repPairs = verifiedPairsOfSets(repSets, bands, rowsPerBand,
      finalThreshold, seed, maxBucketSize)
    val selfJ = repSets.select(col("id").as("rep"),
        sortedJaccard(col("sh"), col("sh")).as("jaccard"))
      .filter(col("jaccard") >= finalThreshold)
    expandClones(repPairs, membership, "jaccard")(
      _.join(selfJ, Seq("rep"))
        .select(col("id").as("id_a"), col("id2").as("id_b"), col("jaccard")))
  }

  /** [[verifiedPairs]] over an ALREADY-FITTED posting frame from
    * [[fitShingleSets]] (columns (id, sh)).
    */
  def verifiedPairsOfSets(sets: DataFrame,
                          bands: Int = 16, rowsPerBand: Int = 4,
                          finalThreshold: Double = 0.5, seed: Long = 42L,
                          maxBucketSize: Int = 1000): DataFrame =
    selfPairs(sets, "sh",
      minhashSignatureOfSets(col("sh"), bands * rowsPerBand, seed), bands,
      rowsPerBand, maxBucketSize, "jaccard", finalThreshold)(sortedJaccard)

  /** Cross-corpus candidate → exact-verify → threshold contamination
    * pipeline (the verified twin of `crossMinhashPairs`), tokenizing
    * each corpus exactly once. Same mega-bucket discipline: the big
    * (train) side salts, the tiny (bench) side replicates. Output:
    * (left_id, right_id, jaccard), jaccard >= finalThreshold.
    */
  def crossVerifiedPairs(left: DataFrame, right: DataFrame,
                         idCol: String, textCol: String,
                         bands: Int = 16, rowsPerBand: Int = 4, n: Int = 3,
                         finalThreshold: Double = 0.5, seed: Long = 42L,
                         maxBucketSize: Int = 1000): DataFrame = {
    val k = bands * rowsPerBand
    def sets(df: DataFrame, side: String) =
      Stage.materialize(df.select(col(idCol).as(s"${side}_id"),
        shingleHashes(col(textCol), n).as(s"${side}_sh")),
        s"crossv_${side}_sets")
    crossPairs(sets(left, "left"), sets(right, "right"),
      minhashSignatureOfSets(_, k, seed), bands, rowsPerBand,
      maxBucketSize, "jaccard", finalThreshold)(sortedJaccard)
  }

  // ---- The LSH blocking core: every MinHash pair path above runs
  // banding → candidates → score join-back through these; FuzzyJoin
  // and Similarity share the mega-bucket guards. ----

  private def sortedJaccard(a: Column, b: Column): Column =
    Shim.column(SortedJaccard(Shim.expression(a), Shim.expression(b)))

  /** (keep..., band, bucket): one row per band of the MinHash signature
    * `sig`, the bucket being the band's hash. (band, bucket) is the LSH
    * block key; only it and the kept columns shuffle in candidate
    * generation.
    */
  private[graft] def bandBuckets(df: DataFrame, sig: Column, bands: Int,
      rowsPerBand: Int, keep: Column*): DataFrame =
    df.select(keep :+ posexplode(Shim.column(BandHashes(
        Shim.expression(sig), bands, rowsPerBand))): _*)
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

  /** Sub-blocks of a block of `n` members at `cap` members each,
    * ceil(n / cap). A cap below 1 is rejected by name here: ceil(n / 0)
    * is a division error inside a job under ANSI, and null without it,
    * where a grid cover then silently drops every row of the block.
    */
  private def subBlocks(n: Column, cap: Int, capName: String): Column = {
    require(cap >= 1, s"$capName must be >= 1, got $cap")
    ceil(n / cap).cast("long")
  }

  /** The sub-block plan of a blocked frame: (blockCols..., nsub) for
    * ONLY the blocks of more than `cap` rows, sized by a map-side
    * combinable aggregate and broadcast. Oversized blocks are rare, so
    * the broadcast stays metadata-scale at any block-key cardinality
    * (every block's count would be ~bands×|corpus| rows), and the main
    * stream picks up its sub-block in a narrow pass. After the left
    * join a block absent from the plan has a null `nsub`: one sub-block.
    */
  private[operators] def oversizeSubs(blocked: DataFrame,
      blockCols: Seq[String], cap: Int,
      capName: String = "maxBucketSize"): DataFrame = {
    val bc = blockCols.map(col)
    broadcast(blocked.groupBy(bc: _*)
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") > cap)
      .select(bc :+ subBlocks(col("bn"), cap, capName).as("nsub"): _*))
  }

  /** A member's hash sub-block, after a left join to [[oversizeSubs]]:
    * the hash of `salt` mod nsub in an oversized block, else 0.
    */
  private[operators] def subOf(salt: Column*): Column =
    when(col("nsub").isNull, lit(0L))
      .otherwise(pmod(xxhash64(salt: _*), col("nsub")))

  /** Every sub-block of a member's block, after a left join to
    * [[oversizeSubs]] — the replicated side of a salted join.
    */
  private[operators] def allSubs: Column =
    explode(sequence(lit(0L), coalesce(col("nsub") - 1L, lit(0L))))

  /** The grid cover of a blocked frame whose blocks have `n` members:
    * a block splits into nsub = ceil(n / cap) subs, each member takes a
    * home sub by hashing `salt`, and replicates into every unordered
    * cell {home, j}, j < nsub, adding columns (home, c1, c2). Members
    * with homes s and t always meet in cell {min(s,t), max(s,t)}, so a
    * pair join on (block..., c1, c2) loses NO pair to the cap, and a
    * cell holds members of at most two subs, bounding per-task pair
    * work at ~4·cap². A block within the cap is one cell. The pair join
    * keeps only [[canonicalCell]]: same-home members share every cell.
    * Callers count `n` their own way (join-back, window), as measured
    * at each site.
    */
  private[operators] def gridCover(blocked: DataFrame, n: Column, cap: Int,
      salt: Column*): DataFrame =
    blocked.withColumn("nsub", subBlocks(n, cap, "maxBucketSize"))
      .withColumn("home",
        when(col("nsub") <= 1L, lit(0L))
          .otherwise(pmod(xxhash64(salt: _*), col("nsub"))))
      // sequence is ascending here (nsub >= 1)
      .withColumn("j", explode(sequence(lit(0L), col("nsub") - 1L)))
      .withColumn("c1", least(col("home"), col("j")))
      .withColumn("c2", greatest(col("home"), col("j")))
      .drop("nsub", "j")

  /** The one grid cell where a pair of a [[gridCover]] join (columns
    * home_a, home_b) is emitted.
    */
  private[operators] def canonicalCell: Column =
    col("c1") === least(col("home_a"), col("home_b")) &&
      col("c2") === greatest(col("home_a"), col("home_b"))

  /** Self candidates of a banded (id, band, bucket) frame: (id_a, id_b),
    * id_a < id_b, each pair once (score each pair once, not once per
    * colliding band). A band-bucket larger than `maxBucketSize` would
    * self-join n² in one task, so its members split into hash
    * sub-buckets and pair only within one: per-task work is bounded by
    * maxBucketSize² with no whole-bucket recall cliff. The salt hashes
    * (id, band), so a pair split apart in one band lands together with
    * fresh probability in every other band (an id-only salt would
    * split the pair the SAME way in all bands and quietly lose
    * ~(1-1/nsub) of mega-bucket recall).
    */
  private def selfCandidates(banded: DataFrame,
                             maxBucketSize: Int): DataFrame = {
    val capped = banded
      .join(oversizeSubs(banded, Seq("band", "bucket"), maxBucketSize),
        Seq("band", "bucket"), "left")
      .withColumn("sub", subOf(col("id"), col("band")))
    def side(id: String) =
      capped.select(col("band"), col("bucket"), col("sub"), col("id").as(id))
    side("id_a").join(side("id_b"), Seq("band", "bucket", "sub"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Cross candidates (left_id, right_id), each once, of two banded
    * sides: the big (left/train) side salts oversized buckets into hash
    * sub-buckets and the tiny (right/bench) side replicates across
    * them, so every co-bucketed pair still meets in exactly the left
    * row's sub-bucket — the cross path loses NO recall to salting,
    * while per-task join work stays bounded by maxBucketSize ·
    * |right ∩ bucket|.
    */
  private def saltedCrossCandidates(lBand: DataFrame, rBand: DataFrame,
                                    maxBucketSize: Int): DataFrame = {
    val subs = oversizeSubs(lBand, Seq("band", "bucket"), maxBucketSize)
    val lSalted = lBand.join(subs, Seq("band", "bucket"), "left")
      .withColumn("sub", subOf(col("left_id"), col("band")))
      .select("band", "bucket", "sub", "left_id")
    val rSalted = rBand.join(subs, Seq("band", "bucket"), "left")
      .withColumn("sub", allSubs)
      .select("band", "bucket", "sub", "right_id")
    lSalted.join(rSalted, Seq("band", "bucket", "sub"))
      .select("left_id", "right_id").distinct()
  }

  /** Score join-back: `pairs` with each side's sketch joined back by
    * id — `a` and `b` are (id, sketch) frames whose id columns name the
    * pair's columns — as (a id, b id, `name` = score(sketch a, sketch
    * b)), rows scoring under `threshold` dropped.
    */
  private def scorePairs(pairs: DataFrame, a: DataFrame, b: DataFrame,
      name: String, threshold: Option[Double])(
      score: (Column, Column) => Column): DataFrame = {
    val Array(ia, sa) = a.columns
    val Array(ib, sb) = b.columns
    val scored = pairs.join(a, ia).join(b, ib)
      .select(col(ia), col(ib), score(col(sa), col(sb)).as(name))
    threshold.fold(scored)(t => scored.filter(col(name) >= t))
  }

  /** [[scorePairs]] of (id_a, id_b) pairs over one (id, `x`) frame. */
  private def scoreSelf(pairs: DataFrame, sk: DataFrame, x: String,
      name: String, threshold: Option[Double])(
      score: (Column, Column) => Column): DataFrame = {
    def side(s: String) =
      sk.select(col("id").as(s"id_$s"), col(x).as(s"${x}_$s"))
    scorePairs(pairs, side("a"), side("b"), name, threshold)(score)
  }

  /** The self path over a staged (id, `x`) sketch frame: band `sig` (the
    * frame's MinHash signature), [[selfCandidates]], score join-back.
    */
  private def selfPairs(sk: DataFrame, x: String, sig: Column, bands: Int,
      rowsPerBand: Int, maxBucketSize: Int, name: String,
      threshold: Double)(score: (Column, Column) => Column): DataFrame =
    scoreSelf(selfCandidates(
        bandBuckets(sk, sig, bands, rowsPerBand, col("id")), maxBucketSize),
      sk, x, name, Some(threshold))(score)

  /** The cross path over two staged (id, sketch) frames, output as
    * (left_id, right_id, `name`): band each side by `sig` of its sketch
    * (or take the left side's staged (left_id, band, bucket) postings,
    * `lBand`), [[saltedCrossCandidates]], score join-back. An id is
    * renamed where it is read, so banding keeps the staged column.
    */
  private def crossPairs(l: DataFrame, r: DataFrame, sig: Column => Column,
      bands: Int, rowsPerBand: Int, maxBucketSize: Int, name: String,
      threshold: Double, lBand: Option[DataFrame] = None)(
      score: (Column, Column) => Column): DataFrame = {
    def id(sk: DataFrame, as: String) =
      if (sk.columns(0) == as) col(as) else col(sk.columns(0)).as(as)
    def band(sk: DataFrame, as: String) = bandBuckets(sk,
      sig(col(sk.columns(1))), bands, rowsPerBand, id(sk, as))
    def keyed(sk: DataFrame, as: String) =
      sk.select(id(sk, as), col(sk.columns(1)))
    scorePairs(saltedCrossCandidates(lBand.getOrElse(band(l, "left_id")),
        band(r, "right_id"), maxBucketSize),
      keyed(l, "left_id"), keyed(r, "right_id"), name, Some(threshold))(score)
  }

  /** Clone expansion of rep pairs (id_a, id_b, `name`): every member of
    * rep_a pairs with every member of rep_b at the reps' score (two
    * equi-joins, row count = output size), and the members of one clone
    * group pair among themselves through `intra`, which scores the
    * (rep, id, id2) rows, id < id2, as (id_a, id_b, `name`).
    */
  private def expandClones(repPairs: DataFrame, membership: DataFrame,
      name: String)(intra: DataFrame => DataFrame): DataFrame = {
    val cross = repPairs
      .join(membership.select(col("rep").as("id_a"), col("id").as("m_a")),
        "id_a")
      .join(membership.select(col("rep").as("id_b"), col("id").as("m_b")),
        "id_b")
      .select(least(col("m_a"), col("m_b")).as("id_a"),
        greatest(col("m_a"), col("m_b")).as("id_b"), col(name))
    val m = membership.select(col("rep"), col("id"))
    val same = m
      .join(m.withColumnRenamed("id", "id2"), Seq("rep"))
      .filter(col("id") < col("id2"))
    cross.unionByName(intra(same))
  }

  /** Exact dedup: keep the minimum id per distinct key expression. */
  def exactByKey(df: DataFrame, idCol: String, key: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact word-n-gram eval-set decontamination: a training doc is
    * contaminated if it shares ANY exact n-token gram with a benchmark
    * doc — the collision rule used to scrub eval sets out of LLM
    * training corpora (a partial quote trips it even when whole-doc
    * Jaccard sits far below any near-dup threshold, which is exactly
    * the case `crossVerifiedPairs` is not meant to catch).
    *
    * Scale shape: each side's grams are deduplicated PER DOC on the map
    * side (`array_distinct` before the explode — no global distinct, so
    * the train side never shuffles), and the bench side is tiny by
    * definition, so the gram join is a broadcast hash join streamed by
    * the train scan. The only exchange is the final groupBy over
    * (train, bench) pairs that actually collided — contamination-sized,
    * not corpus-sized. Output: (left_id, right_id, n_shared) with
    * n_shared = the number of distinct shared grams.
    */
  def ngramContamination(train: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 13): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    def grams(df: DataFrame, outId: String) = {
      val tk = normTokens(col(textCol))
      df.select(col(idCol).as(outId), tk.as("tk"))
        // guard: sequence(0, size-n) is DESCENDING when size < n
        .withColumn("g", explode(array_distinct(
          when(size(col("tk")) >= n,
            transform(sequence(lit(0), size(col("tk")) - n),
              i => array_join(slice(col("tk"), i + 1, lit(n)), " ")))
            .otherwise(array().cast("array<string>")))))
        .select(col(outId), col("g"))
    }
    grams(train, "left_id")
      .join(broadcast(grams(bench, "right_id")), "g")
      .groupBy("left_id", "right_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Cross-document repeated-passage profile (the RefinedWeb/MassiveText
    * exact-substring filter signal): for every document, how much of it
    * is covered by word n-grams that also occur in at least `minDocs`
    * OTHER-or-same distinct documents, and in how many maximal
    * contiguous spans that coverage falls. Downstream curation drops or
    * trims documents whose `dup_frac` crosses a threshold (SEO
    * boilerplate, licence blocks, templated pages).
    *
    * Scale shape: gram positions are a narrow exploding projection; the
    * duplicated-gram set is one `(gram)` hash aggregate (map-side
    * partial count-distinct via the (gram, doc) pre-distinct); marking
    * positions is a semi join on the gram key; span/run statistics are
    * per-document windows (partitioned by doc id — never global). Four
    * key-bounded exchanges, no pair enumeration, nothing quadratic.
    *
    * Output: (id, n_grams, n_dup, n_spans, dup_frac) for every document
    * with at least one n-gram; zero-duplication documents report 0/0/0.0.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 8, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    val tk = normTokens(col(textCol))
    val base = docs.select(col(idCol), tk.as("tk"))
      .withColumn("n_grams",
        greatest(size(col("tk")) - (n - 1), lit(0)).cast("long"))
      .filter(col("n_grams") > 0)
    // guard: sequence hi < lo is DESCENDING, hence the n_grams filter
    val posClean = base.select(col(idCol),
        explode(transform(sequence(lit(1), col("n_grams")),
          i => struct(i.as("pos"),
            array_join(slice(col("tk"), i, lit(n)), " ").as("g"))))
          .as("pg"))
      .select(col(idCol), col("pg.pos").as("pos"), col("pg.g").as("g"))
    val dupGrams = posClean.select(col("g"), col(idCol)).distinct()
      .groupBy("g").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("g")
    val dupPos = posClean.join(dupGrams, "g")
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val spans = dupPos
      .withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup"),
        countDistinct(col("grp")).as("n_spans"))
    base.select(col(idCol), col("n_grams"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        round(coalesce(col("n_dup"), lit(0L)) /
          col("n_grams").cast("double"), 4).as("dup_frac"))
  }

  /** Exact substring-level dedup CUT (Lee et al. '22, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * filter): emit the corpus with every duplicated passage of at
    * least `n` tokens REMOVED, not just profiled (dedup_span is the
    * profile twin). A passage of >= n tokens duplicated across >=
    * `minDocs` documents is exactly the union of its duplicated
    * n-gram windows, so the removal set is "every token position
    * covered by an n-gram that starts within the last n-1 positions
    * and occurs in >= minDocs distinct documents". Removal applies to
    * EVERY occurrence (both the original and its copies — Lee et al.
    * note keeping one canonical copy changes results negligibly, and
    * removing all is the deterministic cross-engine contract).
    *
    * Scale shape (100 TB): token and gram streams are NARROW rows —
    * grams build from `n-1` lead() windows per doc partition (never by
    * re-slicing the doc's token array, which runs a fat doc out of
    * memory), and
    * duplicate detection is STAGED like dedup_jaccard: a first pass
    * shuffles only (xxhash64(gram), doc) — 16 bytes/position — and
    * only hash-candidate positions (>= minDocs docs share the hash)
    * re-shuffle their full gram strings for the EXACT string
    * confirmation, so the oracle's string-join semantics hold
    * collision-free while the corpus-sized shuffle stays 16 B/row.
    * Coverage, span counting, and the text rebuild are per-doc
    * partitioned windows + one ordered collect per doc (the rebuilt
    * doc is one row's value by definition — the fat giant pays a
    * single-task rebuild, the standing per-VALUE ceiling).
    *
    * Null contract (#8): null text = empty text, row PRESERVED —
    * (n_tokens 0, n_removed 0, n_spans 0, scrubbed '').
    *
    * @return (idCol, n_tokens, n_removed, n_spans, scrubbed) — one row
    *         per input document; scrubbed is the space-joined kept
    *         tokens in original order
    */
  def scrubSubstrings(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 50, minDocs: Int = 2): DataFrame = {
    require(n >= 2, s"substring length must be >= 2 tokens, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val tkRaw = normTokens(col(textCol))
    // normalizedBytes('') splits to [''] — coerce the phantom token
    // (and null text, contract #8) to a true empty array
    val base = docs.select(col(idCol),
        when(tkRaw.isNull || (size(tkRaw) === 1 &&
          element_at(tkRaw, 1) === ""), typedLit(Seq.empty[String]))
          .otherwise(tkRaw).as("tk"))
      .select(col(idCol), col("tk"),
        size(col("tk")).cast("long").as("n_tokens"))
    val tokn = base.select(col(idCol),
        posexplode(col("tk")).as(Seq("p0", "w")))
      .select(col(idCol), (col("p0") + 1).cast("long").as("p"), col("w"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("p"))
    val gramCol = concat_ws(" ",
      col("w") +: (1 until n).map(i => lead(col("w"), i).over(byDoc)): _*)
    val grams = tokn
      .withColumn("g", gramCol)
      .withColumn("nn", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .filter(col("p") <= col("nn") - (n - 1))
      .select(col(idCol), col("p"), xxhash64(col("g")).as("h"))
    // stage 1: 8-byte hash prefilter — g is hashed and DROPPED before
    // any exchange, so the corpus-sized shuffles carry (h, id) and
    // (h, id, p) scalars only: a join carrying the n-token gram STRING
    // per position (~n× corpus bytes) would shuffle those strings once
    // candH outgrows the broadcast threshold on a high-duplication
    // corpus. Surviving positions regenerate their grams below.
    val candH = grams.select(col("h"), col(idCol)).distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("h")
    val candPos = grams.join(candH, "h").select(col(idCol), col("p"))
    // stage 2: regenerate gram strings for ONLY the hash-surviving
    // positions from the narrow token stream (the same per-doc lead()
    // windows as stage 1 — never by re-slicing a token array), then
    // exact-string confirmation; string bytes now scale with the
    // candidate set, not the corpus
    val cand = tokn
      .join(candPos.withColumn("cd", lit(1)), Seq(idCol, "p"), "left")
      .withColumn("g", gramCol)
      .filter(col("cd") === 1)
      .select(col(idCol), col("p"), col("g"))
    val dupG = cand.select(col("g"), col(idCol)).distinct()
      .groupBy("g").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("g")
    val starts = cand.join(dupG, "g").select(col(idCol), col("p"))
    val flagged = tokn.join(
        starts.withColumn("s", lit(1)), Seq(idCol, "p"), "left")
      .withColumn("c", max(coalesce(col("s"), lit(0)))
        .over(byDoc.rowsBetween(-(n - 1), 0)))
    val removed = flagged.filter(col("c") === 1)
      .withColumn("rn", row_number().over(byDoc))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_removed"),
        countDistinct(col("p") - col("rn")).as("n_spans"))
    val scrub = flagged.filter(col("c") === 0)
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("p"), col("w")))),
        s => s.getField("w")), " ").as("scrubbed"))
    base.select(col(idCol), col("n_tokens"))
      .join(removed, Seq(idCol), "left")
      .join(scrub, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("scrubbed"), lit("")).as("scrubbed"))
  }
}
