package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VecFns

/** Nearest-neighbor search over embedding columns (SURVEY.md §2 [EXT]
  * similarity search).
  *
  * Five top-k searches, each (qid, vec_id, sim, rank) ranked on
  * (raw sim desc, vec_id asc), and one near-duplicate pair path:
  *  - `bruteTopK` (and the banded `bruteHardNegatives`): exact cosine of
  *    every broadcast query against the full corpus — the correctness
  *    baseline;
  *  - `lshTopK`: random-hyperplane LSH; a query compares only against
  *    corpus vectors sharing a bucket in any of `tables` hash tables;
  *  - `fitIvf`/`probeIvf`: k-means coarse cells, a query scans its
  *    `nprobe` nearest cells;
  *  - `fitPq`/`probePq`: product-quantized codes, an ADC shortlist per
  *    query, exact rerank of the shortlist;
  *  - `fitIvfPq`/`probeIvfPq`: both restrictions, ADC over the codes of
  *    the `nprobe` nearest cells, exact rerank;
  *  - `fitNearDup`/`nearDupPairs` (`cosineNearDupPairs` one-shot): every
  *    corpus pair at cosine >= a threshold.
  *
  * The searches share one probe core: the query frame (`queryFrame`),
  * the per-query rank (`perQuery`) behind the top-k tail (`topK`), the
  * coarse-cell probe (`cellCandidates`) and the ADC shortlist
  * (`adcShortlist`). The query side is always broadcast, so the corpus
  * never shuffles its vectors; only scalars (or a bounded shortlist)
  * reach the ranking shuffle.
  *
  * Cosine/bucket/quantizer math is native codegen'd Catalyst expressions
  * (graft.expressions.VectorExprs via `VecFns`) — one primitive loop per
  * row.
  */
object Similarity {

  /** Vector null contract (r15, NULL audit dimension): a NULL
    * embedding can be neither indexed, encoded, nor scored — every
    * fit/scan path drops such CORPUS rows at entry (the standard
    * vector-store NOT NULL column constraint), and every probe path
    * drops null-vector QUERIES the same way (a query with no vector
    * has no answer set, not an error). Oracles mirror with
    * `WHERE embedding IS NOT NULL` on the corpus/query CTEs. The r15
    * null-corpus sweep caught the driver-side codebook/centroid
    * trainers NPE-ing on collected null rows — and, worse, the brute
    * paths silently ranking NULL cosine scores by engine-coincidence
    * (both engines happen to sort nulls last) rather than by
    * contract.
    */
  private def nonNullVec(df: DataFrame): DataFrame =
    df.filter(col("embedding").isNotNull)

  /** The non-null corpus as (vec_id, embedding): what every index fits
    * and the brute scan reads.
    */
  private def vectors(corpus: DataFrame): DataFrame =
    nonNullVec(corpus).select(col("vec_id"), col("embedding"))

  /** The non-null queries as (qid, qvec): the query side of every probe. */
  private def queryFrame(queries: DataFrame): DataFrame =
    nonNullVec(queries).select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  /** (qid, vec_id, sim_raw): exact cosine of each candidate's query
    * vector against its corpus vector column `vec`.
    */
  private def cosineScored(cands: DataFrame, vec: String = "embedding"): DataFrame =
    cands.select(col("qid"), col("vec_id"),
      VecFns.cosine(col("qvec"), col(vec)).as("sim_raw"))

  /** The first `n` rows of each query by `order`, numbered in `rk` —
    * the one rank window behind the top-k tail, the cell probe and the
    * ADC shortlist (Catalyst plans it as a WindowGroupLimit).
    */
  private def perQuery(df: DataFrame, rk: String, n: Int,
                       order: Column*): DataFrame =
    df.withColumn(rk, row_number().over(
        Window.partitionBy("qid").orderBy(order: _*)))
      .filter(col(rk) <= n)

  /** The top-k tail of every search: rank (qid, vec_id, sim_raw) on
    * (raw sim desc, vec_id asc), keep `k` per query, round only the
    * emitted value.
    */
  private def topK(scored: DataFrame, k: Int, roundTo: Int): DataFrame =
    perQuery(scored, "rk", k, col("sim_raw").desc, col("vec_id").asc)
      .select(col("qid"), col("vec_id"),
        round(col("sim_raw"), roundTo).as("sim"), col("rk"))

  /** Exact top-k by cosine: every query vector against every corpus
    * vector. `queries` must be small enough to broadcast.
    * Deterministic: rank on (raw sim desc, vec_id asc); round only the
    * emitted value.
    * @return (qid, vec_id, sim, rank), rank <= k.
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                roundTo: Int = 6): DataFrame =
    rankedCosine(corpus, queries, k, roundTo, band = None)

  /** Shared brute scorer behind [[bruteTopK]] and
    * [[bruteHardNegatives]]: broadcast-query cross scan, self-pair
    * exclusion, optional raw-cosine band filter ahead of the rank
    * window. One definition so the two public shapes cannot drift apart.
    */
  private def rankedCosine(corpus: DataFrame, queries: DataFrame, k: Int,
                           roundTo: Int,
                           band: Option[(Double, Double)]): DataFrame = {
    val scored = cosineScored(vectors(corpus)
      .crossJoin(broadcast(queryFrame(queries)))
      .filter(col("qid") =!= col("vec_id")))
    topK(band.fold(scored) { case (lo, hi) =>
      scored.filter(col("sim_raw") >= lo && col("sim_raw") <= hi)
    }, k, roundTo)
  }

  /** Hard-negative mining for contrastive training data: the top-k
    * corpus vectors per query whose cosine similarity lies in
    * [loSim, hiSim] — similar enough to be informative negatives,
    * dissimilar enough to (by the band's modeling assumption) not be
    * positives. The standard curriculum for embedding-model training.
    * Same broadcast-query brute scan as [[bruteTopK]]; the band filter
    * prunes before the rank window, so WindowGroupLimit sees only
    * in-band candidates.
    * @return (qid, vec_id, sim, rank), rank <= k within the band
    */
  def bruteHardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                         loSim: Double, hiSim: Double,
                         roundTo: Int = 6): DataFrame = {
    require(loSim < hiSim, s"need loSim < hiSim, got [$loSim, $hiSim]")
    rankedCosine(corpus, queries, k, roundTo, band = Some((loSim, hiSim)))
  }

  /** LSH-bucketed approximate top-k. `tables` independent hash tables of
    * `planes` hyperplanes each; a corpus vector is a candidate iff it
    * shares a bucket with the query in at least one table. Recall grows
    * with `tables`, cost with `tables * corpus/2^planes`.
    *
    * A (query, candidate) pair colliding in several tables is born
    * exactly once via FIRST-AGREE emission: each side carries its
    * per-table bucket array (tables·8 B), and only the lowest table
    * where the arrays agree emits the pair
    * (`firstAgree(q.bks, c.bks) == table`). That replaces the
    * (qid, vec_id) dedup AGGREGATION a multi-collision pair would
    * otherwise need — one less shuffle over the candidate stream, and
    * vectors still never shuffle (the query side is broadcast).
    * Safe here because buckets are not sub-salted (contrast
    * cosineNearDupPairs, where salting can hide the first agreeing
    * table's meeting).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              dim: Int, planes: Int = 8, tables: Int = 8,
              seed: Long = 42L, roundTo: Int = 6): DataFrame = {
    def bucketed(df: DataFrame, idAs: String, vecAs: String,
                 bksAs: String): DataFrame =
      df.select(col("vec_id").as(idAs), col("embedding").as(vecAs),
        VecFns.hyperplaneBucketsAll(col("embedding"), dim,
          planes, tables, seed).as(bksAs))
        .select(col(idAs), col(vecAs), col(bksAs), posexplode(col(bksAs)))
        .withColumnRenamed("pos", "table")
        .withColumnRenamed("col", "bucket")

    val qb = broadcast(bucketed(queries, "qid", "qvec", "qbks"))
    val cb = bucketed(corpus, "vec_id", "cvec", "cbks")
    topK(cosineScored(cb.join(qb, Seq("table", "bucket"))
      .filter(col("qid") =!= col("vec_id") &&
        VecFns.firstAgree(col("qbks"), col("cbks")) === col("table")),
      "cvec"), k, roundTo)
  }

  /** Bounded seeded training sample, collected to the driver — the
    * shared fit-side discipline for every quantizer here (k-means needs
    * only enough vectors to place centroids; iterating the full corpus
    * is the scale-killer).
    */
  private def boundedSample(featured: DataFrame,
                            maxTrainRows: Long, seed: Long): Array[Array[Float]] = {
    val spark = featured.sparkSession
    import spark.implicits._
    val n = featured.count()
    val train =
      if (n <= maxTrainRows) featured
      else featured.sample(withReplacement = false,
        fraction = maxTrainRows.toDouble / n, seed = seed)
    train.select(col("embedding")).as[Array[Float]].collect()
  }

  /** The coarse quantizer of the IVF indexes: `nlist` KMeansLite
    * centroids over the sample, as the model's (cell, centroid) rows and
    * the `cell` column that assigns a corpus vector to its nearest one.
    */
  private def coarseCells(sample: Array[Array[Float]], nlist: Int,
                          seed: Long): (Seq[(Int, Array[Float])], Column) = {
    val centers = KMeansLite.fit(sample, nlist, seed)
    (centers.indices.zip(centers),
      VecFns.nearestCentroid(col("embedding"), centers).as("cell"))
  }

  /** The corpus a PQ index encodes: `m` contiguous subspaces must tile
    * `dim`, checked before any job runs.
    */
  private def pqVectors(corpus: DataFrame, dim: Int, m: Int): DataFrame = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    vectors(corpus)
  }

  /** Per-subspace codebooks over the sample projected onto the unit
    * sphere — PQ codebooks train in the same space PqEncode/PqAdcDist
    * score in (they normalize internally). Subspaces train
    * independently, parallel across driver cores.
    */
  private def trainCodebooks(sample: Array[Array[Float]], dim: Int, m: Int,
                             kSub: Int, seed: Long): Array[Array[Array[Float]]] = {
    val unit = sample.map { v =>
      val nrm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      if (nrm == 0.0) v else v.map(x => (x / nrm).toFloat)
    }
    val dsub = dim / m
    val codebooks = new Array[Array[Array[Float]]](m)
    java.util.stream.IntStream.range(0, m).parallel().forEach { s =>
      val sub = unit.map(v => java.util.Arrays.copyOfRange(v, s * dsub,
        (s + 1) * dsub))
      codebooks(s) = KMeansLite.fit(sub, kSub, seed + s)
    }
    codebooks
  }

  /** The coarse-cell probe: rank the broadcast centroids per query by
    * cosine, keep the `nprobe` nearest cells, and join the index `table`
    * (one `cell` per corpus row) on them. No dedup is needed:
    * NearestCentroid puts each corpus vector in exactly one cell and the
    * probed (qid, cell) set is distinct, so each (qid, vec_id) arrives
    * at most once — an aggregate here would be a wasted full shuffle of
    * the candidate stream. Self pairs are dropped.
    */
  private def cellCandidates(table: DataFrame,
                             centers: Seq[(Int, Array[Float])],
                             queries: DataFrame, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centersDf = broadcast(centers.toDF("cell", "centroid"))
    val qcells = perQuery(queryFrame(queries).crossJoin(centersDf)
        .select(col("qid"), col("qvec"), col("cell"),
          VecFns.cosine(col("qvec"), col("centroid")).as("csim")),
        "crk", nprobe, col("csim").desc, col("cell").asc)
      .select("qid", "qvec", "cell")
    table.join(broadcast(qcells), Seq("cell"))
      .filter(col("qid") =!= col("vec_id"))
  }

  /** The PQ search tail: ADC-score each (query, code) candidate, keep
    * the `rerank` closest per query on (adc asc, vec_id asc), then join
    * the raw embeddings back for ONLY that shortlist and take the exact
    * cosine top-k. The rerank join touches rerank·|queries| vectors
    * regardless of corpus size.
    */
  private def adcShortlist(cands: DataFrame, codebooks: Array[Array[Array[Float]]],
                           corpus: DataFrame, k: Int, rerank: Int,
                           roundTo: Int): DataFrame = {
    val shortlist = perQuery(cands.select(col("qid"), col("qvec"), col("vec_id"),
        VecFns.pqAdcDist(col("qvec"), col("code"), codebooks).as("adc")),
        "ark", rerank, col("adc").asc, col("vec_id").asc)
      .select("qid", "qvec", "vec_id")
    topK(cosineScored(shortlist
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))),
      k, roundTo)
  }

  /** IVF (inverted-file) approximate top-k — the other standard ANN
    * scale path beside LSH: k-means coarse quantizer over the corpus
    * (seeded → deterministic), corpus vectors inverted by
    * nearest-centroid cell, queries probe their `nprobe` nearest cells
    * only. Cost ≈ corpus · nprobe / nlist per query vs. brute force.
    *
    * Scale shape: training samples the corpus (KMeans holds nlist
    * centroids, not data); assignment is one narrow pass; the cell join
    * shuffles candidates by cell id. Centroids are metadata-scale and
    * broadcast to the query side.
    *
    * A fitted IVF index: the inverted file (vec_id, embedding, cell),
    * staged to parquet so probes scan the index rather than re-assigning
    * the corpus, plus the (metadata-scale) centroid table. Fit ONCE per
    * corpus, probe many times.
    */
  final case class IvfModel(cells: DataFrame,
                            centers: Seq[(Int, Array[Float])])

  /** Build the IVF index: train the coarse quantizer on a bounded seeded
    * sample (k-means needs only enough vectors to place `nlist`
    * centroids; iterating over the full corpus would be the scale-killer
    * at 100 TB), assign every corpus vector to its nearest centroid with
    * a narrow codegen'd pass, and stage the inverted file to parquet.
    *
    * Training is DRIVER-SIDE (`KMeansLite` over the collected sample —
    * metadata-scale by construction, `maxTrainRows` bounds the collect):
    * a distributed iterative fit's per-iteration jobs would dominate the
    * query's cost. The only distributed work is one corpus count, the
    * sample scan, and the assignment map.
    */
  def fitIvf(corpus: DataFrame, nlist: Int = 16, seed: Long = 42L,
             maxTrainRows: Long = 100000L): IvfModel = {
    val featured = vectors(corpus)
    val (centers, cell) =
      coarseCells(boundedSample(featured, maxTrainRows, seed), nlist, seed)
    val cells = Stage.materialize(featured.select(
      col("vec_id"), col("embedding"), cell), "ivf_cells")
    IvfModel(cells, centers)
  }

  /** Probe a fitted IVF index: rank centroids per query, search only the
    * `nprobe` nearest cells. Centroids are metadata-scale and broadcast;
    * the cell join shuffles candidate scalars only.
    */
  def probeIvf(model: IvfModel, queries: DataFrame, k: Int,
               nprobe: Int = 4, roundTo: Int = 6): DataFrame =
    topK(cosineScored(
      cellCandidates(model.cells, model.centers, queries, nprobe)), k, roundTo)

  /** A fitted product-quantization index: per-subspace codebooks
    * (metadata-scale — m·k·dsub floats) and the staged code table
    * (vec_id, code: array<int> of length m). At 100 TB the codes are
    * the point: m·log2(k) bits per vector instead of dim·32 — a 64-dim
    * float corpus compresses ~32x, so the ADC scan is IO/memory-bound
    * on a table two orders of magnitude smaller than the raw vectors.
    */
  final case class PqModel(codebooks: Array[Array[Array[Float]]],
                           codes: DataFrame)

  /** Train per-subspace codebooks on a bounded seeded sample
    * (driver-side KMeansLite per subspace — metadata-scale, like the
    * IVF quantizer) and PQ-encode the corpus in one narrow codegen'd
    * pass staged to parquet.
    *
    * @param m    number of contiguous subspaces (must divide dim)
    * @param kSub centroids per subspace (code entry range)
    */
  def fitPq(corpus: DataFrame, dim: Int, m: Int = 8, kSub: Int = 256,
            seed: Long = 42L, maxTrainRows: Long = 100000L): PqModel = {
    val featured = pqVectors(corpus, dim, m)
    val codebooks = trainCodebooks(
      boundedSample(featured, maxTrainRows, seed), dim, m, kSub, seed)
    val codes = Stage.materialize(featured.select(col("vec_id"),
      VecFns.pqEncode(col("embedding"), codebooks).as("code")), "pq_codes")
    PqModel(codebooks, codes)
  }

  /** Probe a PQ index: ADC-score every code against each (broadcast)
    * query — reading only the compact code table — then the
    * `adcShortlist` rerank, so recall comes almost free while the
    * corpus-wide scan stays on codes.
    */
  def probePq(model: PqModel, corpus: DataFrame, queries: DataFrame,
              k: Int, rerank: Int = 64, roundTo: Int = 6): DataFrame =
    adcShortlist(model.codes.crossJoin(broadcast(queryFrame(queries)))
      .filter(col("qid") =!= col("vec_id")),
      model.codebooks, corpus, k, rerank, roundTo)

  /** A fitted IVF-PQ composite index: coarse centroids (metadata-scale),
    * per-subspace codebooks (metadata-scale), and ONE staged table
    * (vec_id, cell, code) — the layout both search restrictions
    * compound on. At 100 TB this is the standard ANN serving shape
    * (FAISS's IVF+PQ with by_residual=false, here on the unit sphere
    * for cosine): the scan touches `nprobe/nlist` of the corpus AND
    * reads 8-byte codes instead of dim·4-byte vectors — the two
    * reductions multiply, so a 16-cell/1-probe index over compressed
    * codes scans ~1/500th of the raw bytes a brute-force pass would.
    */
  final case class IvfPqModel(centers: Seq[(Int, Array[Float])],
                              codebooks: Array[Array[Array[Float]]],
                              table: DataFrame)

  /** Train BOTH quantizers from one bounded seeded sample (driver-side,
    * like fitIvf/fitPq) and write cell + code in a single staged
    * corpus pass — the corpus is scanned once, not once per index.
    */
  def fitIvfPq(corpus: DataFrame, dim: Int, nlist: Int = 16, m: Int = 8,
               kSub: Int = 256, seed: Long = 42L,
               maxTrainRows: Long = 100000L): IvfPqModel = {
    val featured = pqVectors(corpus, dim, m)
    val sample = boundedSample(featured, maxTrainRows, seed)
    val (centers, cell) = coarseCells(sample, nlist, seed)
    val codebooks = trainCodebooks(sample, dim, m, kSub, seed)
    val table = Stage.materialize(featured.select(col("vec_id"), cell,
      VecFns.pqEncode(col("embedding"), codebooks).as("code")), "ivfpq_table")
    IvfPqModel(centers, codebooks, table)
  }

  /** Probe the composite index: ADC-score codes in ONLY the `nprobe`
    * nearest cells (`cellCandidates`), then the `adcShortlist` rerank. Cost shape: the corpus-side scan is (nprobe/nlist)·|codes|;
    * the rerank join touches rerank·|queries| vectors regardless of
    * corpus size.
    */
  def probeIvfPq(model: IvfPqModel, corpus: DataFrame, queries: DataFrame,
                 k: Int, nprobe: Int = 4, rerank: Int = 64,
                 roundTo: Int = 6): DataFrame =
    adcShortlist(cellCandidates(model.table, model.centers, queries, nprobe),
      model.codebooks, corpus, k, rerank, roundTo)

  /** Embedding-cosine near-duplicate pairs over one corpus: LSH buckets →
    * within-bucket candidate pairs (deduplicated with a distinct() over
    * bare id pairs — see the emission note below) → exact cosine filter.
    * The dedup-by-embedding path of the training-data pipeline.
    *
    * Shuffle shape (same discipline as Dedup.minhashPairs): buckets are
    * computed in one narrow pass and the embeddings dropped immediately,
    * so the self-join and the pair-dedup move only (table, bucket, id)
    * scalars — vectors never ride the LSH shuffle. Each surviving pair
    * is scored exactly once (dedup BEFORE cosine, not after), with the
    * two embeddings joined back by id at the end.
    *
    * Skew guard: a bucket larger than `maxBucketSize` would do an n²
    * self-join in one task (the classic LSH mega-bucket pathology —
    * thousands of near-identical embeddings sharing every bucket).
    * Oversized buckets use the grid cover (`Dedup.gridCover`), which
    * loses no candidate to the cap: a same-sub-only split lost 105 of
    * 95,800 cos≈1.0 pairs on the 10x replicated corpus, because
    * near-identical vectors live ONLY in mega-buckets, so "resurfaces
    * via another table" fails exactly there. Total work inside a
    * mega-bucket is Θ(n²) scalar hamming checks — the price of exact
    * recall there — spread over (n/cap)² tasks, and the Hamming
    * prefilter kills the non-qualifying majority while still scalar.
    *
    * Parameterization: candidate volume is Σ bucket_size² per table, so
    * `planes` must grow with corpus size/clusteredness — for a ≥0.99
    * cosine threshold the per-plane miss probability of a true pair is
    * ~θ/π ≈ 0.3%, so even 16 planes × 6 tables keeps recall ≈ 1 while
    * cutting false candidates ~64× vs 10 planes. Rule of thumb:
    * planes ≈ log2(corpus / desired_mean_bucket).
    *
    * Precision guard: clustered corpora put many same-cluster (but
    * below-threshold) vectors in shared buckets — bucket planes can't
    * separate a 10° neighbor from a 2° near-dup. Each row therefore
    * carries an independent 64-plane sign sketch (8 bytes), and a
    * candidate pair must pass a Hamming prefilter derived from the
    * threshold angle (E[flipped bits] = 64·θ/π; the cutoff is
    * ~mean + 3σ, so true-pair recall stays ≈ 1) BEFORE the distinct and
    * the embedding joins — false candidates die while still scalar.
    */
  /** The staged, threshold-FREE state of [[cosineNearDupPairs]]: the
    * grid-covered LSH bucket stream and the packed 64-bit sign sketch,
    * both parquet-staged (Stage.materialize). Fit ONCE per corpus and
    * query at any threshold via [[nearDupPairs]] — sibling queries over
    * the same corpus (near-dup pair listing, semantic dedup) share one
    * fit instead of re-sketching the corpus per call, and a bench/gate
    * run invoking both pays the embedding scan once.
    */
  final case class NearDupModel(staged: DataFrame, sk64: DataFrame,
                                maxBucketSize: Int)

  /** Sketch + bucket a corpus for near-dup pair queries. ONE pass over
    * the embeddings computes both the 64-plane sign sketch and the
    * planes×tables bucket array per vector, staged together — the
    * bucket explode, the capping window, and the packed sketch are all
    * derived from that staged scalar frame, so the (dim × 64 +
    * dim × planes × tables) dot products per vector happen exactly once
    * per fit (previously the sign sketch was re-projected from the raw
    * embeddings a second time for the dense channel).
    */
  def fitNearDup(corpus: DataFrame, dim: Int,
                 planes: Int = 16, tables: Int = 6, seed: Long = 42L,
                 maxBucketSize: Int = 2000): NearDupModel = {
    val sig = VecFns.hyperplaneBucketsAll(col("embedding"), dim,
      planes = 32, tables = 2, seed = seed * 6364136223846793005L + 1442695040888963407L)
    val base = Stage.materialize(corpus.select(col("vec_id"), sig.as("sig"),
      VecFns.hyperplaneBucketsAll(col("embedding"), dim, planes, tables,
        seed).as("bkts")), "neardup_base")
    val b = base.select(col("vec_id"), col("sig"),
      posexplode(col("bkts")))
      .select(col("vec_id"), col("sig"),
        col("pos").as("table"), col("col").as("bucket"))
    // grid cover per oversized bucket (see scaladoc): home is salted by
    // (vec_id, table) so the cover stays decorrelated across tables
    val capped = Dedup.gridCover(b.withColumn("n",
        count(lit(1)).over(Window.partitionBy("table", "bucket"))),
      col("n"), maxBucketSize, col("vec_id"), col("table")).drop("n")
    // both self-join sides read this scalar-only frame; a parquet stage
    // checkpoint (Stage.materialize) avoids re-bucketing the corpus
    // without leaking cached blocks into the caller's session
    val staged = Stage.materialize(capped, "neardup_buckets")
    // pack the two 32-plane words into one long: widen to LONG before
    // the shift (shiftleft on an INT is mod-32 — a no-op at 32) and
    // mask the low word after the sign-extending cast. Derived from the
    // staged base (one row per vector) — a narrow parquet projection,
    // not a second embedding scan.
    val sk64 = Stage.materialize(base.select(col("vec_id").as("id"),
      shiftleft(element_at(col("sig"), 1).cast("long"), 32)
        .bitwiseOR(element_at(col("sig"), 2).cast("long")
          .bitwiseAND(lit(0xffffffffL))).as("sh")), "neardup_sk64")
    NearDupModel(staged, sk64, maxBucketSize)
  }

  def cosineNearDupPairs(corpus: DataFrame, dim: Int, threshold: Double,
                         planes: Int = 16, tables: Int = 6,
                         seed: Long = 42L,
                         maxBucketSize: Int = 2000): DataFrame =
    nearDupPairs(fitNearDup(corpus, dim, planes, tables, seed,
      maxBucketSize), corpus, threshold)

  /** Near-dup pairs at `threshold` over a fitted [[NearDupModel]].
    * `corpus` must be the frame the model was fitted on (it supplies
    * the raw embeddings for the exact-cosine rerank; the candidate
    * channels read only the model's staged frames).
    */
  def nearDupPairs(model: NearDupModel, corpus: DataFrame,
                   threshold: Double): DataFrame = {
    // Hamming cutoff from the threshold angle over 64 sketch planes:
    // E[flips] = 64·acos(t)/π, σ ≈ sqrt(E) → cut at ~2E+2 ≈ mean+3σ.
    val expFlips = 64.0 * math.acos(math.min(1.0, threshold)) / math.Pi
    val hammingCut = math.ceil(expFlips).toInt * 2 + 2
    val staged = model.staged
    def hamming(a: org.apache.spark.sql.Column, b2: org.apache.spark.sql.Column) =
      bit_count(element_at(a, 1).bitwiseXOR(element_at(b2, 1))) +
        bit_count(element_at(a, 2).bitwiseXOR(element_at(b2, 2)))
    // Pair dedup is a distinct() over (id_a, id_b) scalars — NOT
    // first-agree emission (used in lshTopK), deliberately: a pair can
    // meet in several tables and (for same-home members) several grid
    // cells; the canonical-cell filter bounds the intra-table
    // duplication and distinct() dedups across tables. distinct()
    // dedups only pairs that met, wherever they met.
    val lshPairs = staged.select(col("table"), col("bucket"), col("c1"),
        col("c2"), col("vec_id").as("id_a"), col("sig").as("sa"),
        col("home").as("home_a"))
      .join(staged.select(col("table"), col("bucket"), col("c1"),
        col("c2"), col("vec_id").as("id_b"), col("sig").as("sb"),
        col("home").as("home_b")),
        Seq("table", "bucket", "c1", "c2"))
      .filter(col("id_a") < col("id_b") && Dedup.canonicalCell &&
        hamming(col("sa"), col("sb")) <= hammingCut)
      .select("id_a", "id_b")
    // Deterministic dense-core channel (forced by the 10x
    // replicated-corpus sweep): 105 of 95,800 cos≈1.0 pairs were lost
    // because a near-identical pair's connecting segment can straddle a
    // bucket hyperplane in EVERY table — probabilistic tables cannot
    // promise recall for the dense core, the 8-byte pigeonhole on the
    // 64-bit sign sketch can (Dedup.sketchHammingPairs: exact all-pairs
    // at sketch hamming <= min(7, cut), clone-proof via its
    // distinct-signature candidate generation). Near-threshold pairs
    // at larger sketch distances stay with the LSH tables, whose
    // per-table miss probability is independent there.
    val dense = graft.operators.Dedup
      .sketchHammingPairs(model.sk64, math.min(7, hammingCut),
        model.maxBucketSize)
      .select("id_a", "id_b")
    val pairs = lshPairs.unionByName(dense).distinct()
    val emb = corpus.select(col("vec_id"), col("embedding"))
    pairs
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("va")),
        Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("vb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VecFns.cosine(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
