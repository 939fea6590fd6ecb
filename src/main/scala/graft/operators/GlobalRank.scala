package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit,
  Sample, Sort}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{BooleanType, DateType, NumericType,
  TimestampNTZType, TimestampType}

/** Exact global rank / ntile WITHOUT a global window.
  *
  * `row_number().over(Window.orderBy(...))` — an empty partition spec —
  * plans a single-partition WindowExec: one task sorts the entire
  * input, which is the canonical 100 TB scale-killer (and the warning
  * Spark prints as "No Partition Defined ... serious performance
  * degradation"). But exact global ranking doesn't need a global sort
  * in one task. The distributed shape here is VALUE-DETERMINISTIC
  * range bucketing:
  *
  *  1. sample B-1 quantile boundaries of the LEADING sort key (one
  *     bounded `approxQuantile` pass over that single column) and
  *     freeze them as literals;
  *  2. assign each row a bucket by binary-searching the literal
  *     boundaries (a log₂B-deep codegen'd `when` tree) — the bucket is
  *     a pure function of the ROW VALUES, so every plan branch and
  *     every re-evaluation agrees on it by construction (no partition
  *     ids pinned as data, no staged copy of the frame);
  *  3. per-bucket row counts → prefix-sum offsets, IN-PLAN: bucket b's
  *     counts explode to every bucket after it (≤ B²/2 metadata rows,
  *     summed in one task) and a grouped sum is the prefix, broadcast
  *     back. The total n that ntile/topFraction need rides on the same
  *     offsets rows (each count also explodes to its own and earlier
  *     buckets, ≤ B² rows). So no call runs a driver action beyond the
  *     boundary sample;
  *  4. `row_number()` over a window PARTITIONED by the bucket
  *     (parallel, one key range per bucket) + the bucket's offset
  *     = the exact global rank.
  *
  * The result is identical to the global-window answer for any TOTAL
  * ordering (pass a tiebreak column — ranks among exact duplicates are
  * otherwise tie-broken by bucket placement), but the only full-width
  * data movement is the ONE hash exchange the bucketed window needs:
  * no range shuffle, no materialized staged copy of the frame, and the
  * only single-point work is the ≤B-row offset scan. Boundary QUALITY
  * affects only balance, never correctness — the offsets and in-bucket
  * ranks are exact whatever the sample said.
  *
  * Applicability: the fast path needs a leading sort key with a
  * monotone embedding into DOUBLE (numeric, date, timestamp, boolean)
  * AND a deterministic input lineage — the fast path re-evaluates the
  * input per pass, so a non-deterministic source (rand()-derived
  * columns, samples, unordered limits, monotonically_increasing_id)
  * could disagree between passes; such lineages are detected and
  * routed to the staged fallback, which pins the frame once and is
  * immune.
  * Anything else (string/binary/struct leads) falls back to the
  * pinned-partition-id form: range-shuffle into at most [[MaxBuckets]]
  * partitions, stage the frame once ([[Stage.materialize]] —
  * boundaries come from sampling, so ids must be pinned before two
  * plan branches read them), then the same in-plan offsets keyed by
  * the pinned id. Same output, heavier I/O.
  *
  * Balance caveat, now two-level (r18): buckets split on the leading
  * key first; a lead VALUE hot enough to be sampled for ≥ 2 quantile
  * cuts gets its own sub-buckets on the SECOND sort key's quantiles
  * (order-safe — equal-lead rows are ordered by the tiebreak), so a
  * dominant value no longer funnels through one bucket's sort (the
  * measured probe: 80%-hot 4M rows ran 1.5× slower single-level,
  * ≈ balanced two-level). The split needs a numeric-embeddable second
  * sort column and a lead type whose double equality is exact at the
  * hot value (not a > 2^53 long hash, not decimal/timestamp); inputs
  * without one keep the single-bucket straggler, documented above.
  *
  * Lineage caveat: the fast path evaluates the input lineage up to
  * three times (boundary sample over the lead column, per-bucket
  * counts, final ranking) instead of staging it — column pruning makes
  * the first two narrow. A caller whose input is EXPENSIVE to
  * recompute (a corpus-wide join/aggregate) should stage it once
  * itself ([[Stage.materialize]]) and rank the staged scan, which is
  * still strictly cheaper than the old always-staged form (that staged
  * the frame AFTER a full range shuffle).
  */
object GlobalRank {

  /** Cap on the bucket count (and so on the ranking stage's
    * parallelism), sampled or range-partitioned. The bucket expression
    * is a binary-search `when` tree — log₂B comparisons evaluated per
    * row, B literal nodes in the plan — and the in-plan offsets explode
    * to ≤ B²/2 metadata rows, so the cap keeps both sane when a
    * deployment runs tens of thousands of shuffle partitions.
    */
  val MaxBuckets = 1024

  /** Cap on the number of hot lead-key VALUES that get their own
    * second-key sub-buckets per call (each costs one bounded filtered
    * quantile pass at plan-build time; a corpus with more than this
    * many ≥2-quantile-wide values keeps single buckets for the rest).
    */
  val MaxHotSplits = 8

  /** [[withGroupedRank]] engages its bucket split only when the
    * hottest group's row share exceeds this many bucket-widths
    * (share > factor / B): below that the plain partitioned window's
    * largest task is already within a few bucket-widths of ideal and
    * the split's extra lineage passes are pure overhead. B grows with
    * the session's partition count, so the threshold tightens
    * automatically at scale.
    */
  val HotGroupFactor = 4.0

  /** Bound on [[withGroupedRank]]'s broadcast offsets frame, one row
    * per (group, bucket): the bucket split engages only while
    * groups × B stays at or under this many rows (a few MB of
    * broadcast); above it the plain partitioned window runs instead.
    */
  val MaxGroupedOffsetRows: Long = 1L << 16

  private val Reserved = Seq("__gr_pid", "__gr_off", "__gr_voff", "__gr_v",
    "__gr_d", "__gr_d2", "__gr_b", "__gr_b2", "__gr_c", "__gr_s", "__gr_n")

  /** The hottest group's share of rows and the number of groups — ONE
    * narrow map-side-partial aggregate (the count-then-choose detection
    * pass).
    */
  private def groupStats(df: DataFrame,
                         groupCols: Seq[String]): (Double, Long) = {
    val r = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__gr_c"))
      .agg(max("__gr_c"), sum("__gr_c"), count(lit(1))).head()
    val share =
      if (r.isNullAt(0) || r.getLong(1) == 0L) 0.0
      else r.getLong(0).toDouble / r.getLong(1)
    (share, r.getLong(2))
  }

  /** `df` plus a `rankCol` (1-based, long) giving each row's exact
    * global rank under `sortCols`. See object doc for the plan shape.
    *
    * @param sortCols total ordering (include a tiebreak column);
    *                 `.desc` columns are honored
    * @param numPartitions range buckets; <= 0 uses
    *                      `spark.sql.shuffle.partitions`
    */
  def withGlobalRank(df: DataFrame, sortCols: Seq[Column],
                     rankCol: String = "rank",
                     numPartitions: Int = 0): DataFrame =
    ranked(df, sortCols, rankCol, numPartitions, None, "__gr_unused")

  /** `df` plus a `bucketCol` (1-based, long) replaying EXACT
    * `ntile(buckets)` semantics over the global `sortCols` order: with
    * n rows, the first n % buckets buckets hold n/buckets + 1 rows,
    * the rest n/buckets — bit-identical to the window function, minus
    * its single-partition sort. n is the in-plan row count, and bucket
    * assignment is pure integer column arithmetic over it and the
    * global rank (`div`, no doubles — safe past 2^53 rows).
    */
  def withNtile(df: DataFrame, sortCols: Seq[Column], buckets: Int,
                bucketCol: String = "bucket",
                numPartitions: Int = 0): DataFrame = {
    require(buckets >= 1, s"ntile needs >= 1 bucket, got $buckets")
    require(!df.columns.contains(bucketCol),
      s"input already has a '$bucketCol' column")
    val q = s"(__gr_n div $buckets)"
    val rem = s"(__gr_n % $buckets)"
    val cut = s"($rem * ($q + 1))" // ranks 1..cut land in q+1-sized buckets
    // q = 0 only when n < buckets, where every rank <= cut
    val bucket = expr(s"CASE WHEN __gr_rank <= $cut " +
      s"THEN (__gr_rank - 1) div ($q + 1) + 1 " +
      s"ELSE $rem + (__gr_rank - 1 - $cut) div greatest($q, 1) + 1 END")
    ranked(df, sortCols, "__gr_rank", numPartitions, None, "__gr_unused",
        withN = true)
      .withColumn(bucketCol, bucket.cast("long")).drop("__gr_rank", "__gr_n")
  }

  /** EXACT top-fraction selection — the "keep the best p% by score"
    * curation cut (quality-percentile corpus filtering): rows whose
    * global rank under `sortCols` is <= round(frac * n). Exact where
    * an `approxQuantile` threshold is fuzzy at the boundary, and still
    * fully distributed (the only extra work over [[withGlobalRank]] is
    * the in-plan n and a codegen'd filter). `round` (not ceil) on the
    * boundary: IEEE makes 0.1 * 500 land at 50.000000000000003, which
    * `ceil` turns into an off-by-one surprise on BOTH engines.
    */
  def topFraction(df: DataFrame, sortCols: Seq[Column], frac: Double,
                  rankCol: String = "rank",
                  numPartitions: Int = 0): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"need 0 < frac <= 1, got $frac")
    ranked(df, sortCols, rankCol, numPartitions, None, "__gr_unused",
        withN = true)
      .filter(col(rankCol) <= round(lit(frac) * col("__gr_n")).cast("long"))
      .drop("__gr_n")
  }

  /** Exact PER-GROUP rank — `row_number()` over a window partitioned
    * by `groupCols` and ordered by `sortCols` — without funneling a
    * hot group through one task's sort. A plain partitioned window
    * co-locates EVERY row of a group in one task (the r18 skew sweep
    * measured a 90%-hot group at 3.7× the uniform cost, and AQE cannot
    * split a window partition); here rows bucket on GLOBAL quantile
    * boundaries of the leading sort key (the same value-deterministic
    * literal tree as the global rank), the window partitions by
    * (groupCols…, bucket) — a hot group's sort splits across all B
    * buckets — and each group's per-bucket counts prefix-sum IN-PLAN
    * (the same bounded explode-to-later-buckets offsets, keyed by
    * group) into the offsets that linearize in-bucket row numbers to
    * the exact per-group rank. Bit-identical to the window for any
    * per-group total ordering (include a tiebreak), by the same
    * argument as the global fast path: equal lead values share a
    * bucket, the in-bucket window re-sorts the full tuple, offsets are
    * exact counts.
    *
    * Count-then-choose (the PageRank/CC/theilSen convention): one
    * narrow aggregate measures the hottest group's share and the group
    * count first, and the split machinery only engages when that share
    * exceeds [[HotGroupFactor]] bucket-widths (share > factor / B) —
    * balanced groups keep the plain window and pay only the one
    * detection pass (the bucketing adds ~3 narrow lineage evaluations
    * that are pure overhead when no group funnels; the threshold is
    * bucket-relative, so it tightens automatically as partition counts
    * grow at scale).
    *
    * Applicability mirrors the global fast path (numeric-embeddable
    * lead key, deterministic lineage); anything else falls back to the
    * plain partitioned window unchanged. The offsets side is
    * groups × B metadata rows and is BROADCAST, so the split also
    * needs groups × B ≤ [[MaxGroupedOffsetRows]]; wider group columns
    * keep the plain window. Group columns join null-safely, so a null
    * group ranks exactly as the window's null partition does.
    */
  def withGroupedRank(df: DataFrame, groupCols: Seq[String],
                      sortCols: Seq[Column], rankCol: String = "rank",
                      numPartitions: Int = 0): DataFrame = {
    require(groupCols.nonEmpty, "withGroupedRank needs group columns")
    val taken = df.columns.toSet
    require(!taken(rankCol), s"input already has a '$rankCol' column")
    require((Reserved ++ groupCols.map(g => s"__gr_g_$g")).forall(!taken(_)),
      "input uses GlobalRank's reserved __gr_* names")
    val b = bucketCount(df, numPartitions)
    def worthSplit: Boolean = {
      val (share, groups) = groupStats(df, groupCols)
      share * b > HotGroupFactor && groups * b <= MaxGroupedOffsetRows
    }
    embedKey(df, sortCols.head) match {
      case Some(key) if deterministicLineage(df) && worthSplit =>
        val (bdf, maxId) = bucketize(df, sortCols, key, b)
        rankInBuckets(bdf, groupCols, "__gr_b", maxId, sortCols, rankCol,
          None, withN = false)
      case _ =>
        df.withColumn(rankCol, row_number().over(
          Window.partitionBy(groupCols.map(col): _*).orderBy(sortCols: _*))
          .cast("long"))
    }
  }

  /** Deterministic epoch shuffle — the training-order permutation of a
    * corpus for one epoch, as an explicit `pos` (1..n): order by the
    * content hash of (id, epoch seed). Content-addressed, so the
    * permutation is reproducible across runs, retries, cluster sizes,
    * and (with `portable = true`, the md5 path the oracle replays)
    * engines — a `rand()` shuffle is none of those. A new seed per
    * epoch gives independent permutations without materializing any
    * shuffle state.
    */
  def epochShuffle(df: DataFrame, idCol: String, seed: Long,
                   posCol: String = "pos", portable: Boolean = false,
                   numPartitions: Int = 0): DataFrame =
    withGlobalRank(df,
      Seq(Sampling.contentHash(col(idCol), seed, portable), col(idCol)),
      posCol, numPartitions)

  /** `df` plus the exact global rank AND the exact global RUNNING
    * TOTAL of `valueCol` under `sortCols` (inclusive prefix sum in
    * rank order) — the primitive behind budgeted selection ("take
    * documents by descending quality until the token budget is
    * spent"). Same bucketed shape as [[withGlobalRank]]: the counts
    * pass carries a per-bucket SUM next to the count, the in-plan
    * offsets prefix-sum both (≤ B²/2 metadata rows), and the in-bucket
    * window carries the value sum alongside row_number — still no
    * global window, one extra long per offset row.
    *
    * `valueCol` must be integral (LONG) — integer prefix sums are
    * order-free and bit-identical cross-engine, where a double's
    * accumulation order would not be.
    *
    * Null contract: a null `valueCol` counts as 0 toward the running
    * total (it is coalesced at ingestion, so the per-bucket sums,
    * their prefix sums, and the in-bucket window all see the same
    * non-null longs — rank/total cannot desynchronize on null-skipping
    * window sums).
    */
  def withRunningTotal(df: DataFrame, sortCols: Seq[Column],
                       valueCol: Column, rankCol: String = "rank",
                       totalCol: String = "running_total",
                       numPartitions: Int = 0): DataFrame =
    ranked(df, sortCols, rankCol, numPartitions, Some(valueCol), totalCol)

  // ---- shared machinery --------------------------------------------

  /** B: the requested (or session) partition count, capped at
    * [[MaxBuckets]].
    */
  private def bucketCount(df: DataFrame, numPartitions: Int): Int = {
    val p =
      if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    math.max(1, math.min(p, MaxBuckets))
  }

  /** Rank (and optionally running-total) `df`. With `withN` the frame
    * also carries the total row count as `__gr_n`, for
    * `withNtile`/`topFraction`.
    */
  private def ranked(df: DataFrame, sortCols: Seq[Column], rankCol: String,
                     numPartitions: Int, value: Option[Column],
                     totalCol: String, withN: Boolean = false): DataFrame = {
    // withColumn REPLACES silently — a caller column named like the
    // rank output or the internal bucket/offset scratch would corrupt
    // the result without a trace
    val taken = df.columns.toSet
    require(!taken(rankCol), s"input already has a '$rankCol' column")
    require(value.isEmpty || !taken(totalCol),
      s"input already has a '$totalCol' column")
    require(Reserved.forall(!taken(_)),
      "input uses GlobalRank's reserved __gr_* names")
    val b = bucketCount(df, numPartitions)
    val base = value match {
      case Some(v) =>
        df.withColumn("__gr_v", coalesce(v.cast("long"), lit(0L)))
      case None => df
    }
    val total = value.map(_ => totalCol)
    embedKey(df, sortCols.head) match {
      // determinism gate (r18, advisor item): the bucketed fast path
      // evaluates the input lineage up to three times (boundary sample,
      // counts, ranking) — a non-deterministic input (the rand()
      // family, monotonically_increasing_id, a Sample node, a limit over
      // unordered rows) could disagree across those passes and silently
      // duplicate/skip ranks. The staged fallback pins the frame once
      // and is immune, so such lineage routes there. Not caught: an
      // order-dependent first()/last(), which Catalyst marks
      // deterministic. Every registered caller is deterministic
      // (PlanGuardSpec bans the rand() family repo-wide), so this is a
      // latent-hazard gate, not a plan change.
      case Some(key) if deterministicLineage(df) =>
        val (bdf, maxId) = bucketize(base, sortCols, key, b)
        rankInBuckets(bdf, Nil, "__gr_b", maxId, sortCols, rankCol, total,
          withN)
      case _ =>
        // pinned-partition-id fallback: range-shuffle on the full sort
        // tuple and freeze each row's range-partition id AS DATA
        // (boundaries come from sampling, so the id must be pinned
        // before the offsets and ranking branches read the frame)
        val ranged = Stage.materialize(
          base.repartitionByRange(b, sortCols: _*)
            .withColumn("__gr_pid", spark_partition_id()),
          if (value.isDefined) "global_running_total" else "global_rank")
        rankInBuckets(ranged, Nil, "__gr_pid", b - 1, sortCols, rankCol,
          total, withN)
    }
  }

  /** Would every evaluation of `df`'s analyzed plan yield the same
    * rows? One sweep over the nodes: any expression that does not claim
    * determinism (Catalyst's `Expression.deterministic` already folds
    * children), any `Sample` node (the rows drawn depend on the input's
    * partitioning and order, which a re-run may not reproduce), and any
    * `GlobalLimit` not directly over a global `Sort` (which n rows it
    * keeps depends on task completion order).
    */
  private def deterministicLineage(df: DataFrame): Boolean =
    df.queryExecution.analyzed.find {
      case _: Sample => true
      case GlobalLimit(_, LocalLimit(_, s: Sort)) if s.global => false
      case _: GlobalLimit => true
      case p => p.expressions.exists(e => !e.deterministic)
    }.isEmpty

  /** Monotone DOUBLE embedding of the leading sort key, pre-negated
    * for descending order so downstream bucketing is always
    * "ascending": (embedded key, nulls-first?, descending?). None when
    * the key's type has no monotone numeric embedding (string/binary/
    * complex) — those take the staged fallback. Non-strict
    * monotonicity (e.g. distinct longs past 2^53 collapsing to one
    * double) is fine: equal embedded values share a bucket, and the
    * in-bucket window re-sorts by the ORIGINAL columns.
    */
  private def embedKey(df: DataFrame,
                      c: Column): Option[(Column, Boolean, Boolean)] = {
    val (child, desc, nullsFirst) = Shim.sortOrder(c)
    // schema triggers analysis only (no job); the sort key must already
    // resolve against df for the ranking itself to be well-formed
    val dt = df.select(child.as("__gr_d")).schema.head.dataType
    val embedded: Option[Column] = dt match {
      case _: NumericType => Some(child.cast("double"))
      case TimestampType | TimestampNTZType => Some(child.cast("double"))
      case DateType => Some(child.cast("timestamp").cast("double"))
      case BooleanType => Some(child.cast("int").cast("double"))
      case _ => None
    }
    embedded.map(d => (if (desc) negate(d) else d, nullsFirst, desc))
  }

  /** `df` plus the sampled-boundary bucket `__gr_b` (see the object
    * doc) and the largest bucket id. Bucket ids follow the total order:
    * every row of bucket i sorts before every row of bucket i + 1.
    */
  private def bucketize(df: DataFrame, sortCols: Seq[Column],
                        key: (Column, Boolean, Boolean),
                        b: Int): (DataFrame, Int) = {
    val (keyed, nullsFirst, desc) = key
    val keyedDf0 = df.withColumn("__gr_d", keyed)
    // bounded action 1: sample the boundaries (narrow, column-pruned
    // scan of the lead key; nulls and NaNs bucket by rule, not sample)
    // approxQuantile drops null and NaN itself — no pre-filter (a
    // Filter here measurably breaks codegen fusion with the summary
    // aggregate); nulls and NaNs bucket by the explicit rules below.
    // Duplicates are KEPT here: a value drawn for d of the B-1
    // quantiles carries ≈ d/B of all rows — the hot-lead detector.
    val bsRaw: Array[Double] =
      if (b <= 1) Array.empty
      else keyedDf0.select(col("__gr_d"))
        .stat.approxQuantile("__gr_d",
          (1 until b).map(_.toDouble / b).toArray,
          1.0 / math.max(1000, 4 * b))
        .sorted
    val bs = bsRaw.distinct
    val k = bs.length // base buckets 0..k: bucket(d) = #[ boundaries < d ]
    // Two-level hot-value split (r18, skew×fat sweep): a lead value
    // sampled for m ≥ 2 quantiles owns ≈ m/B of ALL rows — single-level
    // bucketing would funnel that mass through one bucket's sort (the
    // measured 4M-row probe: 1.5× at 80% hot locally, a true straggler
    // at scale). Such values get their own m sub-buckets cut on the
    // SECOND sort key's quantiles (one bounded filtered approxQuantile
    // per hot value, at most MaxHotSplits of them) — order-safe because
    // rows equal on the lead are ordered by the second key, and the
    // in-bucket window still sorts the full tuple. Requires (a) a
    // second sort column with a monotone double embedding, and (b) a
    // lead type whose double equality implies ORIGINAL-value equality
    // at the hot value (always for int/float/double/bool/date leads;
    // for longs only below 2^53 — a long lead past 2^53, e.g. a 64-bit
    // content hash, collapses distinct values onto one double, where
    // sub-bucketing by the second key would break the total order, so
    // those values keep the single-bucket behavior).
    val hotCandidates: Seq[(Double, Int)] =
      if (k == 0 || sortCols.size < 2) Seq.empty
      else bsRaw.groupBy(identity).iterator
        .collect { case (v, a) if a.length >= 2 => (v, a.length) }
        .toSeq.sortBy { case (v, m) => (-m, v) }.take(MaxHotSplits)
        .sortBy(_._1)
    val secondKey: Option[(Column, Boolean, Boolean)] =
      if (hotCandidates.isEmpty) None else embedKey(df, sortCols(1))
    val strictAt: Option[Double => Boolean] =
      if (hotCandidates.isEmpty || secondKey.isEmpty) None
      else {
        import org.apache.spark.sql.types._
        val (child, _, _) = Shim.sortOrder(sortCols.head)
        df.select(child.as("__gr_t")).schema.head.dataType match {
          case ByteType | ShortType | IntegerType | FloatType |
               DoubleType | BooleanType | DateType => Some(_ => true)
          case LongType => Some(v => math.abs(v) < 9007199254740992.0)
          case _ => None // decimal/timestamp embeddings can round-collide
        }
      }
    val hots: Seq[(Double, Array[Double])] = strictAt match {
      case Some(strict) =>
        val (k2, _, _) = secondKey.get
        hotCandidates.filter(vc => strict(vc._1)).map { case (v, m) =>
          // bounded action per hot value: sub-boundaries of the second
          // key among this value's rows (narrow, filtered, ≤ m cuts)
          val subBs = keyedDf0.filter(col("__gr_d") === lit(v))
            .select(k2.as("__gr_d2"))
            .stat.approxQuantile("__gr_d2",
              (1 until math.max(m, 2)).map(_.toDouble / m).toArray,
              1.0 / math.max(1000, 4 * m))
            .distinct.sorted
          (v, subBs)
        }
      case None => Seq.empty
    }
    // dense bucket ids in total-order position: base bucket i's non-hot
    // rows first, then (when boundary bs(i) is a split value) that
    // value's sub-buckets — rows == v land in base bucket #[bs < v],
    // whose non-hot residents all sort strictly below v
    val hotByValue = hots.toMap
    val baseId = new Array[Int](k + 1)
    val hotStart = scala.collection.mutable.Map.empty[Double, Int]
    var nextId = 0
    (0 to k).foreach { i =>
      baseId(i) = nextId; nextId += 1
      if (i < k) hotByValue.get(bs(i)).foreach { subBs =>
        hotStart(bs(i)) = nextId; nextId += subBs.length + 1
      }
    }
    val maxId = nextId - 1
    // binary search over sorted literal cuts: leaf i of `cuts` gets id(i)
    def tree(c: Column, cuts: Array[Double], id: Int => Int, lo: Int,
             hi: Int): Column =
      if (lo == hi) lit(id(lo))
      else {
        val mid = (lo + hi) / 2
        when(c > lit(cuts(mid)), tree(c, cuts, id, mid + 1, hi))
          .otherwise(tree(c, cuts, id, lo, mid))
      }
    // null placement per the sort order's null ordering; NaN sorts
    // LARGEST in Spark, so it lands last ascending / first descending
    // (the embedding negates for desc but NaN survives negation)
    def rules(c: Column, nf: Boolean, ds: Boolean, first: Int, last: Int,
              rest: Column): Column =
      when(c.isNull, lit(if (nf) first else last))
        .when(isnan(c), lit(if (ds) first else last))
        .otherwise(rest)
    val withHot = hots.foldLeft(tree(col("__gr_d"), bs, baseId(_), 0, k)) {
      case (acc, (v, subBs)) =>
        val start = hotStart(v)
        val (_, nf2, desc2) = secondKey.get
        val sub = rules(col("__gr_d2"), nf2, desc2, start,
          start + subBs.length,
          tree(col("__gr_d2"), subBs, start + _, 0, subBs.length))
        when(col("__gr_d") === lit(v), sub).otherwise(acc)
    }
    val bucket = rules(col("__gr_d"), nullsFirst, desc, 0, maxId, withHot)
    val keyedDf =
      if (hots.nonEmpty) keyedDf0.withColumn("__gr_d2", secondKey.get._1)
      else keyedDf0
    (keyedDf.withColumn("__gr_b", bucket).drop("__gr_d", "__gr_d2"), maxId)
  }

  /** The one offsets implementation. `bdf` carries a bucket column
    * (ids 0..maxId in total order within each `keys` group); rank (and
    * running-total `__gr_v` into `totalCol`) within (keys…, bucket),
    * then add each bucket's exclusive prefix offsets, computed IN-PLAN
    * from the per-bucket counts: bucket b's count (and value sum)
    * explodes to every later bucket of its group (≤ B²/2 metadata rows
    * per group) and a grouped sum is the prefix. The offsets join
    * AFTER the window (the bucketed exchange moves only the caller's
    * columns + one int), broadcast and LEFT — a bucket with no
    * non-empty predecessor has offset 0 — with keys matched
    * null-safely. With `withN` (keyless only) each count also explodes
    * to its own and every earlier bucket, so every offsets row carries
    * the total row count as `__gr_n` through the same broadcast.
    */
  private def rankInBuckets(bdf: DataFrame, keys: Seq[String],
                            bucketCol: String, maxId: Int,
                            sortCols: Seq[Column], rankCol: String,
                            totalCol: Option[String],
                            withN: Boolean): DataFrame = {
    val wr = Window.partitionBy(keys.map(col) :+ col(bucketCol): _*)
      .orderBy(sortCols: _*)
    val withRank = bdf.withColumn(rankCol, row_number().over(wr).cast("long"))
    val inBucket = totalCol.fold(withRank)(t => withRank.withColumn(t,
      sum("__gr_v").over(wr.rowsBetween(Window.unboundedPreceding, 0))))
    val counts = bdf.groupBy(keys.map(col) :+ col(bucketCol): _*)
      .agg(count(lit(1)).as("__gr_c"),
        (if (totalCol.isDefined) sum("__gr_v") else lit(0L)).as("__gr_s"))
    // the last bucket's count lands on the sentinel maxId + 1, which no
    // row joins: no filter over the counts, which Catalyst would push
    // below the aggregate and so evaluate the bucket tree twice per row.
    // Keyless, the ≤ B² exploded rows sum in ONE task (no second
    // shuffle before the broadcast); per group they keep the exchange.
    val earlier = col(bucketCol) < col("__gr_b2")
    val offsets = (if (keys.isEmpty) counts.coalesce(1) else counts)
      .select(keys.map(k => col(k).as(s"__gr_g_$k")) :+ col(bucketCol) :+
        explode(sequence(if (withN) lit(0) else col(bucketCol) + 1,
          lit(maxId + 1))).as("__gr_b2") :+
        col("__gr_c") :+ col("__gr_s"): _*)
      .groupBy((keys.map(k => s"__gr_g_$k") :+ "__gr_b2").map(col): _*)
      .agg(sum(when(earlier, col("__gr_c"))).as("__gr_off"),
        sum(when(earlier, col("__gr_s"))).as("__gr_voff"),
        sum("__gr_c").as("__gr_n"))
    val cond = keys.foldLeft(col(bucketCol) === col("__gr_b2")) { (c, k) =>
      c && (col(k) <=> col(s"__gr_g_$k"))
    }
    val joined = inBucket.join(broadcast(offsets), cond, "left")
      .withColumn(rankCol, col(rankCol) + coalesce(col("__gr_off"), lit(0L)))
    val out = totalCol.fold(joined)(t => joined.withColumn(t,
      col(t) + coalesce(col("__gr_voff"), lit(0L))))
    out.drop(Seq(bucketCol, "__gr_b2", "__gr_off", "__gr_voff", "__gr_v") ++
      (if (withN) Nil else Seq("__gr_n")) ++ keys.map(k => s"__gr_g_$k"): _*)
  }
}
