package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** EXACT distributed order statistics — medians, weighted quantiles,
  * MAD — without a global sort, a row-scale shuffle, or an
  * approximation.
  *
  * `approxQuantile` is fuzzy at the cut (rank error ε·n) and a global
  * `percentile_cont` plans a single-partition sort at 100 TB. A rank
  * is a SELECTION problem, and selection narrows geometrically with
  * aggregates alone. ONE kernel, [[groupedMedianExact]], runs the
  * classic iterative-histogram algorithm for every key at once:
  *
  *  1. one aggregate gives each key's (n, W = Σweights, min, max); the
  *     caller turns (n, W) into a target weight rank (unit weights
  *     make it the row rank);
  *  2. each pass histograms every open key's interval into B=2048
  *     equi-width buckets of (count, weight, min, max) — only keys × B
  *     constant-size partials cross the wire, never rows;
  *  3. the driver walks each key's bucket weights to the target and
  *     recurses into that bucket's EXACT [min, max] (bounds from the
  *     aggregate, not bucket-edge arithmetic, so float-boundary
  *     misplacement is harmless);
  *  4. each pass divides the span by ~B, so even 10^13 rows reach a
  *     driver-sized slice (≤ 64k values) in 2-3 passes; a one-value
  *     interval resolves without a collect, and a ULP-degenerate or
  *     over-cap interval finishes by (value, weight) groups, bounded
  *     by the DISTINCT count.
  *
  * NO row ever moves: every pass is a full-scan aggregate with
  * constant-size partials. Driver memory is keys × B partials per pass
  * plus the final slices — the documented bounded-collect posture
  * (SURVEY §2). The scalar median and weighted quantile are the kernel
  * over one key; [[Metrics.theilSen]] runs it over its slope pairs.
  *
  * MAD composes the median twice ([[medMad]]): med = median(x),
  * mad = median(|x − med|). With the consistency constant 1.4826
  * (≈ 1/Φ⁻¹(3/4)), `|x − med| > k·1.4826·mad` is the robust z-score
  * outlier rule — the data-quality screen a few wild rows cannot drag.
  */
object RobustStats {

  private val Buckets = 2048
  private val DriverSliceMax = 65536L
  // Mechanical driver-OOM backstop (round 13): the narrowing loop's
  // exit invariant says the final slice holds <= DriverSliceMax rows
  // (the last histogram pass counted them), but that invariant rests
  // on the input being deterministic between the counting job and the
  // collect job — a non-deterministic source (rand()-derived column,
  // a table rewritten mid-query) can hand the collect arbitrarily more
  // rows than were counted. Slices are collected through
  // limit(cap + 1) — one bounded job per batch — and fall back to
  // value-group selection (bounded by the DISTINCT count) when a batch
  // fills the limit, instead of trusting the stale count.
  private val SliceHardCap = 1048576L
  private val MaxValueGroups = 16L * 1024 * 1024
  private val Unstable =
    "non-deterministic input changed between passes?"

  /** One key's selection: its row count `n`, weight total `w`, the
    * value at the target rank and, when the target asked for it, the
    * value at the next rank (else `value` again).
    */
  private[graft] final case class Pick(key: Any, n: Long, w: Long,
                                       value: Double, next: Double)

  /** The `percentile_cont(0.5)` target: rank ⌈n/2⌉, plus the next
    * rank when n is even.
    */
  private[graft] val MedianRank: (Long, Long) => (Long, Boolean) =
    (n, _) => ((n + 1) / 2, n % 2 == 0)

  /** The lower weighted-quantile target at p = num/den: weight rank
    * ceil(num·W / den) = (num·W + den − 1) / den, with no float. Via
    * BigInt: num·W overflows a Long once W passes ~Long.Max/num
    * (reachable — W is a corpus-wide weight sum), and the wrapped
    * negative rank would silently select min(v); the RESULT ≤ W always
    * fits a Long.
    */
  private[graft] def quantileRank(num: Long,
                                  den: Long): (Long, Long) => (Long, Boolean) =
    (_, w) => (((BigInt(num) * w + den - 1) / den).toLong, false)

  /** The median of a [[MedianRank]] pick: the middle value, or the
    * mean of the two middle values for even n.
    */
  private[graft] def midpoint(p: Pick): Double =
    if (p.n % 2 == 0) (p.value + p.next) / 2.0 else p.value

  /** Exact median of `valueCol` (non-null rows) under the
    * `percentile_cont(0.5)` convention (average of the two middle
    * values for even n). Returns the driver scalar — the caller
    * composes it as a literal.
    */
  def medianExact(df: DataFrame, valueCol: Column): Double =
    midpoint(single(df, valueCol, lit(1L), MedianRank,
      "median of an empty input"))

  /** Exact median and median absolute deviation of `valueCol`:
    * (med, median(|x − med|)), two [[medianExact]] selections.
    */
  def medMad(df: DataFrame, valueCol: Column): (Double, Double) = {
    val med = medianExact(df, valueCol)
    val mad = medianExact(
      df.select(abs(valueCol.cast("double") - lit(med)).as("__rs_d")),
      col("__rs_d"))
    (med, mad)
  }

  /** EXACT lower weighted median: the smallest value v whose
    * cumulative weight (in value order) reaches ⌈W/2⌉, W = Σweights.
    * The kernel's selection with a WEIGHT rank — each pass histograms
    * per-bucket weight sums and the driver walks them to the target.
    * Still aggregate-only: no row ever moves, no range shuffle, no
    * materialized ranking — strictly cheaper than a running-total
    * ranking when only the scalar is needed (the GlobalRank
    * running-total shape remains the right tool when every row needs
    * its cumulative position).
    *
    * Weights must be positive longs (exact integer arithmetic end to
    * end — the ⌈W/2⌉ threshold and every cumulation are order-free).
    * Returns (median value, total weight W).
    */
  def weightedMedianExact(df: DataFrame, valueCol: Column,
                          weightCol: Column): (Double, Long) =
    weightedQuantileExact(df, valueCol, weightCol, 1L, 2L)

  /** Exact lower weighted quantile at p = num/den: the smallest value
    * whose cumulative weight reaches ceil(p * W). The fraction arrives
    * as INTEGERS so the threshold ([[quantileRank]]) is computed
    * without a single float — p = 0.9 as (9, 10) can never land on
    * the wrong side of an exact multiple the way ceil(0.9 * W) in
    * doubles can.
    */
  def weightedQuantileExact(df: DataFrame, valueCol: Column,
                            weightCol: Column,
                            num: Long, den: Long): (Double, Long) = {
    require(num >= 1 && den >= 1 && num <= den,
      s"quantile fraction must satisfy 1 <= num <= den (got $num/$den)")
    val p = single(df, valueCol, weightCol, quantileRank(num, den),
      "weighted quantile of an empty input")
    (p.value, p.w)
  }

  /** The kernel over one key: rows need both a value and a weight. */
  private def single(df: DataFrame, valueCol: Column, weightCol: Column,
                     target: (Long, Long) => (Long, Boolean),
                     empty: String): Pick = {
    val gen = df.select(valueCol.cast("double").as("__rs_x"),
        weightCol.cast("long").as("__rs_w"))
      .filter(col("__rs_x").isNotNull && col("__rs_w").isNotNull)
    val picks = groupedMedianExact(gen, target)
    require(picks.nonEmpty, empty)
    picks.head
  }

  /** The rank-selection kernel: per KEY, the value at the target rank
    * `target(n, W)` (and at the next rank when the target's flag asks
    * for it), vectorized across keys — one histogram pass narrows
    * EVERY open key's candidate interval at once, so K keys cost the
    * same 2-4 full-scan aggregate passes one key does, and NO row ever
    * shuffles or sorts (the input feeds a map-side partial aggregate;
    * only activeKeys × B constant-size partials cross the wire per
    * pass). The default target is the median ([[MedianRank]]; compose
    * with [[midpoint]]).
    *
    * The input frame is RE-EVALUATED once per pass (head + 1-3
    * histogram passes + the final slice/value collect), so callers
    * pass a cheap-to-recompute lineage — a staged scan, or a
    * generated stream whose enumeration is map-side compute (the
    * Theil-Sen pair stream). Driver memory is O(activeKeys × B) per
    * pass plus the final per-key slices (batched under `hardCap` rows
    * per collect) — callers must bound the KEY cardinality
    * (count-then-choose; [[Metrics.theilSen]] gates on
    * [[Metrics.groupedKeyLimit]]).
    *
    * A source that yields fewer rows than the first aggregate counted
    * (it changed between jobs) never indexes past what a pass
    * returned: the key falls back to value-group selection, and fails
    * there by name if the ranks still cannot be reached.
    *
    * @param gen frame with columns `__rs_x` (double, non-null),
    *            `__rs_w` (long, positive; unit weights for a row rank)
    *            and `__rs_k` (any type, the key); without `__rs_k` the
    *            frame is one key (reported as 0), aggregated globally
    * @param sliceMax,hardCap collect bounds, injectable for tests
    * @return one [[Pick]] per key; keys with no rows yield none
    */
  private[graft] def groupedMedianExact(gen: DataFrame,
      target: (Long, Long) => (Long, Boolean) = MedianRank,
      sliceMax: Long = DriverSliceMax,
      hardCap: Long = SliceHardCap): Seq[Pick] = {
    // no key column: one key, aggregated globally (cheaper than
    // grouping every row under one literal key)
    val keyed = gen.columns.contains("__rs_k")
    val keyCols = if (keyed) Seq(col("__rs_k")) else Nil
    def keyOf(r: Row): Any = if (keyed) r.getAs[Any]("__rs_k") else 0

    // per key: candidate interval [lo, hi] holding cnt rows, k = the
    // target's weight rank within it; `next` = the value at rank k + 1
    // once it is known (it may leave the interval during narrowing)
    final class St(val n: Long, val w: Long, var lo: Double,
                   var hi: Double, var cnt: Long, var k: Long,
                   val wantNext: Boolean) {
      var next: Option[Double] = None
      var value: Option[Double] = None
      var byValue = false
      def needNext: Boolean = wantNext && next.isEmpty
    }
    val st = scala.collection.mutable.LinkedHashMap.empty[Any, St]
    gen.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("n"), sum("__rs_w").as("w"),
        min("__rs_w").as("wmin"), min("__rs_x").as("mn"),
        max("__rs_x").as("mx"))
      .collect()
      .filter(_.getAs[Long]("n") > 0) // a global aggregate of no rows
      .foreach { r =>
        val wmin = r.getAs[Long]("wmin")
        require(wmin > 0, s"weights must be positive (min = $wmin)")
        val (n, w) = (r.getAs[Long]("n"), r.getAs[Long]("w"))
        val (k, wantNext) = target(n, w)
        st(keyOf(r)) = new St(n, w, r.getAs[Double]("mn"),
          r.getAs[Double]("mx"), n, k, wantNext)
      }

    // the rows of `keys` inside their current intervals, with the
    // interval as (__rs_lo, __rs_hi): literals for a one-key input (no
    // broadcast job per pass), else a broadcast join on the key (null
    // keys match, <=>)
    def bounded(keys: Seq[Any]): DataFrame = {
      val withBounds =
        if (st.size == 1)
          gen.withColumn("__rs_lo", lit(st(keys.head).lo))
            .withColumn("__rs_hi", lit(st(keys.head).hi))
        else {
          val rows = keys.map { ky => Row(ky, st(ky).lo, st(ky).hi) }.asJava
          val bounds = gen.sparkSession.createDataFrame(rows,
            StructType(Seq(gen.schema("__rs_k").copy(name = "__rs_bk"),
              StructField("__rs_lo", DoubleType, nullable = false),
              StructField("__rs_hi", DoubleType, nullable = false))))
          gen.join(broadcast(bounds), col("__rs_k") <=> col("__rs_bk"))
        }
      withBounds.filter(col("__rs_x") >= col("__rs_lo") &&
        col("__rs_x") <= col("__rs_hi"))
    }
    // first index whose cumulative weight reaches r (-1 if none), and
    // the weight before it
    def reach(ws: Array[Long], r: Long): (Int, Long) = {
      var acc = 0L; var i = 0
      while (i < ws.length && acc + ws(i) < r) { acc += ws(i); i += 1 }
      if (i < ws.length) (i, acc) else (-1, acc)
    }
    // settle k (and k + 1 while needed) from the value-sorted (x, w)
    // run of the key's interval; false when the run holds less weight
    // than the ranks need (the source changed between jobs)
    def settle(s: St, run: Array[(Double, Long)]): Boolean = {
      val ws = run.map(_._2)
      val i = reach(ws, s.k)._1
      val j = if (s.needNext) reach(ws, s.k + 1)._1 else i
      if (i < 0 || j < 0) false
      else {
        s.value = Some(run(i)._1)
        if (s.needNext) s.next = Some(run(j)._1)
        true
      }
    }
    def xw(r: Row): (Double, Long) =
      (r.getAs[Double]("__rs_x"), r.getAs[Long]("__rs_w"))
    def open(s: St): Boolean = !s.byValue && s.cnt > sliceMax && s.lo < s.hi

    // narrowing: one histogram pass per round over every open key
    var active = st.collect { case (ky, s) if open(s) => ky }.toSeq
    var guard = 0
    while (active.nonEmpty && guard < 64) {
      guard += 1
      val width = (col("__rs_hi") - col("__rs_lo")) / lit(Buckets.toDouble)
      val bucket = least(greatest(
        floor((col("__rs_x") - col("__rs_lo")) / width), lit(0.0)),
        lit((Buckets - 1).toDouble)).cast("int")
      val stats = bounded(active)
        .groupBy(keyCols :+ bucket.as("__rs_b"): _*)
        .agg(count(lit(1)).as("c"), sum("__rs_w").as("ws"),
          min("__rs_x").as("mn"), max("__rs_x").as("mx"))
        .collect()
        .groupBy(keyOf)
      active.foreach { ky =>
        val s = st(ky)
        val bs = stats.getOrElse(ky, Array.empty[Row])
          .sortBy(_.getAs[Int]("__rs_b"))
        val ws = bs.map(_.getAs[Long]("ws"))
        val (i, below) = reach(ws, s.k)
        // rank k + 1 falls past bucket i: it is the next bucket's min
        val nextOut = i >= 0 && s.needNext && s.k + 1 > below + ws(i)
        if (i < 0 || (nextOut && i + 1 == bs.length))
          // fewer rows than counted: the source changed between jobs
          s.byValue = true
        else {
          if (nextOut) s.next = Some(bs(i + 1).getAs[Double]("mn"))
          val (c, mn, mx) = (bs(i).getAs[Long]("c"),
            bs(i).getAs[Double]("mn"), bs(i).getAs[Double]("mx"))
          // no shrink: the interval is a few ULPs wide (equi-width
          // bucketing degenerated) — select by value groups
          if (mn == s.lo && mx == s.hi && c == s.cnt) s.byValue = true
          else { s.lo = mn; s.hi = mx; s.k -= below; s.cnt = c }
        }
      }
      active = active.filter(ky => open(st(ky)))
    }

    // tie mass: a one-value interval holds both ranks, however many
    // rows that is — no collect
    st.values.foreach { s =>
      if (!s.byValue && s.lo >= s.hi) {
        s.value = Some(s.lo)
        if (s.needNext) s.next = Some(s.lo)
      }
    }

    // slice finish, batched so one collect never materializes more
    // than hardCap rows: a batch that fills limit(rows + 1) (a source
    // mutating between jobs) falls back to value groups instead of
    // flooding the driver
    val batches = Seq.newBuilder[Seq[Any]]
    var cur = Seq.newBuilder[Any]; var curRows = 0L
    st.foreach { case (ky, s) =>
      if (!s.byValue && s.value.isEmpty) {
        if (s.cnt > hardCap) s.byValue = true
        else {
          if (curRows + s.cnt > hardCap) {
            batches += cur.result(); cur = Seq.newBuilder[Any]; curRows = 0L
          }
          cur += ky; curRows += s.cnt
        }
      }
    }
    batches += cur.result()
    batches.result().filter(_.nonEmpty).foreach { batch =>
      val lim = math.min(batch.map(st(_).cnt).sum + 1,
        Int.MaxValue.toLong).toInt
      val capped = bounded(batch)
        .select(keyCols :+ col("__rs_x") :+ col("__rs_w"): _*)
        .limit(lim).collect()
      val byKey = capped.groupBy(keyOf)
      batch.foreach { ky =>
        val run = byKey.getOrElse(ky, Array.empty[Row]).map(xw).sortBy(_._1)
        if (capped.length >= lim || !settle(st(ky), run))
          st(ky).byValue = true
      }
    }

    // value-group finish (ULP-degenerate intervals and every
    // fallback): bounded by the DISTINCT count inside each interval
    val bvKeys = st.collect { case (ky, s) if s.value.isEmpty => ky }.toSeq
    if (bvKeys.nonEmpty) {
      val grouped = bounded(bvKeys)
        .groupBy(keyCols :+ col("__rs_x"): _*)
        .agg(sum("__rs_w").as("__rs_w"))
      val ng = grouped.count()
      require(ng <= MaxValueGroups,
        s"rank selection degenerate: $ng distinct (key, value) groups " +
          s"— $Unstable")
      val byKey = grouped.collect().groupBy(keyOf)
      bvKeys.foreach { ky =>
        val run = byKey.getOrElse(ky, Array.empty[Row]).map(xw).sortBy(_._1)
        require(settle(st(ky), run),
          s"rank selection: key $ky holds less weight than its target " +
            s"rank — $Unstable")
      }
    }
    st.toSeq.map { case (ky, s) =>
      Pick(ky, s.n, s.w, s.value.get,
        if (s.wantNext) s.next.get else s.value.get)
    }
  }

  /** One-row robust summary of `valueCol`:
    * (n, med, mad, n_out) where n_out counts rows with
    * `|x − med| > k·1.4826·mad`. Exact at any scale — iterative-
    * histogram selections, no approximation, no row-scale shuffle.
    */
  def madOutlierSummary(df: DataFrame, valueCol: Column,
                        k: Double = 3.0): DataFrame = {
    val vals = df.select(valueCol.cast("double").as("__rs_x"))
      .filter(col("__rs_x").isNotNull)
    val (med, mad) = medMad(vals, col("__rs_x"))
    def r4(c: Column): Column =
      floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)
    vals.agg(
      count(lit(1)).as("n"),
      r4(lit(med)).as("med"),
      r4(lit(mad)).as("mad"),
      sum(when(abs(col("__rs_x") - lit(med)) >
        lit(k) * lit(1.4826) * lit(mad), 1L).otherwise(0L)).as("n_out"))
  }
}
