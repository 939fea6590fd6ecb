package graft.queries

import org.apache.spark.sql.functions._

/** Streaming surface (SURVEY.md §2.9 [EXT]) validated in batch mode — the
  * windowing API is identical under Structured Streaming (the true
  * streaming path, watermarks and stateful ops included, lives in
  * graft.streaming and is exercised by ScalaTest with MemoryStream).
  *
  * Timestamps: window starts are emitted as epoch seconds (BIGINT) —
  * the events `ts` physical type has drifted across test-data
  * generations (nanos → micros; the loader in `graft.queries.t`
  * branches on the observed schema), so raw instants never cross the
  * oracle: both engines compare epoch integers at the engine's µs
  * precision floor instead.
  */
object StreamQ {

  /** Shared per-user hourly-grid scaffolding for ts_fill / ts_interp:
    * hourly sums (staged once — the frame feeds three plan branches),
    * plus the dense (user × corpus-hour) grid left-joined to them.
    * Factored so the two queries cannot silently drift apart (both
    * engines' grids are built from the identical definition).
    */
  private def hourlyGrid(s: org.apache.spark.sql.SparkSession, d: String,
      tag: String): org.apache.spark.sql.DataFrame = {
    val hourly = graft.operators.Stage.materialize(
      t(s, d, "events")
        .select(col("user_id"),
          (floor(col("ts").cast("long") / 3600) * 3600).as("hs"),
          col("value"))
        .groupBy("user_id", "hs")
        .agg(round(sum("value"), 2).as("v")),
      s"${tag}_hourly")
    // One tiny agg over the staged frame yields the span AND the grid
    // budget inputs (grid rows = users x hours — a function of the
    // corpus's TIME EXTENT, not its event count, so a multi-year
    // corpus would silently densify 100x; ScaleGuard.gridBudget fails
    // or warns past spark.graft.guard.grid.maxCells). The collected
    // span folds into the sequence() as literals, which also drops the
    // broadcast-join the 1-row span frame used to need.
    val Array(spanRow) = hourly.agg(min("hs").as("lo"), max("hs").as("hi"),
      approx_count_distinct("user_id").as("nu")).collect()
    if (spanRow.isNullAt(0)) // empty corpus: the grid is empty too
      return hourly.limit(0)
    val (lo, hi, nu) =
      (spanRow.getLong(0), spanRow.getLong(1), spanRow.getLong(2))
    val hours = (hi - lo) / 3600L + 1L
    graft.plans.ScaleGuard.gridBudget(s,
      if (nu != 0L && hours > Long.MaxValue / nu) Long.MaxValue
      else nu * hours,
      s"hourlyGrid($tag): ~$nu users x $hours hours")
    val grid = hourly.select(col("user_id")).distinct()
      .select(col("user_id"),
        explode(sequence(lit(lo), lit(hi), lit(3600L))).as("hs"))
    grid.join(hourly, Seq("user_id", "hs"), "left")
  }

  /** The matching oracle CTE prefix (hourly → span → grid → j). */
  private val hourlyGridSql: String =
    """WITH hourly AS (SELECT user_id,
      |    CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hs,
      |    round(sum(value), 2) AS v
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT min(hs) AS lo, max(hs) AS hi FROM hourly),
      |grid AS (SELECT u.user_id, g.hs
      |  FROM (SELECT DISTINCT user_id FROM hourly) u,
      |       span, unnest(generate_series(span.lo, span.hi, 3600))
      |         AS g(hs)),
      |j AS (SELECT grid.user_id, grid.hs, hourly.v
      |  FROM grid LEFT JOIN hourly
      |    ON grid.user_id = hourly.user_id AND grid.hs = hourly.hs)""".stripMargin

  /** Dense per-type hourly count series (event_type, hb, v) — silent
    * hours participate as zeros (each type crossed with a broadcast
    * one-row (lo, hi) span and exploded over sequence(lo, hi), no
    * driver action). Staged once per (session, sf-dir) and shared by
    * ts_acf_profile, ts_backtest, ts_decompose and ts_theilsen: the
    * four, run in sequence after one `Stage.purge`, are slower with a
    * lazy grid (CHANGES.md). The sparse counts are staged too: the
    * span, the type list and the join-back all read them.
    * The matching oracle prefix is [[typeHourlySql]].
    */
  private val typeHourlyCache = new graft.queries.TextQ.ModelCache[
    org.apache.spark.sql.DataFrame](4)
  private def typeHourly(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    typeHourlyCache.getOrFit(s, d, {
      val e = graft.operators.Stage.materialize(
        t(s, d, "events")
          .select(expr("unix_micros(ts) div 3600000000").as("hb"),
            col("event_type"))
          .groupBy("event_type", "hb").agg(count(lit(1)).as("v")),
        "type_hourly_sparse")
      // crossJoin(broadcast(1-row span agg)) + explode(sequence) keeps
      // a plan-PROVEN bounded side and avoids a driver action. Unlike
      // hourlyGrid (user x hours — budget-guarded, span collected),
      // this grid's key side is event_type: single-digit cardinality,
      // so the densified size is ~hours and needs no budget
      val span = e.agg(min("hb").as("lo"), max("hb").as("hi"))
      val grid = e.select(col("event_type")).distinct()
        .crossJoin(broadcast(span))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"), lit(1L))).as("hb"))
      graft.operators.Stage.materialize(
        grid.join(e, Seq("event_type", "hb"), "left")
          .select(col("event_type"), col("hb"),
            coalesce(col("v"), lit(0L)).as("v")),
        "type_hourly_dense")
    })

  /** Oracle CTE prefix matching [[typeHourly]] (… → sv(event_type, hb, v)). */
  private val typeHourlySql: String =
    """WITH e AS (SELECT event_type,
      |    epoch_us(ts) // 3600000000 AS hb FROM events),
      |b AS (SELECT min(hb) AS lo, max(hb) AS hi FROM e),
      |ty AS (SELECT DISTINCT event_type FROM e),
      |g0 AS (SELECT unnest(generate_series(lo, hi)) AS hb FROM b),
      |grid AS (SELECT ty.event_type, g0.hb FROM ty, g0),
      |cv AS (SELECT event_type, hb, count(*)::BIGINT AS v
      |  FROM e GROUP BY 1, 2),
      |sv AS (SELECT grid.event_type, grid.hb, coalesce(cv.v, 0) AS v
      |  FROM grid LEFT JOIN cv USING (event_type, hb))""".stripMargin

  val all: Seq[Q] = Seq(

    // ts_fill [EXT]: time-series gap fill — every user gets a row for
    // EVERY hour of the corpus span, missing hours carry the user's
    // last observed hourly sum forward (0 before the first
    // observation). The dense grid explodes from one sequence per
    // user (scalars), and the carry-forward is one last(ignoreNulls)
    // window over the user's own rows — the standard
    // gaps-and-islands fill, replayed by the oracle with
    // generate_series + a windowed last_value.
    Q("ts_fill",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("hs")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        hourlyGrid(s, d, "ts_fill")
          .withColumn("filled",
            coalesce(last(col("v"), ignoreNulls = true).over(w), lit(0.0)))
          .select(col("user_id"), col("hs"),
            col("v").isNotNull.as("observed"),
            round(col("filled"), 2).as("filled"))
      },
      Some(hourlyGridSql +
        """
          |SELECT user_id, hs, v IS NOT NULL AS observed,
          |  round(coalesce(last_value(v IGNORE NULLS) OVER (
          |    PARTITION BY user_id ORDER BY hs
          |    ROWS UNBOUNDED PRECEDING), 0.0), 2) AS filled
          |FROM j""".stripMargin)),

    // ts_interp [EXT]: LINEAR interpolation of interior gaps on the
    // same per-user hourly grid ts_fill carries forward — the sensor /
    // metric imputation step (carry-forward biases a trend; a linear
    // bridge between the surrounding observations doesn't). Four
    // windows, ALL partitioned by user (prev/next observed value and
    // its grid position); edge gaps (before first / after last
    // observation) fall back to nearest-observation fill. Both engines
    // evaluate the bridge in the identical association order
    // `pv + (nv - pv) * (dt / dT)` on the same round(,2) hourly sums,
    // so both engines hold the bit-identical double. The final 4-decimal
    // rounding is `floor(x*1e4 + 0.5)/1e4` in BOTH engines — pure IEEE
    // double ops, so even an exact .xxxx5 tie (where Spark's
    // BigDecimal-HALF_UP round() and DuckDB's scale-then-std::round
    // round() disagree — observed once at sf0.01) resolves identically.
    Q("ts_interp",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val back = Window.partitionBy("user_id").orderBy("hs")
          .rowsBetween(Window.unboundedPreceding, 0)
        // "next observed at or after hs" as a REVERSED growing frame:
        // last(ignoreNulls) over hs-descending unboundedPreceding..0 ==
        // first(ignoreNulls) over hs-ascending 0..unboundedFollowing,
        // but Spark evaluates a growing frame incrementally (O(n) per
        // partition) while an UnboundedFollowing frame recomputes the
        // aggregate from scratch per row — O(n²), ~39B aggregate
        // updates at the 100x audit corpus (150k users x 720-hour
        // grids), the difference between seconds and hours.
        val fwd = Window.partitionBy("user_id").orderBy(col("hs").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        val obsHs = when(col("v").isNotNull, col("hs"))
        hourlyGrid(s, d, "ts_interp")
          .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
          .withColumn("ph", last(obsHs, ignoreNulls = true).over(back))
          .withColumn("nv", last(col("v"), ignoreNulls = true).over(fwd))
          .withColumn("nh", last(obsHs, ignoreNulls = true).over(fwd))
          .withColumn("interp",
            when(col("v").isNotNull, col("v"))
              .when(col("pv").isNotNull && col("nv").isNotNull,
                col("pv") + (col("nv") - col("pv")) *
                  ((col("hs") - col("ph")).cast("double") /
                    (col("nh") - col("ph")).cast("double")))
              .otherwise(coalesce(col("pv"), col("nv"))))
          .select(col("user_id"), col("hs"),
            col("v").isNotNull.as("observed"),
            (floor(col("interp") * lit(10000.0) + lit(0.5)) / lit(10000.0))
              .as("interp"))
      },
      Some(hourlyGridSql +
        """,
             |wd AS (SELECT user_id, hs, v,
             |    last_value(v IGNORE NULLS) OVER wb AS pv,
             |    last_value(CASE WHEN v IS NOT NULL THEN hs END
             |      IGNORE NULLS) OVER wb AS ph,
             |    first_value(v IGNORE NULLS) OVER wf AS nv,
             |    first_value(CASE WHEN v IS NOT NULL THEN hs END
             |      IGNORE NULLS) OVER wf AS nh
             |  FROM j
             |  WINDOW wb AS (PARTITION BY user_id ORDER BY hs
             |      ROWS UNBOUNDED PRECEDING),
             |    wf AS (PARTITION BY user_id ORDER BY hs
             |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             |SELECT user_id, hs, v IS NOT NULL AS observed,
             |  floor((CASE WHEN v IS NOT NULL THEN v
             |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
             |      pv + (nv - pv) * (CAST(hs - ph AS DOUBLE) /
             |        CAST(nh - ph AS DOUBLE))
             |    ELSE coalesce(pv, nv) END) * 10000.0 + 0.5) / 10000.0
             |    AS interp
             |FROM wd""".stripMargin)),

    // ts_ewma [EXT]: per-user exponential weighted moving average of
    // event values (α=0.25, a binary-exact constant) — the decayed
    // user-activity feature. One user-keyed exchange, ordered fold as
    // a codegen'd aggregate HOF (no window, no driver); the oracle
    // replays the IDENTICAL left fold with list_reduce over
    // list(ORDER BY epoch_us(ts), event_id), so every intermediate
    // double is bit-identical cross-engine.
    Q("ts_ewma",
      (s, d) => graft.operators.TimeSeries.ewma(
        t(s, d, "events"), "user_id",
        unix_micros(col("ts")), col("event_id"), col("value")),
      Some("""WITH sq AS (SELECT user_id,
             |    list(value ORDER BY epoch_us(ts), event_id) AS xs
             |  FROM events
             |  WHERE value IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY user_id)
             |SELECT user_id, len(xs)::BIGINT AS n,
             |  round(list_reduce(xs,
             |    (acc, x) -> 0.25 * x + 0.75 * acc), 4) AS ewma
             |FROM sq""".stripMargin)),

    // ts_autocorr [EXT, new r8]: per-user lag-1 autocorrelation of
    // event values — the serial-dependence screen (is a user's metric
    // a random walk or mean-reverting?) that sits beside ts_mad's
    // dispersion profile. Nulls drop FIRST (the family's null
    // posture), consecutive pairs come from a user-partitioned lag —
    // parallel across users, never a global window — and Pearson corr
    // over (prev, cur) pairs uses the engines' native corr with the
    // repo's 4-decimal rounding absorbing sum-order float noise
    // (agg_corr convention). Users with < 2 pairs or zero variance
    // yield NULL in both engines.
    Q("ts_autocorr",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("tsu"), col("event_id"))
        t(s, d, "events")
          .filter(col("value").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
            col("event_id"), col("value"))
          .withColumn("prev", lag(col("value"), 1).over(w))
          .filter(col("prev").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"),
            round(corr(col("prev"), col("value")), 4).as("ac1"))
      },
      Some("""WITH v AS (SELECT user_id, value,
             |    lag(value) OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS prev
             |  FROM events
             |  WHERE value IS NOT NULL AND ts IS NOT NULL)
             |SELECT user_id, count(*)::BIGINT AS n_pairs,
             |  round(corr(prev, value), 4) AS ac1
             |FROM v WHERE prev IS NOT NULL GROUP BY user_id""".stripMargin)),

    // ts_seasonal [EXT, new r8]: hour-of-day seasonal profile +
    // residual anomalies per event_type — the seasonality-aware
    // monitor that catches what a flat z-score screen (stream_anomaly)
    // miscalls when traffic has a daily cycle. Profile = (n, mean, sd)
    // per (event_type, hour); residual outliers compare each value
    // against ITS OWN hour's moments. The narrow value frame feeds the
    // profile aggregate and the join-back, each a pruned events scan;
    // the profile is dimension-bounded (types × 24), so it broadcasts
    // and rides the join-back's aggregate to the output. The moments are
    // computed from EXACT integer-cent sums (sum(c), sum(c²) as LONGs —
    // order-free, no float accumulation), then mean/sd derive through
    // one fixed left-to-right IEEE expression replayed verbatim by the
    // oracle, so the doubles are bit-identical cross-engine; display
    // rounding uses the repo's floor(x·10^k+0.5) snap (sim_mmr
    // convention) rather than engine round(), whose decimal-boundary
    // behavior differs between Spark's BigDecimal HALF_UP and DuckDB's
    // float path (a round(…,6)→round(…,4) chain flipped a half-boundary
    // row in the round-8 local gate).
    Q("ts_seasonal",
      (s, d) => {
        val e = t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_type"), hour(col("ts")).as("hr"),
            graft.functions.Cols.cents(col("value")).as("c"))
        val nD = col("n").cast("double")
        val prof = e.groupBy("event_type", "hr")
          .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
            sum(col("c") * col("c")).as("ss"))
          .select(col("event_type"), col("hr"), col("n"),
            (col("sc").cast("double") / nD).as("mean_c"),
            when(col("n") > 1, sqrt(greatest(
              (col("ss").cast("double") -
                col("sc").cast("double") * col("sc").cast("double") / nD)
                / (col("n") - 1).cast("double"), lit(0.0)))).as("sd_c"))
        e.join(broadcast(prof), Seq("event_type", "hr"))
          .groupBy("event_type", "hr", "n", "mean_c", "sd_c")
          .agg(sum(when(abs(col("c").cast("double") - col("mean_c")) >
            lit(3.0) * col("sd_c"), 1L).otherwise(0L)).as("n_out"))
          .select(col("event_type"), col("hr"), col("n"),
            (floor(col("mean_c") * lit(100.0) + lit(0.5)) / lit(10000.0))
              .as("mean"),
            (floor(col("sd_c") * lit(100.0) + lit(0.5)) / lit(10000.0))
              .as("sd"), col("n_out"))
      },
      Some("""WITH e AS (SELECT event_type, hour(ts) AS hr,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
             |  FROM events WHERE value IS NOT NULL),
             |p AS (SELECT event_type, hr, count(*)::BIGINT AS n,
             |    sum(c)::BIGINT AS sc, sum(c * c)::BIGINT AS ss
             |  FROM e GROUP BY 1, 2),
             |p2 AS (SELECT event_type, hr, n,
             |    sc::DOUBLE / n::DOUBLE AS mean_c,
             |    CASE WHEN n > 1 THEN sqrt(greatest(
             |      (ss::DOUBLE - sc::DOUBLE * sc::DOUBLE / n::DOUBLE)
             |        / (n - 1)::DOUBLE, 0.0)) END AS sd_c
             |  FROM p),
             |o AS (SELECT e.event_type, e.hr,
             |    sum(CASE WHEN abs(c::DOUBLE - mean_c) > 3.0 * sd_c
             |      THEN 1 ELSE 0 END)::BIGINT AS n_out
             |  FROM e JOIN p2 USING (event_type, hr) GROUP BY 1, 2)
             |SELECT p2.event_type, p2.hr, p2.n,
             |  floor(mean_c * 100.0 + 0.5) / 10000.0 AS mean,
             |  floor(sd_c * 100.0 + 0.5) / 10000.0 AS sd, o.n_out
             |FROM p2 JOIN o USING (event_type, hr)""".stripMargin)),

    // ts_cross_corr [EXT, new r8]: lagged cross-correlation between
    // the view and purchase HOURLY series at lags 0–3 — "does view
    // traffic lead purchase traffic, and by how many hours?", the
    // standard leading-indicator screen. One lazy plan, one events
    // scan: partial-aggregated hourly (vc, pc) counts fold into ONE
    // keyless-aggregate row (lo, hi, hb → (vc, pc) map, one entry per
    // event hour); each lag explodes the DENSE grid sequence(lo,
    // hi − lag) off that row and looks both series up in the map, so
    // silent hours count as zeros. Not a grid join + self-join over a
    // lazy hourly frame: column pruning gives each consumer its own
    // aggregate, exchange reuse misses, and events is scanned per
    // consumer. Never a single-partition window over the global series
    // (the PlanGuard rule). No event with a ts → null span → no rows,
    // as in the oracle. Counts are exact integers; corr rounds at 4 per
    // the agg_corr convention.
    Q("ts_cross_corr",
      (s, d) => {
        val hourly = t(s, d, "events")
          .select(expr("unix_micros(ts) div 3600000000").as("hb"),
            col("event_type"))
          .filter(col("hb").isNotNull)
          .groupBy("hb")
          .agg(count(when(col("event_type") === "view", 1)).as("vc"),
            count(when(col("event_type") === "purchase", 1)).as("pc"))
        val series = hourly.agg(min("hb").as("lo"), max("hb").as("hi"),
          map_from_entries(collect_list(struct(col("hb"),
            struct(col("vc"), col("pc"))))).as("m"))
        val m = col("m")
        series
          .withColumn("lag", explode(array((0 to 3).map(lit): _*)))
          .filter(col("hi") - col("lag") >= col("lo"))
          .select(col("lag"), m,
            explode(sequence(col("lo"), col("hi") - col("lag"))).as("h"))
          .select(col("lag"),
            coalesce(m(col("h")).getField("vc"), lit(0L)).as("vc"),
            coalesce(m(col("h") + col("lag")).getField("pc"), lit(0L))
              .as("pc"))
          .groupBy("lag")
          .agg(count(lit(1)).as("n"),
            round(corr(col("vc").cast("double"),
              col("pc").cast("double")), 4).as("xcorr"))
      },
      Some("""WITH e AS (SELECT epoch_us(ts) // 3600000000 AS hb,
             |    event_type FROM events),
             |bnd AS (SELECT min(hb) AS lo, max(hb) AS hi FROM e),
             |g AS (SELECT unnest(generate_series(lo, hi)) AS hb FROM bnd),
             |v AS (SELECT hb, count(*)::BIGINT AS c FROM e
             |  WHERE event_type = 'view' GROUP BY 1),
             |p AS (SELECT hb, count(*)::BIGINT AS c FROM e
             |  WHERE event_type = 'purchase' GROUP BY 1),
             |sr AS (SELECT g.hb, coalesce(v.c, 0) AS vc,
             |    coalesce(p.c, 0) AS pc
             |  FROM g LEFT JOIN v USING (hb) LEFT JOIN p USING (hb)),
             |l AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(lag))
             |SELECT l.lag, count(*)::BIGINT AS n,
             |  round(corr(a.vc, b.pc), 4) AS xcorr
             |FROM l, sr a, sr b
             |WHERE b.hb = a.hb + l.lag
             |GROUP BY l.lag""".stripMargin)),

    // ts_mad [EXT, new r7]: per-entity robust outlier profile — the
    // entity-granular twin of dq_outlier: per user, med = median(v),
    // mad = median(|v − med|), n_out = events beyond 3·1.4826·mad.
    // Per-entity medians are rank SELECTIONS inside user-partitioned
    // windows (parallel across entities — the standard per-entity
    // contract, NOT a global window), averaged over the two middle
    // ranks exactly as the oracle replays; the whole-table iterative
    // histogram (RobustStats) is the wrong tool per-group, this shape
    // is. Selection-by-rank keeps tie handling value-identical. Every
    // window partitions by user_id, so one events scan and one
    // exchange feed both selections and the final aggregate.
    Q("ts_mad",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        def r4(c: org.apache.spark.sql.Column) =
          floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)
        val wp = Window.partitionBy("user_id")
        // `as` = avg of x over the one or two middle ranks (2·rn − nn
        // in [0, 2]) of the user's rows ordered by x: the per-user
        // median, as the oracle's avg over rn = (nn+1) div 2, (nn+2) div 2
        def median(x: String, as: String)(df: org.apache.spark.sql.DataFrame) =
          df.withColumn("rn", row_number().over(wp.orderBy(col(x))))
            .withColumn("nn", count(lit(1)).over(wp))
            .withColumn(as, avg(when((col("rn") * 2 - col("nn"))
              .between(0, 2), col(x))).over(wp))
            .drop("rn", "nn")
        // a null user_id drops, as from the oracle's joins on user_id
        t(s, d, "events")
          .filter(col("value").isNotNull && col("user_id").isNotNull)
          .select(col("user_id"), col("value").as("v"))
          .transform(median("v", "med"))
          .withColumn("dv", abs(col("v") - col("med")))
          .transform(median("dv", "mad"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            r4(min(col("med"))).as("med"),
            r4(min(col("mad"))).as("mad"),
            sum(when(col("dv") > lit(3.0) * lit(1.4826) * col("mad"),
              1L).otherwise(0L)).as("n_out"))
      },
      Some("""WITH v AS (SELECT user_id, value::DOUBLE AS v
             |  FROM events WHERE value IS NOT NULL),
             |r AS (SELECT user_id, v, row_number() OVER (
             |      PARTITION BY user_id ORDER BY v) AS rn,
             |    count(*) OVER (PARTITION BY user_id) AS nn FROM v),
             |m AS (SELECT user_id, avg(v) AS med FROM r
             |  WHERE rn = (nn + 1) // 2 OR rn = (nn + 2) // 2
             |  GROUP BY 1),
             |dv AS (SELECT v.user_id, v.v, m.med, abs(v.v - m.med) AS dv
             |  FROM v JOIN m USING (user_id)),
             |r2 AS (SELECT user_id, dv, row_number() OVER (
             |      PARTITION BY user_id ORDER BY dv) AS rn,
             |    count(*) OVER (PARTITION BY user_id) AS nn FROM dv),
             |d2 AS (SELECT user_id, avg(dv) AS mad FROM r2
             |  WHERE rn = (nn + 1) // 2 OR rn = (nn + 2) // 2
             |  GROUP BY 1)
             |SELECT dv.user_id, count(*)::BIGINT AS n,
             |  floor(min(dv.med) * 10000.0 + 0.5) / 10000.0 AS med,
             |  floor(min(d2.mad) * 10000.0 + 0.5) / 10000.0 AS mad,
             |  sum(CASE WHEN dv.dv > 3.0 * 1.4826 * d2.mad
             |    THEN 1 ELSE 0 END)::BIGINT AS n_out
             |FROM dv JOIN d2 USING (user_id)
             |GROUP BY dv.user_id""".stripMargin)),

    // stream_changepoint [EXT, new r7]: the ONLINE twin of
    // ts_changepoint — per-user CUSUM over prefix-standardized z
    // (each event scores against the user's strictly-preceding Welford
    // history, so a drift cannot mask itself; scoring starts after 12
    // observations). Runs the REAL streaming operator
    // (flatMapGroupsWithState, six scalars of state per user) in batch
    // mode, where the empty state store reproduces the full prefix
    // scan; the oracle replays prefix moments with windows (EXCLUDING
    // the current row) and the alarm fold with a recursive CTE over
    // the NULL-marked z list (unscored events are fold no-ops). z
    // snaps to 4 decimals pre-fold in both engines.
    Q("stream_changepoint",
      (s, d) => graft.streaming.EventStreams.cusumMonitor(
        s, t(s, d, "events")).toDF(),
      // r12: prefix moments as exact integer cent sums (see
      // stream_anomaly) — the z snap can no longer straddle a float
      // drift between Welford and var_samp on hot-key histories
      Some("""WITH RECURSIVE v AS (SELECT user_id, epoch_us(ts) AS o1,
             |    event_id AS o2,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events
             |  WHERE ts IS NOT NULL AND value IS NOT NULL),
             |w AS (SELECT user_id, o1, o2, c,
             |    count(c) OVER wp AS pn,
             |    sum(c) OVER wp AS s1,
             |    sum(c * c) OVER wp AS s2
             |  FROM v
             |  WINDOW wp AS (PARTITION BY user_id ORDER BY o1, o2
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
             |z AS (SELECT user_id, o1, o2,
             |    CASE WHEN pn >= 12 AND
             |        (CAST(s2 AS DOUBLE)
             |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / pn)
             |          / (pn - 1) > 0
             |      THEN floor((CAST(c AS DOUBLE)
             |          - CAST(s1 AS DOUBLE) / pn)
             |        / sqrt((CAST(s2 AS DOUBLE)
             |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / pn)
             |          / (pn - 1)) * 1e4 + 0.5) / 1e4
             |    END AS z
             |  FROM w),
             |sq AS (SELECT user_id, count(*)::BIGINT AS ntot,
             |    list(z ORDER BY o1, o2) AS zs
             |  FROM z GROUP BY 1),
             |rec AS (
             |  SELECT user_id, zs, ntot AS n, 0::BIGINT AS i,
             |    0.0::DOUBLE AS s, 0::BIGINT AS alarms, 0.0::DOUBLE AS mx
             |  FROM sq
             |  UNION ALL
             |  SELECT user_id, zs, n, i + 1,
             |    CASE WHEN zs[i + 1] IS NULL THEN s
             |      ELSE greatest(0.0, s + zs[i + 1] - 0.5) END,
             |    alarms + CASE WHEN zs[i + 1] IS NOT NULL AND
             |      greatest(0.0, s + zs[i + 1] - 0.5) > 4.0
             |      THEN 1 ELSE 0 END,
             |    CASE WHEN zs[i + 1] IS NULL THEN mx
             |      ELSE greatest(mx, greatest(0.0, s + zs[i + 1] - 0.5))
             |      END
             |  FROM rec WHERE i < n)
             |SELECT user_id, n, alarms,
             |  floor(mx * 10000.0 + 0.5) / 10000.0 AS max_cusum
             |FROM rec WHERE i = n""".stripMargin)),

    // ts_changepoint [EXT, new r7]: one-sided CUSUM mean-shift monitor
    // per user — standardize against the user's own population
    // moments, fold s_t = max(0, s_{t-1} + z_t − 0.5) in event order,
    // alarm at s_t > 4 (the drift/spike detector stream_anomaly's
    // z-score screen does not catch: CUSUM accumulates SMALL sustained
    // shifts). z snaps to 6 decimals before the fold so both engines
    // fold identical doubles; the oracle replays the recurrence with a
    // recursive CTE.
    Q("ts_changepoint",
      (s, d) => graft.operators.TimeSeries.cusum(
        t(s, d, "events"), "user_id",
        unix_micros(col("ts")), col("event_id"), col("value")),
      Some("""WITH RECURSIVE v AS (SELECT user_id, epoch_us(ts) AS o1,
             |    event_id AS o2, value::DOUBLE AS x
             |  FROM events
             |  WHERE value IS NOT NULL AND ts IS NOT NULL),
             |a AS (SELECT user_id, count(*)::DOUBLE AS n,
             |    sum(x) AS s1, sum(x * x) AS s2
             |  FROM v GROUP BY 1),
             |st AS (SELECT user_id, s1 / n AS mu,
             |    sqrt(s2 / n - (s1 / n) * (s1 / n)) AS sd
             |  FROM a WHERE s2 / n - (s1 / n) * (s1 / n) > 0.0),
             |z AS (SELECT v.user_id, v.o1, v.o2,
             |    floor((v.x - st.mu) / st.sd * 1e6 + 0.5) / 1e6 AS z
             |  FROM v JOIN st USING (user_id)),
             |sq AS (SELECT user_id, list(z ORDER BY o1, o2) AS zs
             |  FROM z GROUP BY 1),
             |rec AS (
             |  SELECT user_id, zs, len(zs)::BIGINT AS n, 0::BIGINT AS i,
             |    0.0::DOUBLE AS s, 0::BIGINT AS alarms, 0.0::DOUBLE AS mx
             |  FROM sq
             |  UNION ALL
             |  SELECT user_id, zs, n, i + 1,
             |    greatest(0.0, s + zs[i + 1] - 0.5),
             |    alarms + CASE WHEN greatest(0.0, s + zs[i + 1] - 0.5)
             |      > 4.0 THEN 1 ELSE 0 END,
             |    greatest(mx, greatest(0.0, s + zs[i + 1] - 0.5))
             |  FROM rec WHERE i < n)
             |SELECT user_id, n, alarms,
             |  floor(mx * 10000.0 + 0.5) / 10000.0 AS max_cusum
             |FROM rec WHERE i = n""".stripMargin)),

    // win_streak [EXT, new r7]: longest consecutive-day activity
    // streak per user — the canonical gaps-and-islands reduction
    // (retention/engagement's "N-day streak" metric): distinct active
    // days, island id = epoch_day − row_number (constant within a
    // consecutive run), then two user-keyed aggregates. All windows
    // user-partitioned; integer day arithmetic end to end.
    Q("win_streak",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val days = t(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val grp = (datediff(col("day"), to_date(lit("1970-01-01"))) -
          row_number().over(
            Window.partitionBy("user_id").orderBy("day"))).cast("long")
        days.withColumn("grp", grp)
          .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
          .groupBy("user_id")
          .agg(max("len").as("max_streak"), sum("len").as("n_days"),
            count(lit(1)).as("n_streaks"))
      },
      Some("""WITH days AS (SELECT DISTINCT user_id, ts::DATE AS day
             |  FROM events),
             |r AS (SELECT user_id, day,
             |    date_diff('day', DATE '1970-01-01', day) -
             |      row_number() OVER (PARTITION BY user_id
             |        ORDER BY day) AS grp
             |  FROM days),
             |s AS (SELECT user_id, grp, count(*)::BIGINT AS len
             |  FROM r GROUP BY 1, 2)
             |SELECT user_id, max(len)::BIGINT AS max_streak,
             |  sum(len)::BIGINT AS n_days, count(*)::BIGINT AS n_streaks
             |FROM s GROUP BY 1""".stripMargin)),

    // scd1_latest [EXT, new r7]: latest-wins current-state snapshot —
    // the SCD type-1 complement to scd2_merge's history: one aggregate
    // materializes each user's most recent event (strict (ts, event_id)
    // order) plus their event count. max_by carries ONE struct per
    // partial — constant-size map-side combine, no window, no join;
    // the CDC "compact the changelog to current state" primitive.
    Q("scd1_latest",
      (s, d) => t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(max_by(
            struct(col("event_type").as("t"), col("value").as("vv"),
              unix_micros(col("ts")).as("e"), col("event_id").as("i")),
            struct(unix_micros(col("ts")), col("event_id"))).as("m"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("m.t").as("last_type"),
          col("m.vv").as("last_value"), col("m.e").as("last_ts_us"),
          col("m.i").as("last_event_id"), col("n_events")),
      Some("""SELECT user_id, event_type AS last_type,
             |  value AS last_value, epoch_us(ts) AS last_ts_us,
             |  event_id AS last_event_id,
             |  count(*) OVER (PARTITION BY user_id)::BIGINT AS n_events
             |FROM events
             |QUALIFY row_number() OVER (PARTITION BY user_id
             |  ORDER BY epoch_us(ts) DESC, event_id DESC) = 1""".stripMargin)),

    // ts_holt [EXT, new r7]: Holt double exponential smoothing per
    // user — level + trend + 3-step forecast, the trend-aware upgrade
    // of ts_ewma's decayed-activity feature. Same plan shape: ONE
    // entity exchange, codegen'd aggregate fold with a (level, trend)
    // struct accumulator, no window, no driver. α=0.5/β=0.25 are
    // binary-exact; the oracle replays the identical left fold with a
    // recursive CTE (list_reduce here has no init-value overload), so
    // every intermediate double is bit-identical; the final rounding
    // is the cross-engine floor(x·1e4+0.5)/1e4 convention.
    Q("ts_holt",
      (s, d) => graft.operators.TimeSeries.holt(
        t(s, d, "events"), "user_id",
        unix_micros(col("ts")), col("event_id"), col("value")),
      Some("""WITH RECURSIVE sq AS (SELECT user_id,
             |    list(value ORDER BY epoch_us(ts), event_id) AS xs
             |  FROM events
             |  WHERE value IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY user_id),
             |base AS (SELECT user_id, xs, len(xs)::BIGINT AS n
             |  FROM sq WHERE len(xs) >= 2),
             |rec AS (
             |  SELECT user_id, xs, n, 2::BIGINT AS i,
             |    xs[1]::DOUBLE AS l, (xs[2] - xs[1])::DOUBLE AS b
             |  FROM base
             |  UNION ALL
             |  SELECT user_id, xs, n, i + 1,
             |    0.5 * xs[i + 1] + 0.5 * (l + b),
             |    0.25 * ((0.5 * xs[i + 1] + 0.5 * (l + b)) - l) + 0.75 * b
             |  FROM rec WHERE i < n)
             |SELECT user_id, n,
             |  floor(l * 10000.0 + 0.5) / 10000.0 AS level,
             |  floor(b * 10000.0 + 0.5) / 10000.0 AS trend,
             |  floor((l + 3.0 * b) * 10000.0 + 0.5) / 10000.0 AS fc
             |FROM rec WHERE i = n""".stripMargin)),

    // ts_resample [EXT]: per-user daily OHLC bars — open/close picked
    // by min_by/max_by over (ts, event_id), so one (entity, bucket)
    // exchange with constant-size partials replaces any window or
    // per-entity array. The oracle's ordered first()/last() aggregates
    // replay the identical tie-broken order.
    Q("ts_resample",
      (s, d) => graft.operators.TimeSeries.resample(
        t(s, d, "events"), "user_id",
        col("ts"), col("event_id"), col("value")),
      Some("""SELECT user_id, date_trunc('day', ts)::DATE AS bucket,
             |  first(value ORDER BY epoch_us(ts), event_id) AS open,
             |  max(value) AS high, min(value) AS low,
             |  last(value ORDER BY epoch_us(ts), event_id) AS close,
             |  round(sum(value), 2) AS vol, count(*)::BIGINT AS n
             |FROM events WHERE value IS NOT NULL
             |GROUP BY 1, 2""".stripMargin)),

    // stream_tumble: 1h tumbling window counts/sums per event_type.
    Q("stream_tumble",
      (s, d) => t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))
        .select(col("w.start").cast("long").as("window_s"),
          col("event_type"), col("n"), col("sum_v")),
      Some("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
               AS window_s, event_type, count(*) AS n,
               round(sum(value), 2) AS sum_v
             FROM events WHERE ts IS NOT NULL GROUP BY 1, 2""")),

    // stream_slide: 1h windows sliding every 30min (each event lands in
    // exactly two windows on the 30-minute grid).
    Q("stream_slide",
      (s, d) => t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))
        .select(col("w.start").cast("long").as("window_s"), col("n"),
          col("sum_v")),
      Some("""SELECT CAST(floor(epoch(ts)/1800)*1800 - u AS BIGINT)
               AS window_s, count(*) AS n, round(sum(value), 2) AS sum_v
             FROM events CROSS JOIN UNNEST([0, 1800]) AS t(u)
             WHERE ts IS NOT NULL GROUP BY 1""")),

    // stream_dedup: late-duplicate-tolerant dedup (batch form of
    // withWatermark().dropDuplicates("event_id")) over a corpus with
    // replayed events.
    Q("stream_dedup",
      (s, d) => {
        val ev = t(s, d, "events").select("event_id", "event_type")
        val replayed = ev.unionByName(ev.filter(col("event_id") % 7 === 0))
        replayed.dropDuplicates("event_id")
          .groupBy("event_type").agg(count(lit(1)).as("n"))
      },
      Some("""SELECT event_type, count(*) AS n FROM (
             SELECT DISTINCT event_id, event_type FROM (
               SELECT event_id, event_type FROM events
               UNION ALL
               SELECT event_id, event_type FROM events WHERE event_id % 7 = 0))
             GROUP BY event_type""")),

    // stream_session: session windows (30 min gap) per user. The oracle
    // re-derives session semantics as gaps-and-islands SQL: a new session
    // starts when the gap to the previous event is >= the 30 min timeout
    // (Spark's session window is [first_ts, last_ts + gap), so an event
    // landing exactly at the window end opens a new session — hence >=).
    // Session start is emitted as floor-epoch-seconds so ns (DuckDB) vs
    // µs (Spark) precision never crosses the compare.
    Q("stream_session",
      // r12: session sums through Cols.sumCents — a hot user's sessions
      // carry 30x the summands under skew, and a plain double sum's
      // reassociation drift crossed the round(2) boundary there
      // (events.value sub-cent quantization per the sumCents contract)
      (s, d) => t(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Cols.sumCents(col("value")).as("sum_v"))
        .select(col("w.start").cast("long").as("session_start_s"),
          col("user_id"), col("n"), col("sum_v")),
      // The gaps-and-islands replay sessionizes DISTINCT (user, ts)
      // rows and joins event membership back (r12): a ROWS-frame
      // cumulative sum over an ORDER BY with duplicate timestamps
      // splits a tie group across two sessions nondeterministically
      // (DuckDB's peer order is arbitrary), which the skewed corpus's
      // 30-deep ts clones exposed — session semantics depend only on
      // the distinct timestamp sequence, so dedup-first is both
      // deterministic and the cheaper replay.
      Some("""WITH d AS (SELECT DISTINCT user_id, ts FROM events),
             g AS (SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
             FROM d
             WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             s AS (SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sess
             FROM g),
             j AS (SELECT e.user_id, e.ts, e.value, s.sess
               FROM events e JOIN s ON e.user_id = s.user_id
                 AND e.ts = s.ts)
             SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
               user_id, count(*) AS n,
               sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_v
             FROM j GROUP BY user_id, sess""")),

    // stream_join: stream-stream interval join (batch twin; the true
    // two-watermark streaming path is EventStreams.intervalJoin driven
    // by MemoryStream in StreamingSpec). Aggregated per event_type so
    // the oracle stays compact.
    Q("stream_join",
      (s, d) => {
        val ev = t(s, d, "events").withColumn("ts",
          graft.functions.Cols.toMillis(col("ts")))
        graft.streaming.EventStreams.intervalJoin(ev)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), round(sum("b_value"), 2).as("sum_v"))
      },
      Some("""SELECT a.event_type, count(*) AS n,
             round(sum(b.value), 2) AS sum_v
             FROM (SELECT user_id, event_id,
                   date_trunc('millisecond', ts) AS ts, event_type
                   FROM events) a
             JOIN (SELECT user_id, event_id,
                   date_trunc('millisecond', ts) AS ts, value
                   FROM events) b
               ON a.user_id = b.user_id
               AND b.ts > a.ts
               AND b.ts <= a.ts + INTERVAL 5 MINUTE
             GROUP BY a.event_type""")),

    // stream_enrich: stream-STATIC broadcast enrichment (batch twin;
    // the true streaming path — broadcast dim, zero join state,
    // dim re-resolved per micro-batch — is EventStreams.enrich driven
    // by MemoryStream in StreamingSpec). Events join the customer
    // dimension on user_id and aggregate per (hour, segment).
    Q("stream_enrich",
      (s, d) => graft.streaming.EventStreams.enrich(
          t(s, d, "events"),
          t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment")),
          col("user_id") === col("c_custkey"), col("c_mktsegment"))
        .select(col("w.start").cast("long").as("window_s"),
          col("c_mktsegment"), col("n"), col("sum_v")),
      Some("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
               AS window_s, c_mktsegment, count(*) AS n,
               round(sum(value), 2) AS sum_v
             FROM events JOIN customer ON user_id = c_custkey
             WHERE ts IS NOT NULL GROUP BY 1, 2""")),

    // stream_neardup [EXT]: ONLINE near-duplicate detection — the
    // streaming twin of dedup_minhash (banded LSH state per bucket via
    // flatMapGroupsWithState; each arriving doc checks only its
    // co-bucketed predecessors). Batch mode runs the identical code
    // path in id order, which is what the oracle checks — and the
    // oracle INDEPENDENTLY recomputes the whole MinHash sketch in SQL
    // (MinhashOracle) and takes each doc's min-id predecessor at
    // est >= 0.35. StreamingSpec drives the true incremental path with
    // state carried across MemoryStream batches.
    Q("stream_neardup",
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val planted = docs.unionByName(
          docs.filter(col("doc_id") % 50 === 0).select(
            (col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" zz")).as("text")))
        graft.streaming.DocStreams.firstNearDup(s, planted)
      },
      Some(MinhashOracle.firstDupSql)),

    // stream_stateful: custom per-user state via flatMapGroupsWithState
    // (graft.streaming.EventStreams.runningUserState). In batch mode the
    // running state degenerates to final per-user totals, which the
    // oracle checks; StreamingSpec drives the incremental path.
    Q("stream_stateful",
      (s, d) => graft.streaming.EventStreams
        .runningUserState(s, t(s, d, "events")).toDF(),
      Some("""SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_v
             FROM events WHERE value IS NOT NULL GROUP BY user_id""")),

    // stream_anomaly [EXT]: ONLINE per-user z-score anomaly detection —
    // each event scores against the user's OWN strictly-preceding
    // history (Welford three-scalar state: n, mean, M2) and flags at
    // |z| > 3 once 12 observations precede. The events value column is
    // heavy-tailed (max ≈ 9σ), so the monitor fires naturally — no
    // planted spikes. Batch mode reproduces the full prefix scan,
    // which the oracle replays with windowed avg/var_samp over
    // UNBOUNDED PRECEDING..1 PRECEDING (a different variance
    // algorithm — agreement proves the Welford recurrence);
    // StreamingSpec drives the cross-trigger state path.
    Q("stream_anomaly",
      (s, d) => graft.streaming.EventStreams.anomalies(
          s, t(s, d, "events")).toDF()
        .select(col("user_id"), col("event_id"),
          round(col("value"), 2).as("value"), round(col("z"), 4).as("z")),
      // r12: prefix moments are EXACT integer cent sums (Σc, Σc² over
      // BIGINT windows — the MomentState twin); mean/var/z derive from
      // those identical integers with the identical double expression
      // tree, so a hot user's 30×-longer history cannot drift the two
      // engines apart (the skew audit measured 74 borderline-z flips
      // under float Welford vs windowed var_samp)
      Some("""WITH c AS (SELECT user_id, event_id, ts, value,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events
             |  WHERE ts IS NOT NULL AND value IS NOT NULL),
             |p AS (SELECT user_id, event_id, value, c,
             |    count(c) OVER w AS n_prev,
             |    sum(c) OVER w AS s1,
             |    sum(c * c) OVER w AS s2
             |  FROM c
             |  WINDOW w AS (PARTITION BY user_id
             |    ORDER BY epoch_us(ts), event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
             |z AS (SELECT user_id, event_id, value,
             |    (CAST(c AS DOUBLE) - CAST(s1 AS DOUBLE) / n_prev)
             |      / sqrt((CAST(s2 AS DOUBLE)
             |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_prev)
             |        / (n_prev - 1)) AS z
             |  FROM p
             |  WHERE n_prev >= 12
             |    AND (CAST(s2 AS DOUBLE)
             |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_prev)
             |        / (n_prev - 1) > 0)
             |SELECT user_id, event_id, round(value, 2) AS value,
             |  round(z, 4) AS z
             |FROM z WHERE abs(z) > 3""".stripMargin)),

    // stream_funnel [EXT]: ONLINE ordered-funnel tracking — the
    // incremental twin of funnel_conv (operators.Funnel). Per-user
    // state is TWO scalars (depth, last-match ts) advanced by
    // flatMapGroupsWithState; batch mode (empty state store, one
    // (ts, event_id)-sorted group per user) reproduces Funnel.depths
    // exactly, which the oracle replays by the structurally different
    // cascaded min-ts algorithm. StreamingSpec drives the true
    // incremental path: depth carried across triggers, and a
    // late-arriving out-of-order event cannot retroactively advance
    // a funnel that already matched a later timestamp.
    Q("stream_funnel",
      (s, d) => graft.streaming.EventStreams.funnelDepths(
        s, t(s, d, "events"), Seq("view", "click", "purchase")).toDF(),
      Some("""WITH ev AS (SELECT user_id, ts, event_id, event_type
             |  FROM events
             |  WHERE ts IS NOT NULL
             |    AND event_type IN ('view', 'click', 'purchase')),
             |u AS (SELECT DISTINCT user_id FROM ev),
             |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
             |  WHERE event_type = 'view' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e
             |  JOIN s1 USING (user_id)
             |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e
             |  JOIN s2 USING (user_id)
             |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
             |  GROUP BY 1)
             |SELECT u.user_id,
             |  CAST(CASE WHEN t3 IS NOT NULL THEN 3
             |       WHEN t2 IS NOT NULL THEN 2
             |       WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS depth
             |FROM u LEFT JOIN s1 USING (user_id)
             |  LEFT JOIN s2 USING (user_id)
             |  LEFT JOIN s3 USING (user_id)""".stripMargin)),

    // stream_topterms: per-window top-3 event types via the
    // Space-Saving aggregate — streaming state per window is one
    // capacity-bounded sketch, not a per-distinct-term map. The events
    // stream has 5 distinct types << capacity 64, so the sketch is in
    // its EXACT regime and plain windowed counts replay it (same
    // exact-case rule as text_topterms); StreamingSpec drives the
    // incremental path with sketch state merged across triggers.
    Q("stream_topterms",
      (s, d) => graft.streaming.EventStreams
        .windowTopTerms(t(s, d, "events"), "event_type")
        .select(col("w.start").cast("long").as("window_s"),
          posexplode(col("tt")).as(Seq("i", "x")))
        .select(col("window_s"), (col("i") + 1).cast("int").as("rank"),
          col("x.term").as("event_type"), col("x.cnt").as("n")),
      Some("""WITH c AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
               AS window_s, event_type, count(*) AS n
             FROM events
             WHERE ts IS NOT NULL AND event_type IS NOT NULL
             GROUP BY 1, 2),
             r AS (SELECT window_s, event_type, n, row_number() OVER (
               PARTITION BY window_s ORDER BY n DESC, event_type) AS rank
             FROM c)
             SELECT window_s, CAST(rank AS INT) AS rank, event_type, n
             FROM r WHERE rank <= 3""")),

    // seq_markov [EXT, new r8]: first-order Markov transition matrix of
    // the per-user event streams — "what do users do NEXT after a
    // view?", the session-flow / next-action screen that powers funnel
    // design and bot detection (a user whose transitions are uniform
    // random is not a human). Consecutive pairs come from a
    // user-partitioned lead over (epoch_us, event_id) — one user-keyed
    // exchange, parallel across users, never a global window; the
    // 5×5-bounded count matrix then joins its row totals back via
    // broadcast. p = n/tot is ONE IEEE division of exact integers, so
    // the probability is bit-identical cross-engine.
    Q("seq_markov",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("tsu"), col("event_id"))
        // r15 null contract: a transition needs an order key and both
        // endpoint types — null ts would sequence engine-dependently
        // (Spark nulls-first vs DuckDB nulls-last), and a typeless
        // event is not an action
        val tr = t(s, d, "events")
          .filter(col("ts").isNotNull && col("event_type").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
            col("event_id"), col("event_type"))
          .withColumn("nxt", lead(col("event_type"), 1).over(w))
          .filter(col("nxt").isNotNull)
        val counts = tr.groupBy(col("event_type").as("from_type"),
            col("nxt").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val tot = counts.groupBy("from_type").agg(sum("n").as("tot"))
        counts.join(broadcast(tot), "from_type")
          .select(col("from_type"), col("to_type"), col("n"),
            (col("n").cast("double") / col("tot").cast("double")).as("p"))
      },
      Some("""WITH s AS (SELECT user_id, event_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS nxt
             |  FROM events
             |  WHERE ts IS NOT NULL AND event_type IS NOT NULL),
             |c AS (SELECT event_type AS from_type, nxt AS to_type,
             |    count(*)::BIGINT AS n
             |  FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2),
             |t AS (SELECT from_type, sum(n)::BIGINT AS tot
             |  FROM c GROUP BY 1)
             |SELECT c.from_type, c.to_type, c.n,
             |  c.n::DOUBLE / t.tot::DOUBLE AS p
             |FROM c JOIN t USING (from_type)""".stripMargin)),

    // funnel_attrib [EXT, new r8]: last-touch revenue attribution — each
    // purchase credits the latest strictly-earlier view/click by the
    // same user ('direct' when none), the standard marketing-attribution
    // primitive. NOT a purchases×touches range join (quadratic in
    // events-per-user): the unified stream takes ONE user-keyed exchange
    // and a last(_, ignoreNulls) over rows [unbounded, -1] carries the
    // most recent touch forward to each purchase — the same as-of shape
    // as join_asof, O(events) per user. Revenue sums exact integer
    // cents; amount = sc/100.0 is one IEEE division.
    Q("funnel_attrib",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("tsu"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        t(s, d, "events")
          .filter(col("ts").isNotNull) // r15: as-of order needs a key
          .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
            col("event_id"), col("event_type"),
            graft.functions.Cols.cents(col("value")).as("c"))
          .withColumn("attr", last(
            when(col("event_type").isin("view", "click"),
              col("event_type")), ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .groupBy(coalesce(col("attr"), lit("direct")).as("channel"))
          .agg(count(lit(1)).as("n_purchases"),
            (sum("c").cast("double") / lit(100.0)).as("revenue"))
      },
      Some("""WITH s AS (SELECT user_id, event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
             |    last_value(CASE WHEN event_type IN ('view', 'click')
             |        THEN event_type END IGNORE NULLS) OVER (
             |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS attr
             |  FROM events WHERE ts IS NOT NULL)
             |SELECT coalesce(attr, 'direct') AS channel,
             |  count(*)::BIGINT AS n_purchases,
             |  sum(c)::BIGINT::DOUBLE / 100.0 AS revenue
             |FROM s WHERE event_type = 'purchase'
             |GROUP BY 1""".stripMargin)),

    // stream_attrib [EXT, new r8]: the ONLINE twin of funnel_attrib —
    // per-user last-touch state (3 scalars: when, which event, what
    // channel) emits one attributed row per purchase as it arrives,
    // through the real flatMapGroupsWithState operator. Batch
    // execution sorts each user's rows once and replays the identical
    // as-of semantics, so the per-purchase output hash-matches the
    // window oracle; StreamingSpec
    // drives the cross-trigger incremental path. Null purchase values
    // attribute 0 cents — the count must not drop rows the batch twin
    // counts.
    Q("stream_attrib",
      (s, d) => graft.streaming.EventStreams
        .lastTouchAttribution(s, t(s, d, "events")).toDF(),
      Some("""WITH s AS (SELECT user_id, event_id, event_type,
             |    coalesce(CAST(floor(value * 100 + 0.5) AS BIGINT), 0) AS cents,
             |    last_value(CASE WHEN event_type IN ('view', 'click')
             |        THEN event_type END IGNORE NULLS) OVER (
             |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS attr
             |  FROM events
             |  WHERE ts IS NOT NULL
             |    AND event_type IN ('view', 'click', 'purchase'))
             |SELECT user_id, event_id, coalesce(attr, 'direct') AS channel,
             |  cents
             |FROM s WHERE event_type = 'purchase'""".stripMargin)),

    // stream_distinct [EXT, new r8]: tumbling-window unique users via
    // the streaming HLL path (EventStreams.windowDistinct — mergeable
    // sketch state per window, never a user set; StreamingSpec drives
    // the cross-trigger merge). Batch gate: the estimate must sit
    // within the agg_approx_distinct error-bound convention of the
    // EXACT per-window count the oracle recomputes.
    Q("stream_distinct",
      (s, d) => graft.streaming.EventStreams
        .windowDistinct(t(s, d, "events"))
        .join(t(s, d, "events")
          .groupBy(window(col("ts"), "1 hour").as("w"))
          .agg(countDistinct(col("user_id")).as("nd_users")), Seq("w"))
        .select(col("w.start").cast("long").as("window_s"),
          col("nd_users"),
          (abs(col("approx_users") - col("nd_users")) /
            col("nd_users") <= 0.05).as("ok")),
      Some("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
             |    AS window_s,
             |  count(DISTINCT user_id)::BIGINT AS nd_users, true AS ok
             |FROM events WHERE ts IS NOT NULL GROUP BY 1""".stripMargin)),

    // ts_decompose [EXT, new r8]: additive seasonal decomposition of
    // the per-type hourly traffic — trend = centered 24 h moving
    // average, seasonal index = mean detrended value per hour-of-day;
    // the classical-decomposition first stage behind every
    // seasonality-aware monitor (ts_seasonal profiles levels; this
    // separates CYCLE from TREND so a ramping feed doesn't smear its
    // growth into the daily shape). Windows are type-partitioned
    // (parallel across series, never global); only complete 24-row
    // frames emit (count-over-frame = 24) so edges can't bias the
    // indices. Exactness: v and the frame sum S are LONGs, so the
    // detrended numerator Σ(24·v − S) stays integer — seasonal =
    // num/(24·n) is the single IEEE division, bit-identical
    // cross-engine (v − S/24 itself would NOT be exactly
    // representable: /24 carries a factor 3).
    Q("ts_decompose",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type").orderBy("hb")
          .rowsBetween(-12, 11)
        typeHourly(s, d)
          .withColumn("S", sum("v").over(w))
          .withColumn("cnt", count(lit(1)).over(w))
          .filter(col("cnt") === 24)
          .groupBy(col("event_type"), (col("hb") % 24).as("hod"))
          .agg(count(lit(1)).as("n"),
            sum(lit(24L) * col("v") - col("S")).as("num"))
          .select(col("event_type"), col("hod"), col("n"),
            (col("num").cast("double") /
              (lit(24L) * col("n")).cast("double")).as("seasonal"))
      },
      Some(typeHourlySql + """,
             |tr AS (SELECT event_type, hb, v, sum(v) OVER w AS S,
             |    count(*) OVER w AS cnt
             |  FROM sv WINDOW w AS (PARTITION BY event_type ORDER BY hb
             |    ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING))
             |SELECT event_type, hb % 24 AS hod, count(*)::BIGINT AS n,
             |  sum(24 * v - S)::BIGINT::DOUBLE
             |    / (24 * count(*))::BIGINT::DOUBLE AS seasonal
             |FROM tr WHERE cnt = 24 GROUP BY 1, 2""".stripMargin)),

    // ts_theilsen [EXT, new r8]: Theil-Sen robust trend slope per
    // event-type hourly series — the median of all pairwise slopes,
    // the estimator that shrugs off the outlier days a least-squares
    // fit chases (29% breakdown point). Pairs are bounded by series
    // LENGTH² (720 h → ~259k pairs/type), not row count — the series
    // aggregate is the only full scan; for multi-year series the
    // standard move is pair sampling, same shape. Median = exact
    // two-middle-rank selection by RobustStats' aggregate-only
    // histogram kernel at build time (no pair exchange, no window),
    // averaging the two middle slope VALUES — each slope is one
    // integer-diff division and the mean of two identical doubles, so
    // the result is bit-identical cross-engine regardless of how rank
    // ties order rows.
    Q("ts_theilsen",
      (s, d) => graft.operators.Metrics.theilSen(
          typeHourly(s, d).select(col("event_type").as("key"),
            col("hb").as("x"), col("v").as("y")))
        .select(col("key").as("event_type"), col("n_pairs"),
          col("slope")),
      Some(typeHourlySql + """,
             |p AS (SELECT a.event_type,
             |    (b.v - a.v)::DOUBLE / (b.hb - a.hb)::DOUBLE AS sl
             |  FROM sv a JOIN sv b ON a.event_type = b.event_type
             |    AND b.hb > a.hb),
             |r AS (SELECT event_type, sl, row_number() OVER (
             |    PARTITION BY event_type ORDER BY sl) AS rn FROM p),
             |c AS (SELECT event_type, count(*)::BIGINT AS n_pairs
             |  FROM p GROUP BY 1)
             |SELECT r.event_type, c.n_pairs, avg(sl) AS slope
             |FROM r JOIN c USING (event_type)
             |WHERE rn = (n_pairs + 1) // 2 OR rn = n_pairs // 2 + 1
             |GROUP BY 1, 2""".stripMargin)),

    // ts_backtest [EXT, new r8]: one-step-ahead backtest of the two
    // zero-parameter baselines every forecast must beat — naive
    // (ŷ_t = v_{t−1}) vs seasonal-naive (ŷ_t = v_{t−24}) — per type
    // hourly series; mae24 < mae1 is the cheap "is this series
    // actually seasonal?" screen and the honest floor under any Holt /
    // decomposition forecast. Type-partitioned lags over the shared
    // staged grid, scored only where BOTH predictions exist (same
    // eval window, or the comparison is apples-to-oranges); absolute
    // errors sum as LONGs, each MAE is one IEEE division.
    Q("ts_backtest",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type").orderBy("hb")
        typeHourly(s, d)
          .withColumn("l1", lag(col("v"), 1).over(w))
          .withColumn("l24", lag(col("v"), 24).over(w))
          .filter(col("l1").isNotNull && col("l24").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(abs(col("v") - col("l1"))).as("sae1"),
            sum(abs(col("v") - col("l24"))).as("sae24"))
          .select(col("event_type"), col("n"),
            (col("sae1").cast("double") / col("n").cast("double"))
              .as("mae_naive"),
            (col("sae24").cast("double") / col("n").cast("double"))
              .as("mae_seasonal"),
            (col("sae24") < col("sae1")).as("seasonal_wins"))
      },
      Some(typeHourlySql + """,
             |lg AS (SELECT event_type, v,
             |    lag(v, 1) OVER w AS l1, lag(v, 24) OVER w AS l24
             |  FROM sv WINDOW w AS (PARTITION BY event_type ORDER BY hb)),
             |f AS (SELECT * FROM lg
             |  WHERE l1 IS NOT NULL AND l24 IS NOT NULL),
             |a AS (SELECT event_type, count(*)::BIGINT AS n,
             |    sum(abs(v - l1))::BIGINT AS sae1,
             |    sum(abs(v - l24))::BIGINT AS sae24
             |  FROM f GROUP BY 1)
             |SELECT event_type, n,
             |  sae1::DOUBLE / n::DOUBLE AS mae_naive,
             |  sae24::DOUBLE / n::DOUBLE AS mae_seasonal,
             |  sae24 < sae1 AS seasonal_wins
             |FROM a""".stripMargin)),

    // ts_acf_profile [EXT, new r8]: the autocorrelation function at
    // lags {1,2,3,6,12,24} per type series — the diagnostic that picks
    // model structure (tall lag-24 spike → daily seasonality, slow
    // decay → trend, nothing → white noise) and the multi-lag
    // completion of ts_autocorr's single lag-1 point. Alignment is an
    // equi self-join on (event_type, hb + lag) after an explode over
    // the lag list, off the shared staged grid — the join keys keep
    // every type's series partitioned, never one global-series window;
    // integer counts, corr at the 4-decimal convention.
    Q("ts_acf_profile",
      (s, d) => {
        val g = typeHourly(s, d)
        val lags = Seq(1, 2, 3, 6, 12, 24)
        val a = g.withColumn("lag",
            explode(array(lags.map(lit): _*)))
          .select(col("event_type"), col("hb"), col("v"), col("lag"))
        val b = g.select(col("event_type").as("et2"),
          col("hb").as("hb2"), col("v").as("v2"))
        a.join(b, col("event_type") === col("et2") &&
            col("hb2") === col("hb") + col("lag"))
          .groupBy("event_type", "lag")
          .agg(count(lit(1)).as("n"),
            round(corr(col("v").cast("double"),
              col("v2").cast("double")), 4).as("acf"))
      },
      Some(typeHourlySql + """,
             |l AS (SELECT * FROM (VALUES (1), (2), (3), (6), (12),
             |  (24)) t(lag))
             |SELECT a.event_type, l.lag, count(*)::BIGINT AS n,
             |  round(corr(a.v, b.v), 4) AS acf
             |FROM l, sv a JOIN sv b ON a.event_type = b.event_type
             |WHERE b.hb = a.hb + l.lag
             |GROUP BY 1, 2""".stripMargin)),
  )
}
