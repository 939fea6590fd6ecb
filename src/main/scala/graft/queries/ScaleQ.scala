package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Cols
import graft.operators.{Dedup, FuzzyJoin, RuntimeFilter, ZOrder}

/** Scale-engineering operators added round 5: blocked fuzzy linkage and
  * batch sessionization. Each is the at-scale generalization of a
  * reference behavior (exact standardized-name matching,
  * `assess_changes.qmd:97-114`; per-run file grouping) re-expressed as
  * a shuffle-frugal Spark plan with a DuckDB oracle.
  */
object ScaleQ {

  /** Persisted MinHash band indexes — built once per (session, corpus),
    * probed per batch; the fit-once discipline of TextQ.ivfCache.
    */
  private[queries] val mhIndexCache =
    new TextQ.ModelCache[Dedup.MinhashIndex](4)

  /** Canonical co-purchase supplier edge set — distinct (a < b) pairs
    * of suppliers sharing a sampled order (orderkey % 20, first 3
    * lines) — staged once per (session, sf-dir) and shared by the
    * eight graph queries (assort, bfs, cc, degree, jaccard, khop,
    * label_prop, triangles). Factored so a sampling tweak cannot
    * silently diverge one query's graph from the others'; staged so
    * sibling queries do not re-derive the lineitem self-join (the
    * eight, run in sequence after one `Stage.purge`, are slower lazy;
    * CHANGES.md). Each query's ORACLE still re-derives the identical
    * edge set from raw lineitem — only the Spark side shares.
    */
  private val coPurchaseCache =
    new TextQ.ModelCache[org.apache.spark.sql.DataFrame](4)
  private def coPurchasePairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    coPurchaseCache.getOrFit(s, d, {
      val li = t(s, d, "lineitem")
        .filter(col("l_orderkey") % 20 === 0 && col("l_linenumber") <= 3)
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      graft.operators.Stage.materialize(
        li.join(li.select(col("l_orderkey"), col("l_suppkey").as("s2")),
            Seq("l_orderkey"))
          .filter(col("l_suppkey") < col("s2"))
          .select(col("l_suppkey").as("a"), col("s2").as("b")).distinct(),
        "co_purchase_pairs")
    })

  val all: Seq[Q] = Seq(

    // join_fuzzy [EXT]: record linkage at edit distance <= 3, blocked
    // on (discriminative name token, first letter) — the classic
    // Newcombe first-letter refinement; on this corpus it cuts
    // candidate volume 8x vs token-only blocks (3.1M vs 25M at sf0.1)
    // at the usual modeled-recall price (a typo in position 1 escapes
    // the block). The part vocabulary is synthetic (64 distinct names,
    // every same-block pair identical), so the linkage targets are
    // PLANTED deterministic typos — every 10th part re-entered with
    // its 2nd character dropped (first letter and name token survive,
    // so the typo stays in its block at distance 1; the plantedDocs
    // pattern the dedup oracles use). The oracle replays the planting,
    // and FuzzyJoinSpec pins the gate output NON-EMPTY — this query
    // once passed vacuously on 0==0 rows and must not again. Output is
    // aggregated per block so the gate frame stays small while every
    // pair is still computed.
    Q("join_fuzzy",
      (s, d) => {
        val base = t(s, d, "part")
          .select(col("p_partkey").as("k"), col("p_name").as("txt"))
        val typos = base.filter(col("k") % 10 === 0)
          .select((col("k") + 10000000L).as("k"),
            concat(substring(col("txt"), 1, 1),
              col("txt").substr(lit(3), length(col("txt")))).as("txt"))
        // coalesce the 2nd token: concat_ws SKIPS a null element while
        // the oracle's split_part yields '' — a one-token name would
        // otherwise build "a" here vs "|a" there
        FuzzyJoin.selfPairs(base.unionByName(typos),
            col("k"), col("txt"),
            concat_ws("|",
              coalesce(split(col("txt"), " ").getItem(1), lit("")),
              substring(col("txt"), 1, 1)),
            maxDist = 3)
          .groupBy("blk")
          .agg(count(lit(1)).as("n_pairs"),
            round(avg("dist"), 4).as("avg_dist"))
      },
      Some("""WITH base AS (SELECT p_partkey AS k, p_name AS txt FROM part),
             typos AS (SELECT k + 10000000 AS k,
                   substr(txt, 1, 1) || substr(txt, 3) AS txt
                   FROM base WHERE k % 10 = 0),
             p AS (SELECT k, txt, split_part(txt, ' ', 2) || '|' ||
                     substr(txt, 1, 1) AS blk
                   FROM (SELECT * FROM base UNION ALL SELECT * FROM typos))
             SELECT a.blk AS blk, count(*) AS n_pairs,
                    round(avg(levenshtein(a.txt, b.txt)), 4) AS avg_dist
             FROM p a JOIN p b
               ON a.blk = b.blk AND a.k < b.k
               AND abs(length(a.txt) - length(b.txt)) <= 3
             WHERE levenshtein(a.txt, b.txt) BETWEEN 1 AND 3
             GROUP BY a.blk""")),

    // win_session [EXT]: batch sessionization — the bounded-data twin
    // of stream_session (StreamQ.scala), same 10-minute gap rule. ONE
    // shuffle keyed on user_id serves the lag window, the running-sum
    // window, and both aggregates (Catalyst reuses the exchange: every
    // step is partitioned by user_id). Per-user state is the user's own
    // event list — the 100 TB hazard is a whale user, which AQE's skew
    // handling splits at the final aggregate but not inside a window;
    // for adversarial whales pre-split by (user, day) first. Ordering
    // ties broken by event_id so both engines see one deterministic
    // event order.
    Q("win_session",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // r15 null contract: sessionization needs an event time —
        // null-ts rows would order engine-dependently and join the
        // wrong (or a phantom) session
        val ev = t(s, d, "events").filter(col("ts").isNotNull)
          .select(col("user_id"), col("event_id"),
            unix_millis(Cols.toMillis(col("ts"))).as("ts_ms"))
        val sess = ev
          .withColumn("new_s",
            when(lag("ts_ms", 1).over(w).isNull ||
              col("ts_ms") - lag("ts_ms", 1).over(w) > 600000L, 1L)
              .otherwise(0L))
          .withColumn("sess", sum("new_s").over(run))
        sess.groupBy("user_id", "sess")
          .agg(count(lit(1)).as("n_ev"),
            (max("ts_ms") - min("ts_ms")).as("dur_ms"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            sum("n_ev").cast("long").as("n_events"),
            max("n_ev").as("max_sess_events"),
            round(avg("dur_ms"), 4).as("avg_dur_ms"))
      },
      Some("""WITH e AS (SELECT user_id, event_id,
                    epoch_ms(date_trunc('millisecond', ts)) AS ts_ms
                    FROM events WHERE ts IS NOT NULL),
             f AS (SELECT user_id, event_id, ts_ms,
                   CASE WHEN lag(ts_ms) OVER w IS NULL
                          OR ts_ms - lag(ts_ms) OVER w > 600000
                        THEN 1 ELSE 0 END AS new_s
                   FROM e
                   WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
             g AS (SELECT user_id, ts_ms,
                   sum(new_s) OVER (PARTITION BY user_id
                     ORDER BY ts_ms, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
                   FROM f),
             h AS (SELECT user_id, sess, count(*) AS n_ev,
                   max(ts_ms) - min(ts_ms) AS dur_ms
                   FROM g GROUP BY user_id, sess)
             SELECT user_id, count(*) AS n_sessions,
                    CAST(sum(n_ev) AS BIGINT) AS n_events,
                    max(n_ev) AS max_sess_events,
                    round(avg(dur_ms), 4) AS avg_dur_ms
             FROM h GROUP BY user_id""")),

    // join_bloom [EXT]: selective-dim semi-join with an explicit bloom
    // runtime filter pruning the fact side BEFORE the join shuffle
    // (RuntimeFilter scaladoc). The balance predicate passes ~40% of
    // suppliers at sf>=0.01 (and the single qualifying supplier in the
    // 10-row sf0.001 dim — a tighter cut like >9000 is vacuous there,
    // and an empty==empty gate proves nothing), so a majority of
    // lineitem rows still drop inside the scan stage; the exact
    // semi-join removes bloom false positives, making the result
    // identical to the plain EXISTS the oracle runs.
    Q("join_bloom",
      (s, d) => RuntimeFilter.bloomSemiJoin(
          t(s, d, "lineitem"), "l_suppkey",
          t(s, d, "supplier").filter(col("s_acctbal") > 6000), "s_suppkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          Cols.sumCents(col("l_extendedprice")).as("sum_price")),
      Some("""SELECT l_returnflag, count(*) AS n,
             sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_price
             FROM lineitem
             WHERE EXISTS (SELECT 1 FROM supplier
               WHERE s_suppkey = l_suppkey AND s_acctbal > 6000)
             GROUP BY l_returnflag""")),

    // layout_zorder [EXT]: Morton-interleave (o_custkey, order-day) and
    // report each 1/32nd z-range's bounding box in BOTH dimensions —
    // the per-file min/max stats that drive parquet row-group pruning
    // after a z-ordered write. The day offset counts from 1992-01-01,
    // at/below the corpus minimum (TPC-H orders start 1992), so every
    // dimension is >= 0 per zvalue's contract — a later epoch would
    // wrap negative days to the top of the 16-bit Morton range and
    // destroy the locality the layout exists for. Bucketing is
    // GlobalRank.withNtile — exact ntile(32) semantics via distributed
    // two-phase ranking, no single-partition window anywhere
    // (PlanGuardSpec); the DuckDB oracle replays the same layout with
    // its ntile window, which is exactly equivalent at any SF. The
    // production write path is ZOrder.layoutBy — repartitionByRange,
    // asserted in ZOrderSpec.
    Q("layout_zorder",
      (s, d) => {
        val base = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            datediff(to_date(col("o_orderdate")),
              to_date(lit("1992-01-01"))).cast("long").as("d"))
          .withColumn("zval",
            ZOrder.zvalue(Seq(col("o_custkey"), col("d")), 16))
        // r15: a layout key over a NULLABLE dimension must PIN null
        // placement (a null o_orderdate nulls the whole zval) — the
        // all-null-key rows cluster in the first bucket, explicitly,
        // on both engines
        graft.operators.GlobalRank.withNtile(base,
            Seq(col("zval").asc_nulls_first, col("o_orderkey")), 32,
            "bucket")
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            min("o_custkey").as("ck_min"), max("o_custkey").as("ck_max"),
            min("d").as("d_min"), max("d").as("d_max"))
      },
      Some(s"""WITH o AS (SELECT o_orderkey, o_custkey,
                    date_diff('day', DATE '1992-01-01',
                      CAST(o_orderdate AS DATE)) AS d FROM orders),
             z AS (SELECT o_orderkey, o_custkey, d,
                   ${ZOrder.zvalueSql(Seq("o_custkey", "d"), 16)} AS zval
                   FROM o),
             b AS (SELECT o_custkey, d,
                   ntile(32) OVER (ORDER BY zval NULLS FIRST,
                     o_orderkey) AS bucket
                   FROM z)
             SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
                    min(o_custkey) AS ck_min, max(o_custkey) AS ck_max,
                    min(d) AS d_min, max(d) AS d_max
             FROM b GROUP BY bucket""")),

    // win_global_rank [EXT]: EXACT global row_number over the whole
    // table — the op behind "take the top-p% by score" curation cuts
    // and percentile exports — via GlobalRank's bucketed path (the
    // numeric lead o_totalprice): sampled quantile boundaries → a
    // literal bucket tree → bucket-partitioned window + in-plan prefix
    // offsets of the per-bucket counts; no range shuffle, no stage. The
    // oracle is the literal single-window SQL; parity IS the contract
    // (GlobalRankSpec), and the Spark plan carries no unpartitioned
    // window (PlanGuardSpec).
    Q("win_global_rank",
      (s, d) => graft.operators.GlobalRank.withGlobalRank(
          t(s, d, "orders")
            .select(col("o_orderkey"), col("o_totalprice")),
          Seq(col("o_totalprice").desc, col("o_orderkey")), "rnk")
        .select(col("o_orderkey"), col("rnk")),
      Some("""SELECT o_orderkey, row_number() OVER (
             |  ORDER BY o_totalprice DESC, o_orderkey) AS rnk
             |FROM orders""".stripMargin)),

    // agg_wmedian [EXT, new r8]: EXACT whole-table weighted median —
    // the revenue-weighted "typical quantity" (half the spend sits on
    // each side). Classically a global cumulative-weight window (one
    // executor sorts everything); here it is a WEIGHT-rank SELECTION
    // via RobustStats.weightedMedianExact — the iterative-histogram
    // narrowing with per-bucket weight sums, aggregate-only: no row
    // ever moves, no range shuffle, no materialized ranking (the
    // first cut rode GlobalRank.withRunningTotal and spent 1.4 s of
    // its 2.2 s bench time writing the staged ranking nobody read
    // back — the running-total shape is for when every row needs its
    // cumulative position, not for one scalar). Weights are exact
    // integer CENTS (round(price*100) as LONG), so the ⌈W/2⌉
    // threshold and every cumulation are order-free integer
    // arithmetic; the boundary value is bit-identical cross-engine.
    Q("agg_wmedian",
      (s, d) => {
        import s.implicits._
        val li = t(s, d, "lineitem")
          .select(col("l_quantity").cast("double").as("v"),
            round(col("l_extendedprice") * 100).cast("long").as("w"))
        val (wm, tw) = graft.operators.RobustStats.weightedMedianExact(
          li, col("v"), col("w"))
        Seq((wm, tw)).toDF("wmedian", "total_w")
      },
      Some("""WITH li AS (SELECT l_quantity::DOUBLE AS v,
             |    floor(l_extendedprice * 100 + 0.5)::BIGINT AS w,
             |    l_orderkey, l_linenumber FROM lineitem
             |  -- r15: mirrors RobustStats' null contract — an
             |  -- observation needs BOTH a value and a weight
             |  WHERE l_quantity IS NOT NULL
             |    AND l_extendedprice IS NOT NULL),
             |r AS (SELECT v, sum(w) OVER (
             |      ORDER BY v, l_orderkey, l_linenumber
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS cw FROM li),
             |t AS (SELECT sum(w)::BIGINT AS tw FROM li)
             |SELECT v AS wmedian, tw AS total_w FROM r, t
             |WHERE cw >= (tw + 1) // 2 ORDER BY cw LIMIT 1""".stripMargin)),

    // agg_wp90 [EXT, new r8]: the p90 of the same spend-weighted
    // distribution ("90% of revenue sits on quantities <= this") via
    // the generalized weighted-quantile selection. The fraction
    // travels as INTEGERS (9, 10): threshold = (9·W + 9) div 10 =
    // ceil(0.9·W) with no float anywhere — ceil(0.9 * W) in doubles
    // can land on the wrong side of an exact multiple of 10; the
    // integer form cannot, and the oracle replays the identical
    // integer threshold.
    Q("agg_wp90",
      (s, d) => {
        import s.implicits._
        val li = t(s, d, "lineitem")
          .select(col("l_quantity").cast("double").as("v"),
            round(col("l_extendedprice") * 100).cast("long").as("w"))
        val (wq, tw) = graft.operators.RobustStats.weightedQuantileExact(
          li, col("v"), col("w"), 9L, 10L)
        Seq((wq, tw)).toDF("wp90", "total_w")
      },
      Some("""WITH li AS (SELECT l_quantity::DOUBLE AS v,
             |    floor(l_extendedprice * 100 + 0.5)::BIGINT AS w,
             |    l_orderkey, l_linenumber FROM lineitem
             |  -- r15: mirrors RobustStats' null contract — an
             |  -- observation needs BOTH a value and a weight
             |  WHERE l_quantity IS NOT NULL
             |    AND l_extendedprice IS NOT NULL),
             |r AS (SELECT v, sum(w) OVER (
             |      ORDER BY v, l_orderkey, l_linenumber
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS cw FROM li),
             |t AS (SELECT sum(w)::BIGINT AS tw FROM li)
             |SELECT v AS wp90, tw AS total_w FROM r, t
             |WHERE cw >= (9 * tw + 9) // 10 ORDER BY cw LIMIT 1""".stripMargin)),

    // agg_histogram [EXT]: equi-width histogram per group — pure
    // map-side bucketing (floor division, no sort, no window) feeding
    // one partial+final aggregate keyed on (group, bucket). The 100 TB
    // histogram: cardinality = groups × buckets, independent of rows.
    Q("agg_histogram",
      (s, d) => t(s, d, "orders")
        .withColumn("bucket", floor(col("o_totalprice") / 25000).cast("long"))
        .groupBy("o_orderstatus", "bucket")
        .agg(count(lit(1)).as("n"),
          round(avg("o_totalprice"), 2).as("avg_price")),
      Some("""SELECT o_orderstatus,
                    CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
                    count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
             FROM orders GROUP BY 1, 2""")),

    // funnel_conv [EXT]: ordered view→click→purchase funnel — per-user
    // conversion depth with strict-after semantics, counted per depth.
    // One user-keyed exchange + codegen'd HOF scan on the Spark side;
    // the oracle reaches the same depths by a structurally different
    // algorithm (cascaded min-ts joins per step).
    Q("funnel_conv",
      (s, d) => graft.operators.Funnel.report(
        t(s, d, "events"), "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase")),
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
             |  GROUP BY 1),
             |dp AS (SELECT u.user_id,
             |    CASE WHEN t3 IS NOT NULL THEN 3
             |         WHEN t2 IS NOT NULL THEN 2
             |         WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS depth
             |  FROM u LEFT JOIN s1 USING (user_id)
             |    LEFT JOIN s2 USING (user_id)
             |    LEFT JOIN s3 USING (user_id))
             |SELECT depth, count(*)::BIGINT AS n_users
             |FROM dp GROUP BY 1""".stripMargin)),

    // cohort_retention [EXT]: weekly acquisition-cohort retention
    // triangle — entity-keyed collect_set of distinct active weeks
    // (bounded by calendar span, not event count), cohort = set min,
    // so no self-join back to events; then one combine-friendly
    // count. The oracle takes the structurally different min-join
    // route to the same matrix.
    Q("cohort_retention",
      (s, d) => graft.operators.Cohort.retention(
        t(s, d, "events"), "user_id", col("ts")),
      Some("""WITH uw AS (SELECT user_id AS e,
             |    date_trunc('week', ts)::DATE AS wk
             |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
             |cu AS (SELECT e, min(wk) AS cw FROM uw GROUP BY 1),
             |a AS (SELECT cu.cw AS cohort_week,
             |    datediff('day', cu.cw, uw.wk) // 7 AS week_offset,
             |    count(*)::BIGINT AS active_users
             |  FROM uw JOIN cu USING (e) GROUP BY 1, 2)
             |SELECT cohort_week, week_offset, active_users,
             |  round(active_users / first_value(active_users)
             |    OVER (PARTITION BY cohort_week ORDER BY week_offset),
             |    4) AS retention
             |FROM a""".stripMargin)),

    // graph_pagerank [EXT]: link-authority scoring — 5 power-iteration
    // rounds over the undirected customer–supplier co-purchase graph
    // (mirrored edges: no dangling mass, total rank exactly 1). The
    // oracle unrolls the same 5 rounds as chained CTEs; both engines
    // compute teleport as the literal (1 - 0.85)/N and each round as
    // teleport + 0.85 * sum(r/outdeg) in the same operation order, so
    // the only divergence is sum reordering (~1e-13 after 5 rounds)
    // against a 4-decimal rounding. Ranks are scaled by N (mean 1) —
    // raw O(1/N) ranks would vanish under the rounding.
    Q("graph_pagerank",
      (s, d) => {
        // r12: the ENGINE runs the same integer-vertex encoding the
        // r12 oracle adopted (customers even = 2·custkey, suppliers
        // odd = 2·suppkey+1) — five rounds of join+aggregate shuffle
        // the vertex id on every exchange, and a bigint key is
        // materially narrower and cheaper to hash than the 'c…'/'s…'
        // string it renders to. The strings appear only in the final
        // projection, so the output is unchanged.
        val e = t(s, d, "lineitem")
          .join(t(s, d, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("a"),
            (col("l_suppkey") * 2 + 1).as("b"))
        // no distinct here: the operator's single edge-prep exchange
        // dedups the mirrored pairs anyway
        graft.operators.PageRank.ranks(e, "a", "b", iters = 5)
          .select(
            when(col("id") % 2 === 0,
              concat(lit("c"), (col("id") / 2).cast("long")))
              .otherwise(
                concat(lit("s"), ((col("id") - 1) / 2).cast("long")))
              .as("id"),
            col("rank"))
      },
      // r12: vertices carry INTEGER ids through the replay (customers
      // even = 2·custkey, suppliers odd = 2·suppkey+1); the 'c…'/'s…'
      // strings appear only in the final 1.6M-row projection. The r11
      // form keyed every join/DISTINCT/aggregate on ~11-char VARCHARs:
      // at 100× that is a 60M-row string DISTINCT plus five rounds of
      // 113M-row string-keyed join+aggregate, which out-spilled a
      // 90 GB box. Per-vertex per-round groups are identical (the id
      // map is a bijection), so each round's sum sees the same operand
      // multiset and the 4-decimal rounding absorbs reorder noise
      // exactly as before.
      // Every CTE is MATERIALIZED: DuckDB 1.0 inlines single-use
      // CTEs, so the unhinted chain r1..r5 folds into one multi-join
      // the optimizer reorders into a cross-round blowup (>72 GB
      // spill at 30x while one materialized round runs in ~6 s).
      // With the hints each round is evaluated exactly once in
      // sequence -- the staged-execution the driver's single-statement
      // replay can express.
      Some("""WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |ed AS MATERIALIZED (SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM e0
             |       UNION ALL SELECT sk * 2 + 1, ck * 2 FROM e0),
             |dg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS outdeg
             |       FROM ed GROUP BY 1),
             |e AS MATERIALIZED (SELECT ed.src, ed.dst, dg.outdeg
             |      FROM ed JOIN dg USING (src)),
             |v AS MATERIALIZED (SELECT DISTINCT src AS id FROM ed),
             |n AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM v),
             |r0 AS MATERIALIZED (SELECT id, 1.0 / n.n AS r FROM v, n),
             |r1 AS MATERIALIZED (SELECT e.dst AS id, (1 - 0.85) / n.n +
             |    0.85 * sum(p.r / e.outdeg) AS r
             |  FROM e JOIN r0 p ON e.src = p.id, n GROUP BY e.dst, n.n),
             |r2 AS MATERIALIZED (SELECT e.dst AS id, (1 - 0.85) / n.n +
             |    0.85 * sum(p.r / e.outdeg) AS r
             |  FROM e JOIN r1 p ON e.src = p.id, n GROUP BY e.dst, n.n),
             |r3 AS MATERIALIZED (SELECT e.dst AS id, (1 - 0.85) / n.n +
             |    0.85 * sum(p.r / e.outdeg) AS r
             |  FROM e JOIN r2 p ON e.src = p.id, n GROUP BY e.dst, n.n),
             |r4 AS MATERIALIZED (SELECT e.dst AS id, (1 - 0.85) / n.n +
             |    0.85 * sum(p.r / e.outdeg) AS r
             |  FROM e JOIN r3 p ON e.src = p.id, n GROUP BY e.dst, n.n),
             |r5 AS MATERIALIZED (SELECT e.dst AS id, (1 - 0.85) / n.n +
             |    0.85 * sum(p.r / e.outdeg) AS r
             |  FROM e JOIN r4 p ON e.src = p.id, n GROUP BY e.dst, n.n)
             |SELECT CASE WHEN r5.id % 2 = 0
             |    THEN 'c' || (r5.id // 2)::VARCHAR
             |    ELSE 's' || (r5.id // 2)::VARCHAR END AS id,
             |  round(r5.r * n.n, 4) AS rank
             |FROM r5, n""".stripMargin)),

    // graph_triangles [EXT]: per-vertex triangle counts (clustering-
    // coefficient numerator) on the supplier co-purchase graph —
    // suppliers are connected when they ship lines of the same order
    // (sampled orders, first 3 lines, so the projection stays sparse
    // at every SF: 1.8k triangles at sf0.01, 8.4k at sf0.1). Spark
    // runs DEGREE ORIENTATION (wedges only among oriented
    // out-neighbors, outdeg bounded O(sqrt(m)) — a hub contributes no
    // wedge blowup); the oracle runs the canonical sorted-triple
    // 3-way self-join — different algorithm, identical counts.
    Q("graph_triangles",
      (s, d) => graft.operators.Triangles
        .perVertex(coPurchasePairs(s, d), "a", "b")
        .withColumnRenamed("node", "suppkey"),
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey
             |  FROM lineitem
             |  WHERE l_orderkey % 20 = 0 AND l_linenumber <= 3),
             |e AS (SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
             |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
             |    AND a.l_suppkey < b.l_suppkey),
             |tri AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1
             |  JOIN e e2 ON e2.a = e1.b
             |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
             |v AS (SELECT unnest([a, b, c]) AS suppkey FROM tri)
             |SELECT suppkey, count(*)::BIGINT AS n_tri FROM v
             |GROUP BY 1""".stripMargin)),

    // dedup_incr [EXT]: incremental ingest dedup — the corpus's MinHash
    // posting index is built ONCE per (session, corpus) and the new
    // batch (the same every-50th perturbed docs the other dedup oracles
    // plant, so the full-sketch SQL replay applies verbatim) only
    // sketches ITSELF before probing the staged postings. At 100 TB
    // this turns per-batch dedup cost from O(corpus) to O(batch); the
    // oracle recomputes every cross pair from raw text independently.
    Q("dedup_incr",
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val idx = ScaleQ.mhIndexCache.getOrFit(s, d,
          Dedup.buildMinhashIndex(docs, "doc_id", "text"))
        val batch = docs.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" zz")).as("text"))
        Dedup.probeMinhashIndex(idx, batch, "doc_id", "text",
            threshold = 0.35)
          .select(col("corpus_id"), col("batch_id"),
            round(col("est_jaccard"), 4).as("est_jaccard"))
      },
      Some(MinhashOracle.incrSql)),

    // dq_outlier [EXT, new r7]: robust MAD outlier screen with EXACT
    // distributed medians — med = median(x), mad = median(|x − med|),
    // outlier ⇔ |x − med| > 3·1.4826·mad. approxQuantile is fuzzy at
    // the cut and percentile_cont plans a single-partition sort;
    // RobustStats.medianExact instead runs an iterative-histogram rank
    // selection — constant-size aggregate partials per pass narrow the
    // bracket until a bounded driver slice resolves the exact median
    // ranks; everything row-scale stays distributed. The oracle
    // replays the IDENTICAL
    // rank-selection definition (avg of ranks ⌈n/2⌉ and ⌊n/2⌋+1), not
    // DuckDB's percentile interpolation, so even the even-n midpoint
    // arithmetic matches bit-for-bit.
    Q("dq_outlier",
      (s, d) => graft.operators.RobustStats.madOutlierSummary(
        t(s, d, "lineitem"), col("l_extendedprice"), k = 3.0),
      Some("""WITH v AS (SELECT l_extendedprice::DOUBLE AS x
             |    FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |n AS (SELECT count(*)::BIGINT AS n FROM v),
             |r AS (SELECT x, row_number() OVER (ORDER BY x) AS rk FROM v),
             |m AS (SELECT avg(x) AS med FROM r, n
             |  WHERE rk = (n.n + 1) // 2 OR rk = (n.n + 2) // 2),
             |r2 AS (SELECT abs(v.x - m.med) AS y FROM v, m),
             |rr AS (SELECT y, row_number() OVER (ORDER BY y) AS rk FROM r2),
             |d2 AS (SELECT avg(y) AS mad FROM rr, n
             |  WHERE rk = (n.n + 1) // 2 OR rk = (n.n + 2) // 2)
             |SELECT n.n AS n,
             |  floor(m.med * 10000.0 + 0.5) / 10000.0 AS med,
             |  floor(d2.mad * 10000.0 + 0.5) / 10000.0 AS mad,
             |  (SELECT count(*) FROM v, m, d2
             |     WHERE abs(v.x - m.med) > 3.0 * 1.4826 * d2.mad)::BIGINT
             |    AS n_out
             |FROM n, m, d2""".stripMargin)),

    // dq_volume_anomaly [EXT, new r8]: WHICH days had anomalous event
    // volume — the per-day twin of dq_outlier's one-row whole-column
    // screen, and the audit that catches a dropped producer or a
    // replay storm as specific dates. Daily counts are a
    // dimension-bounded aggregate (one row per day of the corpus's
    // time extent). The day series folds into ONE keyless-aggregate
    // row; med and MAD are the middle-rank averages of its sorted
    // counts and deviations (percentile_cont convention, no window),
    // and the row explodes back to the days that pass the robust
    // |c − med| > 3·1.4826·mad rule — one lazy plan, no driver action.
    // No event → no row.
    Q("dq_volume_anomaly",
      (s, d) => {
        // the synthetic feed is uniform, so the anomalies are PLANTED
        // (the join_fuzzy/plantedDocs convention — a gate passing on 0
        // outliers == 0 would be vacuous): a 3x replay storm on
        // Jan 5 and a dropped-producer trickle (2% survives) on
        // Jan 20, both deterministic and replayed by the oracle
        val e0 = t(s, d, "events")
          .select(to_date(col("ts")).as("day"), col("event_id"))
        val storm = e0.filter(col("day") === to_date(lit("2024-01-05")))
        val planted = e0
          .filter(col("day") =!= to_date(lit("2024-01-20")) ||
            col("event_id") % 50 === 0)
          .unionByName(storm).unionByName(storm)
        // avg of the one or two middle elements of a sorted array
        def mid(xs: org.apache.spark.sql.Column) = {
          val k = size(xs)
          (element_at(xs, ((k + 1) / 2).cast("int")) +
            element_at(xs, ((k + 2) / 2).cast("int"))) / lit(2.0)
        }
        planted.groupBy("day").agg(count(lit(1)).as("n_events"))
          .agg(collect_list(struct(col("day"), col("n_events"))).as("ds"))
          .filter(size(col("ds")) > 0)
          .withColumn("med", mid(sort_array(
            transform(col("ds"), r => r("n_events").cast("double")))))
          .withColumn("mad", mid(sort_array(transform(col("ds"),
            r => abs(r("n_events").cast("double") - col("med"))))))
          .select(explode(col("ds")).as("r"), col("med"), col("mad"))
          .filter(abs(col("r.n_events") - col("med")) >
            lit(3.0) * lit(1.4826) * col("mad"))
          .select(col("r.day").as("day"), col("r.n_events").as("n_events"),
            col("med"), col("mad"))
      },
      Some("""WITH e0 AS (SELECT CAST(ts AS DATE) AS day, event_id
             |    FROM events),
             |pl AS (SELECT day FROM e0
             |    WHERE day != DATE '2024-01-20' OR event_id % 50 = 0
             |  UNION ALL SELECT day FROM e0 WHERE day = DATE '2024-01-05'
             |  UNION ALL SELECT day FROM e0 WHERE day = DATE '2024-01-05'),
             |c AS (SELECT day, count(*)::BIGINT AS n_events
             |  FROM pl GROUP BY 1),
             |n AS (SELECT count(*)::BIGINT AS n FROM c),
             |r AS (SELECT n_events::DOUBLE AS x,
             |    row_number() OVER (ORDER BY n_events) AS rk FROM c),
             |m AS (SELECT avg(x) AS med FROM r, n
             |  WHERE rk = (n.n + 1) // 2 OR rk = (n.n + 2) // 2),
             |r2 AS (SELECT abs(c.n_events - m.med) AS y FROM c, m),
             |rr AS (SELECT y, row_number() OVER (ORDER BY y) AS rk FROM r2),
             |d2 AS (SELECT avg(y) AS mad FROM rr, n
             |  WHERE rk = (n.n + 1) // 2 OR rk = (n.n + 2) // 2)
             |SELECT c.day, c.n_events, m.med AS med, d2.mad AS mad
             |FROM c, m, d2
             |WHERE abs(c.n_events - m.med) > 3.0 * 1.4826 * d2.mad""".stripMargin)),

    // graph_jaccard [EXT, new r7]: neighbor-set Jaccard similarity on
    // the sampled supplier co-purchase graph (the graph_triangles edge
    // set) — the link-prediction / supplier-substitutability signal.
    // Candidates come ONLY from shared-neighbor wedges (never
    // all-pairs); counts are exact integers and the score is their
    // single division, so the oracle's replay is bit-identical.
    // graph_khop [EXT, new r8]: GraphSAGE-style 2-hop neighbor
    // sampling over the co-purchase graph — the data-prep step of
    // every graph-learning pipeline (bound each node's receptive
    // field BEFORE the explosion, not after). Fan-out 3 per hop,
    // selected by the PORTABLE-MD5 content-hash rank (the
    // corpus_split membership convention): deterministic across runs,
    // retries, cluster sizes, and engines — rand() sampling would
    // break every one of those. Windows partition by src (parallel
    // across nodes), hop-2 is sampled-join-sampled so the join is
    // fan-out² bounded per node, and the 1-hop set is excluded via
    // left-anti. Output per node: sampled 1-hop count and distinct
    // exclusive 2-hop count. The sampled frame is staged: it feeds both
    // sides of the hop-2 join, the anti-join and n1, and lazy, each
    // consumer re-runs the sampling window, which measured slower on
    // the 10× copy (CHANGES.md).
    Q("graph_khop",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val pairs = coPurchasePairs(s, d)
          .select(col("a").as("src"), col("b").as("dst"))
        val und = pairs.unionByName(
          pairs.select(col("dst").as("src"), col("src").as("dst")))
        val h = conv(substring(md5(concat_ws(":",
          col("src").cast("string"), col("dst").cast("string"),
          lit("khop"))), 1, 15), 16, 10).cast("long")
        val w = Window.partitionBy("src").orderBy(col("h"), col("dst"))
        val samp = graft.operators.Stage.materialize(
          und.withColumn("h", h)
            .withColumn("rk", row_number().over(w))
            .filter(col("rk") <= 3).select(col("src"), col("dst")),
          "khop_sampled")
        val hop2 = samp
          .join(samp.select(col("src").as("mid"), col("dst").as("dst2")),
            col("dst") === col("mid"))
          .filter(col("dst2") =!= col("src"))
          .select(col("src"), col("dst2"))
          .join(samp.select(col("src"), col("dst").as("dst2")),
            Seq("src", "dst2"), "left_anti")
        val n1 = samp.groupBy("src").agg(count(lit(1)).as("n1"))
        val n2 = hop2.groupBy("src")
          .agg(countDistinct(col("dst2")).as("n2"))
        n1.join(n2, Seq("src"), "left")
          .select(col("src").as("node"), col("n1"),
            coalesce(col("n2"), lit(0L)).as("n2"))
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey
             |  FROM lineitem
             |  WHERE l_orderkey % 20 = 0 AND l_linenumber <= 3),
             |pr AS (SELECT DISTINCT a.l_suppkey AS src,
             |    b.l_suppkey AS dst
             |  FROM li a JOIN li b USING (l_orderkey)
             |  WHERE a.l_suppkey < b.l_suppkey),
             |und AS (SELECT src, dst FROM pr
             |  UNION ALL SELECT dst, src FROM pr),
             |rk AS (SELECT src, dst, row_number() OVER (
             |    PARTITION BY src ORDER BY
             |      ('0x' || substring(md5(src::VARCHAR || ':' ||
             |        dst::VARCHAR || ':khop'), 1, 15))::BIGINT,
             |      dst) AS rk
             |  FROM und),
             |samp AS (SELECT src, dst FROM rk WHERE rk <= 3),
             |h2 AS (SELECT s1.src, s2.dst AS dst2
             |  FROM samp s1 JOIN samp s2 ON s1.dst = s2.src
             |  WHERE s2.dst != s1.src
             |    AND NOT EXISTS (SELECT 1 FROM samp x
             |      WHERE x.src = s1.src AND x.dst = s2.dst)),
             |n1 AS (SELECT src, count(*)::BIGINT AS n1 FROM samp
             |  GROUP BY 1),
             |n2 AS (SELECT src, count(DISTINCT dst2)::BIGINT AS n2
             |  FROM h2 GROUP BY 1)
             |SELECT n1.src AS node, n1.n1,
             |  coalesce(n2.n2, 0)::BIGINT AS n2
             |FROM n1 LEFT JOIN n2 USING (src)""".stripMargin)),

    // minJac 0.125, not 0.25: the sf0.1 co-purchase graph is dense
    // enough that its max neighbor-set jaccard is 0.196 — a 0.25 cut
    // is vacuous there (empty == empty proves nothing), while 0.125
    // keeps the output selective at every SF (45 / 2047 / 235 pairs).
    Q("graph_jaccard",
      (s, d) => graft.operators.GraphSim.neighborJaccard(
        coPurchasePairs(s, d), "a", "b", minJac = 0.125),
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey
             |  FROM lineitem
             |  WHERE l_orderkey % 20 = 0 AND l_linenumber <= 3),
             |e AS (SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
             |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
             |    AND a.l_suppkey < b.l_suppkey),
             |adj AS (SELECT a AS node, b AS nb FROM e
             |        UNION ALL SELECT b AS node, a AS nb FROM e),
             |dg AS (SELECT node, count(*)::BIGINT AS deg
             |       FROM adj GROUP BY 1),
             |cw AS (SELECT x.node AS a, y.node AS b,
             |    count(*)::BIGINT AS common
             |  FROM adj x JOIN adj y
             |    ON x.nb = y.nb AND x.node < y.node GROUP BY 1, 2)
             |SELECT cw.a, cw.b, cw.common, da.deg AS da, db.deg AS db,
             |  CAST(cw.common AS DOUBLE) /
             |    CAST(da.deg + db.deg - cw.common AS DOUBLE) AS jac
             |FROM cw JOIN dg da ON cw.a = da.node
             |  JOIN dg db ON cw.b = db.node
             |WHERE CAST(cw.common AS DOUBLE) /
             |  CAST(da.deg + db.deg - cw.common AS DOUBLE) >= 0.125""".stripMargin)),

    // opt_skyline [EXT, new r8]: Pareto frontier ("skyline") of the
    // part catalog — cheapest price vs largest size, the classic
    // multi-criteria shortlist (Börzsönyi et al., ICDE '01). The naive
    // shape is an all-pairs dominance anti-join (quadratic in rows);
    // here dominance collapses onto the size-level aggregate FIRST —
    // one map-side-partial min/count per p_size (the only full scan),
    // leaving a dimension-bounded (≤ 50-row) level table whose
    // broadcast self-anti-join costs nothing. A size level survives
    // iff no strictly larger size is as cheap or cheaper. For
    // unbounded dominance dimensions the same reduction feeds the
    // sort-sweep form (running min over a GlobalRank range ranking)
    // instead of the self-join; the bounded case is the common
    // catalog shape. Prices compare as raw parquet doubles — no
    // arithmetic, nothing to drift cross-engine.
    Q("opt_skyline",
      (s, d) => graft.operators.Skyline.frontier2d(
        t(s, d, "part").groupBy("p_size")
          .agg(min("p_retailprice").as("min_price"),
            count(lit(1)).as("n_parts")),
        maxCol = "p_size", minCol = "min_price"),
      Some("""WITH lv AS (SELECT p_size,
             |    min(p_retailprice) AS min_price,
             |    count(*)::BIGINT AS n_parts
             |  FROM part GROUP BY 1)
             |SELECT a.p_size, a.min_price, a.n_parts FROM lv a
             |WHERE NOT EXISTS (SELECT 1 FROM lv b
             |  WHERE b.p_size > a.p_size
             |    AND b.min_price <= a.min_price)""".stripMargin)),

    // opt_skyline_sweep [EXT, new r9]: the UNBOUNDED-dimension skyline
    // form over raw row-scale data — every lineitem row on the Pareto
    // frontier of (maximize l_quantity, minimize l_extendedprice),
    // ties on the frontier kept. Where opt_skyline's anti-join needs
    // the level table to broadcast, this is the sort-sweep: one
    // map-side-partial min per distinct quantity, a GlobalRank-shaped
    // two-phase running min in descending-quantity order (range
    // shuffle + frozen pid + driver prefix-min over p metadata rows —
    // never a global window), and an equi-join of the per-level
    // threshold back to the rows. Valid at any level cardinality.
    // The oracle takes the genuinely different shape: a correlated
    // NOT EXISTS of each raw row against the level table (sound
    // because a dominating row exists iff a dominating LEVEL does).
    // Prices compare as raw parquet doubles — no arithmetic, nothing
    // to drift cross-engine.
    Q("opt_skyline_sweep",
      (s, d) => graft.operators.Skyline.frontierSweep(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber",
          "l_quantity", "l_extendedprice"),
        maxCol = "l_quantity", minCol = "l_extendedprice"),
      Some("""WITH lv AS (SELECT l_quantity AS q,
             |    min(l_extendedprice) AS m
             |  FROM lineitem GROUP BY 1)
             |SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
             |  l.l_extendedprice
             |FROM lineitem l
             |WHERE NOT EXISTS (SELECT 1 FROM lv b
             |  WHERE b.q > l.l_quantity
             |    AND b.m <= l.l_extendedprice)""".stripMargin)),

    // graph_bfs [EXT, new r8]: multi-source BFS over the co-purchase
    // supplier graph (same edge recipe as graph_jaccard) — how many
    // suppliers sit 0/1/2/3 hops from the seed set, the blast-radius /
    // influence-reach primitive. Iterative frontier expansion: each of
    // the 3 rounds is one key-shuffled join of the CURRENT distance
    // frame against the staged mirrored edge list + a min-distance
    // re-aggregate, with the frame re-staged per round to cut lineage
    // (the alternating-star CC discipline) — rounds are bounded by the
    // hop budget, per-round cost linear in |E|, nothing driver-side.
    // The oracle walks the identical frontier as a recursive CTE whose
    // UNION-dedup over (node, dist) pairs terminates at the same hop
    // bound.
    Q("graph_bfs",
      (s, d) => {
        val pairs = coPurchasePairs(s, d)
        val edges = graft.operators.Stage.materialize(
          pairs.select(col("a").as("src"), col("b").as("dst"))
            .unionByName(pairs.select(col("b").as("src"),
              col("a").as("dst"))),
          "bfs_edges")
        val seeds = edges.select(col("src").as("node")).distinct()
          .filter(col("node") % 23 === 1)
        graft.operators.Bfs.distances(edges, seeds, maxHops = 3)
          .groupBy("dist").agg(count(lit(1)).as("n_nodes"))
      },
      Some("""WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey, l_suppkey
             |  FROM lineitem
             |  WHERE l_orderkey % 20 = 0 AND l_linenumber <= 3),
             |e AS (SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
             |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
             |    AND a.l_suppkey < b.l_suppkey),
             |ed AS (SELECT a AS src, b AS dst FROM e
             |       UNION ALL SELECT b AS src, a AS dst FROM e),
             |seeds AS (SELECT DISTINCT src AS node FROM ed
             |  WHERE src % 23 = 1),
             |bfs(node, dist) AS (
             |  SELECT node, 0 FROM seeds
             |  UNION
             |  SELECT ed.dst, bfs.dist + 1 FROM bfs
             |    JOIN ed ON ed.src = bfs.node WHERE bfs.dist < 3),
             |dm AS (SELECT node, min(dist)::BIGINT AS dist
             |  FROM bfs GROUP BY 1)
             |SELECT dist, count(*)::BIGINT AS n_nodes
             |FROM dm GROUP BY 1""".stripMargin)),

    // graph_cc [EXT, new r8]: connected components of the co-purchase
    // graph, gated DIRECTLY — dedup_cluster exercises the CC operator
    // behind a planted-corpus oracle; this row pins the operator's raw
    // (cluster → size) output against an INDEPENDENT recursive-CTE
    // transitive-closure replay, so the min-label contract itself is
    // oracle-checked. Labels are min-node-id per component —
    // deterministic, so exact membership counts compare. The Spark
    // side is operators.ConnectedComponents (driver union-find fast
    // path at gate scale, alternating-star distributed loop above
    // its LocalEdgeLimit — BASELINE.md records the measured crossover);
    // the closure CTE is oracle-only machinery (quadratic in component
    // size — exactly what the star loop exists to avoid).
    Q("graph_cc",
      (s, d) => graft.operators.ConnectedComponents
        .labels(coPurchasePairs(s, d), "a", "b")
        .groupBy("cluster").agg(count(lit(1)).as("size")),
      // r12: the old recursive-CTE ground truth enumerated every
      // (node, reachable-smaller-label) pair — |component|² state, and
      // the skewed corpus's hub suppliers fuse most of the graph into
      // ONE giant component (>35 min of spill at 80 GB). Replaced with
      // MIN-LABEL PROPAGATION + POINTER JUMPING, one MATERIALIZED
      // |V|-row frame per round: lab ← least(lab, min over in-
      // neighbors' lab, lab(lab)). The jump doubles resolved distance
      // per round, so 12 rounds cover diameter ≫ any gate graph; a
      // 13th round materializes the convergence CHECK — any label
      // still moving emits a poison row (cluster −1, impossible
      // otherwise: labels are positive suppkeys), failing the compare
      // loudly instead of silently blessing an unconverged replay.
      Some {
        def round(i: Int): String = {
          val p = s"l${i - 1}"
          s"""l$i AS MATERIALIZED (
             |  SELECT c.node,
             |    least(c.lab,
             |      coalesce(nb.mn, c.lab), coalesce(j.jlab, c.lab)) AS lab
             |  FROM $p c
             |  LEFT JOIN (SELECT ed.dst AS node, min(p.lab) AS mn
             |             FROM ed JOIN $p p ON p.node = ed.src
             |             GROUP BY ed.dst) nb USING (node)
             |  LEFT JOIN (SELECT c2.node, p2.lab AS jlab
             |             FROM $p c2 JOIN $p p2 ON p2.node = c2.lab) j
             |    USING (node))"""
        }
        ("""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_suppkey
           |  FROM lineitem
           |  WHERE l_orderkey % 20 = 0 AND l_linenumber <= 3),
           |e AS MATERIALIZED (SELECT DISTINCT a.l_suppkey AS a,
           |    b.l_suppkey AS b
           |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
           |    AND a.l_suppkey < b.l_suppkey),
           |ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
           |       UNION ALL SELECT b AS src, a AS dst FROM e),
           |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab
           |  FROM ed),
           |""" + (1 to 13).map(round).mkString(",\n") + """
           |SELECT lab::BIGINT AS cluster, count(*)::BIGINT AS size
           |FROM l12 GROUP BY 1
           |UNION ALL
           |SELECT -1::BIGINT, count(*)::BIGINT
           |FROM (SELECT * FROM l13 EXCEPT SELECT * FROM l12)
           |HAVING count(*) > 0""").stripMargin
      }),

    // graph_label_prop [EXT, new r16]: community detection by
    // synchronous label propagation (Raghavan et al. '07) over the
    // co-purchase graph — the graph-family gap between components
    // (connectivity) and PageRank (authority): densely-linked groups
    // INSIDE one component. Deterministic variant: synchronous
    // updates, fixed 3 rounds, most-frequent neighbor label with ties
    // to the smallest (operators/LabelProp.scala — argmax as a
    // (cnt, -lab) struct-max aggregate, never a window). The oracle
    // unrolls the same 3 rounds; its per-node row_number argmax is
    // oracle-only machinery.
    Q("graph_label_prop",
      (s, d) => graft.operators.LabelProp.communities(
        coPurchasePairs(s, d), "a", "b", rounds = 3),
      Some {
        def round(r: Int): String =
          s"""c$r AS (SELECT ed.dst AS node, p.lab,
             |    count(*)::BIGINT AS cnt
             |  FROM ed JOIN l${r - 1} p ON p.node = ed.src
             |  GROUP BY 1, 2),
             |l$r AS MATERIALIZED (SELECT node, lab FROM (
             |  SELECT node, lab, row_number() OVER (
             |    PARTITION BY node ORDER BY cnt DESC, lab ASC) AS rn
             |  FROM c$r) WHERE rn = 1)"""
        ("""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_suppkey
           |  FROM lineitem
           |  WHERE l_orderkey % 20 = 0 AND l_linenumber <= 3),
           |e AS MATERIALIZED (SELECT DISTINCT a.l_suppkey AS a,
           |    b.l_suppkey AS b
           |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
           |    AND a.l_suppkey < b.l_suppkey),
           |ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
           |       UNION ALL SELECT b AS src, a AS dst FROM e),
           |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab
           |  FROM ed),
           |""" + (1 to 3).map(round).mkString(",\n") + """
           |SELECT lab::BIGINT AS community, count(*)::BIGINT AS size
           |FROM l3 GROUP BY 1""").stripMargin
      }),

    // dq_checksum [EXT, new r8]: order-free table content fingerprints —
    // the migration/replication validation primitive ("did every row
    // survive the copy?") that needs no sort, no driver collect, and
    // no row movement: each row canonicalizes to one string (integer
    // cents for doubles — engine float formatting differs; 
    // separators so column boundaries can't alias), hashes to its
    // low-60 portable md5, and the table fingerprint is bit_xor of the
    // hashes + the row count — both order-free, both partial-
    // aggregatable, identical on any engine that can md5. XOR alone
    // cancels duplicate-row pairs, which the row count catches;
    // pair with a keyed diff (row_diff) when rows may repeat exactly.
    Q("dq_checksum",
      (s, d) => {
        val sep = ""
        def low60(c: org.apache.spark.sql.Column) =
          conv(substring(md5(c), 1, 15), 16, 10).cast("long")
        def fp(name: String, df: org.apache.spark.sql.DataFrame,
               canon: org.apache.spark.sql.Column) =
          df.select(low60(canon).as("h"))
            .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("content_xor"))
            .select(lit(name).as("tbl"), col("n_rows"), col("content_xor"))
        fp("region", t(s, d, "region"),
            concat_ws(sep, col("r_regionkey").cast("string"), col("r_name")))
          .unionByName(fp("nation", t(s, d, "nation"),
            concat_ws(sep, col("n_nationkey").cast("string"), col("n_name"),
              col("n_regionkey").cast("string"))))
          // r15 null contract: a row checksum must ENCODE null, not
          // skip it — concat_ws drops null fields, so ('a', NULL, 'b')
          // and a shifted ('a', 'b', NULL) would collide; every
          // nullable field coalesces to the chr(2) sentinel first
          // (chr(1) stays the field separator)
          .unionByName(fp("supplier", t(s, d, "supplier"),
            concat_ws(sep, col("s_suppkey").cast("string"),
              coalesce(col("s_name"), lit("\u0002")),
              coalesce(col("s_nationkey").cast("string"), lit("\u0002")),
              coalesce(Cols.cents(col("s_acctbal"))
                .cast("string"), lit("\u0002")))))
      },
      Some("""WITH r AS (SELECT ('0x' || substr(md5(
             |      r_regionkey::VARCHAR || chr(1) || r_name), 1, 15))
             |      ::UBIGINT::BIGINT AS h FROM region),
             |n AS (SELECT ('0x' || substr(md5(
             |      n_nationkey::VARCHAR || chr(1) || n_name || chr(1)
             |      || n_regionkey::VARCHAR), 1, 15))
             |      ::UBIGINT::BIGINT AS h FROM nation),
             |sp AS (SELECT ('0x' || substr(md5(
             |      s_suppkey::VARCHAR || chr(1)
             |      || coalesce(s_name, chr(2)) || chr(1)
             |      || coalesce(s_nationkey::VARCHAR, chr(2)) || chr(1)
             |      || coalesce(CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)
             |           ::VARCHAR, chr(2))),
             |      1, 15))::UBIGINT::BIGINT AS h FROM supplier)
             |SELECT 'region' AS tbl, count(*)::BIGINT AS n_rows,
             |  bit_xor(h)::BIGINT AS content_xor FROM r
             |UNION ALL SELECT 'nation', count(*)::BIGINT,
             |  bit_xor(h)::BIGINT FROM n
             |UNION ALL SELECT 'supplier', count(*)::BIGINT,
             |  bit_xor(h)::BIGINT FROM sp""".stripMargin)),

    // graph_degree [EXT, new r8]: degree distribution of the
    // co-purchase graph — the first thing anyone asks of a new graph
    // (hub-heaviness decides salting and orientation strategies; the
    // degree-orientation bound behind graph_triangles is only as good
    // as this histogram says). One mirror + one count per node + one
    // count per degree, all map-side-partial aggregates off the shared
    // staged edge set.
    Q("graph_degree",
      (s, d) => {
        val p = coPurchasePairs(s, d)
        p.select(col("a").as("node"))
          .unionByName(p.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
          .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey
             |  FROM lineitem
             |  WHERE l_orderkey % 20 = 0 AND l_linenumber <= 3),
             |e AS (SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
             |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
             |    AND a.l_suppkey < b.l_suppkey),
             |adj AS (SELECT a AS node FROM e
             |        UNION ALL SELECT b AS node FROM e),
             |dg AS (SELECT node, count(*)::BIGINT AS deg
             |  FROM adj GROUP BY 1)
             |SELECT deg, count(*)::BIGINT AS n_nodes
             |FROM dg GROUP BY 1""".stripMargin)),

    // graph_assort [EXT, new r8]: degree assortativity — the Newman
    // coefficient (Pearson correlation of endpoint degrees over the
    // mirrored edge list): positive = hubs link hubs (social shape),
    // negative = hubs link leaves (infrastructure shape). One scalar
    // that tells you whether skew mitigation must worry about
    // hub-hub super-edges. Degrees are exact integers off the shared
    // staged edge set; corr follows the agg_corr 4-decimal convention
    // (both engines' single-pass corr agree well inside the rounding
    // on exact integer inputs). Mirroring makes the measure
    // orientation-free — each undirected edge contributes both
    // (da, db) and (db, da).
    Q("graph_assort",
      (s, d) => {
        val p = coPurchasePairs(s, d)
        val adj = p.select(col("a").as("node"), col("b").as("nb"))
          .unionByName(p.select(col("b").as("node"), col("a").as("nb")))
        val dg = adj.groupBy("node").agg(count(lit(1)).as("deg"))
        adj.join(dg, Seq("node"))
          .join(dg.select(col("node").as("nb"), col("deg").as("nb_deg")),
            Seq("nb"))
          .agg(count(lit(1)).as("n_ends"),
            round(corr(col("deg").cast("double"),
              col("nb_deg").cast("double")), 4).as("assortativity"))
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey
             |  FROM lineitem
             |  WHERE l_orderkey % 20 = 0 AND l_linenumber <= 3),
             |e AS (SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
             |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
             |    AND a.l_suppkey < b.l_suppkey),
             |adj AS (SELECT a AS node, b AS nb FROM e
             |        UNION ALL SELECT b AS node, a AS nb FROM e),
             |dg AS (SELECT node, count(*)::BIGINT AS deg
             |  FROM adj GROUP BY 1)
             |SELECT count(*)::BIGINT AS n_ends,
             |  round(corr(x.deg, y.deg), 4) AS assortativity
             |FROM adj JOIN dg x ON adj.node = x.node
             |  JOIN dg y ON adj.nb = y.node""".stripMargin)),

    // agg_hll_rollup [EXT, new r8]: RE-AGGREGATABLE distinct counting —
    // daily HLL sketches (datasketches hll_sketch_agg) union up to
    // weekly uniques WITHOUT touching raw events again. This is THE
    // 100 TB cube pattern: count(DISTINCT) does not roll up (weekly ≠
    // Σ daily), so a raw recount scans the full feed per reporting
    // grain, while sketch partials make every coarser grain one cheap
    // union over tiny binary columns. The gate pins the estimate
    // against the exact recount with the agg_approx_distinct
    // error-bound convention (lgk=14 is in its exact sparse regime at
    // these cardinalities, so the bound also catches a broken union).
    Q("agg_hll_rollup",
      (s, d) => {
        // r15 null contract: an event without a time belongs to no
        // day/week bucket (the null-w join key would silently drop
        // the group engine-side while the oracle kept it)
        val e = t(s, d, "events").filter(col("ts").isNotNull)
        val daily = e.groupBy(to_date(col("ts")).as("d"))
          .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
        val weekly = daily.groupBy(weekofyear(col("d")).as("w"))
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
            .as("approx"))
        val exact = e.groupBy(weekofyear(to_date(col("ts"))).as("w"))
          .agg(countDistinct(col("user_id")).as("nd_users"))
        weekly.join(exact, Seq("w"))
          .select(col("w"), col("nd_users"),
            (abs(col("approx") - col("nd_users")) /
              col("nd_users") <= 0.05).as("ok"))
      },
      Some("""SELECT weekofyear(ts::DATE)::INT AS w,
             |  count(DISTINCT user_id)::BIGINT AS nd_users, true AS ok
             |FROM events WHERE ts IS NOT NULL GROUP BY 1""".stripMargin))
  )
}
