package graft.plans

import org.apache.spark.SparkException
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute,
  AttributeReference, EqualNullSafe, EqualTo, Expression, PredicateHelper,
  SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding,
  WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter,
  FlatMapGroupsWithState, HintInfo, Join, LeafNode, LogicalPlan, Project,
  Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** One detected scale hazard in a logical plan. */
final case class GuardViolation(rule: String, detail: String) {
  override def toString: String = s"[$rule] $detail"
}

/** The repo's scale-conformance rules (PlanGuardSpec) shipped as a
  * LIBRARY feature: an optimizer-injected audit that flags the silent
  * 100 TB scale-killers in ANY user query on a session built with
  * `spark.sql.extensions=graft.GraftExtensions`, not just the queries
  * this repo registers. Two structural rules, both provable from the
  * plan alone (no data luck):
  *
  *  1. **Unpartitioned window** — an empty-partition-spec window sorts
  *     the entire input through ONE task ("WindowExec: No Partition
  *     Defined"): invisible at test SF, fatal at scale. Allowed when
  *     the plan itself proves the input is bounded (global aggregate →
  *     1 row, limit k → k rows).
  *  2. **Unbounded cartesian** — a join where NEITHER side carries a
  *     plan-proven row ceiling and whose condition cannot drive a
  *     hash/merge join is quadratic work. Three shapes, all caught:
  *     no condition at all; a condition with no free references (a
  *     literal — `lit(true)` plans the same nested loop a missing
  *     condition does); and a condition with references but NO
  *     conjunct equating a left-side expression to a right-side one
  *     (`a.x =!= b.y`, pure range predicates) — Spark plans those as
  *     BroadcastNestedLoopJoin/CartesianProduct, every left row
  *     against every right row, with the predicate as a post-filter.
  *     The legitimate shapes pass: broadcasting a grand-total/one-row
  *     aggregate passes the `maxRows` proof, an interval/spatial join
  *     bucketed into grid cells carries the cell equi key, and an
  *     explicit user `broadcast()` hint on either side is trusted as
  *     a smallness assertion (the brute-force-baseline shape).
  *  3. **Record-retaining stream state** — a
  *     `(flat)mapGroupsWithState` whose STATE schema contains a
  *     collection of records (array/map of structs) accumulates
  *     per-key payload proportional to the events seen, where the
  *     bounded-state contract (every EventStreams op) wants scalars,
  *     sketches (binary / fixed numeric arrays), or bounded maps of
  *     scalars. A deliberate exception (DocStreams near-dup retains
  *     (id, signature) pairs per LSH bucket — bucket-bounded by
  *     construction) should be allowlisted AT THE CALL SITE with a
  *     written justification, which is exactly what surfacing the
  *     violation forces.
  *
  * The audit is injected pre-CBO (injectPreCBORule): it runs exactly
  * once per query, AFTER the fixed-point operator-optimization batches
  * — predicate pushdown has extracted join conditions by then, so a
  * `a.join(b).where(a.x === b.y)` equi-join is never a false positive
  * (an analysis-time check would misfire on exactly that shape).
  *
  * Modes (`spark.graft.guard.mode`): `warn` (default — log and
  * continue), `error` (fail the query), `off`. The bound proof
  * threshold is [[ScaleGuard.BoundedRows]] (1000 — the scale at which a
  * broadcast cross product is still free).
  *
  * `ScaleGuard.validate(df)` exposes the same audit as a callable for
  * CI pipelines that want the violations list rather than log lines —
  * PlanGuardSpec pins this repo's own 200+ queries through the
  * identical logic.
  */
object ScaleGuard extends PredicateHelper {
  val ModeKey = "spark.graft.guard.mode"
  val BoundedRows = 1000L
  val GridCellsKey = "spark.graft.guard.grid.maxCells"
  // 2e9 cells ~= 16 GB of (user, hour) longs pre-compression: well
  // above every gate decade (sf0.1 grid ~1.1M cells, 100x ~108M) and
  // well below the silent-blowup regime (10M users x a 10-year hourly
  // span = 8.8e11 cells).
  val DefaultGridCells = 2000000000L

  /** Runtime budget check for DENSIFYING operators (ts_fill/ts_interp's
    * user x corpus-hour grid): the grid's row count is keys x span —
    * a function of the corpus's TIME EXTENT, not its event count, so a
    * 10-year corpus silently builds a 100x-larger grid than a 1-month
    * one with identical event volume. The logical plan cannot see the
    * span (it is data), so unlike the plan-shape advisories this check
    * runs at query-build time on the already-aggregated stats (one
    * tiny agg over the staged hourly frame). Honors [[ModeKey]]:
    * `error` throws past the budget, `warn` (default) logs and
    * continues, `off` skips.
    */
  def gridBudget(session: SparkSession, cells: Long, what: String): Unit = {
    val mode = session.conf.get(ModeKey, "warn")
    if (mode == "off") return
    val budget = session.conf.get(GridCellsKey,
      DefaultGridCells.toString).toLong
    if (cells > budget) {
      val msg = s"graft scale guard: [grid-budget] $what densifies to " +
        s"$cells cells > $GridCellsKey=$budget. The grid is keys x " +
        "time-span — bound the span (window the query), coarsen the " +
        "step, or raise the budget deliberately."
      if (mode == "error") throw new SparkException(msg)
      else logWarning(msg)
    }
  }

  /** Does any conjunct of `cond` equate a pure-left-side expression to
    * a pure-right-side one (either orientation, `=` or `<=>`)? That is
    * the predicate Spark's join selection can extract as a hash/merge
    * key; without one the join degenerates to a nested loop.
    */
  private def hasEquiKey(cond: Expression, j: Join): Boolean = {
    def straddles(l: Expression, r: Expression): Boolean = {
      def sides(e: Expression) = (
        e.references.nonEmpty && e.references.subsetOf(j.left.outputSet),
        e.references.nonEmpty && e.references.subsetOf(j.right.outputSet))
      val ((ll, lr), (rl, rr)) = (sides(l), sides(r))
      (ll && rr) || (lr && rl)
    }
    splitConjunctivePredicates(cond).exists {
      case EqualTo(l, r) => straddles(l, r)
      case EqualNullSafe(l, r) => straddles(l, r)
      case _ => false
    }
  }

  /** An explicit user `broadcast()` hint is a plan-level ASSERTION that
    * the side is small — the brute-force-baseline shape (broadcast a
    * bounded query/centroid/dominance frame against the corpus, filter
    * with a non-equi predicate) is legitimate exactly because the user
    * declared the nested loop's inner side bounded. The guard trusts
    * the declaration the same way it trusts a limit/aggregate maxRows
    * proof; a WRONG declaration fails fast and loudly at broadcast
    * build time (driver OOM threshold), not silently at scale.
    */
  private def declaredSmall(hint: Option[HintInfo]): Boolean =
    hint.exists(_.strategy.contains(BROADCAST))

  /** Does a state schema hold a COLLECTION of records (array or map of
    * structs, at any nesting depth)? Scalars, binary sketches, fixed
    * numeric arrays, and maps of scalars all pass.
    */
  private def retainsRecords(dt: DataType): Boolean = dt match {
    case ArrayType(et, _) => et.isInstanceOf[StructType] || retainsRecords(et)
    case MapType(k, v, _) => v.isInstanceOf[StructType] ||
      retainsRecords(k) || retainsRecords(v)
    case s: StructType => s.fields.exists(f => retainsRecords(f.dataType))
    case _ => false
  }

  def violations(plan: LogicalPlan,
                 boundedMax: Long = BoundedRows): Seq[GuardViolation] = {
    def bounded(p: LogicalPlan): Boolean = p.maxRows.exists(_ <= boundedMax)
    val out = Seq.newBuilder[GuardViolation]
    plan.foreach {
      case w: Window if w.partitionSpec.isEmpty && !bounded(w.child) =>
        out += GuardViolation("unpartitioned-window",
          s"window [${w.windowExpressions.map(_.name).mkString(", ")}] " +
            "has no PARTITION BY and its input has no plan-proven row " +
            "bound: the whole input funnels through one task's sort. " +
            "Partition the window, or bound the input (aggregate/limit).")
      case w: WindowGroupLimit if w.partitionSpec.isEmpty &&
          !bounded(w.child) =>
        out += GuardViolation("unpartitioned-window",
          "rank-limit window (WindowGroupLimit) has no PARTITION BY " +
            "and its input has no plan-proven row bound.")
      case j: Join if !bounded(j.left) && !bounded(j.right) &&
          !declaredSmall(j.hint.leftHint) &&
          !declaredSmall(j.hint.rightHint) =>
        j.condition match {
          case None =>
            out += GuardViolation("unbounded-cartesian",
              s"condition-less ${j.joinType} join with neither side " +
                s"plan-bounded to <= $boundedMax rows: quadratic work. " +
                "Add a join condition or bound one side (aggregate/limit).")
          case Some(c) if c.references.isEmpty =>
            out += GuardViolation("unbounded-cartesian",
              s"${j.joinType} join condition references no columns " +
                s"(a literal — same nested-loop plan as no condition) " +
                s"and neither side is plan-bounded to <= $boundedMax rows.")
          case Some(c) if !hasEquiKey(c, j) =>
            out += GuardViolation("unbounded-cartesian",
              s"${j.joinType} join condition [${c.sql}] has no " +
                "left=right equality conjunct usable as a join key: " +
                "Spark plans a nested loop (every row against every " +
                "row) with the predicate as a post-filter. Bucket the " +
                "range/similarity predicate into an equi key (grid " +
                "cells, LSH bands) or bound one side.")
          case _ => ()
        }
      case f: FlatMapGroupsWithState if retainsRecords(f.stateEncoder.schema) =>
        out += GuardViolation("record-retaining-stream-state",
          s"(flat)mapGroupsWithState state schema " +
            s"[${f.stateEncoder.schema.simpleString}] holds a collection " +
            "of records: per-key state grows with events seen, not with " +
            "a scalar/sketch bound. Fold events into scalars or sketches " +
            "(or document why this state is bounded by construction).")
      case _ => ()
    }
    out.result()
  }

  /** Audit a DataFrame/Dataset's OPTIMIZED plan (join conditions
    * already extracted from trailing filters). Empty result = clean.
    */
  def validate(df: Dataset[_]): Seq[GuardViolation] =
    violations(df.queryExecution.optimizedPlan)

  // ---- advisories: heuristic warnings, never errors ------------------

  /** Does `attr` pass through to a LEAF relation's own output — i.e. is
    * the window about to hash-partition on a raw DATA column whose
    * value distribution nothing upstream has bounded? Derived keys
    * (aggregate groupings: one row per key by construction; generate/
    * explode outputs: fan-out the author sized) stop the walk.
    * Projections that merely rename, filters, and joins (the attribute
    * comes from exactly one side) are transparent.
    */
  private def rawScanKey(attr: Attribute, plan: LogicalPlan): Boolean =
    plan match {
      case l: LeafNode => l.outputSet.contains(attr)
      case p: Project =>
        p.projectList.find(_.exprId == attr.exprId) match {
          case Some(ar: AttributeReference) => rawScanKey(ar, p.child)
          case Some(Alias(c: AttributeReference, _)) => rawScanKey(c, p.child)
          case _ => false
        }
      case f: Filter => rawScanKey(attr, f.child)
      case j: Join =>
        j.children.exists(c =>
          c.outputSet.contains(attr) && rawScanKey(attr, c))
      // ONLY pure row-preserving wrappers are transparent. Anything
      // that changes per-key multiplicity or rebuilds attributes —
      // Aggregate (grouping attrs KEEP their exprId, but a grouped key
      // is one row per key: windowing over it is safe), Generate,
      // Window, Expand, Union — conservatively stops the walk.
      case s: logical.SubqueryAlias => rawScanKey(attr, s.child)
      case r: logical.RepartitionOperation => rawScanKey(attr, r.child)
      case s: logical.Sort => rawScanKey(attr, s.child)
      case _ => false
    }

  /** Heuristic scale ADVISORIES — shapes that are usually fine but have
    * a known hot-key failure mode, logged as warnings in every mode
    * (never thrown, never in [[violations]]):
    *
    * **hot-key-window**: an agg-only window (no ORDER BY — count/sum/
    * min/max over the whole partition) partitioned on a raw data column
    * straight off a scan. A window must co-locate every row of a
    * partition in ONE task's sort, so if the key is data-skewed (a
    * dedup signature where exact-clone groups ARE the hot keys, a
    * power-law user id) the hottest key becomes a single-task
    * straggler — and unlike a join, AQE cannot split it. The same
    * number is computable with `groupBy(key).agg(...)` + equi-join
    * back: map-side partials kill the straggler and AQE skew-handles
    * the join. Keys DERIVED in-plan (aggregate groupings, explode
    * outputs whose fan-out the author sized, bounded inputs) are not
    * flagged. This is the Dedup round-10 `count(1) OVER (PARTITION BY
    * signature)` shape, caught at plan time.
    */
  def advisories(plan: LogicalPlan,
                 boundedMax: Long = BoundedRows): Seq[GuardViolation] = {
    def bounded(p: LogicalPlan): Boolean = p.maxRows.exists(_ <= boundedMax)
    val out = Seq.newBuilder[GuardViolation]
    plan.foreach {
      case w: Window if w.orderSpec.isEmpty && w.partitionSpec.nonEmpty &&
          !bounded(w.child) &&
          w.windowExpressions.forall(_.collectFirst {
            case we: WindowExpression => we
          }.forall(_.windowFunction.isInstanceOf[AggregateExpression])) &&
          w.partitionSpec.forall {
            case a: AttributeReference => rawScanKey(a, w.child)
            case _ => false
          } =>
        out += GuardViolation("hot-key-window",
          s"agg-only window [${w.windowExpressions.map(_.name).mkString(", ")}] " +
            s"partitions on raw scan column(s) " +
            s"[${w.partitionSpec.map(_.sql).mkString(", ")}]: a skewed key " +
            "funnels its whole group through one task's sort and AQE " +
            "cannot split a window partition. Prefer groupBy(key).agg " +
            "+ join-back (map-side partials, AQE-splittable join).")
      // **quadratic-window**: an aggregate over a SHRINKING frame
      // (lower bound not UNBOUNDED PRECEDING, upper bound UNBOUNDED
      // FOLLOWING). Spark has no decremental aggregate state, so this
      // frame recomputes the aggregate from scratch for every row —
      // O(n²) per partition (ts_interp's next-observation lookup paid
      // ~39B aggregate updates at the 100x audit corpus). A growing
      // frame is evaluated incrementally, and reversing the ORDER BY
      // turns any shrinking frame into a growing one selecting the
      // identical rows: first(x) over (ORDER BY k ROWS BETWEEN CURRENT
      // ROW AND UNBOUNDED FOLLOWING) == last(x) over (ORDER BY k DESC
      // ROWS UNBOUNDED PRECEDING). The whole-partition frame
      // (UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) is computed once
      // per partition and is NOT flagged.
      case w: Window if !bounded(w.child) =>
        val quad = w.windowExpressions.flatMap(_.collectFirst {
          case we @ WindowExpression(_,
              spec @ org.apache.spark.sql.catalyst.expressions
                .WindowSpecDefinition(_, _,
                  SpecifiedWindowFrame(_, lo, UnboundedFollowing)))
            if lo != UnboundedPreceding &&
              we.windowFunction.isInstanceOf[AggregateExpression] => we
        })
        if (quad.nonEmpty)
          out += GuardViolation("quadratic-window",
            s"aggregate over a shrinking frame (.. TO UNBOUNDED " +
              s"FOLLOWING) in [${quad.map(_.sql).mkString(", ")}]: Spark " +
              "recomputes the aggregate per row — O(n²) per partition. " +
              "Reverse the ORDER BY and use the growing-frame twin " +
              "(first over fwd == last over reversed UNBOUNDED PRECEDING).")
      case _ => ()
    }
    out.result()
  }

  /** Advisory twin of [[validate]]. */
  def advise(df: Dataset[_]): Seq[GuardViolation] =
    advisories(df.queryExecution.optimizedPlan)
}

/** The injectable rule — returns the plan unchanged, throwing or
  * logging per the session's `spark.graft.guard.mode`.
  */
case class ScaleGuardRule(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    val mode = session.conf.get(ScaleGuard.ModeKey, "warn")
    if (mode != "off") {
      val vs = ScaleGuard.violations(plan)
      if (vs.nonEmpty) {
        val msg = s"graft scale guard: ${vs.mkString("; ")}"
        if (mode == "error") throw new SparkException(msg)
        else logWarning(msg)
      }
      // advisories are heuristic: logged in every active mode, never
      // thrown (a deliberate, documented hot-key window must not fail
      // an error-mode pipeline — the warning forces the documentation)
      val as = ScaleGuard.advisories(plan)
      if (as.nonEmpty) logWarning(s"graft scale advisory: ${as.mkString("; ")}")
    }
    plan
  }
}
