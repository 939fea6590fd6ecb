package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed PageRank over an edge list — the link-authority signal
  * a web-corpus curation pipeline uses to weight or threshold sources
  * (high-rank hosts are likelier to carry quality text; the original
  * Common-Crawl-scale motivation). Power iteration with teleport:
  * `r'(v) = (1-d)/N + d · Σ_{u→v} r(u)/outdeg(u)`, a fixed number of
  * rounds so the result is deterministic and engine-replayable.
  *
  * Dangling mass: with `undirected = true` (the default) every input
  * pair is mirrored, so every vertex has out-degree ≥ 1 and no rank
  * mass leaks — total rank stays exactly 1 and the fixed-iteration
  * result is comparable across engines. With `undirected = false` the
  * caller gets the leaky variant (dangling vertices absorb without
  * redistributing) — documented, but not what the gate uses.
  *
  * Plan shape at scale: edge prep is ONE shuffle — repartition on
  * `src`, then both the (src, dst) dedup aggregate and the out-degree
  * window run on that partitioning without further exchange
  * (subset-key clustering / partitioned window) — staged once and
  * re-scanned by every round. In the mirrored graph the uniform round
  * is FREE: round 1 aggregates `(1/N)/outdeg` straight off the edges,
  * so no vertex frame is ever materialized and |V| costs one
  * count-distinct scalar. Each later round is one join of the staged
  * edges with the |V|-row rank frame — broadcast below
  * `broadcastVertLimit` (count-then-choose, so the edges are never
  * shuffled again), shuffle join above it — plus one
  * destination-keyed aggregate with map-side partials. Rounds chain
  * linearly (each referenced exactly once) into a single job; every
  * 4th round is staged to bound plan depth. Nothing reaches the
  * driver except the vertex count.
  *
  * Float parity: the teleport term is computed as `(1 - d)/N` — the
  * literal subtraction, not a pre-folded constant — and each round is
  * `teleport + d · Σ(r/outdeg)` in exactly that operation order, so an
  * oracle replaying the same unrolled rounds walks identical IEEE
  * doubles modulo sum reordering (~1e-13 relative after 5 rounds).
  *
  * @return (id, rank) with rank scaled by N (mean exactly 1) and
  *         rounded to 4 decimals — raw ranks are O(1/N) and would
  *         vanish under rounding
  */
object PageRank {

  /** Vertex-count bound under which the per-round rank frame is
    * broadcast into the edge join (count-then-choose, same convention
    * as ConnectedComponents.LocalEdgeLimit): |V| ≤ 2M rows is ≤ ~60 MB
    * broadcast — each round then scans the staged edges WITHOUT
    * shuffling them. Above the bound every round falls back to the
    * shuffle join that scales to any |V|.
    */
  val broadcastVertLimit: Long = 2000000L

  /** Collect a frame of at most [[broadcastVertLimit]] rows into a
    * driver LocalRelation — the per-round pin of the broadcast regime
    * here and in [[LabelProp]].
    *
    * Driver-memory note (ADVICE r17): this materializes up to 2M rows as
    * boxed GenericRows on the driver — transiently heavier than the
    * compact internal-row collect a broadcast exchange performs
    * (~hundreds of MB near the bound). The broadcast regime already
    * requires the driver to hold the built relation, but deployments
    * running near the bound on a small driver heap should lower
    * broadcastVertLimit rather than raise driver memory for this collect.
    */
  private[operators] def pinLocal(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collectAsList(), df.schema)

  /** Shuffle-regime lineage-cut cadence: every `StageEvery`-th round's
    * rank frame is staged to parquet so the lazily-chained round plans
    * stay bounded (a 100 TB round replay is a full edge pass). 4 was
    * chosen by the r18 fat-graph A/B (reports/PRCADENCE_r18.md):
    * staging MORE often (2) pays parquet round-trips that buy nothing,
    * staging less often (6/8 ≈ never at 5 iters) is a wash at 5 rounds
    * but unbounds the plan for deeper runs.
    */
  val StageEvery = 4

  /** @param stageEvery the shuffle-regime lineage-cut cadence
    *                   (default [[StageEvery]])
    */
  def ranks(edgesIn: DataFrame, srcCol: String, dstCol: String,
            iters: Int = 5, damping: Double = 0.85,
            undirected: Boolean = true,
            stageEvery: Int = StageEvery): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(stageEvery >= 1, s"stageEvery must be >= 1, got $stageEvery")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    // ids keep their INPUT type end-to-end (r12 — was cast("string")):
    // five rounds of join+aggregate shuffle the id on every exchange,
    // so an integral vertex key is materially narrower and cheaper to
    // hash than its string rendering at 100 TB; callers with composite
    // string ids still work unchanged.
    val base = edgesIn.select(col(srcCol).as("src"),
      col(dstCol).as("dst"))
    // r18: mirror by EXPLODE, not union — a union references `base`
    // twice, so the caller's edge lineage (typically a fact join:
    // lineitem ⋈ orders in the registered query) evaluated TWICE in
    // the edge-prep job's two plan branches. One explode emits both
    // directions from a single pass; the directed-edge multiset is
    // identical, so every downstream dedup/degree/round value is too.
    val dir = if (undirected)
      base.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("__pr_e"))
        .select(col("__pr_e.src").as("src"), col("__pr_e.dst").as("dst"))
    else base
    // ONE exchange prepares the edges: hash-partition by src, dedup
    // (grouping on (src, dst) is clustered by the src partitioning —
    // no second exchange), out-degree as a src-partitioned window on
    // the same layout, then stage for the rounds to re-scan
    val ew = Stage.materialize(
      dir.repartition(col("src")).distinct()
        .withColumn("outdeg",
          count(lit(1)).over(Window.partitionBy("src")).cast("long")),
      "pagerank_edges")

    val n =
      if (undirected) ew.agg(countDistinct("src")).head().getLong(0)
      else ew.select(col("src").as("id"))
        .unionByName(ew.select(col("dst").as("id")))
        .agg(countDistinct("id")).head().getLong(0)
    require(n > 0, "graph has no vertices")
    // (1 - d)/N and 1.0/N as explicit divisions — replayable verbatim
    val teleport = lit(1.0 - damping) / lit(n.toDouble)
    val r0term = lit(1.0) / lit(n.toDouble)
    val bcast = n <= broadcastVertLimit

    def contract(ranked: DataFrame): DataFrame =
      ranked.groupBy(col("dst").as("id2"))
        .agg((teleport +
          lit(damping) * sum(col("r") / col("outdeg"))).as("r2"))
        .select(col("id2").as("id"), col("r2").as("r"))

    // round 1 off the uniform start: every vertex holds exactly 1/N,
    // so the rank join is unnecessary — aggregate (1/N)/outdeg
    // straight from the staged edges
    // Round pinning in the broadcast regime (r17 optimization, guide
    // §1.2/§5): broadcast exchanges are NOT reused across queries, and
    // each round's `broadcast(r)` is its own query — so a lazily-
    // chained round i replayed every round since the last stage point
    // to build its broadcast input (quadratic edge-scan replay: rounds
    // 1-3 between stage points cost 1+2+3 extra staged-edge scans, and
    // at 100 TB each replay is a full pass over the edge stage). The
    // broadcast side already travels through the driver by definition
    // (a broadcast exchange collects to the driver, then ships), so
    // pin each round by doing that collect EXPLICITLY into a
    // LocalRelation — bounded by the same `broadcastVertLimit` rows
    // the broadcast regime itself guarantees — and hand the next round
    // a local frame whose broadcast build is driver-side and free.
    // Each round is then exactly ONE staged-edge scan, with no parquet
    // round-trip per round (collected doubles are exact — no value
    // changes). The shuffle-join regime (> 2M vertices) has no
    // per-round action, so rounds still chain lazily into one job with
    // the every-4th-round lineage cut.
    // r18 (fat-graph cadence A/B, reports/PRCADENCE_r18.md): in the
    // shuffle regime the lazily-chained rounds evaluate ONCE in the
    // final job — a stage cut buys bounded plan depth, never fewer
    // passes — so a cut whose remaining segment is shorter than the
    // cadence is a pure parquet round-trip (measured ~20% of the
    // 5-iter fat run). Stage only when >= stageEvery rounds follow;
    // the tail segment is then at most 2·stageEvery − 1 rounds deep.
    def pin(next: DataFrame, lastOfRound: Int): DataFrame =
      if (lastOfRound >= iters) next
      else if (bcast) pinLocal(next)
      else if (lastOfRound % stageEvery == 0 &&
          lastOfRound + stageEvery <= iters) Stage.materialize(next,
        s"pagerank_r${lastOfRound - 1}")
      else next

    var r: DataFrame = null
    var i = 0
    if (undirected) {
      r = pin(contract(ew.withColumn("r", r0term)), 1)
      i = 1
    } else {
      // directed: vertices with no in-edges must be backfilled with
      // the teleport-only rank each round, so a vertex frame exists
      val verts = Stage.materialize(
        ew.select(col("src").as("id"))
          .unionByName(ew.select(col("dst").as("id"))).distinct(),
        "pagerank_verts")
      r = verts.withColumn("r", r0term)
      def backfill(next: DataFrame): DataFrame =
        next.withColumnRenamed("id", "id2")
          .join(verts, col("id2") === col("id"), "right")
          .select(col("id"), coalesce(col("r"), teleport).as("r"))
      while (i < iters) {
        val rSide = if (bcast) broadcast(r) else r
        val next = backfill(contract(
          ew.join(rSide, ew("src") === rSide("id"))))
        r = pin(next, i + 1)
        i += 1
      }
    }
    while (i < iters) {
      val rSide = if (bcast) broadcast(r) else r
      val next = contract(ew.join(rSide, ew("src") === rSide("id")))
      r = pin(next, i + 1)
      i += 1
    }
    r.select(col("id"), round(col("r") * lit(n.toDouble), 4).as("rank"))
  }
}
