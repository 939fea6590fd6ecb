package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. '07) — community
  * detection, the graph-family gap next to components (membership via
  * connectivity) and PageRank (authority): LPA finds densely-linked
  * groups inside one connected component, the shape dedup clusters
  * and co-purchase "markets" actually have.
  *
  * Deterministic variant (classic LPA randomizes update order and tie
  * choice, which no oracle could replay): updates are SYNCHRONOUS
  * (round r reads only round r-1's labels) for a FIXED number of
  * rounds, and each node adopts the most frequent label among its
  * neighbors with ties broken by SMALLEST label. Synchronous LPA can
  * 2-cycle on bipartite-ish regions instead of converging — the fixed
  * round count makes that a defined, replayable output rather than a
  * termination hazard (the same posture as graph_pagerank's fixed 5
  * iterations).
  *
  * Scale shape (100 TB): per round one shuffle keyed on the edge src
  * (labels join onto edges), one map-side-combinable (node, label)
  * count, and one argmax-per-node AGGREGATE — max of a (cnt, -label)
  * struct, NOT a window — so no per-node row sort ever materializes;
  * each round's |V|-row label frame is stage-checkpointed to truncate
  * the iterative lineage, exactly the PageRank loop's posture.
  */
object LabelProp {

  /** Run `rounds` synchronous LPA rounds over an undirected edge list.
    *
    * @param edges DISTINCT undirected pairs (aCol < bCol convention;
    *              duplicate pairs would double-weight a neighbor's
    *              vote)
    * @return (community, size) — community is the surviving label
    *         (a node id), size its member count after the last round
    */
  def communities(edges: DataFrame, aCol: String, bCol: String,
                  rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = Stage.materialize(
      edges.select(col(aCol).cast("long").as("src"),
          col(bCol).cast("long").as("dst"))
        .unionByName(edges.select(col(bCol).cast("long").as("src"),
          col(aCol).cast("long").as("dst"))),
      "lp_edges")
    // r17 optimization (the PageRank posture, guide §2.4/§3.1): the
    // per-round label frame is |V| rows of two longs. Below
    // PageRank.broadcastVertLimit (count-then-choose, one cheap
    // aggregate over the staged edges) each round BROADCASTS the label
    // frame into the edge join — the staged edges are never shuffled —
    // and the round's result is pinned as a driver LocalRelation
    // (exactly the collect a broadcast exchange performs anyway, under
    // the same 2M-row bound) instead of a parquet stage round-trip,
    // so a round is ONE job over one edge scan. Every aggregate here
    // is exact integer counts + integer struct-max argmax, so the
    // restructure cannot move any value. Above the bound the r16
    // stage-per-round shuffle-join loop runs unchanged.
    val n = e.agg(countDistinct("src")).head().getLong(0)
    val bcast = n <= PageRank.broadcastVertLimit
    val lab0 = e.select(col("src").as("node")).distinct()
      .withColumn("lab", col("node"))
    var lab =
      if (bcast) PageRank.pinLocal(lab0) else Stage.materialize(lab0, "lp_round")
    for (_ <- 1 to rounds) {
      val labSide = if (bcast) broadcast(lab) else lab
      val votes = e.join(labSide.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
      // argmax by (cnt DESC, lab ASC) as a plain aggregate: max of the
      // (cnt, -lab) struct — field-order comparison, no window
      val pick = votes.groupBy("node")
        .agg(max(struct(col("cnt"), (-col("lab")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("newlab"))
      // every node has >= 1 neighbor (it came from an edge), so pick
      // covers all nodes; the left join is belt-and-braces
      // left-outer build side must be the RIGHT: broadcast pick (also
      // |V|-bounded) so the backfill join shuffles nothing in the
      // bounded regime
      val next = lab
        .join(if (bcast) broadcast(pick) else pick, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("newlab"), col("lab")).as("lab"))
      lab =
        if (bcast) PageRank.pinLocal(next) else Stage.materialize(next, "lp_round")
    }
    lab.groupBy(col("lab").as("community")).agg(count(lit(1)).as("size"))
  }
}
