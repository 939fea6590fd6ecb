package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed connected components over a candidate-pair edge list —
  * the clustering stage of a dedup pipeline (near-dup PAIRS from
  * MinHash/SimHash/cosine → duplicate CLUSTERS → one canonical doc per
  * cluster). The reference's dedup surface stops at per-key grouping
  * (`assess_changes.qmd:289-331` deduplicates by exact standardized
  * key); transitive near-dup clustering is the [EXT] generalization a
  * large-scale training-data pipeline needs.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the
  * standard O(log n)-round formulation that never materializes a
  * component in one task:
  *
  *   large-star: for each node u, every STRICTLY LARGER neighbor is
  *     re-pointed at m(u) = min(N(u) ∪ {u});
  *   small-star: edges directed large→small; every smaller neighbor
  *     (and u itself) is re-pointed at the minimum neighbor.
  *
  * Both steps compute a per-node minimum over the adjacency — expressed
  * as a single `min over (partition by node)` window, ONE exchange per
  * star step (round 4 used groupBy + join back: two plan branches over
  * the same exchange plus a join). With the closing `distinct`, a round
  * is three exchanges total, each linear in |E|; rounds are O(log n)
  * regardless of component diameter — a chain of pairwise near-dups
  * converges exponentially faster than naive label propagation
  * (O(diameter)). At convergence the graph is a forest of depth-1
  * stars whose roots are component minima.
  *
  * Small-graph fast path: candidate-pair sets are usually MUCH smaller
  * than the corpus that produced them (a dedup sweep of 10^9 docs may
  * yield 10^6 near-dup pairs). After the first canonicalization the
  * edge count is known (one aggregate); at or below
  * [[LocalEdgeLimit]] edges (≈ 16 MB) the edges are
  * collected and contracted by driver-side union-find in milliseconds —
  * the same bounded count-then-choose pattern as Spark's broadcast
  * threshold. Above the limit the distributed loop runs; the staged
  * canonical edge set is written either way, so the (possibly
  * expensive) upstream pair generation is executed exactly once.
  *
  * Convergence detection (distributed path): a canonical edge-multiset
  * fingerprint (count + bit-XOR of xxhash64(lo, hi)), one cheap
  * aggregate per round — no `except` anti-join shuffle. XOR of 64-bit
  * hashes over distinct canonical edges collides with probability
  * ~2^-64; a false "converged" would need two DIFFERENT edge sets with
  * equal count and equal xor-sum in consecutive rounds.
  *
  * Each round's edge frame is stage-checkpointed (parquet, see
  * [[Stage]]) to truncate lineage — an iterative DataFrame loop
  * without checkpointing re-executes every prior round per action and
  * overflows the planner past ~20 iterations.
  */
object ConnectedComponents {

  /** Canonical edge count at or below which [[labels]] contracts the
    * graph by driver-side union-find.
    */
  val LocalEdgeLimit = 1000000L

  /** Component labels for every node that appears in a non-self-loop
    * edge of `edges`.
    *
    * @param edges two-column DataFrame of undirected pairs (self-loops
    *              and duplicates tolerated). Self-loops are dropped by
    *              canonicalization, so a node appearing ONLY in
    *              self-loop edges gets no label — callers wanting
    *              singleton labels must `coalesce(cluster, id)` after
    *              joining back (as `dedup_cluster` does).
    * @param localEdgeLimit max canonical edge count for the driver-side
    *              union-find fast path; 0 forces the distributed loop
    * @return DataFrame (id, cluster) where cluster = min node id in the
    *         component; every labeled node appears exactly once
    */
  def labels(edges: DataFrame, aCol: String, bCol: String,
             maxIter: Int = 25,
             localEdgeLimit: Long = LocalEdgeLimit): DataFrame = {
    def canon(e: DataFrame): DataFrame = e
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
              greatest(col("a"), col("b")).as("b"))
      .distinct()

    def fingerprint(e: DataFrame): (Long, Long) = {
      val row = e.agg(
        count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L)).as("x"))
        .head()
      (row.getLong(0), row.getLong(1))
    }

    // One pass over the (possibly expensive) upstream pair generation.
    var cur = Stage.materialize(
      canon(edges.select(col(aCol).as("a"), col(bCol).as("b"))), "cc_edges")
    var fp = fingerprint(cur)

    val longIds = cur.schema.fields.forall(_.dataType == LongType)
    if (longIds && fp._1 <= localEdgeLimit) return localLabels(cur)

    // per-node minimum over the adjacency: one exchange per star step
    val byA = Window.partitionBy("a")

    // large-star: symmetrized adjacency; larger neighbors → m(u).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a"), col("b"))
        .union(e.select(col("b").as("a"), col("a").as("b")))
      sym.withColumn("m", least(col("a"), min(col("b")).over(byA)))
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
    }

    // small-star: edges directed large→small; u and its smaller
    // neighbors → min neighbor. The (a → m) rows repeat per edge of a;
    // the round-closing distinct collapses them.
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("a"), col("b")).as("a"),
                         least(col("a"), col("b")).as("b"))
        .withColumn("m", min(col("b")).over(byA))
      dir.select(col("b").as("a"), col("m").as("b"))
        .union(dir.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
    }

    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = Stage.materialize(canon(smallStar(largeStar(cur))), "cc_edges")
      val nfp = fingerprint(next)
      converged = nfp == fp
      fp = nfp
      cur = next
      i += 1
    }

    // Converged star forest: every canonical edge is (root, member).
    // Roots label themselves; the left column of a canonical edge is
    // the component min by construction.
    val members = cur.select(col("b").as("id"), col("a").as("cluster"))
    val roots = cur.select(col("a").as("id")).distinct()
      .join(members.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster"))
    val labels = members.union(roots)
    if (converged) labels
    else {
      // maxIter exhausted before the fingerprint stabilized: the edge
      // set is NOT a star forest, so a node can appear as 'b' under
      // several provisional roots. Fail loudly in spirit (warn) and
      // keep the output contract (one row per id) by taking the
      // minimum provisional label — an upper-bound clustering, never
      // duplicate/conflicting rows.
      System.err.println(
        s"[graft] ConnectedComponents: NOT converged after $maxIter " +
          "rounds; emitting min provisional label per node")
      labels.groupBy("id").agg(min(col("cluster")).as("cluster"))
    }
  }

  /** Driver-side union-find over a bounded, already-staged canonical
    * edge set. Union by minimum root value (so the final root IS the
    * component minimum) with full path compression on find.
    */
  private def localLabels(canonEdges: DataFrame): DataFrame = {
    val spark = canonEdges.sparkSession
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    canonEdges.select(col("a"), col("b")).as[(Long, Long)]
      .collect().foreach { case (a, b) =>
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size())
    parent.forEach((id, _) => out += ((id, find(id))))
    // LocalTableScan result: small by the edge-limit bound, so the
    // caller's label join typically broadcasts it
    spark.createDataset(out.toSeq).toDF("id", "cluster")
  }
}
