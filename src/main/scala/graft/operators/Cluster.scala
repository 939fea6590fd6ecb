package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VecFns

/** Distributed Lloyd k-means over the FULL embedding corpus — the
  * curation-side clustering step (cluster-balanced sampling, SemDeDup
  * prototype picking, topic bucketing) as opposed to `KMeansLite`,
  * which trains an ANN quantizer on a bounded driver-side sample.
  *
  * Determinism contract (SQL-replayable, no sampling):
  *  - initial centroids are the `k` lowest-id vectors;
  *  - each round assigns every vector to its nearest centroid
  *    (squared L2, ties to the lowest cluster id — the
  *    `expressions.NearestCentroid` scan order) and recomputes
  *    centroids as the per-dimension mean, CAST TO FLOAT32 — the cast
  *    snaps away the ~1e-16 partial-aggregation sum-order jitter, so
  *    the same data yields bit-identical centroids on any partitioning
  *    (and in the DuckDB replay via `CAST(avg(x) AS REAL)`);
  *  - a round that empties a cluster carries its previous centroid
  *    forward.
  *
  * Plan shape at scale: per round, ONE narrow codegen'd assignment
  * pass (centroids are a k×dim literal inside the expression — no
  * join) and ONE posexplode aggregate whose map-side partials reduce
  * the shuffle to k·dim rows per task regardless of corpus size. Only
  * k·dim centroid scalars cross the driver between rounds — the
  * classic distributed-k-means contract; vectors never leave
  * executors.
  */
object Cluster {

  /** @return (cluster_id, dim, c, n): final centroid coordinate per
    *         dimension (rounded to 4 decimals) and the final cluster
    *         size, one row per (cluster, dimension)
    */
  def kmeans(vecs: DataFrame, idCol: String, vecCol: String,
             k: Int, iters: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val spark = vecs.sparkSession
    // null contract (r15, NULL audit): a NULL vector has no position —
    // it can neither seed nor join a cluster, so such rows drop at
    // entry (the r15 null-corpus sweep caught the lowest-id INIT
    // collecting a null row and NPE-ing in getSeq). Oracle CTEs
    // mirror with WHERE embedding IS NOT NULL.
    val clean = vecs.filter(col(vecCol).isNotNull)
    var centers = clean.orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    // limit(k) returns min(k, non-null count) rows, so this single
    // check enforces nonNullCount >= k without an extra count job —
    // under the r15 null contract (null vector = no position) a
    // high-nulls corpus can legitimately have fewer than k usable
    // vectors, and silently seeding fewer than k centers would skew
    // every later cluster_id; fail loudly instead (ADVICE r15).
    require(centers.length == k,
      s"null contract: kmeans needs >= $k non-null '$vecCol' vectors " +
        s"to seed, corpus has ${centers.length} (null vectors are " +
        "neither indexed nor clustered)")
    val dim = centers(0).length

    def assigned(cs: Array[Array[Float]]): DataFrame =
      clean.select(col(idCol), col(vecCol),
        VecFns.nearestCentroid(col(vecCol), cs).as("cluster_id"))

    for (_ <- 1 to iters) {
      val upd = assigned(centers)
        .select(col("cluster_id"), posexplode(col(vecCol)).as(Seq("i", "x")))
        .groupBy("cluster_id", "i")
        .agg(avg(col("x").cast("double")).as("c"))
        .collect() // k·dim rows — metadata-scale, bounded by construction
      val next = centers.map(_.clone()) // empty clusters carry forward
      upd.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat
      }
      centers = next
    }

    val counts = assigned(centers)
      .groupBy("cluster_id").agg(count(lit(1)).as("n"))
    val coords = spark.createDataFrame(
      centers.zipWithIndex.flatMap { case (c, cid) =>
        c.zipWithIndex.map { case (v, i) => (cid, i.toLong, v.toDouble) }
      }.toSeq).toDF("cluster_id", "dim", "c")
    coords.join(broadcast(counts), Seq("cluster_id"))
      .select(col("cluster_id").cast("long"), col("dim"),
        round(col("c"), 4).as("c"), col("n"))
  }
}
