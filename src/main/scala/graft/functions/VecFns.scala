package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.Shim
import graft.expressions.{CosineSim, DotProduct, FirstAgreeIndex, GridQuantize, HyperplaneBuckets, NearestCentroid, NearestGridCentroid, PqAdcDist, PqEncode, RandomProjection}

/** Vector math over `ArrayType` embedding columns, backed by native
  * Catalyst expressions (graft.expressions.VectorExprs): one primitive
  * JVM loop per row, fused into whole-stage codegen. Accumulation is in
  * double precision (inputs are float arrays) so results are reproducible
  * against a double-precision oracle.
  */
object VecFns {

  /** Dot product of two numeric array columns (double accumulation). */
  def dot(a: Column, b: Column): Column =
    Shim.column(DotProduct(Shim.expression(a), Shim.expression(b)))

  /** L2 norm. */
  def norm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column =
    Shim.column(CosineSim(Shim.expression(a), Shim.expression(b)))

  /** Random-hyperplane LSH bucket ids, one per hash table, in a single
    * pass (SURVEY.md §2 [EXT] similarity search): array<int> of length
    * `tables`; entry t packs the sign bits of `planes` projections.
    */
  def hyperplaneBucketsAll(v: Column, dim: Int, planes: Int, tables: Int,
                           seed: Long): Column =
    Shim.column(HyperplaneBuckets(Shim.expression(v), dim, planes, tables, seed))

  /** 0-based first index where two int arrays agree; -1 if none
    * (LSH first-collision pair dedup).
    */
  def firstAgree(a: Column, b: Column): Column =
    Shim.column(FirstAgreeIndex(Shim.expression(a), Shim.expression(b)))

  /** Johnson-Lindenstrauss random projection to `outDim` doubles
    * (seeded, replayable — see expressions.RandomProjection).
    */
  def randomProjection(v: Column, dim: Int, outDim: Int, seed: Long): Column =
    Shim.column(RandomProjection(Shim.expression(v), dim, outDim, seed))

  /** Snap every element to the integer grid:
    * `CAST(round(CAST(x AS DOUBLE) * scale) AS BIGINT)` exactly
    * (expressions.GridQuantize), array<bigint> out.
    */
  def gridQuantize(v: Column, scale: Double): Column =
    Shim.column(GridQuantize(Shim.expression(v), scale))

  /** The `cand` of `model` (array<struct<cand, cv: array<bigint>>>)
    * nearest to the quantized vector `q` by exact integer squared
    * distance; ties to the lowest cand (expressions.NearestGridCentroid).
    */
  def nearestGridCentroid(q: Column, model: Column): Column =
    Shim.column(NearestGridCentroid(Shim.expression(q), Shim.expression(model)))

  /** 0-based index of the nearest of `centers` by squared L2; ties to
    * the lowest index (expressions.NearestCentroid). The matrix rides in
    * the expression, so it is not expressible in SQL.
    */
  def nearestCentroid(v: Column, centers: Array[Array[Float]]): Column =
    Shim.column(NearestCentroid(Shim.expression(v), centers))

  /** PQ code of the L2-normalized vector: per contiguous subspace, the
    * index of the nearest `codebooks(s)` centroid, array<int> of length
    * m (expressions.PqEncode).
    */
  def pqEncode(v: Column, codebooks: Array[Array[Array[Float]]]): Column =
    Shim.column(PqEncode(Shim.expression(v), codebooks))

  /** Asymmetric (ADC) squared L2 between the L2-normalized query `q` and
    * the reconstruction of PQ `code` (expressions.PqAdcDist).
    */
  def pqAdcDist(q: Column, code: Column,
                codebooks: Array[Array[Array[Float]]]): Column =
    Shim.column(PqAdcDist(Shim.expression(q), Shim.expression(code), codebooks))
}
