package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, RowOrdering, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math (SURVEY.md §2 [EXT]
  * similarity search). Same design as HashExprs: one primitive JVM loop
  * per row, fused into whole-stage codegen via a referenced-object call —
  * replacing interpreted `zip_with`/`aggregate` chains that cost a boxed
  * lambda call per vector element.
  *
  * Inputs accept both array<float> and array<double>; accumulation is in
  * double so results are stable against a double-precision oracle —
  * except the integer-grid pair (GridQuantize, NearestGridCentroid),
  * which is exact in long.
  */
private object VecUtil {
  /** Read element i of a numeric ArrayData as double. */
  def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  def isFloatArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
}

/** Cosine similarity of two numeric arrays; 0.0 when either norm is 0. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  @transient private lazy val lFloat = VecUtil.isFloatArray(left.dataType)
  @transient private lazy val rFloat = VecUtil.isFloatArray(right.dataType)

  def compute(l: ArrayData, r: ArrayData): Double = {
    val n = math.min(l.numElements(), r.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = VecUtil.get(l, i, lFloat)
      val y = VecUtil.get(r, i, rFloat)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den > 0) dot / den else 0.0
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosine", this, classOf[CosineSim].getName)
    nullSafeCodeGen(ctx, ev, (l, r) => s"${ev.value} = $ref.compute($l, $r);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSim = copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH bucket ids for `tables` independent tables of
  * `planes` hyperplanes each, in one pass: output array<int> of length
  * `tables`, entry t = sign-bit pattern of the `planes` projections of
  * table t. Hyperplane weights are derived deterministically from the
  * seed (splitmix64 → [-1,1)) and cached per operator instance, so the
  * weight matrix ships once per task via the referenced object, not per
  * row.
  */
case class HyperplaneBuckets(child: Expression, dim: Int, planes: Int,
    tables: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_hyperplane_buckets"

  @transient private lazy val isFloat = VecUtil.isFloatArray(child.dataType)

  // weights[t][p * dim + i]
  @transient private lazy val weights: Array[Array[Double]] =
    Array.tabulate(tables) { t =>
      val w = new Array[Double](planes * dim)
      var p = 0
      while (p < planes) {
        var i = 0
        while (i < dim) {
          val x = HashUtil.mix64(seed + t * 7919L + p.toLong * 1000003L + i)
          w(p * dim + i) = (x >>> 12).toDouble / (1L << 52).toDouble * 2.0 - 1.0
          i += 1
        }
        p += 1
      }
      w
    }

  def compute(in: ArrayData): ArrayData = {
    val n = math.min(in.numElements(), dim)
    val v = new Array[Double](n)
    var i = 0
    while (i < n) { v(i) = VecUtil.get(in, i, isFloat); i += 1 }
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      val w = weights(t)
      var bucket = 0
      var p = 0
      while (p < planes) {
        var proj = 0.0
        var j = 0
        val off = p * dim
        while (j < n) { proj += v(j) * w(off + j); j += 1 }
        if (proj >= 0) bucket |= (1 << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hp", this, classOf[HyperplaneBuckets].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)
}

/** 0-based index of the first position where two int arrays agree; -1 if
  * none. The LSH pair-dedup primitive: a candidate pair colliding in
  * several hash tables is emitted only from the FIRST agreeing table
  * (`firstAgree(a.buckets, b.buckets) = table`), so pairs are born
  * unique and no distinct-shuffle over the candidate volume is needed.
  */
case class FirstAgreeIndex(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_first_agree"

  def compute(l: ArrayData, r: ArrayData): Int = {
    val n = math.min(l.numElements(), r.numElements())
    var i = 0
    while (i < n) {
      if (l.getInt(i) == r.getInt(i)) return i
      i += 1
    }
    -1
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fa", this, classOf[FirstAgreeIndex].getName)
    nullSafeCodeGen(ctx, ev, (l, r) => s"${ev.value} = $ref.compute($l, $r);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): FirstAgreeIndex = copy(left = newLeft, right = newRight)
}

/** Dot product of two numeric arrays (double accumulation). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  @transient private lazy val lFloat = VecUtil.isFloatArray(left.dataType)
  @transient private lazy val rFloat = VecUtil.isFloatArray(right.dataType)

  def compute(l: ArrayData, r: ArrayData): Double = {
    val n = math.min(l.numElements(), r.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += VecUtil.get(l, i, lFloat) * VecUtil.get(r, i, rFloat)
      i += 1
    }
    dot
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dot", this, classOf[DotProduct].getName)
    nullSafeCodeGen(ctx, ev, (l, r) => s"${ev.value} = $ref.compute($l, $r);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProduct = copy(left = newLeft, right = newRight)
}

/** 0-based index of the nearest centroid (squared Euclidean distance,
  * lowest index wins ties) — the IVF assignment pass. The centroid
  * matrix is carried in the expression instance and ships once per task
  * via the referenced object, so assignment is one narrow codegen'd
  * pass over the corpus: no ML pipeline, no shuffle, no per-row
  * allocation.
  */
case class NearestCentroid(child: Expression, centers: Array[Array[Float]])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_centroid"

  @transient private lazy val isFloat = VecUtil.isFloatArray(child.dataType)

  def compute(in: ArrayData): Int = {
    val n = in.numElements()
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centers.length) {
      val ctr = centers(c)
      val m = math.min(n, ctr.length)
      var d = 0.0
      var i = 0
      while (i < m) {
        val diff = VecUtil.get(in, i, isFloat) - ctr(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nc", this, classOf[NearestCentroid].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** Integer-grid quantizer: output element i is exactly
  * `CAST(round(CAST(v[i] AS DOUBLE) * scale) AS BIGINT)` — the snap of
  * the quantize-then-accumulate family (embed_covar, embed_drift,
  * class_centroid), whose integer sums are order-free under any
  * partitioning. Spark's `round(double)` goes through a `BigDecimal`
  * per value; here |v·scale| < 2^52 rounds HALF_UP (away from zero) on
  * the exact double, which equals the shortest-decimal rounding there
  * (a value that is not exactly k + 0.5 has no round-tripping decimal
  * string at or across k + 0.5), and anything larger, NaN or infinite
  * takes Spark's own rounding. The bigint cast follows the session's
  * ANSI setting like `Cast`: NaN, ±Inf and overflow raise CAST_OVERFLOW
  * with it on and saturate (NaN → 0) with it off. A null element gives
  * a null element; a null array gives null.
  */
case class GridQuantize(child: Expression, scale: Double,
    ansi: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_grid_quantize"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<float> or array<double>, got ${t.simpleString}")
  }

  @transient private lazy val isFloat = VecUtil.isFloatArray(child.dataType)

  def compute(in: ArrayData): ArrayData = {
    val n = in.numElements()
    val out = UnsafeArrayData.createFreshArray(n, 8)
    var i = 0
    while (i < n) {
      if (in.isNullAt(i)) out.setNullAt(i)
      else out.setLong(i,
        GridQuantize.toGrid(VecUtil.get(in, i, isFloat) * scale, ansi))
      i += 1
    }
    out
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gq", this, classOf[GridQuantize].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): GridQuantize =
    copy(child = newChild)
}

object GridQuantize {
  private val Exact = 4503599627370496.0 // 2^52: every double above is an integer

  /** `CAST(round(v) AS BIGINT)` with Spark's semantics. */
  def toGrid(v: Double, ansi: Boolean): Long = {
    val a = math.abs(v)
    val r =
      if (a < Exact) {
        val f = math.floor(a) // a - f is exact below 2^52
        val m = if (a - f >= 0.5) f + 1.0 else f
        if (v < 0) -m else m
      } else if (v.isNaN || v.isInfinite) v
      else BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
    if (ansi) Shim.ansiDoubleToLong(r) else r.toLong
  }
}

/** Exact nearest centroid on the integer grid: `q` is a quantized
  * vector (array<bigint>), `model` an array<struct<cand, cv:
  * array<bigint>>>; returns the `cand` with the smallest Σ(q_i − cv_i)²
  * over the shared dimensions. Distances are longs, so the argmin is
  * order-free and exact (overflow fails instead of wrapping). The order
  * is a window's `dist ASC NULLS FIRST, cand ASC`: a term with a null
  * side is skipped the way `sum` skips it, a candidate whose every term
  * is null has a null distance and sorts first, and equal distances go
  * to the lowest `cand`. Model entries that are null or have a null
  * `cand` are not candidates; with none left the result is null. The
  * model is a column, not an instance field, so it rides the plan
  * (typically one broadcast row) and the expression is SQL-callable.
  */
case class NearestGridCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  @transient private lazy val candType: DataType = right.dataType match {
    case ArrayType(st: StructType, _) => st.fields(0).dataType
    case _ => NullType
  }

  override def dataType: DataType = candType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_grid_centroid"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(StructType(Array(c,
          StructField(_, ArrayType(LongType, _), _, _))), _))
          if RowOrdering.isOrderable(c.dataType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (array<bigint>, array<struct<cand, " +
          s"cv: array<bigint>>>) with an orderable cand, got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(candType)

  def compute(q: ArrayData, model: ArrayData): Any = {
    val nq = q.numElements()
    var best: Any = null
    var bestNull = false
    var bestD = 0L
    var m = 0
    while (m < model.numElements()) {
      if (!model.isNullAt(m)) {
        val e = model.getStruct(m, 2)
        if (!e.isNullAt(0)) {
          val cand = e.get(0, candType)
          var dNull = true
          var d = 0L
          if (!e.isNullAt(1)) {
            val cv = e.getArray(1)
            val n = math.min(nq, cv.numElements())
            var i = 0
            while (i < n) {
              if (!q.isNullAt(i) && !cv.isNullAt(i)) {
                val diff = Math.subtractExact(q.getLong(i), cv.getLong(i))
                d = Math.addExact(d, Math.multiplyExact(diff, diff))
                dNull = false
              }
              i += 1
            }
          }
          val better = best == null || (
            if (dNull != bestNull) dNull
            else if (!dNull && d != bestD) d < bestD
            else ordering.lt(cand, best))
          if (better) { best = cand; bestNull = dNull; bestD = d }
        }
      }
      m += 1
    }
    best
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ngc", this, classOf[NearestGridCentroid].getName)
    val o = ctx.freshName("cand")
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"""Object $o = $ref.compute($l, $r);
         |if ($o == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $o; }
         |""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): NearestGridCentroid =
    copy(left = newLeft, right = newRight)
}

/** Product-quantization encode: L2-NORMALIZE the vector (the index
  * targets cosine/angular similarity, so quantization happens on the
  * unit sphere), split into `m` contiguous subspaces, and emit, per
  * subspace, the index of the nearest codebook centroid (squared
  * Euclidean, lowest index on ties). Output array<int> of length m —
  * the PQ code (m·log2(k) bits of the vector). `codebooks(s)(c)` is
  * centroid c of subspace s; the codebook tensor ships once per task
  * via the referenced object.
  */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Float]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  @transient private lazy val isFloat = VecUtil.isFloatArray(child.dataType)

  def compute(in: ArrayData): ArrayData = {
    val m = codebooks.length
    val dsub = if (m == 0) 0 else codebooks(0)(0).length
    val dim = m * dsub
    var nrm = 0.0
    var i0 = 0
    val n = math.min(in.numElements(), dim)
    while (i0 < n) {
      val x = VecUtil.get(in, i0, isFloat)
      nrm += x * x
      i0 += 1
    }
    val inv = if (nrm == 0.0) 0.0 else 1.0 / math.sqrt(nrm)
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val off = s * dsub
      val cb = codebooks(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val ctr = cb(c)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          // short vectors: missing trailing dims read as 0 (same
          // min-length discipline as the sibling vector expressions)
          val x = if (off + i < n) VecUtil.get(in, off + i, isFloat) else 0.0
          val diff = x * inv - ctr(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqe", this, classOf[PqEncode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Asymmetric PQ distance (ADC): squared Euclidean between the
  * L2-NORMALIZED query vector and the centroid reconstruction of a PQ
  * code (codes quantize unit vectors — see PqEncode) — the shortlist
  * scoring of a PQ index. On the unit sphere, L2 order == cosine
  * order. Left: query array<float/double>; right: code array<int>.
  * O(dim) per pair, but the corpus side reads only m ints per row (the
  * 100 TB point: codes are ~32x smaller than raw floats).
  */
case class PqAdcDist(left: Expression, right: Expression,
    codebooks: Array[Array[Array[Float]]])
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc"

  @transient private lazy val lFloat = VecUtil.isFloatArray(left.dataType)

  def compute(q: ArrayData, code: ArrayData): Double = {
    val m = codebooks.length
    val dsub = if (m == 0) 0 else codebooks(0)(0).length
    val dim = m * dsub
    var nrm = 0.0
    var i0 = 0
    val n = math.min(q.numElements(), dim)
    while (i0 < n) {
      val x = VecUtil.get(q, i0, lFloat)
      nrm += x * x
      i0 += 1
    }
    val inv = if (nrm == 0.0) 0.0 else 1.0 / math.sqrt(nrm)
    var d = 0.0
    var s = 0
    while (s < m) {
      val ctr = codebooks(s)(code.getInt(s))
      val off = s * dsub
      var i = 0
      while (i < dsub) {
        // same short-vector clamp as PqEncode
        val x = if (off + i < n) VecUtil.get(q, off + i, lFloat) else 0.0
        val diff = x * inv - ctr(i)
        d += diff * diff
        i += 1
      }
      s += 1
    }
    d
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adc", this, classOf[PqAdcDist].getName)
    nullSafeCodeGen(ctx, ev, (l, r) => s"${ev.value} = $ref.compute($l, $r);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqAdcDist = copy(left = newLeft, right = newRight)
}

/** Dense random projection to `outDim` dimensions — the classic
  * Johnson-Lindenstrauss dimensionality reduction for embedding
  * columns (ship 8 doubles downstream instead of 64 floats). The
  * weight matrix derives from mix64(seed + j·1000003 + i) with the
  * same [-1, 1) mapping as [[HyperplaneBuckets]] (whose buckets are
  * exactly the SIGNS of such projections), so an external engine can
  * replay the projection values bit-for-bit from the seed. Matrix is
  * carried in the expression instance and ships once per task via the
  * referenced object; accumulation is sequential in double precision.
  */
case class RandomProjection(child: Expression, dim: Int, outDim: Int,
    seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_random_projection"

  @transient private lazy val isFloat = VecUtil.isFloatArray(child.dataType)

  // weights[j * dim + i]
  @transient private lazy val weights: Array[Double] = {
    val w = new Array[Double](outDim * dim)
    var j = 0
    while (j < outDim) {
      var i = 0
      while (i < dim) {
        val x = HashUtil.mix64(seed + j.toLong * 1000003L + i)
        w(j * dim + i) = (x >>> 12).toDouble / (1L << 52).toDouble * 2.0 - 1.0
        i += 1
      }
      j += 1
    }
    w
  }

  def compute(in: ArrayData): ArrayData = {
    val n = math.min(in.numElements(), dim)
    val v = new Array[Double](n)
    var i = 0
    while (i < n) { v(i) = VecUtil.get(in, i, isFloat); i += 1 }
    val out = new Array[Double](outDim)
    var j = 0
    while (j < outDim) {
      val off = j * dim
      var acc = 0.0
      var t = 0
      while (t < n) { acc += v(t) * weights(off + t); t += 1 }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rp", this, classOf[RandomProjection].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): RandomProjection =
    copy(child = newChild)
}
