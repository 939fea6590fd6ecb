package graft

import java.math.RoundingMode
import scala.util.Random

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VecFns

/** The integer-grid quantizer (expressions.GridQuantize) against the
  * SQL it replaces, `CAST(round(CAST(x AS DOUBLE) * scale) AS BIGINT)`,
  * element by element, under both ANSI settings; and the
  * quantize-then-accumulate queries that use it keep counting a null
  * embedding's null-qv rows in n.
  */
class GridQuantizeSpec extends SparkFunSuite {

  private val Scale = 2097152.0 // 2^21, the grid of the embed_* queries

  // a non-local relation, so the projection runs codegen'd in a task
  // (a Seq.toDF projection is folded on the driver, interpreted)
  private def arrays(elem: DataType, rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r)), 2),
      StructType(Seq(StructField("v", ArrayType(elem, containsNull = true)))))

  private def sqlForm(scale: Double): Column = expr(
    s"transform(v, x -> CAST(round(CAST(x AS DOUBLE) * $scale) AS BIGINT))")

  private def both(df: DataFrame, scale: Double): Array[(Seq[Any], Seq[Any])] =
    df.select(VecFns.gridQuantize(col("v"), scale).as("g"),
        sqlForm(scale).as("s"))
      .collect().map(r => (r.getSeq[Any](0), r.getSeq[Any](1)))

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def conditions(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collect {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }.toSeq

  // .5 boundaries on the 2^21 grid and at scale 1, both signs, with the
  // neighbouring doubles; ±0; values past 2^52 (Spark's own rounding)
  private val boundaries: Seq[Double] = {
    val halves = Seq(0.5, 1.5, 2.5, 1023.5, 4503599627370495.5)
    val near = halves.flatMap(h => Seq(h, math.nextUp(h), math.nextDown(h)))
    val big = Seq(4503599627370496.0, 4503599627370497.0, 1e17, 9.2e18)
    (near ++ big).flatMap(x => Seq(x, -x)) ++ Seq(0.0, -0.0)
  }

  test("GridQuantize equals the SQL cast-round on random floats, .5 " +
       "boundaries, ±0 and null elements (both ANSI settings)") {
    val rnd = new Random(11)
    val floats: Seq[Seq[Any]] = Seq.fill(400) {
      Seq.fill(rnd.nextInt(9)) {
        if (rnd.nextInt(10) == 0) null
        else rnd.nextInt(4) match {
          case 0 => rnd.nextGaussian().toFloat
          case 1 => (rnd.nextFloat() - 0.5f) * 1e-5f
          // exactly k + 0.5 on the 2^21 grid
          case 2 => ((2 * (rnd.nextInt(2000) - 1000) + 1) / 4194304.0).toFloat
          case _ => java.lang.Float.intBitsToFloat(rnd.nextInt()) match {
            case f if f.isNaN || f.isInfinite || math.abs(f) > 1e6f => 0.25f
            case f => f
          }
        }
      }
    } :+ Seq(0.0f, -0.0f, null) :+ null
    val grid = boundaries.map(_ / Scale)
    for (ansi <- Seq(true, false)) withAnsi(ansi) {
      for ((g, s) <- both(arrays(FloatType, floats), Scale))
        assert(g === s, s"float, ansi=$ansi")
      for ((g, s) <- both(arrays(DoubleType, Seq(grid, Seq(null, 1.0))), Scale)
          ++ both(arrays(DoubleType, Seq(boundaries)), 1.0))
        assert(g === s, s"double, ansi=$ansi")
    }
    // the fast path is exact HALF_UP on the exact double
    for (x <- boundaries if math.abs(x) < 4503599627370496.0)
      assert(graft.expressions.GridQuantize.toGrid(x, ansi = true) ===
        new java.math.BigDecimal(x).setScale(0, RoundingMode.HALF_UP)
          .longValueExact(), s"x=$x")
    // a null array is null
    val nul = arrays(FloatType, Seq(null))
      .select(VecFns.gridQuantize(col("v"), Scale)).head()
    assert(nul.isNullAt(0))
  }

  test("GridQuantize: NaN, ±Inf and overflow fail like the cast with " +
       "ANSI on and equal it with ANSI off") {
    val bad = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1e19, -1e19, Double.MaxValue)
    withAnsi(on = true) {
      for (x <- bad) {
        val df = arrays(DoubleType, Seq(Seq(1.0, x)))
        val viaCast = intercept[Exception](
          df.select(sqlForm(1.0)).collect())
        val viaGrid = intercept[Exception](
          df.select(VecFns.gridQuantize(col("v"), 1.0)).collect())
        assert(conditions(viaCast).contains("CAST_OVERFLOW"), s"cast x=$x")
        assert(conditions(viaGrid).contains("CAST_OVERFLOW"),
          s"grid x=$x: ${conditions(viaGrid)} / $viaGrid")
      }
    }
    withAnsi(on = false) {
      for ((g, s) <- both(arrays(DoubleType, Seq(bad)), 1.0))
        assert(g === s)
    }
  }

  // an embeddings table of 64-d vectors, two of them null: vec 0 (half
  // 0, label 0) and vec 1 (half 1, label 1)
  private def tinyCorpus(dir: String): Seq[(Long, Option[Seq[Float]], Int)] = {
    import spark.implicits._
    val rnd = new Random(5)
    val rows = (0L until 12L).map { id =>
      val v = if (id <= 1) None else Some(Seq.fill(64)(rnd.nextGaussian().toFloat))
      (id, v, (id % 3).toInt)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    rows
  }

  private def q(x: Float): Long =
    BigDecimal(x.toDouble * Scale).setScale(0, BigDecimal.RoundingMode.HALF_UP)
      .toLong

  test("quantize-then-accumulate: a null embedding still counts its null " +
       "rows in n (embed_covar, embed_drift)") {
    val dir = java.nio.file.Files.createTempDirectory("grid_null").toString
    val rows = tinyCorpus(dir)

    // embed_covar: n counts every label-0 vector, the null one included;
    // the moments sum only the non-null coordinates
    val cov = SparkEntry.queries("embed_covar")(spark, dir)
      .collect().map(r => (r.getAs[Int]("label"), r.getAs[Int]("i"),
        r.getAs[Int]("j")) -> (r.getAs[Long]("n"), r.getAs[Double]("cov")))
      .toMap
    assert(cov.size === 3 * 36)
    for (((lab, i, j), (n, c)) <- cov) {
      val members = rows.filter(_._3 == lab)
      val vs = members.flatMap(_._2)
      assert(n === members.size.toLong, s"n($lab,$i,$j)")
      val si = vs.map(v => q(v(i - 1))).sum
      val sj = vs.map(v => q(v(j - 1))).sum
      val sij = vs.map(v => q(v(i - 1)) * q(v(j - 1))).sum
      val want = (sij.toDouble - si.toDouble * sj.toDouble / n.toDouble) /
        (n - 1).toDouble / 4398046511104.0
      assert(c === want, s"cov($lab,$i,$j)")
    }

    // embed_drift: each half's centroid divides by every row of the
    // (half, label) group, the null embedding's 64 null rows included
    val drift = SparkEntry.queries("embed_drift")(spark, dir)
      .collect().map(r => r.getAs[Int]("label") -> r.getAs[Double](
        "centroid_shift")).toMap
    assert(drift.keySet === Set(0, 1, 2))
    for ((lab, got) <- drift) {
      def cent(half: Long): Seq[Double] = {
        val members = rows.filter(r => r._3 == lab && r._1 % 2 == half)
        val vs = members.flatMap(_._2)
        (0 until 64).map(i =>
          vs.map(v => q(v(i))).sum.toDouble / members.size.toDouble)
      }
      val (c0, c1) = (cent(0), cent(1))
      val raw = math.sqrt(c0.indices.foldLeft(0.0)((acc, i) =>
        acc + (c1(i) - c0(i)) * (c1(i) - c0(i))))
      val want = math.floor(raw / Scale * 1000000.0 + 0.5) / 1000000.0
      assert(got === want, s"drift($lab)")
    }
  }
}
