package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.RobustStats

class RobustStatsSpec extends SparkFunSuite {
  import spark.implicits._

  test("medianExact matches the sort-based answer, odd and even n") {
    val odd = Seq(5.0, 1.0, 9.0, 3.0, 7.0).toDF("x")
    assert(RobustStats.medianExact(odd, col("x")) === 5.0)
    val even = Seq(4.0, 1.0, 3.0, 2.0).toDF("x")
    // percentile_cont(0.5) convention: (2 + 3) / 2
    assert(RobustStats.medianExact(even, col("x")) === 2.5)
  }

  test("medianExact ignores nulls and survives heavy ties") {
    val df = Seq[Option[Double]](Some(1.0), None, Some(1.0), Some(1.0),
      Some(8.0)).toDF("x")
    assert(RobustStats.medianExact(df, col("x")) === 1.0)
  }

  test("madOutlierSummary flags exactly the planted wild rows") {
    // 100 tight values plus 3 wild ones; med/mad sit in the tight mass
    val base = (1 to 100).map(i => 50.0 + (i % 7))
    val df = (base ++ Seq(1e6, -1e6, 5e5)).toDF("x")
    val row = RobustStats.madOutlierSummary(df, col("x"), k = 3.0).head()
    assert(row.getAs[Long]("n") === 103L)
    assert(row.getAs[Long]("n_out") === 3L)
    assert(math.abs(row.getAs[Double]("med") - 53.0) < 1.5)
  }

  test("outlier rule is scale-free around the median") {
    val df = ((1 to 50).map(_.toDouble) ++ Seq(10000.0)).toDF("x")
    val row = RobustStats.madOutlierSummary(df, col("x")).head()
    assert(row.getAs[Long]("n_out") === 1L)
  }

  test("histogram narrowing path agrees with percentile on 200k rows") {
    // > DriverSliceMax forces at least one narrowing pass
    val df = spark.range(200000)
      .selectExpr("CAST((id * 2654435761) % 1000003 AS DOUBLE) AS x")
    val expected = df
      .selectExpr("percentile(x, 0.5D) AS p").head().getDouble(0)
    assert(RobustStats.medianExact(df, col("x")) === expected)
    // odd n exercises the single-rank path through the same loop
    val odd = df.limit(199999)
    val expOdd = odd
      .selectExpr("percentile(x, 0.5D) AS p").head().getDouble(0)
    assert(RobustStats.medianExact(odd, col("x")) === expOdd)
  }

  test("tie mass larger than the driver slice resolves without collecting") {
    // 150k rows, 100k of them a single value: the chosen bucket
    // collapses to [5,5] and the answer must come from the interval,
    // not a 100k-row collect
    val df = spark.range(150000)
      .selectExpr("CASE WHEN id < 100000 THEN 5.0D ELSE 10.0D END AS x")
    assert(RobustStats.medianExact(df, col("x")) === 5.0)
    // median straddling the tie boundary: 100k fives + 100k tens
    val df2 = spark.range(200000)
      .selectExpr("CASE WHEN id < 100000 THEN 5.0D ELSE 10.0D END AS x")
    assert(RobustStats.medianExact(df2, col("x")) === 7.5)
  }

  test("hard cap: an over-cap final slice falls back to value-group " +
       "selection instead of a row collect") {
    // adversarial near-degenerate distribution: 601 rows packed into a
    // sub-bucket-width interval around 500, holding the median rank.
    // With sliceMax=1000 the narrowing loop exits on that 601-row
    // bucket; with hardCap=500 the slice is over the cap and selection
    // must finish through the value-group finish (3 value groups) —
    // the driver-OOM backstop path for a slice the loop invariant no
    // longer vouches for.
    val df = spark.range(2001).selectExpr(
      """CASE
         WHEN id < 700 THEN CAST(id % 100 AS DOUBLE)
         WHEN id < 900 THEN 500.0000001D
         WHEN id < 1101 THEN 500.0000002D
         WHEN id < 1301 THEN 500.0000003D
         ELSE CAST(900 + id % 100 AS DOUBLE) END AS x""")
    val gen = df.select(col("x").as("__rs_x"), lit(1L).as("__rs_w"))
    assert(RobustStats.midpoint(RobustStats.groupedMedianExact(gen,
      sliceMax = 1000L, hardCap = 500L).head) === 500.0000002)
    // unchanged caps give the same answer through the normal path
    assert(RobustStats.medianExact(df, col("x")) === 500.0000002)
    // a weight rank takes the same fallback (unit weights, p=1/2:
    // weight rank 1001 lands in the packed groups)
    val p = RobustStats.groupedMedianExact(gen,
      RobustStats.quantileRank(1L, 2L),
      sliceMax = 1000L, hardCap = 500L).head
    assert((p.value, p.w) === ((500.0000002, 2001L)))
  }

  test("kernel at tiny bounds: every exit, several keys, mixed weights, " +
       "matches a local sort") {
    // sliceMax=64 / hardCap=40 make each key leave by a different exit:
    // 0 narrows to a small slice; 1 has non-unit weights, and its
    // weight rank 3000 is the last unit of value 999, so rank 3001 is
    // the next bucket's minimum; 2 collapses onto a tie mass; 3 spans
    // ±1e308, so its bucket width is infinite, nothing shrinks and it
    // finishes by value groups; 4 narrows onto a 50-row cluster, over
    // the hard cap; 5 and 6 are 30-row slices that cannot share one
    // 40-row batch.
    val rows: Seq[(Long, Double, Long)] =
      (0 until 3000).map(i =>
        (0L, ((i * 2654435761L) % 1000003) / 7.0, 1L)) ++
      (0 until 2000).map(i => (1L, i.toDouble, 1L + i % 5)) ++
      (0 until 500).map(i => (2L, if (i < 400) 5.0 else i - 399.0, 1L)) ++
      (0 until 300).map(i =>
        (3L, Seq(-1e308, -2.0, 0.0, 3.0, 1e308)(i % 5), 1L)) ++
      (0 until 2000).map(i => (4L,
        if (i < 975) -1000.0 - i
        else if (i < 1025) (i - 975) * 1e-6
        else 1000.0 + i, 1L)) ++
      (0 until 30).map(i => (5L, (i * 13 % 30).toDouble, 1L)) ++
      (0 until 30).map(i => (6L, (i * 17 % 30).toDouble, 1L + i % 3))
    val weightedMedian: (Long, Long) => (Long, Boolean) =
      (_, w) => ((w + 1) / 2, w % 2 == 0)
    val got = RobustStats.groupedMedianExact(
        rows.toDF("__rs_k", "__rs_x", "__rs_w"), weightedMedian,
        sliceMax = 64L, hardCap = 40L)
      .map(p => p.key -> p).toMap
    rows.groupBy(_._1).foreach { case (key, rs) =>
      // the weight rank is the row rank of the weight-expanded sort
      val sorted = rs.flatMap(r => Seq.fill(r._3.toInt)(r._2)).sorted
      val w = sorted.length.toLong
      val (k, wantNext) = weightedMedian(rs.length.toLong, w)
      val p = got(key)
      assert((p.n, p.w, p.value) === ((rs.length.toLong, w,
        sorted((k - 1).toInt))), s"key $key")
      assert(p.next === (if (wantNext) sorted(k.toInt) else p.value),
        s"key $key")
    }
    assert(got.size === 7)
  }

  test("inconsistent source: rows gone after the first scan fail by " +
       "name, never by index") {
    // the value column reads a counter and turns null once the first
    // full scan is done, so every later pass sees fewer rows than the
    // first aggregate counted
    def flaky(n: Long): DataFrame = {
      RobustStatsSpec.calls.set(0)
      val x = udf { (id: Long) =>
        if (RobustStatsSpec.calls.incrementAndGet() <= n)
          java.lang.Double.valueOf(id.toDouble)
        else null
      }.asNondeterministic()
      spark.range(n).select(x(col("id")).as("x"))
    }
    def gen(n: Long, key: Column*): DataFrame = flaky(n)
      .select(key :+ col("x").as("__rs_x") :+ lit(1L).as("__rs_w"): _*)
      .filter(col("__rs_x").isNotNull)
    def failsByName(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains(
        "non-deterministic input changed between passes"), e.getMessage)
    }
    // a narrowing pass, then a slice collect, sees the missing rows
    failsByName(RobustStats.groupedMedianExact(gen(400), sliceMax = 50L))
    failsByName(
      RobustStats.groupedMedianExact(gen(400, lit(7).as("__rs_k"))))
    failsByName(RobustStats.medianExact(flaky(70000), col("x")))
  }

  test("dq_outlier gate query is non-vacuous at gate SF") {
    val out = SparkEntry.queries("dq_outlier")(spark, sfDir).head()
    assert(out.getAs[Long]("n") > 0L)
    assert(out.getAs[Double]("mad") > 0.0)
  }

  test("RobustStats: 15 random distributions match the sorted-array median") {
    val rnd = new Random(1007)
    for (trial <- 1 to 15) {
      val n = 1 + rnd.nextInt(5000)
      val shape = rnd.nextInt(4)
      val xs = Array.fill(n)(shape match {
        case 0 => rnd.nextDouble() * 1e6 - 5e5          // uniform wide
        case 1 => rnd.nextGaussian()                    // tight cluster
        case 2 => math.exp(rnd.nextGaussian() * 5)      // heavy tail
        case 3 => rnd.nextInt(7).toDouble               // massive ties
      })
      val sorted = xs.sorted
      val want =
        if (n % 2 == 1) sorted(n / 2)
        else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
      val got = graft.operators.RobustStats.medianExact(
        xs.toSeq.toDF("x"), col("x"))
      assert(got === want, s"trial $trial (n=$n shape=$shape)")
    }
  }
}

object RobustStatsSpec {
  // scan counter read by the inconsistent-source case's value column
  val calls = new java.util.concurrent.atomic.AtomicLong
}
