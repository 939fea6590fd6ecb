package graft

import scala.util.Random

import org.apache.spark.sql.functions._

/** Boundary pins for exact weighted-median selection. The oracle gate
  * (agg_wmedian) checks one corpus; this spec checks the threshold
  * arithmetic where it can actually go wrong — even/odd totals, a
  * single heavy weight, value ties — against brute-force enumeration,
  * on BOTH implementations: the aggregate-only histogram selection
  * (RobustStats.weightedMedianExact, the query's path) and the
  * running-total ranking (GlobalRank.withRunningTotal, the
  * every-row-needs-its-position shape), which must agree with each
  * other everywhere. The large case forces the histogram loop past
  * its driver-slice threshold.
  */
class WeightedMedianSpec extends SparkFunSuite {
  import spark.implicits._

  private def brute(rows: Seq[(Double, Long)]): Double = {
    val sorted = rows.sortBy(_._1)
    val total = rows.map(_._2).sum
    val threshold = (total + 1) / 2
    var acc = 0L
    sorted.find { case (_, w) => acc += w; acc >= threshold }.get._1
  }

  private def histogram(rows: Seq[(Double, Long)]): Double = {
    import spark.implicits._
    graft.operators.RobustStats.weightedMedianExact(
      rows.toDF("v", "w"), col("v"), col("w"))._1
  }

  private def runningTotal(rows: Seq[(Double, Long)]): Double = {
    import spark.implicits._
    val df = rows.zipWithIndex
      .map { case ((v, w), i) => (v, i.toLong, w) }
      .toDF("v", "id", "w")
    val rt = graft.operators.GlobalRank.withRunningTotal(
      df, Seq(col("v"), col("id")), col("w"), "rk", "cw")
    rt.crossJoin(broadcast(df.agg(sum(col("w")).as("tw"))))
      .filter(col("cw") >= expr("(tw + 1) div 2"))
      .orderBy(col("rk")).limit(1)
      .select(col("v")).as[Double].head()
  }

  private def checkAll(rows: Seq[(Double, Long)], expected: Double): Unit = {
    assert(brute(rows) == expected, "brute")
    assert(histogram(rows) == expected, "histogram selection")
    assert(runningTotal(rows) == expected, "running-total ranking")
  }

  test("odd total weight: middle unit lands exactly") {
    checkAll(Seq((1.0, 1L), (2.0, 1L), (3.0, 1L)), 2.0)
  }

  test("even total weight: lower median by the ceil-threshold contract") {
    // W=4, threshold=2 -> cum 1,2 -> v=2 (lower weighted median)
    checkAll(Seq((1.0, 1L), (2.0, 1L), (3.0, 2L)), 2.0)
  }

  test("one heavy weight dominates") {
    checkAll(Seq((1.0, 1L), (2.0, 1L), (10.0, 6L)), 10.0)
  }

  test("value ties accumulate their weight as one mass") {
    checkAll(Seq((5.0, 3L), (5.0, 3L), (1.0, 1L), (9.0, 1L)), 5.0)
  }

  test("all-equal values collapse the interval immediately") {
    checkAll(Seq.fill(10)((7.0, 3L)), 7.0)
  }

  test("positive-weight contract is enforced") {
    import spark.implicits._
    intercept[IllegalArgumentException](
      graft.operators.RobustStats.weightedMedianExact(
        Seq((1.0, 0L)).toDF("v", "w"), col("v"), col("w")))
  }

  test("randomized parity: histogram == running-total == brute") {
    val rnd = new scala.util.Random(8)
    (1 to 5).foreach { _ =>
      val rows = Seq.fill(50 + rnd.nextInt(50))(
        (rnd.nextInt(20).toDouble, 1L + rnd.nextInt(9).toLong))
      val expected = brute(rows)
      assert(histogram(rows) == expected)
      assert(runningTotal(rows) == expected)
    }
  }

  test("generalized quantile: integer threshold, p90 and p=1 edges") {
    import spark.implicits._
    def wq(rows: Seq[(Double, Long)], num: Long, den: Long): Double =
      graft.operators.RobustStats.weightedQuantileExact(
        rows.toDF("v", "w"), col("v"), col("w"), num, den)._1
    val unit = (1 to 10).map(i => (i.toDouble, 1L))
    // W=10, ceil(0.9*10)=9 -> v=9 (exact-multiple boundary, the case
    // a float ceil can fumble)
    assert(wq(unit, 9, 10) == 9.0)
    assert(wq(unit, 1, 1) == 10.0)   // p=1 -> max
    assert(wq(unit, 1, 10) == 1.0)   // p=0.1 -> ceil(1)=1 -> min
    // weighted: (1,w9),(5,w1): ceil(0.9*10)=9 -> cum at v=1 is 9 -> 1
    assert(wq(Seq((1.0, 9L), (5.0, 1L)), 9, 10) == 1.0)
    intercept[IllegalArgumentException](wq(unit, 11, 10))
  }

  test("threshold arithmetic survives num * W > Long.MaxValue") {
    import spark.implicits._
    // W = 9e18 fits a Long, 9 * W does not: without BigInt the wrapped
    // negative threshold silently selects min(v)
    val huge = (1 to 10).map(i => (i.toDouble, 900000000000000000L))
    val (got, tw) = graft.operators.RobustStats.weightedQuantileExact(
      huge.toDF("v", "w"), col("v"), col("w"), 9L, 10L)
    assert(tw == 9000000000000000000L)
    assert(got == 9.0)
  }

  test("large input drives the histogram loop, result still exact") {
    import spark.implicits._
    // 200k rows, values hashed over a wide range, weights 1-16 —
    // cnt > DriverSliceMax so at least one narrowing pass runs
    val df = spark.range(200000)
      .select((pmod(xxhash64(col("id")), lit(1000000L)).cast("double") / 7.0)
          .as("v"),
        (pmod(xxhash64(col("id"), lit(1)), lit(16L)) + 1).as("w"))
    val (got, totalW) = graft.operators.RobustStats.weightedMedianExact(
      df, col("v"), col("w"))
    val local = df.as[(Double, Long)].collect().toSeq
    assert(totalW == local.map(_._2).sum)
    assert(got == brute(local))
  }

  test("weightedQuantileExact: 25 random (data, fraction) match brute") {
    val rnd = new Random(8)
    for (trial <- 1 to 25) {
      val rows = Seq.fill(1 + rnd.nextInt(200))(
        (rnd.nextInt(50).toDouble / 4.0, 1L + rnd.nextInt(20).toLong))
      val den = 1L + rnd.nextInt(20)
      val num = 1L + rnd.nextInt(den.toInt)
      val (got, tw) = graft.operators.RobustStats.weightedQuantileExact(
        rows.toDF("v", "w"), col("v"), col("w"), num, den)
      val sorted = rows.sortBy(_._1)
      val total = rows.map(_._2).sum
      val thr = (BigInt(num) * total + den - 1) / den
      var acc = BigInt(0)
      val want = sorted.find { case (_, w) => acc += w; acc >= thr }.get._1
      assert(tw == total && got == want,
        s"trial $trial p=$num/$den n=${rows.size}")
    }
  }
}
