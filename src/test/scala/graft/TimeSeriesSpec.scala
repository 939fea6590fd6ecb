package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import graft.operators.TimeSeries

/** EWMA semantics: seeded-left-fold recurrence, (ts, seq) ordering,
  * null handling, and the binary-exact-α requirement.
  */
class TimeSeriesSpec extends SparkFunSuite {
  import spark.implicits._

  private def run(rows: Seq[(Long, Long, Long, java.lang.Double)],
                  alpha: Double = 0.25): Map[Long, (Long, Double)] =
    TimeSeries.ewma(
        rows.toDF("user_id", "ts_us", "event_id", "value"),
        "user_id", col("ts_us"), col("event_id"), col("value"), alpha)
      .as[(Long, Long, Double)].collect()
      .map { case (u, n, e) => u -> (n, e) }.toMap

  test("recurrence matches the hand-computed seeded left fold") {
    // e1 = 8, e2 = .25*4 + .75*8 = 7, e3 = .25*16 + .75*7 = 9.25
    val got = run(Seq(
      (1L, 10L, 1L, 8.0), (1L, 20L, 2L, 4.0), (1L, 30L, 3L, 16.0)))
    assert(got === Map(1L -> ((3L, 9.25))))
  }

  test("fold order is (ts, seq), not arrival order") {
    // same multiset, shuffled input rows; ties on ts break by event_id
    val got = run(Seq(
      (1L, 30L, 3L, 16.0), (1L, 10L, 1L, 8.0), (1L, 20L, 2L, 4.0),
      (2L, 10L, 2L, 4.0), (2L, 10L, 1L, 8.0))) // tied ts → id order
    assert(got(1L) === ((3L, 9.25)))
    // u2: e1 = 8 (id 1 first), e2 = .25*4 + .75*8 = 7
    assert(got(2L) === ((2L, 7.0)))
  }

  test("single observation returns itself; null values are skipped") {
    val got = run(Seq(
      (1L, 10L, 1L, 5.5),
      (2L, 10L, 1L, null), (2L, 20L, 2L, 8.0)))
    assert(got === Map(1L -> ((1L, 5.5)), 2L -> ((1L, 8.0))))
  }

  test("users with only null observations are absent") {
    val got = run(Seq((1L, 10L, 1L, null)))
    assert(got.isEmpty)
  }

  test("alpha outside (0,1) is rejected") {
    val one = Seq((1L, 1L, 1L, java.lang.Double.valueOf(1.0)))
    intercept[IllegalArgumentException](run(one, 1.0))
    intercept[IllegalArgumentException](run(one, 0.0))
  }

  private def bar(rows: Seq[(Long, String, Long, java.lang.Double)]) =
    TimeSeries.resample(
        rows.map { case (u, s, i, v) =>
          (u, java.sql.Timestamp.valueOf(s), i, v)
        }.toDF("user_id", "ts", "event_id", "value"),
        "user_id", col("ts"), col("event_id"), col("value"))
      .select(col("user_id"), col("bucket").cast("string"),
        col("open"), col("high"), col("low"), col("close"),
        col("vol"), col("n"))
      .as[(Long, String, Double, Double, Double, Double, Double, Long)]
      .collect().map(r => (r._1, r._2) -> r).toMap

  test("resample picks open/close by (ts, event_id) with tie-break") {
    val got = bar(Seq(
      (1L, "2024-01-01 09:00:00", 5L, 10.0),
      (1L, "2024-01-01 15:00:00", 1L, 40.0),
      (1L, "2024-01-01 09:00:00", 2L, 30.0),
      (1L, "2024-01-02 10:00:00", 9L, 7.5)))
    // day 1: open ties on ts 09:00 → event_id 2 < 5 wins → 30.0;
    // close = latest ts 15:00 → 40.0
    assert(got.size === 2)
    assert(got((1L, "2024-01-01")) ===
      ((1L, "2024-01-01", 30.0, 40.0, 10.0, 40.0, 80.0, 3L)))
    assert(got((1L, "2024-01-02")) ===
      ((1L, "2024-01-02", 7.5, 7.5, 7.5, 7.5, 7.5, 1L)))
  }

  test("resample drops null observations; all-null bucket is absent") {
    val got = bar(Seq(
      (1L, "2024-01-01 09:00:00", 1L, null),
      (2L, "2024-01-01 09:00:00", 1L, 3.0),
      (2L, "2024-01-01 10:00:00", 2L, null)))
    assert(got.keySet === Set((2L, "2024-01-01")))
    assert(got((2L, "2024-01-01")) ===
      ((2L, "2024-01-01", 3.0, 3.0, 3.0, 3.0, 3.0, 1L)))
  }

  test("events fixture satisfies the (ts, event_id) uniqueness contract") {
    // holt/cusum/ewma pack (ts, seq, x) structs and sort_array them, so
    // on a (ts, seq) tie the VALUE becomes a third sort key and the fold
    // order diverges from an oracle's tie-unstable ORDER BY. The ts_*
    // gate queries rely on the fixture honoring the documented contract
    // — pin it here so a future data generation that breaks it fails
    // with one clear message instead of a hash mismatch.
    val dupes = graft.queries.t(spark, sfDir, "events")
      .groupBy(col("user_id"), col("ts"), col("event_id"))
      .count().filter(col("count") > 1).count()
    assert(dupes === 0L,
      "events has (user_id, ts, event_id) duplicates — the per-entity " +
        "sequence ops' ordering contract no longer holds")
  }

  test("theilSenSampled: under-budget series equal theilSen exactly") {
    import spark.implicits._
    val series = (0 until 3).flatMap { k =>
      (0 until 40).map(x => (k.toLong, x.toLong, (3L * x + (x % 7))))
    }.toDF("key", "x", "y")
    val exact = graft.operators.Metrics.theilSen(series)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    // 40 points = 780 pairs, under any reasonable budget -> frac = 1
    // and the content-hash predicate keeps every pair: bit-identical
    val sampled = graft.operators.Metrics
      .theilSenSampled(series, maxPairsPerKey = 1000L)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(sampled === exact)
  }

  test("theilSen: histogram selection is bit-identical to the windowed form") {
    import spark.implicits._
    // r18: theilSen's median moved from a key-partitioned window sort
    // over the O(len²) pair stream to the aggregate-only iterative-
    // histogram selection (RobustStats.groupedMedianExact). Pin exact
    // parity on shapes that stress every branch: even and odd pair
    // counts, heavy slope ties (constant + step series), duplicate x
    // values (excluded-pair contract), a key with a single distinct x
    // (no row), and a long series that needs real narrowing passes.
    val series = (
      // k=0: 41 points, linear + perturbation (odd/even rank mix)
      (0 until 41).map(x => (0L, x.toLong, 5L * x + (x % 3))) ++
      // k=1: constant y — every slope 0.0, maximal ties
      (0 until 30).map(x => (1L, x.toLong, 7L)) ++
      // k=2: two-level step — slope ties at 0 and a few jumps
      (0 until 24).map(x => (2L, x.toLong, if (x < 12) 1L else 9L)) ++
      // k=3: duplicate x values (3 rows per x) — equal-x pairs excluded
      (0 until 12).flatMap(x => Seq((3L, x.toLong, 2L * x),
        (3L, x.toLong, 2L * x + 1), (3L, x.toLong, 2L * x + 2))) ++
      // k=4: single distinct x — no pairs, no output row
      Seq((4L, 1L, 10L), (4L, 1L, 20L)) ++
      // k=5: 600 points = 179,700 pairs > the 65,536 slice bound —
      // forces at least one histogram narrowing pass
      (0 until 600).map(x =>
        (5L, x.toLong, 3L * x + (x * 2654435761L % 13) - 6))
    ).toDF("key", "x", "y")
    val got = graft.operators.Metrics.theilSen(series)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val want = graft.operators.Metrics.theilSenWindowed(series)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === want)
    assert(got.map(_._1) === Seq(0L, 1L, 2L, 3L, 5L)) // k=4 absent
  }

  test("theilSen: null-y slopes are excluded on both the histogram and windowed forms") {
    import spark.implicits._
    // a null y gives a null slope; both forms must drop it, so n_pairs
    // and the median do not flip at the groupedKeyLimit gate
    val y: Long => java.lang.Long = v => java.lang.Long.valueOf(v)
    val series = Seq[(Long, Long, java.lang.Long)](
      (0L, 0L, y(0)), (0L, 1L, null), (0L, 2L, y(4)), (0L, 3L, y(9)),
      (0L, 4L, null), (0L, 5L, y(10)),
      // one non-null y: every pair's slope is null, so no row
      (1L, 0L, y(3)), (1L, 1L, null), (1L, 2L, null)
    ).toDF("key", "x", "y")
    val got = graft.operators.Metrics.theilSen(series)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val want = graft.operators.Metrics.theilSenWindowed(series)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(want === got)
    // key 0 keeps the 4 non-null points: 6 pairs with slopes
    // 0.5, 2, 2, 2, 3, 5 -> median (2 + 2) / 2
    assert(got === Seq((0L, 6L, 2.0)))
  }

  test("theilSenSampled: long-series slope converges to the exact slope") {
    import spark.implicits._
    // 3000 points/key = ~4.5M exact pairs; slope 2 plus a bounded
    // deterministic perturbation. 20k sampled pairs must land within
    // the perturbation scale of the exact median slope.
    val series = (0 until 2).flatMap { k =>
      (0 until 3000).map(x =>
        (k.toLong, x.toLong, 2L * x + (x * 2654435761L % 11) - 5))
    }.toDF("key", "x", "y")
    val exact = graft.operators.Metrics.theilSen(series)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val sampled = graft.operators.Metrics
      .theilSenSampled(series, maxPairsPerKey = 20000L)
      .as[(Long, Long, Double)].collect()
    assert(sampled.length === 2)
    sampled.foreach { case (k, np, sl) =>
      // binomial sampling: expect ~20k of ~4.5M pairs, wide tolerance
      assert(np > 15000L && np < 25000L, s"key $k sampled $np pairs")
      assert(math.abs(sl - exact(k)) < 0.01,
        s"key $k sampled slope $sl vs exact ${exact(k)}")
    }
  }

  test("theilSen: 20 random multi-key series match local pairwise median") {
    val rnd = new Random(8)
    for (trial <- 1 to 20) {
      val series = (0 until 1 + rnd.nextInt(3)).flatMap { k =>
        val xs = rnd.shuffle((0 until 40).toList).take(2 + rnd.nextInt(18))
        xs.map(x => (k.toLong, x.toLong, rnd.nextInt(100).toLong))
      }
      val got = graft.operators.Metrics.theilSen(series.toDF("key", "x", "y"))
        .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3))
        .toMap
      val want = series.groupBy(_._1).map { case (k, rows) =>
        val sl = (for {
          (_, x1, y1) <- rows; (_, x2, y2) <- rows if x2 > x1
        } yield (y2 - y1).toDouble / (x2 - x1).toDouble).sorted
        val m =
          if (sl.size % 2 == 1) sl(sl.size / 2)
          else (sl(sl.size / 2 - 1) + sl(sl.size / 2)) / 2
        k -> ((sl.size.toLong, m))
      }
      assert(got === want, s"trial $trial")
    }
  }

  test("theilSenSampled: an over-2^31 budget is clamped, not overflowed") {
    // budget * 2^32 would wrap Long for maxPairsPerKey > 2^31-ish —
    // the clamp keeps the product positive, and any clamped budget is
    // still >= every real pair count, so the result is the EXACT slope
    val series = (1 to 12).map(i => ("s", i.toLong, (3 * i + 7).toLong))
      .toDF("key", "x", "y")
    val exact = graft.operators.Metrics.theilSen(series)
      .as[(String, Long, Double)].collect().toSeq
    val huge = graft.operators.Metrics
      .theilSenSampled(series, maxPairsPerKey = Long.MaxValue)
      .as[(String, Long, Double)].collect().toSeq
    assert(huge === exact)
    assert(exact.head._3 === 3.0)
  }

  // ts_cross_corr over a small written events table: (lag, n, xcorr)
  // rows by lag, xcorr None for SQL NULL
  private def crossCorr(
      rows: Seq[(Option[Long], Option[String])]): Map[Int, (Long, Option[Double])] = {
    val dir = java.nio.file.Files.createTempDirectory("xcorr").toString
    rows.map { case (h, tpe) =>
      (h.map(x => new java.sql.Timestamp(x * 3600000L + 1234567L)).orNull,
        tpe.orNull)
    }.toDF("ts", "event_type")
      .write.parquet(s"$dir/events.parquet")
    SparkEntry.queries("ts_cross_corr")(spark, dir)
      .select(col("lag"), col("n"), col("xcorr"))
      .as[(Int, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
  }

  // the dense-grid definition, brute force: every hour in [lo, hi]
  // counts (silent hours are zeros); lag l pairs view(h) with
  // purchase(h + l) for h in [lo, hi − l]; corr is NULL at n = 1;
  // round(_, 4) is HALF_UP
  private def denseCrossCorr(
      rows: Seq[(Option[Long], Option[String])]): Map[Int, (Long, Option[Double])] = {
    val hbs = rows.flatMap(_._1)
    if (hbs.isEmpty) Map.empty
    else {
      val (lo, hi) = (hbs.min, hbs.max)
      def cnt(tpe: String)(h: Long) =
        rows.count(r => r._1.contains(h) && r._2.contains(tpe)).toDouble
      (0 to 3).filter(l => hi - l >= lo).map { l =>
        val hs = lo to hi - l
        val (x, y) = (hs.map(cnt("view")), hs.map(h => cnt("purchase")(h + l)))
        val n = hs.size
        val r =
          if (n == 1) None
          else {
            val (mx, my) = (x.sum / n, y.sum / n)
            val sxy = x.zip(y).map { case (a, b) => (a - mx) * (b - my) }.sum
            val sxx = x.map(a => (a - mx) * (a - mx)).sum
            val syy = y.map(b => (b - my) * (b - my)).sum
            Some(BigDecimal(sxy / math.sqrt(sxx * syy))
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
        l -> ((n.toLong, r))
      }.toMap
    }
  }

  private def assertCrossCorr(
      rows: Seq[(Option[Long], Option[String])], clue: String): Unit = {
    val (got, want) = (crossCorr(rows), denseCrossCorr(rows))
    assert(got.keySet === want.keySet, clue)
    for ((l, (n, r)) <- want) {
      val (gn, gr) = got(l)
      assert(gn === n, s"$clue lag $l")
      // the two sides sum in different orders; allow one rounding step
      assert((gr, r) match {
        case (None, None) => true
        case (Some(a), Some(b)) => math.abs(a - b) <= 1.0001e-4
        case _ => false
      }, s"$clue lag $l: got $gr want $r")
    }
  }

  test("ts_cross_corr matches a brute-force dense-grid correlation") {
    val base = 473000L // an hour index in 2023
    val rnd = new Random(17)
    val types = Seq(Some("view"), Some("purchase"), Some("click"), None)
    // 41-hour span with silent hours (most hours ≢ 0 mod 3 have no
    // events), plus null-ts rows and null / other event types
    val spread = (0 until 400).map { _ =>
      val h = rnd.nextInt(14) * 3 + (if (rnd.nextInt(5) == 0) 1 else 0)
      (Some(base + h), types(rnd.nextInt(types.size)))
    } ++ Seq((None, Some("view")), (None, Some("purchase")), (None, None))
    assert(denseCrossCorr(spread).size === 4)
    assertCrossCorr(spread, "silent hours, nulls, other types")
    // 2-hour span: lags 2 and 3 have no pairs and give no row
    val short = Seq(base, base, base, base + 1, base + 1, base + 1, base)
      .zip(Seq("view", "view", "purchase", "view", "purchase", "purchase",
        "click"))
      .map { case (h, t) => (Some(h), Some(t)) }
    assert(crossCorr(short).keySet === Set(0, 1))
    assertCrossCorr(short, "2-hour span")
    // 1-hour span: lag 0 alone, one pair, NULL correlation
    val one = Seq((Some(base), Some("view")), (Some(base), Some("click")))
    assert(crossCorr(one) === Map(0 -> ((1L, None))))
  }

  test("ts_cross_corr: empty events and all-null ts give no rows") {
    assert(crossCorr(Nil).isEmpty)
    assert(crossCorr(Seq((None, Some("view")), (None, Some("purchase"))))
      .isEmpty)
  }
}
