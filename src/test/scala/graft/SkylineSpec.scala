package graft

import scala.util.Random

/** Skyline (the 2-d dominance frontier): `frontierSweep` against brute
  * dominance and against the anti-join form `frontier2d`, on seeded
  * random tables (a failure reproduces) and hand-checked null, tie and
  * string-order edges.
  */
class SkylineSpec extends SparkFunSuite {
  import spark.implicits._

  test("Skyline.frontierSweep: 25 random ROW tables match brute dominance") {
    val rnd = new Random(9)
    for (trial <- 1 to 25) {
      // raw rows, NOT pre-aggregated: several rows per max-dim value,
      // ties on both dims, so the sweep's per-level threshold and the
      // strict < filter are both exercised on duplicates
      val rows = (0 until 5 + rnd.nextInt(60)).map { i =>
        (i.toLong, rnd.nextInt(10).toLong, rnd.nextInt(12).toLong)
      }
      val got = graft.operators.Skyline
        .frontierSweep(rows.toDF("id", "mx", "mn"), "mx", "mn",
          numPartitions = 1 + rnd.nextInt(5))
        .as[(Long, Long, Long)].collect().toSet
      val want = rows.filter { case (_, x, y) =>
        !rows.exists { case (_, x2, y2) => x2 > x && y2 <= y }
      }.toSet
      assert(got === want, s"trial $trial rows=$rows")
    }
  }

  test("Skyline: sweep and anti-join forms agree on random level tables") {
    val rnd = new Random(9)
    for (trial <- 1 to 15) {
      val levels = rnd.shuffle((0 until 30).toList)
        .take(1 + rnd.nextInt(15))
        .map(x => (x.toLong, rnd.nextInt(8).toLong))
      val df = levels.toDF("mx", "mn")
      val viaSweep = graft.operators.Skyline
        .frontierSweep(df, "mx", "mn").as[(Long, Long)].collect().toSet
      val viaAnti = graft.operators.Skyline
        .frontier2d(df, "mx", "mn").as[(Long, Long)].collect().toSet
      assert(viaSweep === viaAnti, s"trial $trial levels=$levels")
    }
  }

  test("Skyline: null-max rows survive both forms identically") {
    // dominance is null in both directions for a null max-dim, so such
    // rows sit on the frontier and dominate nothing — in BOTH forms
    val rows = Seq((1L, Some(1L), 9L), (2L, None, 0L), (3L, Some(5L), 3L),
      (4L, Some(2L), 3L), (5L, None, 99L))
    val df = rows.toDF("id", "mx", "mn")
    val viaSweep = graft.operators.Skyline
      .frontierSweep(df, "mx", "mn").select("id").as[Long].collect().toSet
    val viaAnti = graft.operators.Skyline
      .frontier2d(df, "mx", "mn").select("id").as[Long].collect().toSet
    // id 1 dominated (mx 5 has mn 3 <= 9); id 4 dominated by the
    // equal-min id 3 (<= edge); both null-max rows kept
    assert(viaSweep === Set(2L, 3L, 5L))
    assert(viaAnti === viaSweep)
  }

  test("Skyline.frontierSweep: double min-dim and single-partition edge") {
    // doubles exercise the typed driver prefix-min (java.lang.Double is
    // Comparable); numPartitions = 1 exercises the no-offset path where
    // the whole sweep lives in one range partition
    val rows = Seq((1L, 1.0, 5.5), (2L, 2.0, 5.5), (3L, 3.0, 2.25),
      (4L, 3.0, 9.0), (5L, 4.0, 2.25), (6L, 5.0, 7.0))
    val got = graft.operators.Skyline
      .frontierSweep(rows.toDF("id", "mx", "mn"), "mx", "mn",
        numPartitions = 1)
      .as[(Long, Double, Double)].collect().map(_._1).toSet
    // id 1/2: price 5.5, larger-q mins are 2.25 -> dominated; id 4:
    // 9.0 beaten by 2.25 at q=4 -> dominated; id 3: q=3 price 2.25,
    // q=4 has 2.25 <= 2.25 -> dominated (strict survival); id 5:
    // only q=5 is larger, 7.0 > 2.25 -> survives; id 6: max q survives
    assert(got === Set(5L, 6L))
  }

  test("Skyline: null-MIN rows survive both forms (never dominated, never dominate)") {
    // under three-valued logic `x <= null` is null, so frontier2d's
    // anti-join keeps null-min rows; the sweep's survival filter must
    // keep them explicitly. They also never dominate (min() skips
    // nulls): id 4 survives because the only strictly-larger level
    // (mx=9) carries a null min.
    val rows = Seq((1L, Some(1L), Some(9L)), (2L, Some(3L), None),
      (3L, Some(5L), Some(3L)), (4L, Some(5L), None),
      (5L, Some(9L), None), (6L, Some(2L), Some(3L)))
    val df = rows.toDF("id", "mx", "mn")
    val viaSweep = graft.operators.Skyline
      .frontierSweep(df, "mx", "mn").select("id").as[Long].collect().toSet
    val viaAnti = graft.operators.Skyline
      .frontier2d(df, "mx", "mn").select("id").as[Long].collect().toSet
    // id 1: mn 9, dominated by mx=5/mn=3; id 6: mn 3, dominated by the
    // <= edge of mx=5/mn=3; ids 2/4/5 null-min survive; id 3 survives
    // (only larger level mx=9 has null min)
    assert(viaAnti === Set(2L, 3L, 4L, 5L))
    assert(viaSweep === viaAnti)
  }

  test("Skyline.frontierSweep: random tables with null mins match brute dominance") {
    val rnd = new Random(10)
    for (trial <- 1 to 20) {
      val rows = (0 until 5 + rnd.nextInt(50)).map { i =>
        (i.toLong, rnd.nextInt(8).toLong,
          if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(10).toLong))
      }
      val got = graft.operators.Skyline
        .frontierSweep(rows.toDF("id", "mx", "mn"), "mx", "mn",
          numPartitions = 1 + rnd.nextInt(4))
        .select("id").as[Long].collect().toSet
      // brute-force: dominated iff SOME row has strictly larger mx AND
      // a non-null mn <= this row's non-null mn
      val want = rows.filter { case (_, x, y) =>
        !rows.exists { case (_, x2, y2) =>
          x2 > x && y2.isDefined && y.isDefined && y2.get <= y.get }
      }.map(_._1).toSet
      assert(got === want, s"trial $trial rows=$rows")
    }
  }

  test("Skyline.frontierSweep: supplementary-character strings use Spark's UTF-8 order") {
    // U+1F600 (4-byte UTF-8, surrogate pair in UTF-16) vs U+FFFF:
    // JVM String.compareTo says \uD83D... < ￿, Spark's bytewise
    // UTF8String order says the opposite — the driver prefix-min must
    // agree with the in-partition window min(), so force many range
    // partitions over string min values that straddle the divergence.
    val smiley = new String(Character.toChars(0x1F600))
    val rows = (0 until 40).map { i =>
      val mn = (i % 4) match {
        case 0 => smiley + i // non-BMP: UTF-8-max, UTF-16-small
        case 1 => "￿" + i
        case 2 => "z" + i
        case 3 => "a" + i
      }
      (i.toLong, (i % 10).toLong, mn)
    }
    val df = rows.toDF("id", "mx", "mn")
    for (p <- Seq(1, 3, 8)) {
      val viaSweep = graft.operators.Skyline
        .frontierSweep(df, "mx", "mn", numPartitions = p)
        .select("id").as[Long].collect().toSet
      val viaAnti = graft.operators.Skyline
        .frontier2d(df, "mx", "mn").select("id").as[Long].collect().toSet
      assert(viaSweep === viaAnti, s"p=$p")
    }
  }
}
