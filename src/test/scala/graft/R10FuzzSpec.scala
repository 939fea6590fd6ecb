package graft

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Round-10 hardening cases: the frontierSweep null-min contract and
  * the driver prefix-min's UTF-8 string ordering. Seeded like every
  * FuzzSpec.
  */
class R10FuzzSpec extends SparkFunSuite {
  import spark.implicits._

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
