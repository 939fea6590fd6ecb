package graft

import java.sql.Date
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import graft.operators.Scd

/** SCD type-2 snapshot merge: all five row fates on one tiny table. */
class ScdSpec extends SparkFunSuite {
  import spark.implicits._

  private val d24 = Date.valueOf("2024-01-01")
  private val d25 = Date.valueOf("2025-01-01")
  private val eff = Date.valueOf("2025-06-01")

  test("merge2: change, keep, delete, insert, history pass-through, null attrs") {
    val cur = Seq(
      (1L, Option("alice"), Option(10.0), d25, None: Option[Date]),
      (2L, Option("bob"), Option(20.0), d25, None: Option[Date]),
      (3L, Option("carol"), Option(30.0), d25, None: Option[Date]),
      (4L, None: Option[String], Option(40.0), d25, None: Option[Date]),
      (1L, Option("al"), Option(9.0), d24, Option(d25)) // closed history
    ).toDF("k", "name", "bal", "valid_from", "valid_to")
    val upd = Seq(
      (1L, Option("alice"), Option(11.0)), // bal changed → close + insert
      (2L, Option("bob"), Option(20.0)),   // identical → keep open
      // 3 absent → soft delete
      (4L, None: Option[String], Option(40.0)), // null name unchanged (null-safe)
      (5L, Option("eve"), None: Option[Double]) // new key with null attr
    ).toDF("k", "name", "bal")
    val out = Scd.merge2(cur, upd, Seq("k"), Seq("name", "bal"), lit(eff))
      .as[(Long, Option[String], Option[Double], Date, Option[Date])]
      .collect().toSet
    assert(out === Set(
      (1L, Option("al"), Option(9.0), d24, Option(d25)),      // history
      (1L, Option("alice"), Option(10.0), d25, Option(eff)),  // closed
      (1L, Option("alice"), Option(11.0), eff, None),         // new version
      (2L, Option("bob"), Option(20.0), d25, None),           // untouched
      (3L, Option("carol"), Option(30.0), d25, Option(eff)),  // soft delete
      (4L, None, Option(40.0), d25, None),                    // null == null
      (5L, Option("eve"), None, eff, None)                    // insert
    ))
  }

  test("merge2: repeated merge of the same snapshot is a fixpoint") {
    val cur = Seq((1L, "a", 1.0, d25, None: Option[Date]))
      .toDF("k", "name", "bal", "valid_from", "valid_to")
    val upd = Seq((1L, "a", 1.0)).toDF("k", "name", "bal")
    val once = Scd.merge2(cur, upd, Seq("k"), Seq("name", "bal"), lit(eff))
    val twice = Scd.merge2(once, upd, Seq("k"), Seq("name", "bal"), lit(eff))
    assert(twice.collect().toSet === once.collect().toSet)
    assert(once.count() === 1L) // nothing changed, nothing versioned
  }

  test("merge2: building runs no job and the plan has one full-outer join") {
    val cur = Seq(
      (1L, "a", 1.0, d25, None: Option[Date]),
      (2L, "b", 2.0, d25, None: Option[Date]),
      (3L, "c", 3.0, d24, Option(d25)))
      .toDF("k", "name", "bal", "valid_from", "valid_to")
    val upd = Seq((1L, "a", 1.5), (4L, "d", 4.0)).toDF("k", "name", "bal")
    val (out, jobs) = withJobCount(
      Scd.merge2(cur, upd, Seq("k"), Seq("name", "bal"), lit(eff)))
    assert(jobs === 0, "merge2 must stay lazy: no stage write at build")
    // one join feeds both row fates; two would scan both inputs twice
    val joins = out.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.map(_.joinType) === Seq(FullOuter))
    assert(out.as[(Long, String, Double, Date, Option[Date])].collect().toSet ===
      Set((3L, "c", 3.0, d24, Some(d25)), (1L, "a", 1.0, d25, Some(eff)),
        (1L, "a", 1.5, eff, None), (2L, "b", 2.0, d25, Some(eff)),
        (4L, "d", 4.0, eff, None)))
  }
}
