package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.{ScaleGuard, ScaleGuardRule}

/** The library-facing scale guard (graft.plans.ScaleGuard): the same
  * structural rules PlanGuardSpec pins over this repo's registry,
  * verified here as the user-facing feature — the callable audit and
  * the extensions-injected optimizer rule with its warn/error/off
  * modes.
  */
class ScaleGuardRuleSpec extends SparkFunSuite {

  private def big = spark.range(5000).toDF("id")

  test("flags an unpartitioned window over unbounded input") {
    val df = big.withColumn("rn",
      row_number().over(Window.orderBy("id")))
    val vs = ScaleGuard.validate(df)
    assert(vs.map(_.rule) === Seq("unpartitioned-window"))
  }

  test("partitioned window and plan-bounded input both pass") {
    val partitioned = big.withColumn("rn",
      row_number().over(Window.partitionBy(col("id") % 7).orderBy("id")))
    assert(ScaleGuard.validate(partitioned).isEmpty)
    // a limit proves the bound, so a global rank over it is legitimate
    val bounded = big.limit(100).withColumn("rn",
      row_number().over(Window.orderBy("id")))
    assert(ScaleGuard.validate(bounded).isEmpty)
  }

  test("flags an unbounded cartesian; one-row-aggregate broadcast passes") {
    val cart = big.crossJoin(big.select(col("id").as("id2")))
    assert(ScaleGuard.validate(cart).map(_.rule) ===
      Seq("unbounded-cartesian"))
    val tot = big.agg(sum("id").as("total"))
    assert(ScaleGuard.validate(big.crossJoin(tot)).isEmpty)
  }

  test("literal and equality-free join conditions flag like a cartesian") {
    val b = spark.range(5000).toDF("id2")
    // lit(true) plans the same nested loop a missing condition does
    val literal = big.join(b, lit(true))
    assert(ScaleGuard.validate(literal).map(_.rule) ===
      Seq("unbounded-cartesian"))
    // a pure non-equi residual (x =!= y): BroadcastNestedLoopJoin,
    // every row against every row — the round-8 guard missed this
    val nonEqui = big.join(b, col("id") =!= col("id2"))
    assert(ScaleGuard.validate(nonEqui).map(_.rule) ===
      Seq("unbounded-cartesian"))
    // pure range predicate: same nested-loop shape
    val range = big.join(b, col("id") < col("id2"))
    assert(ScaleGuard.validate(range).map(_.rule) ===
      Seq("unbounded-cartesian"))
    // an equi conjunct alongside the range predicate restores the
    // hash-joinable shape (the interval-join grid-cell pattern)
    val cellEqui = big.join(b,
      col("id") % 16 === col("id2") % 16 && col("id") < col("id2"))
    assert(ScaleGuard.validate(cellEqui).isEmpty)
    // non-equi against a plan-bounded side is a legitimate broadcast
    // nested loop (bounded centroid/query frames)
    val boundedSide = big.join(b.limit(100), col("id") < col("id2"))
    assert(ScaleGuard.validate(boundedSide).isEmpty)
    // an explicit broadcast() hint is trusted as a smallness assertion
    // (the brute-force-baseline shape: broadcast query frame x corpus)
    val hinted = big.join(broadcast(b), col("id") < col("id2"))
    assert(ScaleGuard.validate(hinted).isEmpty)
  }

  test("record-retaining fmgws state flags; scalar state passes") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    val ds = big.as[Long].groupByKey(_ % 7)
    // retained-record state: a growing list of (id, payload) pairs —
    // exactly the per-key accumulation the bounded-state contract bans
    val retaining = ds.flatMapGroupsWithState[List[(Long, Long)], Long](
      OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      case (_, rows, state) =>
        val st = state.getOption.getOrElse(Nil) ++ rows.map(r => (r, r))
        state.update(st); Iterator.single(st.size.toLong)
    }
    assert(ScaleGuard.validate(retaining).map(_.rule) ===
      Seq("record-retaining-stream-state"))
    // scalar fold (count/sum pair): the contract every EventStreams op
    // honors — and a binary sketch would pass the same way
    val scalar = ds.flatMapGroupsWithState[(Long, Double), Long](
      OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      case (_, rows, state) =>
        val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
        val xs = rows.toSeq
        state.update((n0 + xs.size, s0 + xs.sum))
        Iterator.single(n0 + xs.size)
    }
    assert(ScaleGuard.validate(scalar).isEmpty)
  }

  test("equi-join via trailing where() is NOT a false positive") {
    // analysis-time the join is condition-less (Filter above Join);
    // the guard runs post-pushdown, where the condition has moved in
    val a = big
    val b = spark.range(5000).toDF("id2")
    val joined = a.join(b).where(col("id") === col("id2"))
    assert(ScaleGuard.validate(joined).isEmpty)
  }

  test("injected rule honors warn/error/off modes") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val rules = org.apache.spark.sql.graftshim.Shim
      .preCBORules(ext, spark)
    val guard = rules.collectFirst { case r: ScaleGuardRule => r }
    assert(guard.nonEmpty, "GraftExtensions must inject ScaleGuardRule")
    val bad = big.withColumn("rn", row_number().over(Window.orderBy("id")))
      .queryExecution.optimizedPlan
    try {
      spark.conf.set(ScaleGuard.ModeKey, "error")
      val e = intercept[SparkException] { guard.get(bad) }
      assert(e.getMessage.contains("unpartitioned-window"))
      spark.conf.set(ScaleGuard.ModeKey, "warn")
      assert(guard.get(bad) eq bad) // logs, plan unchanged
      spark.conf.set(ScaleGuard.ModeKey, "off")
      assert(guard.get(bad) eq bad)
    } finally spark.conf.unset(ScaleGuard.ModeKey)
  }

  test("grid-budget guard: over-budget densification throws in error " +
       "mode, passes under budget, and off disables") {
    // the ts_fill/ts_interp hourlyGrid shape: grid rows = keys x span,
    // a function of the corpus's TIME EXTENT — data the logical plan
    // cannot see, so the check is a runtime budget, not a plan rule
    try {
      spark.conf.set(ScaleGuard.ModeKey, "error")
      spark.conf.set(ScaleGuard.GridCellsKey, "1000")
      val e = intercept[SparkException] {
        ScaleGuard.gridBudget(spark, 5000L, "10 users x 500 hours")
      }
      assert(e.getMessage.contains("grid-budget") &&
        e.getMessage.contains("5000"))
      ScaleGuard.gridBudget(spark, 999L, "under budget") // no throw
      spark.conf.set(ScaleGuard.ModeKey, "off")
      ScaleGuard.gridBudget(spark, 5000L, "guard off") // no throw
      // warn (default) logs and continues
      spark.conf.unset(ScaleGuard.ModeKey)
      ScaleGuard.gridBudget(spark, 5000L, "warn only")
    } finally {
      spark.conf.unset(ScaleGuard.ModeKey)
      spark.conf.unset(ScaleGuard.GridCellsKey)
    }
  }

  test("grid-budget guard: ts_fill fails fast end-to-end past a tiny " +
       "budget and is unchanged under the default") {
    try {
      spark.conf.set(ScaleGuard.ModeKey, "error")
      spark.conf.set(ScaleGuard.GridCellsKey, "10")
      // sf0.001 grid is ~15 users x ~721 hours >> 10 cells; the guard
      // must fire while BUILDING the query (before any action)
      val e = intercept[SparkException] {
        SparkEntry.queries("ts_fill")(spark, "/root/testdata/sf0.001")
      }
      assert(e.getMessage.contains("grid-budget"))
    } finally {
      spark.conf.unset(ScaleGuard.ModeKey)
      spark.conf.unset(ScaleGuard.GridCellsKey)
    }
    // default budget: query builds and runs unchanged
    val n = SparkEntry.queries("ts_fill")(spark, "/root/testdata/sf0.001")
      .count()
    assert(n > 0)
  }

  test("hot-key-window advisory flags agg-only windows on raw scan keys") {
    // the round-10 Dedup shape: count(1) OVER (PARTITION BY <raw data
    // column>) — a skewed key (exact-clone signature group) funnels its
    // whole group through one task, and AQE cannot split a window
    // partition the way it splits a skewed join
    val flagged = big.withColumn("n",
      count(lit(1)).over(Window.partitionBy("id")))
    assert(ScaleGuard.advise(flagged).map(_.rule) === Seq("hot-key-window"))
    // ...and it is an ADVISORY: the hard-violation audit stays clean
    assert(ScaleGuard.validate(flagged).isEmpty)

    // ordered/analytic window: not the count-then-join shape — pass
    val ordered = big.withColumn("rn",
      row_number().over(Window.partitionBy("id").orderBy("id")))
    assert(ScaleGuard.advise(ordered).isEmpty)
    // derived partition key (expression): the author sized the fan-in
    val derived = big.withColumn("n",
      count(lit(1)).over(Window.partitionBy(col("id") % 7)))
    assert(ScaleGuard.advise(derived).isEmpty)
    // grouped key: one row per key by construction — windowing over an
    // aggregate output is bounded even though the attr's exprId traces
    // to the scan
    val grouped = big.groupBy("id").agg(sum("id").as("s"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("id")))
    assert(ScaleGuard.advise(grouped).isEmpty)
    // explode output: Generate rebuilt the key — pass
    val exploded = big.select(col("id"),
        explode(sequence(lit(0L), col("id") % 3)).as("k"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("k")))
    assert(ScaleGuard.advise(exploded).isEmpty)
    // bounded input: a 100-row frame can't have a hot key worth a task
    val bounded = big.limit(100).withColumn("n",
      count(lit(1)).over(Window.partitionBy("id")))
    assert(ScaleGuard.advise(bounded).isEmpty)
  }

  test("quadratic-window advisory flags aggregates over shrinking frames") {
    // the ts_interp shape: first(x) over ROWS BETWEEN CURRENT ROW AND
    // UNBOUNDED FOLLOWING — Spark recomputes the aggregate per row,
    // O(n²) per partition
    val w = Window.partitionBy(col("id") % 7).orderBy("id")
    val shrinking = big.withColumn("nv",
      first(col("id"), ignoreNulls = true)
        .over(w.rowsBetween(0, Window.unboundedFollowing)))
    assert(ScaleGuard.advise(shrinking).map(_.rule) ===
      Seq("quadratic-window"))
    assert(ScaleGuard.validate(shrinking).isEmpty) // advisory, not error
    // the reversed growing-frame twin (the prescribed fix): pass
    val growing = big.withColumn("nv",
      last(col("id"), ignoreNulls = true)
        .over(Window.partitionBy(col("id") % 7).orderBy(col("id").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
    assert(ScaleGuard.advise(growing).isEmpty)
    // whole-partition frame: evaluated once per partition — pass
    val whole = big.withColumn("mx",
      max("id").over(w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)))
    assert(ScaleGuard.advise(whole).isEmpty)
    // bounded child: a 100-row quadratic frame is noise — pass
    val boundedQ = big.limit(100).withColumn("nv",
      first(col("id")).over(w.rowsBetween(0, Window.unboundedFollowing)))
    assert(ScaleGuard.advise(boundedQ).isEmpty)
  }

  test("boundedRows threshold is configurable") {
    val smallCart = spark.range(50).crossJoin(
      spark.range(50).toDF("id2"))
    assert(ScaleGuard.validate(smallCart).isEmpty) // 50 <= 1000
    assert(ScaleGuard.violations(
      smallCart.queryExecution.optimizedPlan, boundedMax = 10)
      .map(_.rule) === Seq("unbounded-cartesian"))
  }
}
