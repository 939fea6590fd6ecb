package graft

import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import graft.operators.GlobalRank

/** GlobalRank: the distributed two-phase rank/ntile must be
  * bit-identical to the single-partition window answer (that's its
  * whole contract) while planning ZERO unpartitioned windows. Parity
  * runs with a partition count that does NOT divide the row count, so
  * range boundaries fall mid-bucket and offsets are exercised.
  */
class GlobalRankSpec extends SparkFunSuite {

  // heavy ties (k has 7 distinct values) force the id tiebreak to
  // matter and make equal keys straddle sampled range boundaries
  private def data(n: Long) = spark.range(n)
    .select(col("id"), pmod(xxhash64(col("id")), lit(7)).as("k"))

  private def sameRows(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame): Unit = {
    val cols = a.columns.sorted.map(col(_))
    val (x, y) = (a.select(cols: _*), b.select(cols: _*))
    assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty,
      s"rank mismatch:\n${x.exceptAll(y).take(5).mkString("\n")}")
  }

  test("withGlobalRank == global row_number window, ties included") {
    val df = data(1000)
    val got = GlobalRank.withGlobalRank(df,
      Seq(col("k"), col("id")), "r", numPartitions = 7)
    val want = df.withColumn("r",
      row_number().over(W.orderBy(col("k"), col("id"))).cast("long"))
    sameRows(got, want)
  }

  test("descending sort columns are honored end-to-end") {
    val df = data(300)
    val got = GlobalRank.withGlobalRank(df,
      Seq(col("k").desc, col("id").desc), "r", numPartitions = 5)
    val want = df.withColumn("r",
      row_number().over(W.orderBy(col("k").desc, col("id").desc))
        .cast("long"))
    sameRows(got, want)
  }

  test("withNtile == ntile window when buckets don't divide n") {
    val df = data(1000) // 1000 % 32 = 8: first 8 buckets get 32 rows
    val got = GlobalRank.withNtile(df,
      Seq(col("k"), col("id")), 32, "bucket", numPartitions = 7)
    val want = df.withColumn("bucket",
      ntile(32).over(W.orderBy(col("k"), col("id"))).cast("long"))
    sameRows(got, want)
  }

  test("withNtile with fewer rows than buckets (q = 0 branch)") {
    val df = data(3)
    val got = GlobalRank.withNtile(df,
      Seq(col("k"), col("id")), 5, "bucket", numPartitions = 4)
    val want = df.withColumn("bucket",
      ntile(5).over(W.orderBy(col("k"), col("id"))).cast("long"))
    sameRows(got, want)
  }

  test("topFraction keeps exactly round(frac*n) rows — the window top") {
    val df = data(500)
    val got = GlobalRank.topFraction(df,
      Seq(col("k").desc, col("id")), 0.10, "rnk", numPartitions = 7)
    // 0.1 * 500 = 50.000000000000003 in IEEE; round (not ceil) → 50
    assert(got.count() == 50)
    val want = df.withColumn("rnk",
        row_number().over(W.orderBy(col("k").desc, col("id"))).cast("long"))
      .filter(col("rnk") <= 50)
    sameRows(got, want)
  }

  test("hot lead value (80% of rows) splits two-level and stays exact") {
    // r18 skew sweep: a lead value sampled for >=2 quantile cuts gets
    // second-key sub-buckets; ranks must match the window bit-for-bit
    val df = spark.range(2000).select(col("id"),
      when(pmod(col("id"), lit(5)) < 4, lit(100L))
        .otherwise(pmod(xxhash64(col("id")), lit(1000L))).as("k"))
    val got = GlobalRank.withGlobalRank(df,
      Seq(col("k"), col("id")), "r", numPartitions = 16)
    val want = df.withColumn("r",
      row_number().over(W.orderBy(col("k"), col("id"))).cast("long"))
    sameRows(got, want)
  }

  test("hot lead desc with a running total stays exact") {
    val df = spark.range(1500).select(col("id"),
      when(pmod(col("id"), lit(4)) < 3, lit(7L))
        .otherwise(pmod(xxhash64(col("id")), lit(500L))).as("k"),
      (pmod(xxhash64(col("id"), lit(3)), lit(97L)) + 1L).as("v"))
    val got = GlobalRank.withRunningTotal(df,
      Seq(col("k").desc, col("id")), col("v"), "r", "cum",
      numPartitions = 12)
    val w = W.orderBy(col("k").desc, col("id"))
    val want = df
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("cum",
        sum(col("v")).over(w.rowsBetween(W.unboundedPreceding, 0)))
    sameRows(got, want)
  }

  test("hot lead with nulls in the second sort key stays exact") {
    val df = spark.range(1200).select(col("id"),
      when(pmod(col("id"), lit(3)) < 2, lit(50L)).otherwise(col("id")).as("k"),
      when(pmod(col("id"), lit(11)) === 0, lit(null).cast("long"))
        .otherwise(pmod(xxhash64(col("id")), lit(200L))).as("t"))
    val got = GlobalRank.withGlobalRank(df,
      Seq(col("k"), col("t").asc_nulls_last, col("id")), "r",
      numPartitions = 10)
    val want = df.withColumn("r", row_number()
      .over(W.orderBy(col("k"), col("t").asc_nulls_last, col("id")))
      .cast("long"))
    sameRows(got, want)
  }

  test("hot lead past 2^53 (hash-like long) skips the split, stays exact") {
    // double equality is not exact for such longs — the split must NOT
    // fire (order safety) and the single-bucket answer must still match
    val big = 4611686018427387905L // ~2^62, not representable exactly
    val df = spark.range(800).select(col("id"),
      when(pmod(col("id"), lit(2)) === 0, lit(big))
        .otherwise(xxhash64(col("id"))).as("k"))
    val got = GlobalRank.withGlobalRank(df,
      Seq(col("k"), col("id")), "r", numPartitions = 8)
    val want = df.withColumn("r",
      row_number().over(W.orderBy(col("k"), col("id"))).cast("long"))
    sameRows(got, want)
  }

  test("hot lead with a string second key skips the split, stays exact") {
    val df = spark.range(900).select(col("id"),
      when(pmod(col("id"), lit(3)) < 2, lit(5L)).otherwise(col("id")).as("k"),
      concat(lit("s"), pmod(xxhash64(col("id")), lit(50L))).as("s"))
    val got = GlobalRank.withGlobalRank(df,
      Seq(col("k"), col("s"), col("id")), "r", numPartitions = 8)
    val want = df.withColumn("r", row_number()
      .over(W.orderBy(col("k"), col("s"), col("id"))).cast("long"))
    sameRows(got, want)
  }

  test("withGroupedRank == per-group row_number window, hot+null groups") {
    // r18: a 90%-hot group must not change values — only the plan. The
    // fixture plants a dominant group, a null group, and hash ties.
    val df = spark.range(3000).select(col("id"),
      when(pmod(col("id"), lit(10)) < 8, lit("hot"))
        .when(pmod(col("id"), lit(10)) === 8, lit(null).cast("string"))
        .otherwise(concat(lit("s"), pmod(xxhash64(col("id")), lit(4))))
        .as("g"),
      pmod(xxhash64(col("id"), lit(5)), lit(100L)).as("hk"))
    val got = GlobalRank.withGroupedRank(df, Seq("g"),
      Seq(col("hk"), col("id")), "r", numPartitions = 8)
    val want = df.withColumn("r", row_number()
      .over(W.partitionBy("g").orderBy(col("hk"), col("id"))).cast("long"))
    sameRows(got, want)
  }

  test("withGroupedRank rejects a caller column named like a generated __gr_g_ key") {
    // a hot group takes the bucketed path, whose offsets join renames
    // each group column g to __gr_g_g; a caller column of that name
    // must be refused up front, not surface as an ambiguous join
    val df = spark.range(3000).select(col("id"),
      when(pmod(col("id"), lit(10)) < 8, lit("hot"))
        .otherwise(concat(lit("s"), pmod(col("id"), lit(4))))
        .as("source"),
      pmod(xxhash64(col("id"), lit(5)), lit(100L)).as("hk"),
      lit(1).as("__gr_g_source"))
    intercept[IllegalArgumentException] {
      GlobalRank.withGroupedRank(df, Seq("source"),
        Seq(col("hk"), col("id")), "r", numPartitions = 8).count()
    }
  }

  test("withGroupedRank with a string lead key falls back to the window") {
    val df = spark.range(400).select(col("id"),
      pmod(col("id"), lit(3)).cast("string").as("g"),
      concat(lit("v"), pmod(xxhash64(col("id")), lit(20L))).as("s"))
    val got = GlobalRank.withGroupedRank(df, Seq("g"),
      Seq(col("s"), col("id")), "r", numPartitions = 4)
    val want = df.withColumn("r", row_number()
      .over(W.partitionBy("g").orderBy(col("s"), col("id"))).cast("long"))
    sameRows(got, want)
  }

  test("epochShuffle is a deterministic permutation; seeds differ") {
    val df = spark.range(400).toDF("id")
    val a = GlobalRank.epochShuffle(df, "id", seed = 7L, "pos",
      portable = true, numPartitions = 5)
    val b = GlobalRank.epochShuffle(df, "id", seed = 7L, "pos",
      portable = true, numPartitions = 3) // partition count must not matter
    sameRows(a, b)
    // a full permutation: positions are exactly 1..n
    assert(a.agg(min(col("pos")), max(col("pos")),
      countDistinct(col("pos"))).head().toSeq == Seq(1L, 400L, 400L))
    // a different epoch seed reorders (not the identity relabeling)
    val c = GlobalRank.epochShuffle(df, "id", seed = 8L, "pos",
      portable = true, numPartitions = 5)
    assert(a.join(c, "id").filter(a("pos") =!= c("pos")).count() > 0)
  }

  test("randomized parity: sizes × partitions × fracs × buckets") {
    val rnd = new scala.util.Random(17)
    for (_ <- 1 to 8) {
      val n = 50 + rnd.nextInt(800)
      val p = 1 + rnd.nextInt(9)
      val df = data(n)
      val gotR = GlobalRank.withGlobalRank(df,
        Seq(col("k"), col("id")), "r", numPartitions = p)
      val wantR = df.withColumn("r",
        row_number().over(W.orderBy(col("k"), col("id"))).cast("long"))
      sameRows(gotR, wantR)
      val m = 1 + rnd.nextInt(40)
      val gotN = GlobalRank.withNtile(df,
        Seq(col("k"), col("id")), m, "b", numPartitions = p)
      val wantN = df.withColumn("b",
        ntile(m).over(W.orderBy(col("k"), col("id"))).cast("long"))
      sameRows(gotN, wantN)
      val frac = 0.05 + rnd.nextDouble() * 0.9
      val gotF = GlobalRank.topFraction(df,
        Seq(col("k"), col("id")), frac, "r", numPartitions = p)
      assert(gotF.count() == math.round(frac * n),
        s"topFraction($frac) of $n rows")
    }
  }

  test("the plan carries no unpartitioned window") {
    val got = GlobalRank.withNtile(data(100),
      Seq(col("k"), col("id")), 8, "bucket", numPartitions = 4)
    val bad = got.queryExecution.optimizedPlan.collect {
      case w: Window if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, "GlobalRank leaked a single-partition window")
  }

  test("withRunningTotal == global rank + running-sum window") {
    val df = data(1000).withColumn("v", pmod(col("id") * 37, lit(100)))
    val got = GlobalRank.withRunningTotal(df,
      Seq(col("k"), col("id")), col("v"), "r", "cum", numPartitions = 7)
    val w = W.orderBy(col("k"), col("id"))
    val want = df
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("v").cast("long"))
        .over(w.rowsBetween(W.unboundedPreceding, 0)))
    sameRows(got, want)
    // and its own plan is free of unpartitioned windows too
    val bad = got.queryExecution.optimizedPlan.collect {
      case win: Window if win.partitionSpec.isEmpty => win
    }
    assert(bad.isEmpty, "withRunningTotal leaked a single-partition window")
  }

  test("nullable + NaN lead key: bucket placement matches the window") {
    // doubles with nulls and NaNs — the bucket rule must agree with the
    // window's ordering (nulls per null-ordering, NaN sorts largest)
    val df = spark.range(500).select(col("id"),
      when(pmod(col("id"), lit(11)) === 0, lit(null).cast("double"))
        .when(pmod(col("id"), lit(13)) === 0,
          lit(Double.NaN))
        .otherwise(pmod(xxhash64(col("id")), lit(97)).cast("double"))
        .as("v"))
    val gotA = GlobalRank.withGlobalRank(df,
      Seq(col("v").asc_nulls_first, col("id")), "r", numPartitions = 6)
    val wantA = df.withColumn("r",
      row_number().over(W.orderBy(col("v").asc_nulls_first, col("id")))
        .cast("long"))
    sameRows(gotA, wantA)
    val gotD = GlobalRank.withGlobalRank(df,
      Seq(col("v").desc_nulls_last, col("id")), "r", numPartitions = 6)
    val wantD = df.withColumn("r",
      row_number().over(W.orderBy(col("v").desc_nulls_last, col("id")))
        .cast("long"))
    sameRows(gotD, wantD)
  }

  test("string lead key takes the staged fallback and stays exact") {
    val df = data(400).select(
      concat(lit("k"), pmod(col("k"), lit(5)).cast("string")).as("s"),
      col("id"))
    val got = GlobalRank.withGlobalRank(df,
      Seq(col("s"), col("id")), "r", numPartitions = 5)
    val want = df.withColumn("r",
      row_number().over(W.orderBy(col("s"), col("id"))).cast("long"))
    sameRows(got, want)
  }

  test("numeric lead key plans no range shuffle and no staged scan") {
    // the bucketed fast path's only full-width movement is the hash
    // exchange under the bucket-partitioned window — a range exchange
    // or a graft_stage parquet scan means the staged fallback leaked in
    val got = GlobalRank.withGlobalRank(data(100),
      Seq(col("k"), col("id")), "r", numPartitions = 4)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"),
      s"bucketed path planned a range exchange:\n$plan")
    assert(!plan.toLowerCase.contains("graft_stage"),
      s"bucketed path materialized a stage:\n$plan")
  }

  test("withRunningTotal rejects reserved/colliding column names") {
    val df = data(10).withColumn("v", lit(1L))
    intercept[IllegalArgumentException] {
      GlobalRank.withRunningTotal(df, Seq(col("id")), col("v"), "k")
    }
    intercept[IllegalArgumentException] {
      GlobalRank.withRunningTotal(
        df.withColumn("__gr_pid", lit(1)), Seq(col("id")), col("v"))
    }
  }

  test("sampled or unordered-limit lineage takes the staged fallback") {
    // the bucketed path evaluates its input up to three times; a Sample
    // node or a limit over unordered rows may keep different rows on
    // each pass, so both route to the staged fallback, which pins the
    // frame once. A limit over a global sort keeps the fast path.
    def staged(df: org.apache.spark.sql.DataFrame): Boolean = {
      val got = GlobalRank.withGlobalRank(df, Seq(col("k"), col("id")), "r",
        numPartitions = 4)
      // whichever rows were pinned, their ranks are exactly 1..n
      val r = got.select(col("r")).collect().map(_.getLong(0)).sorted
      assert(r.toSeq === (1L to r.length.toLong))
      got.queryExecution.executedPlan.toString.toLowerCase
        .contains("graft_stage")
    }
    val df = data(400).repartition(3)
    assert(staged(df.sample(0.5, seed = 7)), "sample took the fast path")
    assert(staged(df.limit(100)), "unordered limit took the fast path")
    assert(staged(df.select(col("id"), (col("k") + rand(3)).as("k"))),
      "rand() took the fast path")
    assert(!staged(df.orderBy(col("id")).limit(100)),
      "a limit over a global sort left the fast path")
    assert(!staged(df), "deterministic lineage left the fast path")
  }

  test("withNtile and topFraction build with withGlobalRank's job count") {
    // n rides on the in-plan offsets rows, so the only build-time jobs
    // are the boundary samples every path runs
    val df = data(1000)
    val sort = Seq(col("k"), col("id"))
    val (_, rankJobs) = withJobCount(
      GlobalRank.withGlobalRank(df, sort, "r", numPartitions = 4))
    val (nt, ntileJobs) = withJobCount(
      GlobalRank.withNtile(df, sort, 7, "b", numPartitions = 4))
    val (tf, fracJobs) = withJobCount(
      GlobalRank.topFraction(df, sort, 0.3, "r", numPartitions = 4))
    assert(rankJobs > 0, "the boundary sample runs at build time")
    assert(ntileJobs == rankJobs, s"withNtile $ntileJobs vs $rankJobs")
    assert(fracJobs == rankJobs, s"topFraction $fracJobs vs $rankJobs")
    sameRows(nt, df.withColumn("b",
      ntile(7).over(W.orderBy(sort: _*)).cast("long")))
    assert(tf.count() == 300L)
  }

  test("the staged fallback runs no build job after its stage write") {
    // a string lead stages the range-partitioned frame once; the
    // offsets (and ntile's n) stay in the plan over the staged scan,
    // so the build runs exactly the jobs of that stage write
    import graft.operators.Stage
    val df = data(400).select(
      concat(lit("k"), pmod(col("k"), lit(5)).cast("string")).as("s"),
      col("id"))
    val sort = Seq(col("s"), col("id"))
    val (_, writeJobs) = withJobCount(Stage.materialize(
      df.repartitionByRange(4, sort: _*)
        .withColumn("__gr_pid", spark_partition_id()), "gr_spec_write"))
    val (r, rankJobs) = withJobCount(
      GlobalRank.withGlobalRank(df, sort, "r", numPartitions = 4))
    val (nt, ntileJobs) = withJobCount(
      GlobalRank.withNtile(df, sort, 6, "b", numPartitions = 4))
    assert(rankJobs == writeJobs, s"withGlobalRank $rankJobs vs $writeJobs")
    assert(ntileJobs == writeJobs, s"withNtile $ntileJobs vs $writeJobs")
    sameRows(r, df.withColumn("r",
      row_number().over(W.orderBy(sort: _*)).cast("long")))
    sameRows(nt, df.withColumn("b",
      ntile(6).over(W.orderBy(sort: _*)).cast("long")))
  }

  test("withGroupedRank: many groups plus one hot group keep the window, " +
       "no offsets broadcast") {
    // half the rows in one group, the rest over ~1500 small groups:
    // the hot share asks for the split, but groups × B (64 buckets)
    // passes MaxGroupedOffsetRows, so the plain window ranks instead
    val df = spark.range(6000).select(col("id"),
      when(pmod(col("id"), lit(2)) === 0, lit("hot"))
        .otherwise(concat(lit("g"), pmod(col("id"), lit(3001)))).as("g"),
      pmod(xxhash64(col("id"), lit(5)), lit(100L)).as("hk"))
    val got = GlobalRank.withGroupedRank(df, Seq("g"),
      Seq(col("hk"), col("id")), "r", numPartitions = 64)
    sameRows(got, df.withColumn("r", row_number()
      .over(W.partitionBy("g").orderBy(col("hk"), col("id"))).cast("long")))
    val joins = got.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty, s"${joins.size} offsets join(s) planned")
  }
}
