package graft

import org.apache.spark.sql.functions._

/** One-command scale gate (`sbt "Test/runMain graft.ScaleGate"`): re-runs the
  * probes whose scaling behavior the 100 TB posture rests on — dedup
  * candidate generation, GlobalRank two-phase ranking, the RobustStats
  * iterative-histogram selections (median + weighted median), the
  * Skyline sort-sweep, and Bfs — at their largest configs, and ASSERTS
  * the recorded shape instead of just printing a table the reader has
  * to eyeball:
  *
  *  - GlobalRank 10M → 50M rows: every stage is parallel (boundary sample,
  *    bucket-partitioned window, in-plan broadcast offsets), so 5× the rows must cost
  *    ≤ 5× × 1.5 slack. Exact parity vs the single-partition window is
  *    asserted at 1M first.
  *  - RobustStats 10M → 100M rows: the pass count is FIXED (~2-3
  *    full-scan aggregates with 2048 constant-size partials), so 10× the
  *    rows must cost ≤ 3× — the sub-linear signature that distinguishes
  *    the histogram selection from anything sort-based. Parity vs
  *    `percentile()` is asserted at 1M first.
  *  - Cross-corpus contamination 5k → 100k train docs vs a fixed
  *    200-doc benchmark: the cost driver is the big side's banding
  *    pass (linear in train size) and the planted 100 leaked items must
  *    be found at BOTH scales — 20× the train must cost ≤ 20× × 1.5,
  *    and recall must not move with scale.
  *
  * Ratio gates (not absolute seconds) keep the gate meaningful under
  * moderate host contention — uniform slowdown cancels in the division.
  * A pathological mid-run load spike can still trip it; rerun on a
  * quiet host before believing a failure.
  */
object ScaleGate {
  def main(args: Array[String]): Unit = {
    val spark = ProbeSession()
    import spark.implicits._

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    var failures = List.empty[String]
    def gate(name: String, cond: Boolean, detail: String): Unit = {
      println(f"GATE $name%-28s ${if (cond) "PASS" else "FAIL"} $detail")
      if (!cond) failures ::= s"$name: $detail"
    }

    // ---- GlobalRank: parity at 1M, near-linear 10M → 50M ----
    def grData(n: Long) = spark.range(n)
      .select($"id", pmod(xxhash64($"id"), lit(1000)).as("k"))
    val grSmall = grData(1000000L)
    val two = graft.operators.GlobalRank
      .withGlobalRank(grSmall, Seq($"k", $"id"), "r")
    val win = grSmall.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy($"k", $"id"))
      .cast("long"))
    val mism = two.exceptAll(win).count() + win.exceptAll(two).count()
    gate("grank-parity@1M", mism == 0L, s"mismatches=$mism")
    def grRun(n: Long): Double = {
      val (mx, dt) = timed {
        graft.operators.GlobalRank
          .withGlobalRank(grData(n), Seq($"k", $"id"), "r")
          .agg(max($"r")).head().getLong(0)
      }
      assert(mx == n, s"rank range broken at n=$n")
      dt
    }
    val g10 = grRun(10000000L)
    val g50 = grRun(50000000L)
    gate("grank-linear 10M->50M", g50 / g10 <= 7.5,
      f"t10=$g10%.1fs t50=$g50%.1fs ratio=${g50 / g10}%.1f (rows 5x, bound 7.5)")

    // ---- RobustStats: parity at 1M, sub-linear 10M → 100M ----
    def rsData(n: Long) = spark.range(n)
      .select((pmod(xxhash64(col("id")), lit(1000003)).cast("double") +
        pmod(xxhash64(col("id"), lit(7)), lit(997)).cast("double") / 1000.0)
        .as("x"))
    val rsSmall = rsData(1000000L)
    val want = rsSmall.selectExpr("percentile(x, 0.5D) AS p").head().getDouble(0)
    val got = graft.operators.RobustStats.medianExact(rsSmall, col("x"))
    gate("rstats-parity@1M", got == want, s"exact=$got percentile=$want")
    val (_, r10) = timed(
      graft.operators.RobustStats.medianExact(rsData(10000000L), col("x")))
    val (_, r100) = timed(
      graft.operators.RobustStats.medianExact(rsData(100000000L), col("x")))
    gate("rstats-sublinear 10M->100M", r100 / r10 <= 3.0,
      f"t10=$r10%.1fs t100=$r100%.1fs ratio=${r100 / r10}%.1f (rows 10x, bound 3.0)")

    // ---- Weighted median: same sub-linear signature as the unweighted
    // selection (identical pass structure, per-bucket weight sums in
    // place of counts) — parity vs a local cumulative-weight walk at
    // 1M, then 10M → 100M must stay ≤ 3× like rstats ----
    def wmData(n: Long) = spark.range(n)
      .select((pmod(xxhash64(col("id")), lit(1000003)).cast("double") / 3.0)
          .as("v"),
        (pmod(xxhash64(col("id"), lit(13)), lit(31L)) + 1).as("w"))
    val wmSmall = wmData(1000000L)
    val wmLocal = {
      val rows = wmSmall.as[(Double, Long)].collect().sortBy(_._1)
      val thr = (rows.map(_._2).sum + 1) / 2
      var acc = 0L
      rows.find { case (_, w) => acc += w; acc >= thr }.get._1
    }
    val (wmGot, _) = graft.operators.RobustStats.weightedMedianExact(
      wmSmall, col("v"), col("w"))
    gate("wmedian-parity@1M", wmGot == wmLocal,
      s"exact=$wmGot local=$wmLocal")
    val (_, w10) = timed(graft.operators.RobustStats.weightedMedianExact(
      wmData(10000000L), col("v"), col("w")))
    val (_, w100) = timed(graft.operators.RobustStats.weightedMedianExact(
      wmData(100000000L), col("v"), col("w")))
    gate("wmedian-sublinear 10M->100M", w100 / w10 <= 3.0,
      f"t10=$w10%.1fs t100=$w100%.1fs ratio=${w100 / w10}%.1f (rows 10x, bound 3.0)")

    // ---- Dedup cross-corpus contamination: linear in train, recall pinned ----
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select($"doc_id", $"text")
    val bench = base.limit(200).collect()
    val benchDf = bench.zipWithIndex.map { case (r, i) =>
      if (i < 100) (900000L + i, "Q: " + r.getString(1)) // leaked
      else (900000L + i, s"novel benchmark item $i about topic ${i * 7}")
    }.toSeq.toDF("doc_id", "text")
    def contam(mult: Int): (Long, Double) = {
      val train = (0 until mult).map { m =>
        base.select(($"doc_id" + lit(m * 10000000L)).as("doc_id"),
          concat($"text", lit(" v" + m)).as("text"))
      }.reduce(_ unionByName _)
      timed {
        graft.operators.Dedup.crossMinhashPairs(train, benchDf,
          "doc_id", "text", threshold = 0.5)
          .select("right_id").distinct().count()
      }
    }
    val (h1, c1) = contam(1)
    val (h20, c20) = contam(20)
    gate("contam-recall pinned", h1 == h20 && h20 >= 95L,
      s"hits@5k=$h1 hits@100k=$h20 (planted 100)")
    gate("contam-linear 5k->100k", c20 / c1 <= 30.0,
      f"t1=$c1%.1fs t20=$c20%.1fs ratio=${c20 / c1}%.1f (train 20x, bound 30)")

    // ---- Skyline sort-sweep: parity vs the broadcast anti-join at 1M
    // rows / 100k distinct levels (a cardinality the anti-join only
    // survives because 100k levels still broadcast — the sweep never
    // relies on that), then near-linear 10M → 50M rows at 1M distinct
    // levels, where the level table is far beyond broadcast range.
    // Every stage is a bounded exchange: per-level min, range shuffle
    // of the LEVEL frame, p-row driver prefix-min, join-back ----
    def skData(n: Long, levels: Long) = spark.range(n).select(
      pmod(xxhash64($"id", lit(3)), lit(levels)).as("mx"),
      pmod(xxhash64($"id", lit(4)), lit(1000000L)).as("mn"),
      $"id")
    val skSmall = skData(1000000L, 100000L)
    val skLv = skSmall.groupBy("mx").agg(min("mn").as("mn"))
    val viaAnti = graft.operators.Skyline.frontier2d(skLv, "mx", "mn")
    val viaSweep = graft.operators.Skyline.frontierSweep(skLv, "mx", "mn")
    val skMism = viaAnti.exceptAll(viaSweep).count() +
      viaSweep.exceptAll(viaAnti).count()
    gate("skyline-parity@1M", skMism == 0L, s"mismatches=$skMism")
    def skRun(n: Long): Double = timed(
      graft.operators.Skyline
        .frontierSweep(skData(n, 1000000L), "mx", "mn")
        .count())._2
    skRun(1000000L) // warm the shape
    val (s10, s50) = (skRun(10000000L), skRun(50000000L))
    gate("skyline-linear 10M->50M", s50 / s10 <= 7.5,
      f"t10=$s10%.1fs t50=$s50%.1fs ratio=${s50 / s10}%.1f (rows 5x, bound 7.5)")

    // ---- Bfs: per-round cost near-linear in |E|, 1M -> 4M edges ----
    def bfsRun(nEdges: Long): Double = {
      // pseudo-random sparse digraph over n/8 nodes: src/dst from
      // independent xxhash64 streams (content-derived, no rand())
      val v = nEdges / 8
      val ed = spark.range(nEdges).select(
        pmod(xxhash64($"id", lit(1)), lit(v)).as("src"),
        pmod(xxhash64($"id", lit(2)), lit(v)).as("dst"))
      val seeds = spark.range(v / 1000).select(($"id" * 1000).as("node"))
      timed(graft.operators.Bfs.distances(ed, seeds, maxHops = 3)
        .groupBy("dist").count().count())._2
    }
    bfsRun(200000L) // warm the shape
    val (b1, b4) = (bfsRun(1000000L), bfsRun(4000000L))
    gate("bfs-linear 1M->4M", b4 / b1 <= 7.0,
      f"t1=$b1%.1fs t4=$b4%.1fs ratio=${b4 / b1}%.1f (edges 4x, bound 7)")

    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"ScaleGate FAILED:\n  ${failures.mkString("\n  ")}")
      sys.exit(1)
    }
    println("ScaleGate: all gates passed")
  }
}
