package graft

/** Physical-plan regression guards: the scale-critical plan properties
  * (pruning, pushdown, broadcast, partial aggregation, top-k operator,
  * window group limits) must not silently degrade as queries evolve.
  */
class PlanSpec extends SparkFunSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("q1_agg: partial+final aggregation on a pruned scan") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"), "map-side partial agg missing")
    assert(!p.contains("l_shipdate"), "column pruning lost (full-row scan)")
  }

  test("join_equi: dimension joins are broadcast (fact never shuffles)") {
    val p = plan("join_equi")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("filt_conj: predicates pushed into the parquet scan") {
    val p = plan("filt_conj")
    assert(p.contains("PushedFilters: [IsNotNull"), p.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("no PushedFilters line"))
    assert(p.contains("GreaterThan(l_discount") || p.contains("LessThan(l_quantity"),
      "comparison predicates not pushed")
  }

  test("topk_limit plans TakeOrderedAndProject, not a total sort") {
    val p = plan("topk_limit")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("win_rank plans WindowGroupLimit (partial top-k before shuffle)") {
    val p = plan("win_rank")
    assert(p.contains("WindowGroupLimit"))
  }

  test("dedup_minhash: sketch frame staged once (parquet stage scan)") {
    val p = plan("dedup_minhash")
    assert(p.contains("graft_stage_minhash_sigs"),
      "signature stage checkpoint lost — corpus would be re-hashed per branch")
    assert(!p.contains("InMemoryTableScan"),
      "operator leaked a persist() into the session (stage checkpoint expected)")
  }

  test("join_range: equi-shuffle on user_id, range as join condition") {
    val p = plan("join_range")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      "interval join degraded to nested-loop/cartesian:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("sim_neardup_cos: vectors never ride the LSH self-join shuffle") {
    val p = plan("sim_neardup_cos")
    assert(p.contains("graft_stage_neardup_buckets"),
      "scalar bucket frame stage checkpoint lost")
    // the staged/self-joined frame must be (vec_id, table, bucket, sub,
    // sig) scalars only — an embedding column there means full vectors
    // ride the LSH shuffle
    val staged = p.linesIterator.filter(_.contains("graft_stage_neardup_buckets"))
    assert(staged.nonEmpty && staged.forall(!_.contains("embedding")),
      "embedding column leaked into the bucket self-join frame")
  }

  test("sim_ann_pq: the corpus-wide ADC scan reads codes, not vectors") {
    val p = plan("sim_ann_pq")
    assert(p.contains("graft_stage_pq_codes"),
      "PQ code table stage checkpoint lost")
    // the ADC stage must scan only (vec_id, code) — raw embeddings may
    // appear ONLY via the shortlist rerank join, never the code scan
    val codeScan = p.linesIterator.filter(_.contains("graft_stage_pq_codes"))
    assert(codeScan.nonEmpty && codeScan.forall(!_.contains("embedding")),
      "embedding column leaked into the PQ code scan")
  }

  test("sim_ann_ivfpq: one staged table; cell-restricted scan reads codes") {
    val p = plan("sim_ann_ivfpq")
    assert(p.contains("graft_stage_ivfpq_table"),
      "composite (cell, code) table stage checkpoint lost")
    // the ADC stage must scan (vec_id, cell, code) only — embeddings
    // enter via the shortlist rerank join, never the code scan
    val tScan = p.linesIterator.filter(_.contains("graft_stage_ivfpq_table"))
    assert(tScan.nonEmpty && tScan.forall(!_.contains("embedding")),
      "embedding column leaked into the IVF-PQ code scan")
  }

  // each corpus vector lives in exactly one IVF cell and the probed
  // (qid, cell) set is distinct, so the candidate stream is already
  // duplicate-free — a groupBy(qid, vec_id) here is a wasted full
  // shuffle of every candidate (round-3 carried one)
  private def assertNoAggBetweenCellJoinAndWindow(p: String): Unit = {
    val lines = p.linesIterator.toIndexedSeq
    // anchor on the join whose condition references the IVF cell id —
    // NOT the first Join in the text (AQE/centroid-assignment reorder
    // could make another join print first and void the check)
    val cellJoinIdx = lines.indexWhere(l => l.contains("Join") && l.contains("cell"))
    val windowIdx = lines.indexWhere(_.contains("Window"))
    assert(cellJoinIdx >= 0, "cell join missing:\n" + p.take(1500))
    assert(windowIdx >= 0 && windowIdx < cellJoinIdx,
      "rank window missing or not downstream of the cell join")
    val aggBetween = lines.slice(windowIdx + 1, cellJoinIdx)
      .exists(l => l.contains("HashAggregate") || l.contains("SortAggregate")
        || l.contains("ObjectHashAggregate"))
    assert(!aggBetween,
      "aggregate between cell join and rank window (redundant dedup shuffle)")
  }

  test("sim_ann_ivf: no aggregate between the cell join and the rank window") {
    assertNoAggBetweenCellJoinAndWindow(plan("sim_ann_ivf"))
  }

  test("sim_ann_ivf: the cell-join anchor survives an AQE plan-shape flip") {
    // prove the anchor is not coupled to one optimizer mode: the same
    // assertion must hold on the non-adaptive plan text, whose node
    // ordering/wrapping differs (no AdaptiveSparkPlan shells)
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assertNoAggBetweenCellJoinAndWindow(plan("sim_ann_ivf"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stream_neardup: grouped state payload is (band, bucket, id, sig) — no text") {
    val p = plan("stream_neardup")
    // batch mode plans the same code path as MapGroups (the streaming
    // physical op is FlatMapGroupsWithStateExec under a streaming query)
    val grouped = p.linesIterator
      .filter(l => l.contains("MapGroups") || l.contains("FlatMapGroupsWithState"))
      .toSeq
    assert(grouped.nonEmpty, "near-dup group operator missing:\n" + p.take(800))
    assert(grouped.exists(l => l.contains("band") && l.contains("sig")),
      "grouped payload should be the banded sketch rows")
    assert(grouped.forall(!_.contains("text")),
      "document text leaked into the stateful group payload")
  }

  test("text_tfidf: per-doc top-k runs as a window group limit") {
    val p = plan("text_tfidf")
    assert(p.contains("WindowGroupLimit"),
      "rank<=k not pushed below the window shuffle")
  }

  test("line_dedup: boilerplate blocklist joins broadcast (corpus text never shuffles on line)") {
    val p = plan("line_dedup")
    assert(p.contains("BroadcastHashJoin"),
      "blocklist join not broadcast:\n" + p.take(1200))
  }

  test("text_topterms: partial sketches merge at the exchange (vocabulary never shuffles)") {
    // r14: the registered query collapses to a LocalRelation at build
    // time (topTermsExact certifies or falls back via a bounded
    // collect), so the plan guard targets the sketch STAGE it runs —
    // same frame, pre-collect.
    import org.apache.spark.sql.functions._
    val tok = queries.t(spark, sfDir, "documents")
      .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
      .filter(col("term") =!= "")
    val p = graft.operators.Corpus.topTermsSketch(tok, "term", 256)
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "typed-imperative sketch aggregate missing")
    assert(p.contains("partial_graft_space_saving_topk"),
      "map-side partial sketch lost — the term stream would ride the shuffle:\n" +
        p.take(1200))
  }

  test("corpus_clean: one scan, one shuffle, map-side partial agg") {
    val p = plan("corpus_clean")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"expected a single documents scan, got $scans")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      "fingerprint dedup lost its map-side partial aggregation")
  }

  test("join_bucketed: scans use buckets (shuffle paid at write time)") {
    val p = plan("join_bucketed")
    assert(p.contains("Bucketed: true"), "join not reading bucket files")
  }

  test("join_asof: union+window, never a join operator") {
    val p = plan("join_asof")
    assert(!p.contains("Join"), "as-of degraded to a join:\n" + p.take(1500))
    assert(p.contains("Window"))
  }

  test("proj_select reads only the projected columns") {
    val p = plan("proj_select")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>"))
  }

  test("dedup_incr: probe reads staged index postings, corpus not re-sketched") {
    val p = plan("dedup_incr")
    assert(p.contains("graft_stage_mh_index_bands"),
      "corpus posting index stage lost — probe would re-band the corpus")
    assert(p.contains("graft_stage_mh_index_sigs"),
      "corpus signature stage lost — probe would re-sketch the corpus")
    // the only live minhash computation in the probe plan is the batch's
    // own sketch stage; the corpus columns come from parquet stages
    assert(p.contains("graft_stage_mh_probe_sigs"),
      "batch sketch stage missing")
  }

  test("join_bloom: bloom probe filters the fact side BELOW the join") {
    val p = plan("join_bloom")
    val lines = p.linesIterator.toIndexedSeq
    val joinIdx = lines.indexWhere(_.contains("Join"))
    val probeIdx = lines.indexWhere(_.contains("graft_bloom_might_contain"))
    assert(joinIdx >= 0 && probeIdx >= 0,
      "bloom probe or join missing:\n" + p.take(1500))
    assert(probeIdx > joinIdx,
      "bloom probe not on the fact input of the join (would filter after)")
    // the probe must not break the scan stage's codegen span
    val probeLine = lines(probeIdx)
    assert(!probeLine.trim.startsWith("Filter ") ||
      lines.take(probeIdx).exists(_.contains("WholeStageCodegen")),
      "bloom probe fell out of whole-stage codegen")
  }

  test("join_fuzzy: no cartesian; one block-key shuffle join") {
    val p = plan("join_fuzzy")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "fuzzy join degraded to all-pairs:\n" + p.take(1500))
  }

  test("join_lateral: decorrelated to a ranked join, no nested-loop re-execution") {
    val p = plan("join_lateral")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "lateral subquery fell back to per-row nested loop:\n" + p.take(1500))
    assert(p.contains("WindowGroupLimit"),
      "expected the LIMIT-in-lateral to plan as a map-side-pruned " +
        "ranked window (WindowGroupLimit)")
  }

  test("corpus_cap: rank filter plans WindowGroupLimit; one group exchange") {
    val p = plan("corpus_cap")
    assert(p.contains("WindowGroupLimit"),
      "per-group cap lost its map-side prune (mega-domain skew guard)")
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1,
      s"cap should shuffle once on the group key ($exchanges exchanges)")
  }

  test("decontam_ngram: bench grams broadcast; train side shuffles once") {
    val p = plan("decontam_ngram")
    assert(p.contains("BroadcastHashJoin"),
      "bench gram set must broadcast — a shuffled gram join moves the " +
        "full train gram stream at 100 TB:\n" + p.take(1500))
    // the single exchange is the contamination-sized pair groupBy (its
    // partial aggregate runs map-side on the join output)
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1,
      s"train grams should only shuffle post-collision ($exchanges exchanges)")
  }

  test("text_chunk: pure narrow projection — no exchange at all") {
    val p = plan("text_chunk")
    assert(!p.contains("Exchange"),
      "chunking introduced a shuffle:\n" + p.take(1500))
    assert(p.contains("Generate"), "explode-based chunk expansion missing")
  }

  test("corpus_split: pure narrow projection — no exchange") {
    val p = plan("corpus_split")
    assert(!p.contains("Exchange"),
      "split assignment introduced a shuffle:\n" + p.take(1200))
  }

  test("agg_cube: grouping sets plan ONE Expand over one scan, not per-set rescans") {
    val p = plan("agg_cube")
    assert(p.linesIterator.count(_.contains("Expand [")) == 1,
      "expected exactly one Expand:\n" + p.take(1200))
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      "cube re-scanned the table per grouping set")
  }

  test("stats_table: every column's statistics from ONE scan") {
    val p = plan("stats_table")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      "column stats re-scanned the table:\n" + p.take(1200))
  }

  test("src_pruned: the lang predicate prunes partitions at the scan") {
    val p = plan("src_pruned")
    val pf = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(l => l.contains("lang") && l.contains("= en")),
      "lang filter did not become a partition filter — the read would " +
        s"scan every partition at scale: " +
        pf.getOrElse("no PartitionFilters line in plan"))
    // and it must NOT also appear as a data filter re-checked per row
    assert(!p.contains("PushedFilters: [IsNotNull(lang)"),
      "lang pushed as a data filter: partition columns have no data files")
  }

  test("win_session: both windows and aggregates share ONE user exchange") {
    val p = plan("win_session")
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    // one hashpartitioning(user_id) exchange + AQE may add none beyond it
    assert(exchanges <= 2,
      s"sessionization re-shuffling per step ($exchanges exchanges):\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("ts_theilsen: no pair exchange — histogram selection off-plan") {
    // r18: the O(len²) pair stream no longer shuffles or sorts under a
    // window; the median is selected by bounded aggregate-only passes
    // at build time (RobustStats.groupedMedianExact over the staged
    // hourly grid) and the final plan is the driver-composed result
    // relation. Any Exchange or Window here means the pair pipeline
    // leaked back into the plan.
    val p = plan("ts_theilsen")
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges == 0,
      s"pair/median pipeline re-materialized in-plan ($exchanges " +
        s"exchanges):\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("Window"),
      "pair-sort window leaked back into the ts_theilsen plan")
  }

  test("embed_covar: one embeddings scan, no self-join") {
    // each row generates its own 36 coordinate pairs: a vec_id
    // self-join would scan and explode embeddings twice (or stage them)
    val p = plan("embed_covar")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"$scans scans:\n$p")
    assert(!p.contains("Join") && !p.contains("graft_stage"), p)
  }

  test("class_auc: no unpartitioned window (AUC via two-phase rank, not a sort)") {
    // structural check via the library guard — a string match on the
    // runtime-only "No Partition Defined" phrase would be vacuous
    // (that text never appears in executedPlan.toString)
    val df = SparkEntry.queries("class_auc")(spark, sfDir)
    assert(graft.plans.ScaleGuard.validate(df).isEmpty,
      "AUC degraded to a global-sort ranking: " +
        graft.plans.ScaleGuard.validate(df).mkString("; "))
    // r17: the rank is value-bucketed (sampled-boundary when-tree, no
    // staged range shuffle); the one stage left is the grouped score
    // counts, so GlobalRank's boundary/counts passes scan a tiny file
    // instead of re-running the corpus aggregate
    val p = plan("class_auc")
    assert(p.contains("graft_stage_auc_groups"),
      "grouped-score-counts stage missing — the rank passes would " +
        "re-run the corpus aggregate")
    assert(!p.contains("graft_stage_global_running_total"),
      "staged range-partitioned ranking leaked back in")
  }

  test("join_asof_tol: same single-exchange carry plan as join_asof, no extra join") {
    val p = plan("join_asof_tol")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "staleness bound must be a filter, not a join")
    // union + one user_id window exchange; the tolerance adds NO exchange
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2,
      s"as-of carry re-shuffling ($exchanges exchanges)")
  }

  test("class_centroid: the scored half is one narrow projection — no " +
       "Generate, no Window, model broadcast") {
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val p: SparkPlan =
      SparkEntry.queries("class_centroid")(spark, sfDir)
        .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan // with exchanges
        case other => other
      }
    assert(p.collect { case w: WindowExec => w }.isEmpty,
      "a per-vector rank window is back:\n" + p)
    val joins = p.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(joins.size == 1, "expected one broadcast model join:\n" + p)
    val j = joins.head
    assert(j.right.isInstanceOf[BroadcastExchangeExec],
      "the model row is not the broadcast side:\n" + p)
    // the scored half: scan → filter, nothing exploded or shuffled
    val scored = j.left
    assert(scored.collect { case g: GenerateExec => g }.isEmpty &&
      scored.collect { case e: Exchange => e }.isEmpty,
      "the scored half explodes or shuffles before the kernel:\n" + p)
    // the kernel runs in the projection right above the join
    assert(p.collect { case n if n.children.contains(j) => n }
      .exists(_.expressions.exists(_.toString.contains(
        "graft_nearest_grid_centroid"))),
      "nearest-centroid kernel not in the projection over the join:\n" + p)
  }

  test("ts_cross_corr: one events scan; build runs no job beyond the schema read") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    graft.operators.Stage.drainTimings()
    val (df, buildJobs) =
      withJobCount(SparkEntry.queries("ts_cross_corr")(spark, sfDir))
    val staged = graft.operators.Stage.drainTimings()
    assert(staged.isEmpty, s"the build wrote stages: $staged")
    val (_, schemaJobs) =
      withJobCount(graft.queries.t(spark, sfDir, "events"))
    assert(buildJobs === schemaJobs,
      "the build runs jobs beyond the events schema read (a bounds " +
        "collect or a stage write is back)")
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val scans = p.collect { case f: FileSourceScanExec => f }
    assert(scans.size === 1 && scans.head.relation.location.rootPaths
      .forall(_.toString.endsWith("events.parquet")),
      "expected exactly one events scan and no stage scan:\n" + p)
  }
}
