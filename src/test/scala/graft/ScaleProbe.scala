package graft
import org.apache.spark.sql.functions._
import graft.operators.Dedup
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = ProbeSession()
    import spark.implicits._
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select($"doc_id", $"text")
    for (mult <- Seq(1, 5, 20)) {
      // replicate with perturbed ids and slightly perturbed text so
      // replicas are near-dups (stress candidate generation)
      val corpus = (0 until mult).map { m =>
        base.select(($"doc_id" + lit(m * 10000000L)).as("doc_id"),
          concat($"text", lit(" v" + m)).as("text"))
      }.reduce(_ unionByName _)
      val t0 = System.nanoTime()
      val n = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.5).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"SCALE mult=$mult%2d docs=${5000 * mult}%7d pairs=$n%9d time=$dt%7.1fs")
      spark.catalog.clearCache()
    }
    // cosine near-dup: replicate embeddings with per-replica first-component
    // nudges — replica groups are mutual near-dups, so pair output grows
    // quadratically in mult while the corpus grows linearly (same stress
    // shape as the MinHash probe above).
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val embN = emb.count()
    for (mult <- Seq(1, 5, 20)) {
      val corpus = (0 until mult).map { m =>
        emb.select(($"vec_id" + lit(m * 10000000L)).as("vec_id"),
          transform($"embedding",
            (x, i) => when(i === 0, x + lit(0.001f * m)).otherwise(x))
            .as("embedding"))
      }.reduce(_ unionByName _)
        // materialize: the operator reads its corpus 3× (bucket pass +
        // two id joins); in production that's a parquet re-scan, here it
        // would re-run the interpreted perturbation lambda — cache it so
        // the probe times the operator, not fixture reconstruction
        .persist()
      corpus.count()
      val t0 = System.nanoTime()
      val n = graft.operators.Similarity
        .cosineNearDupPairs(corpus, dim = 64, threshold = 0.999).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"COSINE mult=$mult%2d vecs=${embN * mult}%7d pairs=$n%9d time=$dt%7.1fs")
      spark.catalog.clearCache()
    }
    // cross-corpus contamination: growing train corpus vs a fixed small
    // "benchmark" (100 perturbed train docs + 100 novel ones). The cost
    // driver is the big side's banding pass; the hit count stays pinned
    // at the planted overlap regardless of train size.
    val bench = base.limit(200).select($"doc_id", $"text").collect()
    import spark.implicits._
    val benchDf = bench.zipWithIndex.map { case (r, i) =>
      if (i < 100) (900000L + i, "Q: " + r.getString(1))        // leaked
      else (900000L + i, s"novel benchmark item $i about topic ${i * 7}")
    }.toSeq.toDF("doc_id", "text")
    for (mult <- Seq(1, 20)) {
      val train = (0 until mult).map { m =>
        base.select(($"doc_id" + lit(m * 10000000L)).as("doc_id"),
          concat($"text", lit(" v" + m)).as("text"))
      }.reduce(_ unionByName _)
      val t0 = System.nanoTime()
      val hits = graft.operators.Dedup.crossMinhashPairs(train, benchDf,
        "doc_id", "text", threshold = 0.5)
        .select("right_id").distinct().count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"CONTAM mult=$mult%2d train=${5000 * mult}%7d contaminated=$hits%4d time=$dt%7.1fs")
      spark.catalog.clearCache()
    }
    // MEGA-BUCKET contamination: 5000 boilerplate-IDENTICAL train docs
    // make every band-bucket 5x maxBucketSize. Round 2's cross path
    // dropped oversized buckets wholesale → 0/100 found here; the
    // sub-bucket salting (train side salted, bench side replicated)
    // must keep 100/100 with per-task work still bounded.
    val boiler = (1 to 60).map(i => s"clause$i shared boilerplate term")
      .mkString("this website uses cookies and standard terms ", " ", " end")
    val megaTrain = spark.range(5000)
      .select(($"id" + 30000000L).as("doc_id"), lit(boiler).as("text"))
    val megaBench = spark.range(100)
      .select(($"id" + 40000000L).as("doc_id"),
        concat(lit("Q: "), lit(boiler)).as("text"))
    val tm = System.nanoTime()
    val megaHits = Dedup.crossMinhashPairs(megaTrain, megaBench,
      "doc_id", "text", threshold = 0.5)
      .select("right_id").distinct().count()
    val dtm = (System.nanoTime() - tm) / 1e9
    println(f"MEGA   train=   5000 identical docs, contaminated=$megaHits%4d/100 time=$dtm%7.1fs")
    // PQ vs brute at growing corpus: the ADC scan reads 8-byte codes
    // (32x smaller than the 256-byte vectors), so the corpus-wide cost
    // is dominated by a table that fits where the raw vectors don't.
    // recall = overlap@10 vs exact brute force on the same corpus.
    for (mult <- Seq(1, 20)) {
      val corpus = (0 until mult).map { m =>
        emb.select(($"vec_id" + lit(m * 10000000L)).as("vec_id"),
          transform($"embedding",
            (x, i) => when(i === 0, x + lit(0.001f * m)).otherwise(x))
            .as("embedding"))
      }.reduce(_ unionByName _).persist()
      corpus.count()
      val q = corpus.filter($"vec_id" < 5)
      val tb = System.nanoTime()
      val brute = graft.operators.Similarity.bruteTopK(corpus, q, k = 10)
        .select("qid", "vec_id").as[(Long, Long)].collect().toSet
      val dtb = (System.nanoTime() - tb) / 1e9
      val tp = System.nanoTime()
      val model = graft.operators.Similarity.fitPq(corpus, dim = 64)
      val pq = graft.operators.Similarity.probePq(model, corpus, q, k = 10)
        .select("qid", "vec_id").as[(Long, Long)].collect().toSet
      val dtp = (System.nanoTime() - tp) / 1e9
      val recall = (brute & pq).size.toDouble / brute.size
      println(f"PQ     mult=$mult%2d vecs=${embN * mult}%7d recall@10=$recall%.3f brute=$dtb%6.1fs fit+probe=$dtp%6.1fs")
      spark.catalog.clearCache()
    }
    // SKEW: manual salting (SkewJoin.saltedJoin) vs AQE's runtime
    // skew-split on the same whale-key join — which is the 100× default?
    // Shape: 8M-row fact side with ONE key holding 50% of all rows,
    // 10k-key dim side forced non-broadcastable (at 100 TB the dim that
    // fits in driver memory gets broadcast and skew never matters; this
    // probes the shuffled-join regime where it does).
    {
      val nFact = 8000000L
      val nKeys = 10000L
      val fact = spark.range(nFact).select(
        when($"id" % 2 === 0, lit(0L))
          .otherwise(pmod(xxhash64($"id"), lit(nKeys))).as("k"),
        ($"id" % 97).cast("double").as("v")).persist()
      fact.count()
      val dim = spark.range(nKeys).select($"id".as("k"),
        concat(lit("b"), $"id" % 25).as("b")).persist()
      dim.count()
      val savedBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      def timed(name: String)(f: => Long): Unit = {
        val t0 = System.nanoTime(); val n = f
        println(f"SKEW   $name%-14s rows=$n%9d time=${(System.nanoTime() - t0) / 1e9}%6.1fs")
      }
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      timed("smj-no-aqe")(fact.join(dim, "k").groupBy("b").count().count())
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      timed("smj-aqe-skew")(fact.join(dim, "k").groupBy("b").count().count())
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      timed("salted8-no-aqe")(graft.operators.SkewJoin
        .saltedJoin(fact, dim, "k", salt = 8).groupBy("b").count().count())
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      timed("salted8-aqe")(graft.operators.SkewJoin
        .saltedJoin(fact, dim, "k", salt = 8).groupBy("b").count().count())
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
      spark.catalog.clearCache()
    }
    // CONNECTED COMPONENTS at scale: 1.5M edges over 1M nodes (mixed
    // chain + pseudo-random topology so components are non-trivial).
    // The bounded union-find fast path and the distributed
    // alternating-star loop must agree exactly (checksum: component
    // count + label sum); the timings document the crossover that
    // justifies the default 1M-edge local limit.
    {
      import graft.operators.ConnectedComponents
      val edges = spark.range(1000000).select(
        col("id").as("a"), ((col("id") * 2654435761L) % 1000000L).as("b"))
        .unionByName(spark.range(500000).select(
          (col("id") * 2L).as("a"), (col("id") * 2L + 1L).as("b")))
      def checksum(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
        val r = df.agg(count(lit(1)), countDistinct(col("cluster")),
          sum(col("cluster"))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val t0 = System.nanoTime()
      val local = checksum(ConnectedComponents.labels(edges, "a", "b",
        localEdgeLimit = 10000000L))
      val dtL = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val dist = checksum(ConnectedComponents.labels(edges, "a", "b",
        localEdgeLimit = 0L))
      val dtD = (System.nanoTime() - t1) / 1e9
      require(local == dist,
        s"CC paths disagree at scale: local=$local dist=$dist")
      println(f"CC     edges=1500000 nodes=${local._1}%8d comps=${local._2}%7d " +
        f"local=$dtL%6.1fs distributed=$dtD%6.1fs")
    }
    // SPACE-SAVING at adversarial cardinality: 20M tokens over ~2M
    // distinct terms (approx-zipf: term j repeats ~N/j times for the
    // head, singletons in the tail) through capacity-4096 sketches —
    // the eviction path runs millions of times; the true heavy hitters
    // must survive with valid bounds and bounded memory.
    {
      val n = 20000000L
      val terms = spark.range(n).select(
        // id -> rank r with frequency ~ N/r^2 head + unique tail
        when(col("id") % 4 === 0, concat(lit("hot"),
            pmod(xxhash64(col("id")), lit(10L))))
          .when(col("id") % 4 === 1, concat(lit("warm"),
            pmod(xxhash64(col("id"), lit(1L)), lit(10000L))))
          .otherwise(concat(lit("tail"), col("id"))).as("term"))
      val t0 = System.nanoTime()
      val top = terms
        .agg(graft.functions.TextFns.topTerms(col("term"), 10, 4096).as("t"))
        .selectExpr("inline(t)")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val dt = (System.nanoTime() - t0) / 1e9
      // every hot term has true count ~n/4/10 = 500k >> N/capacity ≈ 4.9k,
      // so Space-Saving guarantees all 10 are present; bounds are
      // checked against the EXACT per-term counts (the hash split is
      // binomial, not exactly n/40)
      val hotFound = top.count(_._1.startsWith("hot"))
      val trueHot = terms.filter(col("term").startsWith("hot"))
        .groupBy("term").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val boundsOk = top.filter(_._1.startsWith("hot")).forall { case (t, c, e) =>
        c >= trueHot(t) && c - e <= trueHot(t) }
      require(hotFound == 10 && boundsOk,
        s"heavy hitters lost or bounds violated: ${top.toList} vs $trueHot")
      println(f"TOPK   tokens=$n%9d distinct~2M cap=4096 hot=$hotFound/10 " +
        f"bounds_ok=$boundsOk time=$dt%6.1fs")
    }
    // SIMHASH grid cover at mega-bucket scale: n IDENTICAL docs put
    // every (chunk, key) bucket at size n — the worst case for the
    // oversize guardrail (nsub = n/1000 grid per chunk). SimHash's
    // pigeonhole recall is deterministic, so unlike the probabilistic
    // MinHash paths the capped output must stay EXACT: all n(n-1)/2
    // pairs at hamming 0, per-task pair work bounded at ~4·cap².
    for (n <- Seq(2000L, 6000L)) {
      val docs = spark.range(n)
        .select(col("id").as("doc_id"), lit(boiler).as("text"))
      val t0 = System.nanoTime()
      val pairs = Dedup.simhashPairs(docs, "doc_id", "text").count()
      val dt = (System.nanoTime() - t0) / 1e9
      require(pairs == n * (n - 1) / 2,
        s"simhash grid cover lost pairs: $pairs of ${n * (n - 1) / 2}")
      println(f"SIMHASH docs=$n%6d (8 mega-buckets) pairs=$pairs%9d " +
        f"exact time=$dt%6.1fs")
    }
    spark.stop()
  }
}
