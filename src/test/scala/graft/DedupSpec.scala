package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Stage}

/** Dedup family (SURVEY.md §2 [EXT]): planted near-duplicates must be
  * found; disjoint documents must not pair; estimates must track exact
  * Jaccard.
  */
class DedupSpec extends SparkFunSuite {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away " +
      "while the sun sets slowly behind the tall green hills tonight"

  private def corpus = Seq(
    (1L, base),
    (2L, base + " extra"), // near-dup of 1
    (3L, "completely different text about spark query engines and " +
      "distributed columnar execution at terabyte scale with shuffles"),
    (4L, "unrelated short note"),
    (5L, base.replace("fox", "cat")) // near-dup of 1
  ).toDF("doc_id", "text")

  test("shingleHashes: distinct, 31-bit, deterministic") {
    val hs = corpus.select(Dedup.shingleHashes($"text").as("h"))
      .as[Seq[Long]].collect()
    hs.foreach { arr =>
      assert(arr.nonEmpty)
      assert(arr.forall(h => h >= 0 && h <= 0x7fffffffL))
      assert(arr.distinct.length === arr.length)
    }
    val again = corpus.select(Dedup.shingleHashes($"text").as("h"))
      .as[Seq[Long]].collect()
    assert(hs.toSeq === again.toSeq)
  }

  test("minhash signature has k entries; identical docs agree fully") {
    val df = Seq((1L, base), (2L, base)).toDF("id", "text")
    val sigs = df.select(Dedup.minhashSignature($"text", k = 64).as("s"))
      .as[Seq[Long]].collect()
    assert(sigs.forall(_.length === 64))
    assert(sigs(0) === sigs(1))
  }

  test("minhashPairs finds planted near-dups and not disjoint docs") {
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 5L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("crossMinhashPairs: contaminated bench docs pair with train only") {
    val train = corpus
    val bench = Seq(
      (100L, "Q: " + base),            // leaked copy of train doc 1
      (101L, "entirely novel benchmark question about astronomy and " +
        "the formation of spiral galaxies in the early universe epochs")
    ).toDF("doc_id", "text")
    val hits = Dedup.crossMinhashPairs(train, bench, "doc_id", "text",
      threshold = 0.3)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(hits.contains((1L, 100L)))
    assert(!hits.exists(_._2 == 101L))
  }

  test("est_jaccard tracks exact jaccard within MinHash error") {
    val cand = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.3)
    val verified = Dedup.jaccardVerify(cand, corpus, "doc_id", "text")
      .join(cand, Seq("id_a", "id_b"))
      .select($"jaccard", $"est_jaccard").as[(Double, Double)].collect()
    verified.foreach { case (exact, est) =>
      assert(math.abs(exact - est) < 0.25) // k=64 → σ≈0.06, 4σ margin
    }
  }

  test("simhashPairs finds planted near-dups with small hamming") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text")
      .as[(Long, Long, Int)].collect()
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)))
    pairs.filter(p => (p._1, p._2) == ((1L, 2L))).foreach(p => assert(p._3 <= 7))
  }

  test("verifiedPairs: one shingle pass, matches verify-after-candidates") {
    val got = Dedup.verifiedPairs(corpus, "doc_id", "text",
      finalThreshold = 0.3)
      .select($"id_a", $"id_b", round($"jaccard", 6).as("j"))
      .as[(Long, Long, Double)].collect().toSet
    val expected = Dedup.jaccardVerify(
      Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.0),
      corpus, "doc_id", "text")
      .filter($"jaccard" >= 0.3)
      .select($"id_a", $"id_b", round($"jaccard", 6).as("j"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got === expected)
    assert(got.exists { case (a, b, _) => (a, b) == ((1L, 2L)) })
  }

  test("crossVerifiedPairs: exact-verified contamination, train side only") {
    val bench = Seq(
      (100L, "Q: " + base),
      (101L, "entirely novel benchmark question about astronomy and " +
        "the formation of spiral galaxies in the early universe epochs")
    ).toDF("doc_id", "text")
    val hits = Dedup.crossVerifiedPairs(corpus, bench, "doc_id", "text",
      finalThreshold = 0.3)
      .select($"left_id", $"right_id", $"jaccard")
      .as[(Long, Long, Double)].collect()
    assert(hits.exists(h => (h._1, h._2) == ((1L, 100L)) && h._3 > 0.8))
    assert(!hits.exists(_._2 == 101L))
  }

  test("incremental index: probe finds cross dups, agrees with cross path") {
    val idx = Dedup.buildMinhashIndex(corpus, "doc_id", "text")
    val batch = Seq(
      (100L, base + " zz"), // near-dup of corpus 1 (and 2, 5)
      (101L, "totally fresh topic on oceanography currents and tides " +
        "moving across the planet with lunar gravitational forcing")
    ).toDF("doc_id", "text")
    val got = Dedup.probeMinhashIndex(idx, batch, "doc_id", "text",
        threshold = 0.35)
      .select($"corpus_id", $"batch_id", $"est_jaccard")
      .as[(Long, Long, Double)].collect()
    assert(got.exists(h => (h._1, h._2) == ((1L, 100L)) && h._3 > 0.7))
    assert(!got.exists(_._2 == 101L))
    // the persisted-index probe must equal the one-shot cross path
    val cross = Dedup.crossMinhashPairs(corpus, batch, "doc_id", "text",
        threshold = 0.35)
      .select($"left_id", $"right_id", $"est_jaccard")
      .as[(Long, Long, Double)].collect()
    assert(got.map(h => (h._1, h._2)).toSet ===
      cross.map(h => (h._1, h._2)).toSet)
    // a SECOND batch probes the same staged postings (index reuse)
    val batch2 = Seq((200L, base.replace("dog", "dog!") + " yy"))
      .toDF("doc_id", "text")
    val again = Dedup.probeMinhashIndex(idx, batch2, "doc_id", "text",
        threshold = 0.35)
      .select($"batch_id").distinct().as[Long].collect()
    assert(again.toSeq === Seq(200L))
  }

  test("mega-bucket sub-salting keeps self-join recall (band-decorrelated)") {
    // 120 identical docs, cap 40 → every band-bucket splits into 3 subs.
    // With the (id, band) salt a pair separated in one band meets with
    // fresh probability elsewhere: P(meet) = 1-(2/3)^16 ≈ 0.9985. An
    // id-only salt would split every pair the SAME way in all 16 bands
    // and find only ~1/3 of pairs — this spec pins the decorrelation.
    val docs = (0L until 120L).map((_, base)).toDF("doc_id", "text")
    val found = Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5, maxBucketSize = 40).count()
    val all = 120L * 119 / 2
    assert(found >= (all * 0.99).toLong,
      s"mega-bucket recall collapsed: $found of $all pairs")
  }

  test("simhash grid cover: mega-bucket capping loses ZERO pairs") {
    // 90 identical docs — every (chunk, key) bucket holds all 90 rows,
    // so cap 16 forces nsub = 6 grid cells. SimHash's pigeonhole recall
    // is deterministic (unlike MinHash's per-band re-roll), so the
    // capped output must EQUAL the uncapped all-pairs output exactly.
    val docs = (0L until 90L).map((_, base)).toDF("doc_id", "text")
    val capped = Dedup.simhashPairs(docs, "doc_id", "text",
      maxBucketSize = 16).as[(Long, Long, Int)].collect()
    assert(capped.length === 90 * 89 / 2,
      s"grid cover lost ${90 * 89 / 2 - capped.length} pairs")
    assert(capped.forall(_._3 === 0))
    // mixed corpus (near-dups + disjoint docs), pathological cap 1:
    // output set identical to the effectively-uncapped run.
    val loose = Dedup.simhashPairs(corpus, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSet
    val tight = Dedup.simhashPairs(corpus, "doc_id", "text",
      maxBucketSize = 1).as[(Long, Long, Int)].collect().toSet
    assert(tight === loose)
  }

  test("ngramContamination flags partial quotes that Jaccard misses") {
    val words = (1 to 40).map(i => s"tok$i")
    val train = Seq(
      (1L, words.mkString(" ")),
      (2L, (100 to 140).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    // bench 100 quotes train tokens 10..24 behind a prefix: 16 tokens,
    // whole-doc jaccard 15/41 ≈ 0.37 — below any near-dup threshold —
    // but 3 of its 4 13-grams collide exactly. bench 101 is novel.
    val bench = Seq(
      (100L, "question " + words.slice(9, 24).mkString(" ")),
      (101L, (200 to 240).map(i => s"novel$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.ngramContamination(train, bench, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 100L, 3L)))
    // the Jaccard pipeline stays silent on the same plant — this op
    // exists precisely for that gap
    assert(Dedup.crossVerifiedPairs(train, bench, "doc_id", "text",
      finalThreshold = 0.5).count() === 0)
    // short docs (< n tokens) produce no grams and cannot collide
    val tiny = Seq((3L, "a b c")).toDF("doc_id", "text")
    assert(Dedup.ngramContamination(tiny, bench, "doc_id", "text")
      .count() === 0)
  }

  test("exactByKey keeps min id and counts dups") {
    val df = Seq((10L, "x"), (7L, "x"), (3L, "y")).toDF("id", "t")
    val r = Dedup.exactByKey(df, "id", col("t")).orderBy("dedup_key")
      .as[(String, Long, Long)].collect().toSeq
    assert(r === Seq(("x", 7L, 2L), ("y", 3L, 1L)))
  }

  test("duplicatedSpans: positions, run merging, and edge docs") {
    // doc 1: tokens 1..20; doc 2 quotes tokens 3..12 then diverges,
    // and ALSO quotes tokens 15..18 (too short for an 8-gram alone —
    // must contribute nothing). doc 3 is fully novel. doc 4 is shorter
    // than n and must not appear at all.
    val w = (1 to 20).map(i => s"w$i")
    val docs = Seq(
      (1L, w.mkString(" ")),
      (2L, (w.slice(2, 12) ++ (1 to 10).map(i => s"x$i")).mkString(" ")),
      (3L, (1 to 20).map(i => s"z$i").mkString(" ")),
      (4L, "a b c")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // shared gram run in doc 1: grams starting at 3..5 (w3..w12 window)
    // -> 3 positions, ONE maximal span; 13 grams total
    assert(got(1L) === ((13L, 3L, 1L, 0.2308)))
    assert(got(2L) === ((13L, 3L, 1L, 0.2308)))
    assert(got(3L) === ((13L, 0L, 0L, 0.0)))
    assert(!got.contains(4L))
  }

  test("leakage-safe split: near-duplicates never straddle the boundary") {
    // 40 distinct docs; every 4th re-entered verbatim under id+1000 —
    // the near-dup pair MUST land in one split, whatever the split is
    val base = (0L until 40L).map(i =>
      (i, (0 until 30).map(j => s"w${i}_$j").mkString(" ")))
    val docs = (base ++ base.filter(_._1 % 4 == 0)
      .map { case (i, t) => (i + 1000L, t) }).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.35)
      .select($"id_a", $"id_b")
    val labels = graft.operators.ConnectedComponents
      .labels(pairs, "id_a", "id_b")
    val labeled = docs.select($"doc_id")
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"cluster", $"doc_id").as("cluster_id"))
    val split = graft.operators.Sampling.assignSplits(labeled,
      $"cluster_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      portable = true)
    // identical copies must cluster, and every cluster gets ONE split
    val rows = split.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byCluster = rows.groupBy(_._2)
    assert(byCluster.exists(_._2.length == 2), "no near-dup clustered")
    byCluster.values.foreach { g =>
      assert(g.map(_._3).distinct.length == 1,
        s"cluster straddles splits: ${g.mkString(",")}")
    }
    // and the verbatim copies specifically share their original's split
    val m = rows.map(r => r._1 -> r._3).toMap
    (0L until 40L by 4).foreach { i =>
      assert(m(i) === m(i + 1000L), s"doc $i and its copy split apart")
    }
  }

  test("duplicatedSpans: disjoint repeats count as separate spans") {
    // doc 10 and 11 share two NON-adjACENT 8-gram passages; the run
    // grouping must report 2 spans, not 1
    val a = (1 to 8).map(i => s"p$i")
    val b = (1 to 8).map(i => s"q$i")
    val docs = Seq(
      (10L, (a ++ Seq("u1", "u2", "u3") ++ b).mkString(" ")),
      (11L, (a ++ Seq("v1", "v2", "v3") ++ b).mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(got.length === 2)
    got.foreach { r =>
      assert(r._3 === 2L, s"expected 2 dup positions, got $r")
      assert(r._4 === 2L, s"expected 2 separate spans, got $r")
    }
  }

  test("scrubSubstrings removes every occurrence of a duplicated " +
      ">= n-token passage and keeps unique text (hand-checked)") {
    // docs 1 and 2 share the 6-token passage "alpha beta gamma delta
    // epsilon zeta"; with n = 5 its two 5-gram windows are duplicated,
    // so all 6 tokens go from BOTH docs; doc 3 shares only 4 tokens —
    // below the cut, untouched. Null text (doc 4) keeps its row.
    val docs = Seq(
      (1L, "one two alpha beta gamma delta epsilon zeta three"),
      (2L, "alpha beta gamma delta epsilon zeta four five six"),
      (3L, "alpha beta gamma delta seven eight nine ten eleven"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .scrubSubstrings(docs, "doc_id", "text", n = 5, minDocs = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 9L, 6L, 1L, "one two three"),
      (2L, 9L, 6L, 1L, "four five six"),
      (3L, 9L, 0L, 0L, "alpha beta gamma delta seven eight nine ten eleven"),
      (4L, 0L, 0L, 0L, "")), got.mkString("\n"))
  }

  test("scrubSubstrings merges overlapping duplicated windows into " +
      "one span and is partitioning-invariant") {
    // three copies of a 7-token run: with n = 5, starts at 3 positions
    // cover one contiguous 7-token span per doc (n_spans = 1)
    val run = "p q r s t u v"
    val docs = Seq(
      (1L, s"a b $run c d"), (2L, s"e $run f g h"), (3L, s"$run w x y z"))
      .toDF("doc_id", "text")
    for (parts <- Seq(1, 7)) {
      val got = graft.operators.Dedup
        .scrubSubstrings(docs.repartition(parts), "doc_id", "text",
          n = 5, minDocs = 2)
        .orderBy("doc_id")
        .as[(Long, Long, Long, Long, String)].collect().toSeq
      assert(got == Seq(
        (1L, 11L, 7L, 1L, "a b c d"),
        (2L, 11L, 7L, 1L, "e f g h"),
        (3L, 11L, 7L, 1L, "w x y z")), s"parts=$parts\n" + got.mkString("\n"))
    }
  }

  test("scrubSubstrings high-duplication parity: narrow stage 1 + " +
      "regenerated grams equal a brute-force reference") {
    // r17 (stage-1 hardening): nearly EVERY position is a candidate —
    // 40 docs all sharing one hot passage plus a unique tail — so the
    // hash prefilter keeps most of the corpus and the regenerated-gram
    // path (not a broadcast fast path) does the exact confirmation.
    // Parity oracle: a driver-side brute-force recomputation of the
    // removal set from first principles (every n-gram occurring in
    // >= 2 distinct docs, cover = union of its windows).
    val n = 4
    val hot = (1 to 10).map(i => s"hot$i").mkString(" ")
    val docsSeq = (1L to 40L).map(i => (i, s"$hot u${i}a u${i}b u${i}c"))
    val docs = docsSeq.toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .scrubSubstrings(docs, "doc_id", "text", n = n, minDocs = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    // brute-force reference
    val toks = docsSeq.map { case (id, t) => id -> t.split(" ").toSeq }
    val gramDocs = scala.collection.mutable.Map.empty[Seq[String], Set[Long]]
    toks.foreach { case (id, tk) =>
      tk.sliding(n).foreach(g =>
        if (g.length == n) gramDocs(g) = gramDocs.getOrElse(g, Set()) + id)
    }
    val expect = toks.map { case (id, tk) =>
      val starts = tk.sliding(n).zipWithIndex.collect {
        case (g, i) if g.length == n && gramDocs(g).size >= 2 => i
      }.toSet
      val covered = starts.flatMap(s => s until (s + n))
      val kept = tk.zipWithIndex.collect {
        case (w, i) if !covered.contains(i) => w }
      val spans = covered.toSeq.sorted.foldLeft((0L, -10)) {
        case ((cnt, prev), p) =>
          (if (p == prev + 1) cnt else cnt + 1, p) }._1
      (id, tk.length.toLong, covered.size.toLong, spans, kept.mkString(" "))
    }
    assert(got == expect, got.take(3).mkString("\n"))
  }

  // ---- sketchHammingPairs: adversarial exact parity ----
  // the 64-bit-sketch all-pairs core under the mega-clone-group shape
  // (same-signature branch) and the cross-signature grid cover with
  // nsub > 1 chunk blocks; truth is brute-force bitCount(xor) <=
  // maxDist over every id pair, seeded so a failure reproduces

  /** All-pairs truth: canonical (id_a < id_b, hamming). */
  private def bruteHamming(rows: Seq[(Long, Long)], maxDist: Int): Set[(Long, Long, Int)] = {
    val arr = rows.toArray
    val out = Set.newBuilder[(Long, Long, Int)]
    var i = 0
    while (i < arr.length) {
      var j = i + 1
      while (j < arr.length) {
        val h = java.lang.Long.bitCount(arr(i)._2 ^ arr(j)._2)
        if (h <= maxDist) {
          val (a, b) = (arr(i)._1, arr(j)._1)
          out += ((math.min(a, b), math.max(a, b), h))
        }
        j += 1
      }
      i += 1
    }
    out.result()
  }

  private def hammingPairs(rows: Seq[(Long, Long)], maxDist: Int,
                  maxBucketSize: Int): Set[(Long, Long, Int)] = {
    val sk = Stage.materialize(rows.toDF("id", "sh"), "dedup_fuzz_sk")
    Dedup.sketchHammingPairs(sk, maxDist, maxBucketSize)
      .as[(Long, Long, Int)].collect().toSet
  }

  test("mega clone group (20x maxBucketSize): exact pair parity, no loss") {
    // one exact-clone signature group FAR above the cap — the shape
    // whose size count must not funnel through a single window task —
    // plus background signatures within and beyond maxDist of it
    val rnd = new Random(11)
    val cloneSig = rnd.nextLong()
    val cap = 50
    val clones = (0 until 20 * cap).map(i => (i.toLong, cloneSig))
    val near = (0 until 40).map { i => // 1-3 bits flipped: cross pairs
      var s = cloneSig
      (0 to rnd.nextInt(2)).foreach(_ => s ^= 1L << rnd.nextInt(64))
      (10000L + i, s ^ (1L << rnd.nextInt(64)))
    }
    val far = (0 until 200).map(i => (20000L + i, rnd.nextLong()))
    val rows = clones ++ near ++ far
    val got = hammingPairs(rows, maxDist = 3, maxBucketSize = cap)
    val want = bruteHamming(rows, maxDist = 3)
    // sanity: the clone group alone contributes n(n-1)/2 hamming-0 pairs
    val m = clones.size.toLong
    assert(want.count(_._3 == 0) >= (m * (m - 1) / 2).toInt)
    assert(got === want)
  }

  test("cross-signature grid cover (nsub > 1 chunk blocks): brute-force parity") {
    // distinct signatures engineered to SHARE byte 0 (one oversized
    // (chunk=0, key) block per trial, forcing the grid-cover path with
    // nsub > 1 over distinct signatures), each signature cloned a few
    // times so member expansion and same-signature pairs interleave
    val rnd = new Random(1111)
    for (trial <- 1 to 3) {
      val sharedByte = rnd.nextInt(256).toLong
      val nsigs = 150 + rnd.nextInt(100)
      val seeds = (0 until nsigs).map { _ =>
        // random high 56 bits, pinned low byte -> all collide in the
        // chunk-0 block; some also collide in higher chunks by chance
        (rnd.nextLong() & ~0xffL) | sharedByte
      }
      // planted near-neighbors: 1-7 bit flips in bits 8..63 keep the
      // shared byte intact, so qualifying pairs live INSIDE the
      // oversized grid-covered block — the recall the cover must keep
      val neighbors = seeds.filter(_ => rnd.nextInt(3) == 0).map { s =>
        (0 until 1 + rnd.nextInt(7)).foldLeft(s)((x, _) =>
          x ^ (1L << (8 + rnd.nextInt(56))))
      }
      val sigs = (seeds ++ neighbors).distinct
      var id = -1L
      val rows = sigs.flatMap { s =>
        (0 until 1 + rnd.nextInt(3)).map { _ => id += 1; (id, s) }
      }
      // cap of 20 << distinct-signature block size -> nsub >= 8 grid
      val got = hammingPairs(rows, maxDist = 7, maxBucketSize = 20)
      val want = bruteHamming(rows, maxDist = 7)
      assert(want.exists(_._3 > 0), s"trial $trial: vacuous (no cross pairs)")
      assert(got === want, s"trial $trial (${rows.size} rows, " +
        s"${sigs.size} distinct sigs)")
    }
  }

  test("minhashPairsDistinct / minhashClusters: exact parity with the " +
       "doc-level path on a clone-heavy corpus") {
    import graft.operators.ConnectedComponents
    // clone-heavy fixture: sf0.001 planted docs x5 verbatim clones with
    // offset ids — the shape that made doc-level banding quadratic
    val base = queries.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    // three NULL-text docs ride along — the clone collapse must keep
    // them as self-singleton membership rows (SQL equality never
    // equates NULLs), not drop them from membership
    val clones = ReplicateCorpus.fanOut(spark, base, "documents",
        Seq("doc_id"), mult = 5, skew = 0)
      .unionByName(Seq(9000000001L, 9000000002L, 9000000003L).toDF("doc_id")
        .withColumn("text", lit(null).cast("string")))
    val tau = 0.35

    val docPairs = Dedup.minhashPairs(clones, "doc_id", "text",
      threshold = tau).select("id_a", "id_b", "est_jaccard")
    val distPairs = Dedup.minhashPairsDistinct(clones, "doc_id", "text",
      threshold = tau).select("id_a", "id_b", "est_jaccard")
    assert(docPairs.exceptAll(distPairs).isEmpty &&
           distPairs.exceptAll(docPairs).isEmpty,
      "pair sets (incl. est) must be identical")

    val docLabels = {
      val labels = ConnectedComponents.labels(
        docPairs.select("id_a", "id_b"), "id_a", "id_b")
      clones.select(col("doc_id").as("id"))
        .join(labels, Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    }
    val distLabels = Dedup.minhashClusters(clones, "doc_id", "text",
      threshold = tau)
    assert(docLabels.exceptAll(distLabels).isEmpty &&
           distLabels.exceptAll(docLabels).isEmpty,
      "component labels must be identical")
    // the null-text docs are present, each its own singleton cluster
    val nullClusters = distLabels.filter(col("id") >= 9000000001L)
      .as[(Long, Long)].collect().toMap
    assert(nullClusters ==
      Map(9000000001L -> 9000000001L, 9000000002L -> 9000000002L,
          9000000003L -> 9000000003L),
      s"null-text docs must self-cluster, got $nullClusters")
  }

  test("verifiedPairsDistinct: exact parity (incl. jaccard values) with " +
       "the doc-level verified path on a clone-heavy corpus") {
    // same clone-heavy fixture as the minhash parity test, plus
    // null-text riders (must never pair — singleton membership) and a
    // pair of EMPTY-text clones (ShingleHashes emits ONE whole-text
    // shingle for <= n tokens, so the doc-level contract pairs them at
    // jaccard 1.0 — the collapsed intra path must reproduce that, not
    // drop them)
    val base = queries.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val clones = ReplicateCorpus.fanOut(spark, base, "documents",
        Seq("doc_id"), mult = 5, skew = 0)
      .unionByName(Seq(9000000001L, 9000000002L).toDF("doc_id")
        .withColumn("text", lit(null).cast("string")))
      .unionByName(Seq(9000000003L, 9000000004L).toDF("doc_id")
        .withColumn("text", lit("")))

    val docPairs = Dedup.verifiedPairs(clones, "doc_id", "text",
      finalThreshold = 0.5).select("id_a", "id_b", "jaccard")
    val (membership, reps) = Dedup.textGroups(clones, "doc_id", "text")
    val distPairs = Dedup.verifiedPairsDistinct(membership,
        Dedup.fitShingleSets(reps, "rep", "text"), finalThreshold = 0.5)
      .select("id_a", "id_b", "jaccard")
    assert(docPairs.exceptAll(distPairs).isEmpty &&
           distPairs.exceptAll(docPairs).isEmpty,
      "verified pair sets (incl. exact jaccard) must be identical")
    // sanity: the clone corpus actually produces intra-group pairs
    assert(distPairs.filter(col("jaccard") === 1.0).count() > 0)
    // null-text docs never pair; the empty-text clone pair IS emitted
    // at exactly 1.0 (the whole-text-shingle contract), on both paths
    val riders = distPairs.filter(col("id_a") >= 9000000001L)
      .as[(Long, Long, Double)].collect().toList
    assert(riders == List((9000000003L, 9000000004L, 1.0)),
      s"degenerate riders: $riders")
  }

  test("verifiedPairsDistinct: clone group > maxBucketSize — collapsed " +
       "path emits ALL C(n,2) intra pairs where doc-level salting drops " +
       "some (intended divergence, Dedup.scala parity-scope contract)") {
    // 100 verbatim clones of one text with maxBucketSize = 5: every
    // band bucket holds the whole group (identical minhash rows), so
    // the self-candidate salting splits it into ~20 hash sub-buckets
    // per band and
    // the doc-level self-join only pairs ids that co-land in SOME
    // band's sub-bucket (P ≈ 1-(19/20)^16 ≈ 0.56 per pair —
    // deterministic here: fixed ids, fixed seed). The collapsed path
    // never bands the group at all — one rep, selfJ jaccard 1.0, and
    // the intra expansion emits every pair.
    val n = 100
    val text = "the quick brown fox jumps over the lazy dog while " +
      "the sun sets slowly behind the tall green hills tonight"
    val clones = (1 to n).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val cap = 5

    val docPairs = Dedup.verifiedPairs(clones, "doc_id", "text",
      finalThreshold = 0.5, maxBucketSize = cap)
    val (membership, reps) = Dedup.textGroups(clones, "doc_id", "text")
    val distPairs = Dedup.verifiedPairsDistinct(membership,
      Dedup.fitShingleSets(reps, "rep", "text"),
      finalThreshold = 0.5, maxBucketSize = cap)

    val all = n.toLong * (n - 1) / 2
    assert(distPairs.count() == all,
      s"collapsed path must emit all $all intra-clone pairs")
    assert(distPairs.filter(col("jaccard") =!= 1.0).count() == 0)
    val docCount = docPairs.count()
    assert(docCount < all,
      s"doc-level path expected to under-emit under oversize salting " +
        s"(got $docCount of $all — if equal, the divergence contract " +
        s"in Dedup.verifiedPairsDistinct's scaladoc no longer holds)")
  }

  test("a bucket cap below 1 fails by name, also with ANSI off") {
    import graft.operators.{FuzzyJoin, Similarity}
    // with ANSI off ceil(n / 0) is null rather than an error, and a grid
    // cover then drops every row of the block without a word
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    def rejects(cap: String)(run: => Any): Unit = {
      val e = intercept[IllegalArgumentException](run)
      assert(e.getMessage.contains(cap), e.getMessage)
    }
    try {
      rejects("maxBucketSize")(Dedup.simhashPairs(corpus, "doc_id", "text",
        maxBucketSize = 0).collect())
      rejects("maxBucketSize")(Dedup.minhashPairs(corpus, "doc_id", "text",
        maxBucketSize = 0).collect())
      rejects("maxBucketSize")(Dedup.crossMinhashPairs(corpus, corpus,
        "doc_id", "text", maxBucketSize = 0).collect())
      rejects("maxBlockSize")(FuzzyJoin.selfPairs(corpus, col("doc_id"),
        col("text"), lit(1), 2, maxBlockSize = 0).collect())
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select($"vec_id", $"embedding").limit(50)
      rejects("maxBucketSize")(Similarity.cosineNearDupPairs(emb, dim = 64,
        threshold = 0.99, maxBucketSize = 0).collect())
      rejects("maxBucketSize")(graft.streaming.DocStreams.nearDupMatches(
        spark, corpus, maxBucketSize = 0).collect())
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("cross paths lose no pair to salting: the bench side replicates") {
    // 30 identical train docs share every band-bucket; at cap 1 each of
    // those buckets splits into 30 sub-buckets, and a bench copy must
    // still meet every train clone through its replicated rows
    val train = ((0L until 30L).map((_, base)) ++ Seq(
      (100L, "completely different text about spark query engines and " +
        "distributed columnar execution at terabyte scale with shuffles")))
      .toDF("doc_id", "text")
    val bench = Seq(
      (1000L, base),
      (1001L, base + " extra"),
      (1002L, "entirely novel benchmark question about astronomy and " +
        "the formation of spiral galaxies in the early universe epochs")
    ).toDF("doc_id", "text")
    val idx = Dedup.buildMinhashIndex(train, "doc_id", "text")
    val paths = Seq[(String, Int => org.apache.spark.sql.DataFrame)](
      "crossMinhashPairs" -> (cap => Dedup.crossMinhashPairs(train, bench,
        "doc_id", "text", maxBucketSize = cap)),
      "crossVerifiedPairs" -> (cap => Dedup.crossVerifiedPairs(train, bench,
        "doc_id", "text", maxBucketSize = cap)),
      "probeMinhashIndex" -> (cap => Dedup.probeMinhashIndex(idx, bench,
        "doc_id", "text", maxBucketSize = cap)))
    val want = for (t <- 0L until 30L; b <- Seq(1000L, 1001L)) yield (t, b)
    for ((name, run) <- paths) {
      def pairs(cap: Int) = {
        val df = run(cap)
        df.select(df.columns(0), df.columns(1)).as[(Long, Long)]
          .collect().toSet
      }
      val loose = pairs(1000)
      assert(want.toSet.subsetOf(loose), s"$name: ${loose.size} pairs")
      assert(pairs(1) === loose, name)
    }
  }
}
