package graft

import org.apache.spark.sql.functions._
import graft.functions.VecFns
import graft.operators.Similarity

/** Similarity search (SURVEY.md §2 [EXT]): cosine math correctness and
  * LSH recall against the brute-force baseline on the driver embeddings
  * table.
  */
class SimilaritySpec extends SparkFunSuite {
  import spark.implicits._

  test("cosine: hand-checked values, zero-norm guard") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f), 1.0),
      (Array(1f, 0f), Array(0f, 1f), 0.0),
      (Array(1f, 1f), Array(1f, 0f), 1.0 / math.sqrt(2)),
      (Array(0f, 0f), Array(1f, 0f), 0.0) // zero-norm → 0, not NaN
    ).toDF("a", "b", "want")
    df.select(VecFns.cosine($"a", $"b").as("got"), $"want")
      .as[(Double, Double)].collect()
      .foreach { case (got, want) => assert(math.abs(got - want) < 1e-9) }
  }

  test("dot: double accumulation over float arrays") {
    val r = Seq((Array(1.5f, 2f), Array(2f, 3f)))
      .toDF("a", "b").select(VecFns.dot($"a", $"b")).as[Double].head()
    assert(math.abs(r - 9.0) < 1e-9)
  }

  test("hyperplane buckets: deterministic, one per table, in range") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(10)
    val b1 = emb.select(VecFns.hyperplaneBucketsAll($"embedding", 64, 8, 4, 42L))
      .as[Seq[Int]].collect()
    val b2 = emb.select(VecFns.hyperplaneBucketsAll($"embedding", 64, 8, 4, 42L))
      .as[Seq[Int]].collect()
    assert(b1.toSeq === b2.toSeq)
    b1.foreach { bs =>
      assert(bs.length === 4)
      assert(bs.forall(b => b >= 0 && b < 256))
    }
  }

  test("bruteTopK: self-similarity excluded, ranks contiguous, sims sorted") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val r = Similarity.bruteTopK(emb, emb.filter($"vec_id" < 3), k = 5)
      .orderBy("qid", "rk")
      .as[(Long, Long, Double, Int)].collect()
    assert(r.length === 15)
    r.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._4).toSeq === Seq(1, 2, 3, 4, 5))
      assert(rows.forall(_._2 != qid))
      val sims = rows.sortBy(_._4).map(_._3)
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("bruteHardNegatives: band respected, equals banded brute top-k") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val r = Similarity.bruteHardNegatives(emb, emb.filter($"vec_id" < 3),
      k = 5, loSim = 0.1, hiSim = 0.5)
      .as[(Long, Long, Double, Int)].collect()
    assert(r.nonEmpty)
    assert(r.forall(x => x._3 >= 0.1 && x._3 <= 0.5), "sim outside band")
    // consistency: exactly the in-band prefix of the unbanded ranking.
    // Band the comparison on a 12-decimal sim (the implementation bands
    // on the RAW cosine; the default 6-decimal rounding could move a
    // boundary-adjacent sim across the band edge and fail a correct
    // implementation). Iterate EXPECTED qids so a dropped query fails.
    val full = Similarity.bruteTopK(emb, emb.filter($"vec_id" < 3),
      k = Int.MaxValue, roundTo = 12).as[(Long, Long, Double, Int)].collect()
    val expect = full.filter(x => x._3 >= 0.1 && x._3 <= 0.5)
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).take(5).map(_._2).toSet)
    val got = r.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    expect.foreach { case (qid, want) =>
      assert(got.getOrElse(qid, Set.empty) == want, s"qid $qid")
    }
    intercept[IllegalArgumentException] {
      Similarity.bruteHardNegatives(emb, emb, 5, 0.6, 0.2)
    }
  }

  test("lshTopK recall@5 >= 0.6 vs brute force") {
    // The synthetic embeddings are near-uniform, so neighbor margins are
    // thin — 4 planes / 12 tables (the sim_ann_lsh query's params).
    // Round 5 fixed the hyperplane weights to the documented [-1,1)
    // (they were [-1,3), which crowded buckets and faked recall by
    // probing most of the corpus); honest buckets need the extra
    // tables to clear the bar on this margin-less corpus.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter($"vec_id" < 5)
    val brute = Similarity.bruteTopK(emb, q, k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, q, k = 5, dim = 64, planes = 4, tables = 12)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("ivfTopK recall@5 >= 0.6 vs brute force, deterministic") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter($"vec_id" < 5)
    val brute = Similarity.bruteTopK(emb, q, k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    def run() = Similarity.probeIvf(Similarity.fitIvf(emb, nlist = 8), q,
      k = 5, nprobe = 4)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = run()
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall $recall")
    assert(run() === ivf) // seeded k-means → reproducible
  }

  test("pqTopK: ADC shortlist + exact rerank, recall@5 >= 0.9, deterministic") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter($"vec_id" < 5)
    val brute = Similarity.bruteTopK(emb, q, k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    def run() = Similarity.probePq(Similarity.fitPq(emb, dim = 64), emb, q,
      k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val pq = run()
    val recall = (brute & pq).size.toDouble / brute.size
    // 8-bit codebooks + exact rerank of a 64-deep ADC shortlist
    assert(recall >= 0.9, s"recall $recall")
    assert(run() === pq) // seeded per-subspace k-means → reproducible
  }

  test("ivfPq composite: recall@5 >= 0.9 at probe depth, deterministic") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter($"vec_id" < 5)
    val brute = Similarity.bruteTopK(emb, q, k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    def run() = {
      val model = Similarity.fitIvfPq(emb, dim = 64, nlist = 8)
      Similarity.probeIvfPq(model, emb, q, k = 5, nprobe = 7)
        .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    }
    val got = run()
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall")
    assert(run() === got) // both quantizers seeded -> reproducible
  }

  test("cosineNearDupPairs finds a planted perturbed copy") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val planted = emb.filter($"vec_id" === 7).select(
      lit(999999L).as("vec_id"),
      transform($"embedding", (x, i) =>
        when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
    val pairs = Similarity.cosineNearDupPairs(
      emb.unionByName(planted), dim = 64, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((7L, 999999L)))
  }

  test("dense-core recall: clone clusters match brute force EXACTLY") {
    // Regression for the 10x-sweep defect: a near-identical pair's
    // connecting segment can straddle a bucket hyperplane in EVERY LSH
    // table, so probabilistic tables alone lost 105 of 95,800 cos≈1.0
    // pairs. The deterministic 8-byte-pigeonhole channel over the sign
    // sketch must make the dense core (tiny-perturbation clones, sketch
    // hamming ≈ 0) exact — so on a corpus that is ONLY clone clusters,
    // the pair set equals brute force, not "most of it".
    val rnd = new scala.util.Random(20261014L)
    val dim = 64
    val vecs = (0 until 30).flatMap { c =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(center.map(x => x * x).sum)
      (0 until 8).map { m =>
        (c * 100L + m,
          center.map(x => (x / n + rnd.nextGaussian() * 1e-5).toFloat))
      }
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until dim) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      d / math.sqrt(na * nb)
    }
    val thr = 0.999
    val want = (for {
      i <- vecs.indices; j <- (i + 1) until vecs.size
      if cos(vecs(i)._2, vecs(j)._2) >= thr
    } yield {
      val (a, b) = (vecs(i)._1, vecs(j)._1)
      (math.min(a, b), math.max(a, b))
    }).toSet
    assert(want.size >= 30 * 28) // sanity: every intra-cluster pair is dense
    val corpus = vecs.toDF("vec_id", "embedding")
    // maxBucketSize 4 < cluster size 8 forces the mega-bucket grid
    // cover AND the dense channel's sub-bucketing on every cluster
    val got = Similarity.cosineNearDupPairs(corpus, dim = dim,
        threshold = thr, maxBucketSize = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(got === want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }
}
