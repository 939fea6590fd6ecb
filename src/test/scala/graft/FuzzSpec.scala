package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import graft.multimodal.{FormatException, Media}
import graft.operators.FuzzyJoin

/** Seeded randomized fuzzing of the round-5 operators: many small
  * adversarial shapes per property, deterministic seed so a failure
  * reproduces. Complements the hand-picked spec cases with coverage of
  * the shapes nobody thought to pick.
  */
class FuzzSpec extends SparkFunSuite {
  import spark.implicits._

  test("Jpeg: 30 random (dims, comps, quality, layout, restart) round-trips") {
    val rnd = new Random(42)
    for (trial <- 1 to 30) {
      val w = 1 + rnd.nextInt(33)
      val h = 1 + rnd.nextInt(33)
      val comps = if (rnd.nextBoolean()) 1 else 3
      val quality = 70 + rnd.nextInt(31)
      val subsample = comps == 3 && rnd.nextBoolean()
      val restart = rnd.nextInt(4) // 0 = off
      val data = Array.fill(w * h * comps)(rnd.nextInt(256).toByte)
      val bytes = JpegFixtures.encode(w, h, comps, data, quality / 100f,
        subsample, restart)
      assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8,
        s"trial $trial: bad magic")
      val img = Media.decodeImage("jpeg", bytes)
      assert(img.width === w && img.height === h,
        s"trial $trial: dims ${w}x$h -> ${img.width}x${img.height}")
      val back = JpegFixtures.samples(img, comps)
      // random noise is JPEG's worst case — the bound is sanity (the
      // decode is reading the coefficients we wrote), not fidelity
      var se = 0.0
      for (i <- data.indices) {
        val d = (back(i) & 0xff) - (data(i) & 0xff)
        se += d.toDouble * d
      }
      val psnr = 10 * math.log10(255.0 * 255.0 / math.max(1e-9, se / data.length))
      assert(psnr > 10.0,
        f"trial $trial (${w}x$h c=$comps q=$quality sub=$subsample rst=$restart): PSNR $psnr%.1f")
    }
  }

  test("FuzzyJoin: 20 random corpora match brute force under forced salting") {
    val rnd = new Random(7)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (trial <- 1 to 20) {
      val n = 5 + rnd.nextInt(25)
      val maxDist = 1 + rnd.nextInt(3)
      val maxBlock = 1 + rnd.nextInt(5) // tiny: salting constantly active
      // 2-letter alphabet, short strings: dense near-pairs
      val rows = (0 until n).map { i =>
        val len = 1 + rnd.nextInt(5)
        val txt = (0 until len).map(_ => if (rnd.nextBoolean()) 'a' else 'b')
          .mkString
        (i.toLong, txt, if (rnd.nextBoolean()) "x" else "y")
      }
      val expected = (for {
        (ka, ta, ba) <- rows; (kb, tb, bb) <- rows
        if ka < kb && ba == bb
        d = lev(ta, tb) if d >= 1 && d <= maxDist
      } yield (ka, kb)).toSet
      val got = FuzzyJoin.selfPairs(rows.toDF("k", "txt", "blk"),
          col("k"), col("txt"), col("blk"), maxDist, maxBlock)
        .select("a_key", "b_key").as[(Long, Long)].collect()
      assert(got.length === got.distinct.length,
        s"trial $trial: duplicate pair emitted")
      assert(got.toSet === expected,
        s"trial $trial (n=$n d=$maxDist blk=$maxBlock): " +
          s"missing=${expected -- got.toSet} extra=${got.toSet -- expected}")
    }
  }

  test("Bloom: random builds never produce a false negative") {
    val rnd = new Random(11)
    for (trial <- 1 to 15) {
      val nKeys = 1 + rnd.nextInt(500)
      val numBits = 64 << rnd.nextInt(6) // 64..2048, always aligned
      val k = 1 + rnd.nextInt(10)
      val keys = Array.fill(nKeys)(rnd.nextLong())
      val bloom = keys.toSeq.toDF("key")
        .select(org.apache.spark.sql.graftshim.Shim.column(
          graft.expressions.BloomBuildAgg(
            org.apache.spark.sql.graftshim.Shim.expression(col("key")),
            numBits, k)).as("bf"))
        .head().getAs[Array[Byte]]("bf")
      val probe = graft.expressions.BloomMightContain(
        org.apache.spark.sql.graftshim.Shim.expression(lit(0L)), bloom, k)
      keys.foreach(key => assert(probe.compute(key),
        s"trial $trial: false negative (bits=$numBits k=$k n=$nKeys)"))
    }
  }

  test("chunkText: 25 random (text, size, overlap) — coverage and reassembly") {
    val rnd = new Random(11)
    for (trial <- 1 to 25) {
      val chunkSize = 2 + rnd.nextInt(20)
      val overlap = rnd.nextInt(chunkSize)
      val stride = chunkSize - overlap
      val texts = (0L until (1 + rnd.nextInt(8)).toLong).map { id =>
        (id, rnd.alphanumeric.take(rnd.nextInt(80)).mkString)
      }
      val out = graft.operators.Corpus.chunkText(
        texts.toDF("doc_id", "text"), "doc_id", "text", chunkSize, overlap)
        .as[(Long, Long, Long, Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).toList).toMap
      texts.foreach { case (id, txt) =>
        val chunks = out(id)
        assert(chunks.nonEmpty, s"trial $trial doc $id: no chunks")
        // offsets advance by exactly the stride, slices match substring
        chunks.zipWithIndex.foreach { case ((_, cid, off, len, body), i) =>
          assert(cid == i && off == i.toLong * stride)
          assert(body == txt.slice(off.toInt, off.toInt + chunkSize),
            s"trial $trial doc $id chunk $i")
          assert(len == body.length.toLong)
        }
        // stitching chunks (dropping each chunk's overlap head) = text
        val stitched = chunks.head._5 +
          chunks.tail.map(c => c._5.drop(overlap)).mkString
        assert(stitched == txt,
          s"trial $trial doc $id: reassembly mismatch (cs=$chunkSize ov=$overlap)")
        // no chunk starts past the end; at most one chunk would fit after
        assert(chunks.last._3 <= math.max(0, txt.length - 1).toLong ||
          txt.isEmpty)
      }
    }
  }

  test("capPerGroup: 15 random groupings — cap exact, priority honored") {
    val rnd = new Random(13)
    for (trial <- 1 to 15) {
      val n = 20 + rnd.nextInt(200)
      val groups = 1 + rnd.nextInt(6)
      val cap = 1 + rnd.nextInt(12)
      val rows = (0L until n.toLong).map(i => (i, s"g${rnd.nextInt(groups)}"))
      val df = rows.toDF("id", "g")
      val out = graft.operators.Corpus.capPerGroup(
        df, col("g"), col("id"), cap, portable = true)
        .as[(Long, String, Int)].collect()
      val sizes = rows.groupBy(_._2).view.mapValues(_.size).toMap
      val outBy = out.groupBy(_._2)
      sizes.foreach { case (g, sz) =>
        val kept = outBy.getOrElse(g, Array.empty).length
        assert(kept == math.min(sz, cap), s"trial $trial group $g")
      }
      // replay the md5 priority: the kept set must be the cap-smallest
      def pri(id: Long): BigInt = {
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$id:42".getBytes("UTF-8"))
        BigInt(md.map("%02x".format(_)).mkString.take(15), 16)
      }
      rows.groupBy(_._2).foreach { case (g, members) =>
        val expect = members.map(_._1)
          .sortBy(id => (pri(id), id)).take(cap).toSet
        val got = outBy.getOrElse(g, Array.empty).map(_._1).toSet
        assert(got == expect, s"trial $trial group $g: priority order")
      }
    }
  }

  test("unigramCrossEntropy: 10 random corpora match a direct replay") {
    val rnd = new Random(17)
    val lexicon = Vector("alpha", "beta", "gamma", "delta", "x1", "z")
    for (trial <- 1 to 10) {
      val docs = (0L until (2 + rnd.nextInt(6)).toLong).map { id =>
        (id, Seq.fill(rnd.nextInt(12))(
          lexicon(rnd.nextInt(lexicon.length))).mkString(" "))
      }
      val out = graft.operators.Corpus.unigramCrossEntropy(
        docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))))
        .toMap
      val counts = docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val total = counts.values.sum.toDouble
      docs.foreach { case (id, txt) =>
        val toks = txt.split(" ").filter(_.nonEmpty)
        if (toks.isEmpty) assert(out(id) == ((0L, None)), s"trial $trial doc $id")
        else {
          val h = -toks.map(t => math.log(counts(t) / total)).sum / toks.length
          val (nTok, Some(x)) = out(id)
          assert(nTok == toks.length.toLong)
          assert(math.abs(x - h) < 5e-5,
            s"trial $trial doc $id: $x vs $h")
        }
      }
    }
  }

  test("extractFeatures survives adversarial payloads: magic + garbage, truncations") {
    val rnd = new Random(29)
    import graft.multimodal.Multimodal
    val magics: Seq[Array[Byte]] = Seq(
      Array[Byte]('B', 'M'),
      Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
        0x0d.toByte, 0x0a.toByte, 0x1a.toByte, 0x0a.toByte),
      "GIF89a".getBytes("ISO-8859-1"),
      "RIFF".getBytes("ISO-8859-1"),
      Array(0xff.toByte, 0xd8.toByte, 0xff.toByte))
    // (a) every magic followed by random garbage — including bytes that
    // parse as huge/negative dimensions; (b) real encodes truncated at
    // random offsets; (c) pure noise. NO row may kill the job: the
    // per-row degradation contract says every payload yields a Feature.
    val realOnes: Seq[Array[Byte]] = {
      val img = Media.Image(6, 4, Array.tabulate(6 * 4 * 3)(i => (i * 7).toByte))
      Seq("bmp", "png", "gif").map(Media.encodeImage(img, _)) ++ Seq(
        JpegFixtures.encode(6, 4, 3, img.rgb, 0.9f, subsample = true),
        Media.encodeWav(Media.Pcm(8000, 1,
          Array.tabulate(32)(i => (i * 512).toShort))))
    }
    val payloads: Seq[(Long, Array[Byte])] =
      (0 until 120).map { i =>
        val p = magics(i % magics.length) ++
          Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte)
        (i.toLong, p)
      } ++ realOnes.zipWithIndex.flatMap { case (b, j) =>
        (1 to 6).map { t =>
          (1000L + j * 10 + t, b.take(1 + rnd.nextInt(math.max(1, b.length - 1))))
        }
      } ++ (0 until 20).map(i =>
        (2000L + i, Array.fill(rnd.nextInt(40))(rnd.nextInt(256).toByte)))
    val df = payloads.toDF("id", "payload")
    val out = Multimodal.extractFeatures(spark, df).collect()
    assert(out.length == payloads.length,
      s"rows lost: ${payloads.length - out.length} payloads killed extraction")
    assert(out.forall(_.feature.nonEmpty))
  }

  test("Jpeg.decode rejects out-of-range table ids, never AIOOBE") {
    // T.81 table ids are 4-bit fields but only slots 0-3 exist; a
    // crafted header with id 4-15 must hit the adapter's named
    // rejection (FormatException IS-A IllegalArgumentException), not an
    // index error from the decoder's fixed 4-slot tables
    val rgb = Array.tabulate(6 * 4 * 3)(i => (i * 7).toByte)
    val good = JpegFixtures.encode(6, 4, 3, rgb, 0.9f, subsample = true)
    // corrupt the first DQT (0xffdb) table-id byte: len(2) then Pq|Tq
    val dqt = good.indexOfSlice(Seq(0xff.toByte, 0xdb.toByte))
    assert(dqt >= 0, "no DQT marker in encoder output")
    val bad = good.clone(); bad(dqt + 4) = 0x0f // Pq=0, Tq=15
    val e = intercept[FormatException](Media.decodeImage("jpeg", bad))
    assert(e.getMessage.startsWith("jpeg:") && e.getMessage.contains("DQT"),
      e.getMessage)
    // same for a DHT (0xffc4) Tc|Th byte: Th=15
    val dht = good.indexOfSlice(Seq(0xff.toByte, 0xc4.toByte))
    assert(dht >= 0, "no DHT marker in encoder output")
    val bad2 = good.clone(); bad2(dht + 4) = 0x0f
    val e2 = intercept[FormatException](Media.decodeImage("jpeg", bad2))
    assert(e2.getMessage.startsWith("jpeg:") && e2.getMessage.contains("DHT"),
      e2.getMessage)
  }

  test("ZOrder: random dims/bits agree with the SQL twin and stay injective") {
    val rnd = new Random(23)
    for (trial <- 1 to 10) {
      val bits = 1 + rnd.nextInt(6)
      val mask = (1 << bits) - 1
      val pts = (0 until 64).map(_ =>
        (rnd.nextInt(1 << bits).toLong, rnd.nextInt(1 << bits).toLong))
      val df = pts.toDF("x", "y")
        .withColumn("z", graft.operators.ZOrder.zvalue(
          Seq(col("x"), col("y")), bits))
        .withColumn("z_sql",
          expr(graft.operators.ZOrder.zvalueSql(Seq("x", "y"), bits)))
      val rows = df.select("x", "y", "z", "z_sql")
        .as[(Long, Long, Long, Long)].collect()
      rows.foreach { case (x, y, z, zs) =>
        assert(z === zs, s"trial $trial: Scala/SQL diverge at ($x,$y)")
        assert(z >= 0 && z < (1L << (2 * bits)))
      }
      val byPoint = rows.map(r => (r._1 & mask, r._2 & mask) -> r._3).toMap
      assert(byPoint.values.toSeq.distinct.length === byPoint.size,
        s"trial $trial: collision on distinct masked points")
    }
  }

  test("GraphSim: 10 random graphs match brute-force neighbor-set Jaccard") {
    val rnd = new Random(2029)
    for (trial <- 1 to 10) {
      val v = 4 + rnd.nextInt(12)
      val edges = (for {
        a <- 0 until v; b <- a + 1 until v
        if rnd.nextDouble() < 0.4
      } yield (a, b)).toSeq
      if (edges.nonEmpty) {
        val adj = (edges ++ edges.map(_.swap))
          .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
        val want = (for {
          a <- adj.keys; b <- adj.keys
          if a < b
          common = (adj(a) & adj(b)).size
          if common > 0
        } yield ((a, b),
          common.toDouble / (adj(a).size + adj(b).size - common))).toMap
        val got = graft.operators.GraphSim.neighborJaccard(
            edges.toDF("a", "b"), "a", "b", minJac = 0.0)
          .collect()
          .map(r => ((r.getAs[Int]("a"), r.getAs[Int]("b")),
            r.getAs[Double]("jac"))).toMap
        assert(got === want, s"trial $trial (v=$v, e=${edges.length})")
      }
    }
  }

  test("Holt: 12 random series match the scalar fold bit-for-bit") {
    val rnd = new Random(3011)
    def r4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
    for (trial <- 1 to 12) {
      val n = 2 + rnd.nextInt(60)
      val xs = Array.fill(n)(rnd.nextDouble() * 200 - 100)
      var l = xs(0); var b = xs(1) - xs(0)
      xs.drop(2).foreach { x =>
        val lN = 0.5 * x + 0.5 * (l + b)
        b = 0.25 * (lN - l) + 0.75 * b
        l = lN
      }
      val df = xs.zipWithIndex
        .map { case (x, i) => ("u", i.toLong, i.toLong, x) }
        .toSeq.toDF("id", "ts", "seq", "v")
      val r = graft.operators.TimeSeries.holt(
        df, "id", col("ts"), col("seq"), col("v")).head()
      assert(r.getAs[Double]("level") === r4(l), s"trial $trial level")
      assert(r.getAs[Double]("trend") === r4(b), s"trial $trial trend")
    }
  }
}
