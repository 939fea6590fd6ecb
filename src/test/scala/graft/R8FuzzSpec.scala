package graft

import java.nio.file.Files
import scala.util.Random

import org.apache.spark.sql.functions._
import graft.ingest.Pdf
import graft.sources.Fwf

/** Seeded randomized fuzzing of the round-8 operators (the FuzzSpec
  * convention): many small adversarial shapes per property,
  * deterministic seed so a failure reproduces.
  */
class R8FuzzSpec extends SparkFunSuite {
  import spark.implicits._

  test("Pdf: 30 random documents of hostile text round-trip exactly") {
    val rnd = new Random(8)
    def randLine(): String = {
      val pool = "ab(}) \\()\t%häö—中stream endstream Tj BT %%EOF 0123"
      (0 until rnd.nextInt(60)).map(_ => pool(rnd.nextInt(pool.length)))
        .mkString
    }
    for (trial <- 1 to 30) {
      val lines = Seq.fill(rnd.nextInt(140))(randLine())
      // the writer's documented degradation: beyond-Latin-1 chars
      // render as '?', everything else must survive byte-exact
      val expected = lines.map(_.map(c =>
        if (c.toInt <= 255) c else '?'))
      val lpp = 1 + rnd.nextInt(70)
      assert(Pdf.extractLines(Pdf.render(lines, lpp)) == expected,
        s"trial $trial (lpp=$lpp, ${lines.size} lines)")
    }
  }

  test("Fwf: 20 random layouts encode -> carve back exactly") {
    val rnd = new Random(8)
    for (trial <- 1 to 20) {
      val nCols = 1 + rnd.nextInt(5)
      val widths = Seq.fill(nCols)(2 + rnd.nextInt(8))
      val starts = widths.scanLeft(1)(_ + _).init
      val nRows = 1 + rnd.nextInt(30)
      // cell content: digits or letters, never wider than the column,
      // no leading/trailing spaces (trim is lossy on those by design)
      val rows = Seq.fill(nRows)(widths.map { w =>
        val len = rnd.nextInt(w) // may be empty
        (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      })
      val dir = Files.createTempDirectory("fwf_fuzz")
      Files.writeString(dir.resolve("d.dat"),
        rows.map(r => r.zip(widths).map { case (v, w) => v.padTo(w, ' ') }
          .mkString).mkString("\n"))
      val cols = starts.zip(widths).zipWithIndex.map {
        case ((st, w), i) => Fwf.Col(s"c$i", st, w)
      }
      val got = Fwf.read(spark, dir.toString, cols)
        .collect().map(r => (0 until nCols).map(i =>
          if (r.isNullAt(i)) "<NULL>" else r.getString(i)))
      // r15 null contract: an all-blank field carves back as NULL
      // (FWF cannot distinguish "" from missing — blank IS null);
      // rows order is not guaranteed — compare as bags
      val want = rows.map(_.map(v =>
        if (v.trim.isEmpty) "<NULL>" else v.trim))
      assert(got.map(_.mkString("|")).sorted.toSeq ===
        want.map(_.mkString("|")).sorted,
        s"trial $trial widths=$widths rows=$nRows")
    }
  }

  test("exactAuc: 25 random tied-score sets match O(n²) pair counting") {
    val rnd = new Random(8)
    for (trial <- 1 to 25) {
      // scores in a tiny range so ties are dense — the ½-credit path
      // is the part a formula bug would get wrong
      val rows = Seq.fill(5 + rnd.nextInt(60))(
        (rnd.nextInt(6).toLong, if (rnd.nextBoolean()) 1L else 0L))
      val p = rows.count(_._2 == 1L).toLong
      val n = rows.size - p
      if (p > 0 && n > 0) {
        val got = graft.operators.Metrics.exactAuc(rows.toDF("score", "pos"))
          .as[(Long, Long, Double)].head()
        var u2 = 0L // 2× the Mann-Whitney U, integer
        for ((sp, lp) <- rows if lp == 1L; (sn, ln) <- rows if ln == 0L)
          u2 += (if (sp > sn) 2L else if (sp == sn) 1L else 0L)
        val want = u2.toDouble / (2L * p * n).toDouble
        assert(got === ((p, n, want)), s"trial $trial n=${rows.size}")
      }
    }
  }

  test("Skyline.frontier2d: 25 random level tables match brute dominance") {
    val rnd = new Random(8)
    for (trial <- 1 to 25) {
      // distinct max-dim levels with random min-dim values, including
      // ties on the min dim (the <= edge of the dominance test)
      val levels = rnd.shuffle((0 until 30).toList)
        .take(1 + rnd.nextInt(15))
        .map(x => (x.toLong, rnd.nextInt(8).toLong))
      val got = graft.operators.Skyline
        .frontier2d(levels.toDF("mx", "mn"), "mx", "mn")
        .as[(Long, Long)].collect().toSet
      val want = levels.filter { case (x, y) =>
        !levels.exists { case (x2, y2) => x2 > x && y2 <= y }
      }.toSet
      assert(got === want, s"trial $trial levels=$levels")
    }
  }

  test("ScaleGuard: 20 random plan shapes flag exactly the hazardous ones") {
    val rnd = new Random(8)
    import org.apache.spark.sql.expressions.Window
    for (trial <- 1 to 20) {
      val big = spark.range(2000 + rnd.nextInt(3000)).toDF("id")
      val partitioned = rnd.nextBoolean()
      val boundedInput = rnd.nextBoolean()
      val base = if (boundedInput) big.limit(1 + rnd.nextInt(900)) else big
      val w =
        if (partitioned)
          Window.partitionBy(col("id") % (2 + rnd.nextInt(5))).orderBy("id")
        else Window.orderBy("id")
      val df = base.withColumn("rn", row_number().over(w))
      val vs = graft.plans.ScaleGuard.validate(df)
      val expectFlag = !partitioned && !boundedInput
      assert(vs.nonEmpty === expectFlag,
        s"trial $trial partitioned=$partitioned bounded=$boundedInput: $vs")
    }
  }

  test("Bfs.distances: 20 random digraphs match a local queue BFS") {
    val rnd = new Random(8)
    for (trial <- 1 to 20) {
      val v = 5 + rnd.nextInt(20)
      val edges = Seq.fill(v * 3)(
        (rnd.nextInt(v).toLong, rnd.nextInt(v).toLong))
      val seeds = (0 until v).filter(_ => rnd.nextInt(5) == 0)
        .map(_.toLong) match {
        case s if s.isEmpty => Seq(0L)
        case s => s
      }
      val hops = 1 + rnd.nextInt(4)
      val got = graft.operators.Bfs.distances(
        edges.toDF("src", "dst"), seeds.toDF("node"), hops)
        .as[(Long, Long)].collect().toMap
      // local BFS, hop-bounded
      val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
      var dist = seeds.map(_ -> 0L).toMap
      for (k <- 1 to hops) {
        val frontier = dist.collect { case (nd, d) if d == k - 1 => nd }
        for (nd <- frontier; nb <- adj.getOrElse(nd, Seq()))
          if (!dist.contains(nb)) dist += nb -> k.toLong
      }
      assert(got === dist, s"trial $trial v=$v hops=$hops")
    }
  }
}
