package graft

import java.nio.file.{Files, Path}

import scala.util.Random

import graft.ingest.{Pipelines, SchemaDiff}
import org.apache.spark.sql.types.StructType

/** `SchemaDiff.csvProfiles` against what it replaces: a per-file
  * `header`+`inferSchema` `spark.read.csv(path)` read, its `.schema` and
  * `.count()`.
  * The generated version tree covers quoted fields holding the
  * separator, empty and whitespace lines, header-only files, a data line
  * equal to its header, duplicate and empty header names, type drift
  * (int → long → double → timestamp → string), added and removed
  * columns, and files split across read partitions.
  */
class CsvProfilesSpec extends SparkFunSuite {

  private val kinds = Seq("int", "long", "double", "timestamp", "string")

  private def value(kind: String, rnd: Random): String = kind match {
    case "int" => rnd.nextInt(1000).toString
    case "long" => (3000000000L + rnd.nextInt(1000)).toString
    case "double" => f"${rnd.nextDouble() * 100}%.3f"
    case "timestamp" => f"2024-0${1 + rnd.nextInt(9)}-1${rnd.nextInt(10)} 0${rnd.nextInt(10)}:1${rnd.nextInt(10)}:00"
    case _ => if (rnd.nextBoolean()) s"s${rnd.nextInt(50)}" else "\"x, y\""
  }

  /** One CSV file: `cols` (name → kind), `rows` data rows, with blank
    * and whitespace lines sprinkled in and, on `echoHeader`, a data line
    * equal to the header.
    */
  private def csvText(cols: Seq[(String, String)], rows: Int, rnd: Random,
      echoHeader: Boolean): String = {
    val header = cols.map(_._1).mkString(",")
    val data = Seq.fill(rows) {
      cols.map { case (_, k) => if (rnd.nextInt(8) == 0) "" else value(k, rnd) }
        .mkString(",")
    }
    val withEcho =
      if (echoHeader) data.patch(rnd.nextInt(data.size + 1), Seq(header), 0)
      else data
    // before the header only spaces: see the tab-line case below
    val lines = (header +: withEcho).zipWithIndex.flatMap { case (l, i) =>
      rnd.nextInt(6) match {
        case 0 => Seq("", l)
        case 1 => Seq(if (i == 0) "   " else "   \t", l)
        case _ => Seq(l)
      }
    }
    lines.mkString("", "\n", if (rnd.nextBoolean()) "\n" else "")
  }

  /** `pairs` old/new CSV pairs under `root/old` and `root/new`, matched
    * by their `_Vyyyymm`-stripped names; (std_name, old path, new path).
    */
  private def tree(root: Path, pairs: Int, seed: Int): Seq[(String, String, String)] = {
    val rnd = new Random(seed)
    val (oldD, newD) = (root.resolve("old"), root.resolve("new"))
    Files.createDirectories(oldD); Files.createDirectories(newD)
    (0 until pairs).map { i =>
      val drift = kinds(i % kinds.size)
      val next = kinds((i + 1) % kinds.size)
      val oldCols = Seq("id" -> "int", "v" -> drift, "\"a,b\"" -> "string",
        s"gone$i" -> "double") ++
        (if (i % 7 == 0) Seq("dup" -> "int", "dup" -> "long", "" -> "string") else Nil)
      val newCols = Seq("id" -> "int", "v" -> next, "\"a,b\"" -> "string",
        s"born$i" -> kinds(i % 3))
      val rows = if (i % 9 == 0) 0 else 1 + rnd.nextInt(40)
      val oldP = oldD.resolve(s"T${i}_V202301.csv")
      val newP = newD.resolve(s"T${i}_V202401.csv")
      Files.writeString(oldP, csvText(oldCols, rows, rnd, echoHeader = i % 4 == 0))
      Files.writeString(newP, csvText(newCols, if (i % 11 == 0) 0 else rows + 3,
        rnd, echoHeader = i % 5 == 0))
      (s"t$i", oldP.toString, newP.toString)
    }
  }

  private val headerInfer = Map("header" -> "true", "inferSchema" -> "true")

  private def perFileReads(paths: Seq[String]) =
    paths.map { p =>
      val df = spark.read.options(headerInfer).csv(p)
      p -> (df.schema, df.count())
    }.toMap

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  // small read partitions: the larger files split across tasks
  private val splitFiles = Seq("spark.sql.files.maxPartitionBytes" -> "256",
    "spark.sql.files.openCostInBytes" -> "0")

  test("50 generated pairs: schemas and row counts equal the per-file reads") {
    val pairs = tree(Files.createTempDirectory("graft_csvp"), 50, 11)
    val paths = pairs.flatMap(p => Seq(p._2, p._3))
    withConf(splitFiles: _*) {
      val got = SchemaDiff.csvProfiles(spark, paths)
      val want = perFileReads(paths)
      val diffs = paths.filter(p => got(p) != want(p))
        .map(p => s"$p:\n  profile ${got(p)}\n  read    ${want(p)}")
      assert(diffs.isEmpty, diffs.mkString("\n"))
      // the tree exercises what it claims to
      val types = want.values.flatMap(_._1.fields.map(_.dataType.simpleString)).toSet
      assert(Set("int", "bigint", "double", "timestamp", "string").subsetOf(types))
      assert(want.values.exists(_._2 == 0L))
      assert(paths.exists(p => Files.size(Path.of(p)) > 3 * 256))
    }
  }

  test("a tab-only line before the header: the profile takes the header Spark's reader takes") {
    // Spark's schema inference picks the first line whose SQL trim (spaces
    // only) is non-empty, so it names one column after "\t"; its reader
    // and count skip that line (Java trim) and take "k,v" as the header.
    // The profile follows the reader.
    val f = Files.createTempFile("graft_csvt", ".csv")
    Files.writeString(f, "\t\nk,v\n1,2\n3,x\n")
    val (schema, rows) =
      SchemaDiff.csvProfiles(spark, Seq(f.toString))(f.toString)
    assert(schema.map(f => f.name -> f.dataType.simpleString) ===
      Seq("k" -> "int", "v" -> "string"))
    val read = spark.read.options(headerInfer).csv(f.toString)
    assert(rows === 2L && read.count() === 2L)
    assert(read.schema.fieldNames.toSeq === Seq("\t"))
  }

  test("assessChanges: the pair report equals per-file reads; jobs do not grow with pairs") {
    val (five, fifty) =
      (Files.createTempDirectory("graft_t5"), Files.createTempDirectory("graft_t50"))
    tree(five, 5, 23)
    val pairs = tree(fifty, 50, 23)
    def assess(root: Path) = Pipelines.assessChanges(spark,
      root.resolve("old").toString, root.resolve("new").toString)._2
    val (_, jobs5) = withJobCount(assess(five))
    val (pc, jobs50) = withJobCount(assess(fifty))
    assert(jobs5 === jobs50, s"build jobs: $jobs5 at 5 pairs, $jobs50 at 50")
    val want = perFileReads(pairs.flatMap(p => Seq(p._2, p._3)))
    def types(s: StructType) = s.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val expected = pairs.map { case (std, o, n) =>
      val ((os, oc), (ns, nc)) = (want(o), want(n))
      val (ot, nt) = (types(os), types(ns))
      def opt(xs: Iterable[String]) = Option(xs.toSeq.sorted).filter(_.nonEmpty)
      (std, oc, nc, nc - oc, opt(nt.keySet -- ot.keySet), opt(ot.keySet -- nt.keySet),
        opt(ot.keySet.intersect(nt.keySet).filter(c => ot(c) != nt(c))))
    }.toSet
    import spark.implicits._
    val got = pc.as[(String, Long, Long, Long, Option[Seq[String]],
      Option[Seq[String]], Option[Seq[String]])].collect().toSet
    assert(got === expected)
  }
}
