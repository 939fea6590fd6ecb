package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import graft.ingest.{CleanProd, FileManifest, SchemaDiff}

/** Golden-fixture tests for the ingest/changelog layer (SURVEY.md §5
  * strategy 2): two on-disk version trees with known drift.
  */
class IngestSpec extends SparkFunSuite {
  import spark.implicits._

  private def mkFixture(): (Path, Path) = {
    val root = Files.createTempDirectory("graft_fix")
    val oldD = root.resolve("old"); val newD = root.resolve("new")
    Files.createDirectories(oldD); Files.createDirectories(newD)
    // common file (schema drift: c dropped, b retyped), old-only, new-only
    Files.writeString(oldD.resolve("filtered_Trade_V202301a.csv"),
      "a,b,c\n1,2,x\n3,4,y\n")
    Files.writeString(newD.resolve("filtered_Trade_V202401b.csv"),
      "a,b\n1,2.5\n3,4.5\n5,6.5\n")
    Files.writeString(oldD.resolve("Legacy_V202301.csv"), "k\n1\n")
    Files.writeString(newD.resolve("Fresh_V202401.csv"), "k\n1\n2\n")
    (oldD, newD)
  }

  test("file_diff over golden version trees") {
    val (oldD, newD) = mkFixture()
    val o = FileManifest.list(spark, oldD.toString, "old")
    val n = FileManifest.list(spark, newD.toString, "new")
    val d = FileManifest.fileDiff(o, n)
      .select("std_name", "exists_in_old", "exists_in_new")
      .as[(String, Boolean, Boolean)].collect().toSet
    assert(d === Set(
      ("trade", true, true), ("legacy", true, false), ("fresh", false, true)))
  }

  test("manifest collapses a part-file dataset directory to one entry") {
    // the layout every distributed writer produces: <name>.parquet/ as a
    // DIRECTORY of part files (+ _SUCCESS) — must list as ONE dataset
    // row (size = byte sum over parts), never one row per part file,
    // while plain files and non-dataset subdirs keep per-file rows
    val root = Files.createTempDirectory("graft_dsdir")
    val ds = root.resolve("lineitem.parquet")
    Files.createDirectories(ds)
    Files.writeString(ds.resolve("part-00000-x.parquet"), "aaaa")
    Files.writeString(ds.resolve("part-00001-x.parquet"), "bbbbbb")
    Files.writeString(ds.resolve("_SUCCESS"), "")
    val sub = root.resolve("raw"); Files.createDirectories(sub)
    Files.writeString(sub.resolve("notes.csv"), "k\n1\n")
    val m = FileManifest.list(spark, root.toString, "cur")
      .select($"file_name", $"std_name", $"size_bytes")
      .as[(String, String, Long)].collect().toSet
    assert(m === Set(
      ("lineitem.parquet", "lineitem", 10L),
      ("notes.csv", "notes", 4L)))
  }

  test("manifest collapses when ROOT ITSELF is the dataset dir; " +
       "sidecars excluded from size and mtime") {
    // list(".../lineitem.parquet") directly — the collapse must apply
    // to the root, not only to children, or part files leak out as rows
    val root = Files.createTempDirectory("graft_dsroot")
    val ds = root.resolve("lineitem.parquet")
    Files.createDirectories(ds)
    val p0 = ds.resolve("part-00000-x.parquet")
    Files.writeString(p0, "aaaa")
    Files.writeString(ds.resolve("_committed_123"), "sidecar-bytes")
    Files.writeString(ds.resolve(".part-00000-x.parquet.crc"), "crc")
    // sidecar mtime strictly NEWER than the data part: the dataset
    // mtime must still track the part file, not the marker
    val partMtime = p0.toFile.lastModified()
    ds.resolve("_committed_123").toFile.setLastModified(partMtime + 60000)
    val m = FileManifest.list(spark, ds.toString, "cur")
      .select($"file_name", $"std_name", $"size_bytes", $"mtime_ms")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(m === Seq(("lineitem.parquet", "lineitem", 4L, partMtime)))
  }

  test("pivotDir matches joinVersions on paths") {
    val (oldD, newD) = mkFixture()
    val o = FileManifest.list(spark, oldD.toString, "old")
    val n = FileManifest.list(spark, newD.toString, "new")
    val piv = FileManifest.pivotDir(o.unionByName(n))
      .select($"std_name", $"old", $"new")
      .as[(String, Option[String], Option[String])].collect().toSet
    val jv = FileManifest.joinVersions(o, n)
      .select($"std_name", $"old_path", $"new_path")
      .as[(String, Option[String], Option[String])].collect().toSet
    assert(piv === jv)
  }

  test("schemaDiff flags added/removed/retyped; null-propagating type_changed") {
    val (oldD, newD) = mkFixture()
    def read(p: Path) = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(p.toString)
    val oldDf = read(oldD.resolve("filtered_Trade_V202301a.csv"))
    val newDf = read(newD.resolve("filtered_Trade_V202401b.csv"))
    val d = SchemaDiff.schemaDiff(spark, oldDf.schema, newDf.schema)
      .as[(String, Option[String], Option[String], Boolean, Boolean, Option[Boolean])]
      .collect().map(r => r._1 -> r).toMap
    assert(d("a")._6 === Some(false))
    assert(d("b")._2 === Some("int") && d("b")._3 === Some("double")
      && d("b")._6 === Some(true))
    assert(d("c")._5 === true && d("c")._6 === None) // removed → NA type_changed
  }

  test("schemaDiff symmetry property: added(a,b) == removed(b,a)") {
    val s1 = Seq((1, "x")).toDF("a", "b").schema
    val s2 = Seq((1, 2.0, true)).toDF("a", "c", "d").schema
    val added = SchemaDiff.schemaDiff(spark, s1, s2)
      .filter($"added").select("column").as[String].collect().toSet
    val removed = SchemaDiff.schemaDiff(spark, s2, s1)
      .filter($"removed").select("column").as[String].collect().toSet
    assert(added === removed)
  }

  test("pairCompare produces per-pair drift rows without collecting data") {
    val (oldD, newD) = mkFixture()
    val r = SchemaDiff.pairCompare(spark, Seq(
      ("trade", oldD.resolve("filtered_Trade_V202301a.csv").toString,
        newD.resolve("filtered_Trade_V202401b.csv").toString)))
      .as[(String, Long, Long, Long, Option[Seq[String]], Option[Seq[String]], Option[Seq[String]])]
      .head()
    assert(r._1 === "trade" && r._2 === 2L && r._3 === 3L && r._4 === 1L)
    assert(r._5 === None && r._6 === Some(Seq("c")) && r._7 === Some(Seq("b")))
  }

  test("pairCompare: identical schemas give null added/removed lists, " +
       "never empty arrays") {
    val (oldD, _) = mkFixture()
    val f = oldD.resolve("filtered_Trade_V202301a.csv").toString
    val r = SchemaDiff.pairCompare(spark, Seq(("trade", f, f)))
      .select("added_cols", "removed_cols", "type_changed_cols")
      .as[(Option[Seq[String]], Option[Seq[String]], Option[Seq[String]])]
      .head()
    assert(r === ((None, None, None)))
  }

  test("clean_prod: R-null not-in keeps NULL group rows; yearbook != drops them") {
    val df = Seq(
      ("1", "AAA", "m", " Cod ", "GADUS (=Alias)", "PISCES", "Fish"),
      ("2", "BBB", "m", "Seal", "PHOCA", "MAMMALIA", "Fish"), // excluded group
      ("3", "CCC", "m", "Mys", "MYSTERIUS", null, "Fish"), // NULL group kept
      ("4", "DDD", "m", "Oth", "OTHERUS", "PISCES", "Other aq. animals & products")
    ).toDF("country", "country_iso3_code", "prod_method", "species_name_en",
      "species_scientific_name", "species_major_group", "yearbook_group_en")
    val out = CleanProd.clean(df)
    val names = out.select("SciName").as[String].collect().toSet
    assert(names === Set("gadus", "mysterius"))
  }

  test("set_except laws (property): A\\A empty, (A\\B) disjoint B") {
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      val a0 = List.fill(rnd.nextInt(30))(rnd.nextInt(20))
      val b0 = List.fill(rnd.nextInt(30))(rnd.nextInt(20))
      val a = a0.toDF("x")
      val b = b0.toDF("x")
      assert(a.except(a).count() === 0)
      val diff = a.except(b).as[Int].collect().toSet
      assert(diff.intersect(b0.toSet).isEmpty)
    }
  }
}
