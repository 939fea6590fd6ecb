package graft

import java.nio.file.Files
import graft.ingest.Pipelines

/** End-to-end drives of the reference's three entry points (SURVEY.md §3)
  * over on-disk fixtures — the "switching user" acceptance tests.
  */
class PipelinesSpec extends SparkFunSuite {
  import spark.implicits._

  test("EP1 scrape: html → links → filtered → downloaded with status") {
    val dir = Files.createTempDirectory("ep1")
    val src = dir.resolve("remote"); Files.createDirectories(src)
    Files.writeString(src.resolve("baci_hs92.zip"), "ZIPDATA")
    Files.writeString(src.resolve("guide.pdf"), "PDF")
    val base = src.toUri.toString.stripSuffix("/")
    val html =
      s"""<html><body><div class="content_box"><div id="dl">
         |<a href="$base/baci_hs92.zip">HS92</a>
         |<a href="guide.pdf">Guide</a>
         |<a href="index.html">Home</a>
         |<a href="$base/baci_hs92.zip">dup</a>
         |</div></div></body></html>""".stripMargin.replace("\n", "")
    val out = dir.resolve("out").toString
    val status = Pipelines.scrape(spark, html, s"$base/", out, backoffMs = 1)
      .select("url", "ok").as[(String, Boolean)].collect().toMap
    assert(status.size === 2) // deduped
    assert(status.values.forall(identity))
    assert(Files.readString(java.nio.file.Path.of(s"$out/baci_hs92.zip")) === "ZIPDATA")
    assert(Files.exists(java.nio.file.Path.of(s"$out/guide.pdf")))
  }

  test("EP1 scrapeUrl: fetch over real HTTP → full scrape chain") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def serve(path: String, body: Array[Byte], status: Int = 200): Unit =
      server.createContext(path, new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          assert(ex.getRequestHeaders.getFirst("User-Agent")
            .startsWith("graft-ingest"))
          ex.sendResponseHeaders(status, body.length)
          ex.getResponseBody.write(body); ex.close()
        }
      })
    val port = { server.start(); server.getAddress.getPort }
    val base = s"http://127.0.0.1:$port"
    val html =
      s"""<html><body><div class="content_box"><div id="dl">
         |<a href="$base/data/baci_hs92.zip">HS92</a>
         |<a href="/data/guide.pdf">Guide</a>
         |<a href="index.html">Home</a>
         |</div></div></body></html>""".stripMargin.replace("\n", "")
    serve("/page.html", html.getBytes("UTF-8"))
    serve("/data/baci_hs92.zip", "ZIPDATA".getBytes("UTF-8"))
    serve("/data/guide.pdf", "PDF".getBytes("UTF-8"))
    try {
      val out = Files.createTempDirectory("ep1url").toString
      val status = Pipelines.scrapeUrl(spark, s"$base/page.html", base,
        out, backoffMs = 1)
        .select("url", "ok").as[(String, Boolean)].collect().toMap
      assert(status.size === 2 && status.values.forall(identity))
      assert(Files.readString(
        java.nio.file.Path.of(s"$out/baci_hs92.zip")) === "ZIPDATA")
      intercept[java.io.IOException] {
        Pipelines.fetch(s"$base/nope.html")
      }
    } finally server.stop(0)
  }

  test("EP2 assessChanges: file diff + per-pair schema/row drift") {
    val root = Files.createTempDirectory("ep2")
    val oldD = root.resolve("old"); val newD = root.resolve("new")
    Files.createDirectories(oldD); Files.createDirectories(newD)
    Files.writeString(oldD.resolve("Trade_V202301.csv"), "a,b\n1,2\n")
    Files.writeString(newD.resolve("Trade_V202401.csv"), "a,c\n1,x\n2,y\n")
    Files.writeString(oldD.resolve("Gone_V202301.csv"), "z\n0\n")
    val (fd, pc) = Pipelines.assessChanges(spark, oldD.toString,
      newD.toString)
    val files = fd.select("std_name", "exists_in_old", "exists_in_new")
      .as[(String, Boolean, Boolean)].collect().toSet
    assert(files === Set(("trade", true, true), ("gone", true, false)))
    val pair = pc.as[(String, Long, Long, Long, Option[Seq[String]],
      Option[Seq[String]], Option[Seq[String]])].head()
    assert(pair._1 === "trade" && pair._4 === 1L)
    assert(pair._5 === Some(Seq("c")) && pair._6 === Some(Seq("b")))
  }

  test("EP2 assessChanges: a matched .xlsx pair is read as a workbook, not as CSV") {
    val root = Files.createTempDirectory("ep2x")
    val oldD = root.resolve("old"); val newD = root.resolve("new")
    Files.createDirectories(oldD); Files.createDirectories(newD)
    // read_xlsx(skip = 1): a title row above the header
    sources.Xlsx.write(oldD.resolve("Fish_V202301.xlsx"),
      Seq(Seq("FAO fish"), Seq("a", "b"), Seq("1", "x"), Seq("2", "y")))
    sources.Xlsx.write(newD.resolve("Fish_V202401.xlsx"),
      Seq(Seq("FAO fish"), Seq("a", "c"), Seq("1", "p"), Seq("2", "q"),
        Seq("3", "r")))
    Files.writeString(oldD.resolve("Trade_V202301.csv"), "a,b\n1,2\n")
    Files.writeString(newD.resolve("Trade_V202401.csv"), "a,b\n1,2\n3,4\n")
    val (_, pc) = Pipelines.assessChanges(spark, oldD.toString, newD.toString)
    val rows = pc.as[(String, Long, Long, Long, Option[Seq[String]],
      Option[Seq[String]], Option[Seq[String]])].collect().map(r => r._1 -> r).toMap
    assert(rows("fish") === (("fish", 2L, 3L, 1L, Some(Seq("c")), Some(Seq("b")), None)))
    assert(rows("trade") === (("trade", 1L, 2L, 1L, None, None, None)))
  }

  test("EP2 assessChanges: pairs match on the driver, every combination " +
       "of a repeated std_name, csv-csv and xlsx-xlsx only") {
    val root = Files.createTempDirectory("ep2m")
    val oldD = root.resolve("old"); val newD = root.resolve("new")
    Files.createDirectories(oldD); Files.createDirectories(newD)
    // "trade" twice on the old side: both pair with the new csv; the
    // old .txt never pairs, the unmatched "gone" neither
    Files.writeString(oldD.resolve("Trade_V202301.csv"), "a\n1\n")
    Files.writeString(oldD.resolve("filtered_Trade_V202301.CSV"), "a\n1\n2\n")
    Files.writeString(oldD.resolve("Trade_V202212.txt"), "a\n1\n")
    Files.writeString(newD.resolve("Trade_V202401.csv"), "a\n1\n2\n3\n")
    Files.writeString(oldD.resolve("Gone_V202301.csv"), "z\n0\n")
    val (_, pc) = Pipelines.assessChanges(spark, oldD.toString, newD.toString)
    assert(pc.select("std_name", "old_rows", "new_rows").as[(String, Long, Long)]
      .collect().sorted.toSeq === Seq(("trade", 1L, 3L), ("trade", 2L, 3L)))
    // the registered query's build: one csvProfiles job, no manifest join
    val (_, jobs) = withJobCount(SparkEntry.queries("pair_compare")(spark, sfDir))
    assert(jobs === 1, s"pair_compare ran $jobs build jobs")
  }

  test("sink_report: markdown changelog over the EP2+EP3 frames") {
    val root = Files.createTempDirectory("rep")
    val oldD = root.resolve("old"); val newD = root.resolve("new")
    Files.createDirectories(oldD); Files.createDirectories(newD)
    Files.writeString(oldD.resolve("Trade_V202301.csv"), "a,b\n1,2\n")
    Files.writeString(newD.resolve("Trade_V202401.csv"), "a,c\n1,x\n2,y\n")
    Files.writeString(oldD.resolve("Gone_V202301.csv"), "z\n0\n")
    Files.writeString(newD.resolve("Born_V202401.csv"), "q\n9\n")
    val (fd, pc) = Pipelines.assessChanges(spark, oldD.toString,
      newD.toString)
    val cs = Seq(("country", "added", "CHL"), ("species", "removed", "x"))
      .toDF("entity", "direction", "value")
    val md = ingest.Report.changelog(fd, pc, cs)
    val expected =
      """# Data changelog
        |
        |## New files
        |
        || std_name |
        || --- |
        || born |
        |
        |## Removed files
        |
        || std_name |
        || --- |
        || gone |
        |
        |## Size changes
        |
        || std_name | size_change_mb |
        || --- | --- |
        || trade | 4.0E-6 |
        |
        |## Column changes
        |
        |Only matching .csv and .xlsx files were compared.
        |
        || std_name | added_cols | removed_cols |
        || --- | --- | --- |
        || trade | c | b |
        |
        |## Row-count changes
        |
        || std_name | old_rows | new_rows | row_change |
        || --- | --- | --- | --- |
        || trade | 1 | 2 | 1 |
        |
        |## Country and species changes
        |
        || entity | direction | value |
        || --- | --- | --- |
        || country | added | CHL |
        || species | removed | x |
        |""".stripMargin
    assert(md === expected)
    val dest = ingest.Report.write(root.resolve("rpt/changelog.md"), fd, pc, cs)
    assert(Files.readString(dest) === md)
  }

  test("EP3 countrySpeciesDiff: both-direction set diffs, sorted") {
    def prod(rows: Seq[(String, String)]) = rows.map { case (c, s) =>
      ("1", c, "m", s, s.toUpperCase, "PISCES", "Fish")
    }.toDF("country", "country_iso3_code", "prod_method",
      "species_name_en", "species_scientific_name",
      "species_major_group", "yearbook_group_en")
    val oldP = prod(Seq(("USA", "cod"), ("NOR", "herring")))
    val newP = prod(Seq(("USA", "cod"), ("CHL", "anchoveta")))
    val d = Pipelines.countrySpeciesDiff(spark, oldP, newP)
      .as[(String, String, String)].collect().toSeq
    assert(d === Seq(
      ("country", "added", "CHL"), ("country", "removed", "NOR"),
      ("species", "added", "anchoveta"), ("species", "removed", "herring")))
  }
}
