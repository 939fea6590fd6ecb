package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.HttpSink

/** End-to-end orchestrations of the reference's three entry points
  * (SURVEY.md §3) — what a user of the reference actually runs, composed
  * from the operator layer so each piece stays individually testable.
  */
object Pipelines {

  /** Driver-side page fetch — the first line of EP1
    * (`read_html(url)`, `scrape_newest_baci_data.R:20`), with the
    * reference's HTTP discipline (`scrape_newest_baci_data.R:63-67`):
    * 60 s timeout and a custom User-Agent. One page, driver-side by
    * design; the Spark chain starts at the returned text.
    */
  def fetch(url: String, timeoutMs: Long = 60000,
            userAgent: String = "graft-ingest/1.0"): String = {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val client = HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs))
      .followRedirects(HttpClient.Redirect.NORMAL)
      .build()
    val req = HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofMillis(timeoutMs))
      .header("User-Agent", userAgent)
      .GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() >= 400)
      throw new java.io.IOException(
        s"fetch $url failed: HTTP ${resp.statusCode()}")
    resp.body()
  }

  /** EP1 from the URL itself: fetch the page, then run `scrape`. */
  def scrapeUrl(spark: SparkSession, url: String, baseUrl: String,
                outDir: String, workers: Int = 4, retries: Int = 3,
                backoffMs: Long = 2000): DataFrame =
    scrape(spark, fetch(url), baseUrl, outDir, workers = workers,
      retries = retries, backoffMs = backoffMs)

  /** EP1 — the scrape pipeline (`scrape_newest_baci_data.R` top-to-bottom):
    * XPath link extraction from a fetched page → NA filter → regex keep →
    * absolutize → dedup → parallel retrying download. Returns the per-url
    * status frame (the reference's silent-failure bug,
    * `scrape_newest_baci_data.R:6-7`, cannot recur unnoticed).
    *
    * `html` is the fetched page text: the fetch itself is driver-side
    * (one page), everything after is the Spark chain.
    */
  def scrape(spark: SparkSession, html: String, baseUrl: String,
             outDir: String,
             linkXpath: String = "//div[@class='content_box']//a/@href",
             keepPattern: String = "(?i)\\.(zip|pdf)$",
             workers: Int = 4, retries: Int = 3,
             backoffMs: Long = 2000): DataFrame = {
    import spark.implicits._
    val urls = Seq(html).toDF("html")
      .select(explode(expr(
        s"""xpath(html, "$linkXpath")""")).as("href"))
      .filter(col("href").isNotNull && col("href") =!= "")
      .filter(col("href").rlike(keepPattern))
      // scheme-aware absolutization (the reference's grepl("^http"),
      // widened to any URI scheme so file: fixtures drive the same path)
      .select(when(col("href").rlike("^[a-z][a-z0-9+.-]*:"), col("href"))
        .otherwise(concat(lit(baseUrl), col("href"))).as("url"))
      .distinct()
    // metadata-scale collect: a download page has tens of links
    val dests = urls.as[String].collect().toSeq
      .map(u => (u, s"$outDir/${u.split('/').last}"))
    HttpSink.download(spark, dests, workers, retries, backoffMs)
  }

  /** EP2 — the changelog report (`assess_changes.qmd:47-188`): manifest
    * both version trees, file-level drift, then per-matched-pair row/
    * schema drift for pairs whose extensions agree (csv-csv or
    * xlsx-xlsx, `:120-122`), through [[SchemaDiff.pairCompare]].
    * Both manifests are listed on the driver, so the pairs are matched
    * there: every (old, new) combination of a `std_name`, as
    * [[FileManifest.joinVersions]] gives. Returns (file_diff,
    * pair_report).
    */
  def assessChanges(spark: SparkSession, oldDir: String,
                    newDir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val o = FileManifest.listRows(spark, oldDir, "old")
    val n = FileManifest.listRows(spark, newDir, "new")
    val fileDiff = FileManifest.fileDiff(o.toDF(), n.toDF())
    def ext(path: String) = Seq(".csv", ".xlsx").find(path.toLowerCase.endsWith)
    val newByName = n.groupBy(_.std_name)
    val pairs = for {
      a <- o
      b <- newByName.getOrElse(a.std_name, Nil)
      if ext(a.full_path).isDefined && ext(a.full_path) == ext(b.full_path)
    } yield (a.std_name, a.full_path, b.full_path)
    (fileDiff, SchemaDiff.pairCompare(spark, pairs))
  }

  /** EP3 — the country/species diff (`assess_changes.qmd:265-353`):
    * clean both production frames, then distinct-set diffs in both
    * directions. Returns a long frame (entity, direction, value) —
    * `direction` = "removed" (old-only) / "added" (new-only), sorted,
    * matching the report's `setdiff` + `sort` (`:335-338,348-351,366,375`).
    */
  def countrySpeciesDiff(spark: SparkSession, oldProd: DataFrame,
                         newProd: DataFrame): DataFrame = {
    val oldC = CleanProd.clean(oldProd)
    val newC = CleanProd.clean(newProd)
    def diff(entity: String, colName: String): DataFrame = {
      val o = oldC.select(col(colName).as("value")).distinct()
      val n = newC.select(col(colName).as("value")).distinct()
      o.except(n).select(lit(entity).as("entity"),
        lit("removed").as("direction"), col("value"))
        .unionByName(n.except(o).select(lit(entity).as("entity"),
          lit("added").as("direction"), col("value")))
    }
    diff("country", "country_iso3_alpha")
      .unionByName(diff("species", "SciName"))
      .orderBy("entity", "direction", "value")
  }
}
