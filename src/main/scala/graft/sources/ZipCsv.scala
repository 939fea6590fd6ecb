package graft.sources

import java.io.{ByteArrayInputStream, InputStream}
import java.util.zip.ZipInputStream
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Zipped-CSV source (SURVEY.md §2.1 `src_zip`; the reference ingests
  * `GlobalProduction_*.zip` bundles, `assess_changes.qmd:267-275`).
  *
  * Spark has no zip codec, so the decode rides the `binaryFile` source:
  * each zip's bytes arrive as one row, a `flatMap` streams its entries
  * through `ZipInputStream` into text lines, and Spark's own CSV reader
  * parses the resulting Dataset[String] (schema inference included).
  *
  * Scale shape: one task per zip file (binaryFile splits at file
  * granularity — zips aren't splittable), entries stream through the
  * executor without materializing the archive; thousands of zips
  * parallelize across the cluster. A single giant zip is the known
  * degenerate case (single task) — re-shard upstream if that matters.
  */
object ZipCsv {

  /** Raw lines of every matching entry across all zips under `path`:
    * (zip_path, entry, line). Lines stream; no per-entry buffering
    * beyond the zip codec's own.
    */
  def lines(spark: SparkSession, path: String,
            entryPattern: String = "(?i).*\\.csv$"): Dataset[(String, String, String)] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.zip")
      .load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (zipPath, bytes) =>
        entryLines(zipPath, new ByteArrayInputStream(bytes), entryPattern)
      }
  }

  /** The lines of one archive's matching entries, decoded lazily: a
    * line is read when it is pulled, and each entry is drained before
    * `getNextEntry` advances past it.
    */
  private[graft] def entryLines(zipPath: String, archive: InputStream,
                                entryPattern: String): Iterator[(String, String, String)] = {
    val zis = new ZipInputStream(archive)
    Iterator.continually(zis.getNextEntry)
      .takeWhile(_ != null)
      .filter(e => !e.isDirectory && e.getName.matches(entryPattern))
      .flatMap { e =>
        val name = e.getName
        scala.io.Source.fromInputStream(zis, "UTF-8").getLines()
          .map(l => (zipPath, name, l))
      }
  }

  /** Parse all matching entries as one CSV table (entries must share a
    * header, as the reference's FAO bundles do — the first line is taken
    * as the header and repeated header lines from other entries are
    * dropped by Spark's CSV-from-Dataset path).
    */
  def read(spark: SparkSession, path: String,
           entryPattern: String = "(?i).*\\.csv$"): DataFrame = {
    import spark.implicits._
    val ls = lines(spark, path, entryPattern).map(_._3)
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(ls)
  }
}
