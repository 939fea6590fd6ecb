package graft.ingest

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, NullType, StructType}

/** Schema-introspection operators — the reference's signature capability
  * (SURVEY.md §2.8): reify a StructType into data, diff two schemas, diff
  * row counts, and orchestrate the per-pair compare of
  * `assess_changes.qmd:127-188`.
  */
object SchemaDiff {

  /** `colnames(df)`-as-data (`assess_changes.qmd:148-149`): reify a schema
    * into a (column, dtype) DataFrame.
    */
  def reify(spark: SparkSession, schema: StructType): DataFrame = {
    import spark.implicits._
    schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq
      .toDF("column", "dtype")
  }

  /** Column-level drift: full-outer join of two reified schemas on column
    * name; `type_changed` uses null-propagating inequality, matching R
    * `old != new` with NA → NA (`assess_changes.qmd:160-174`).
    * Output: (column, old_type, new_type, added, removed, type_changed).
    */
  def schemaDiff(spark: SparkSession, oldS: StructType, newS: StructType): DataFrame = {
    val o = reify(spark, oldS).select(col("column"), col("dtype").as("old_type"))
    val n = reify(spark, newS).select(col("column"), col("dtype").as("new_type"))
    o.join(n, Seq("column"), "full_outer").select(
      col("column"), col("old_type"), col("new_type"),
      col("old_type").isNull.as("added"),
      col("new_type").isNull.as("removed"),
      (col("old_type") =!= col("new_type")).as("type_changed"))
  }

  /** Schema and row count of every CSV file in `paths`: what a per-file
    * `spark.read.option("header", "true").option("inferSchema", "true")
    * .csv(path)` gives as `.schema` and `.count()`, in one Spark job for
    * all files instead of a header job, an inference job and a count job
    * per file.
    *
    * Each file's first non-empty line is read on the driver
    * (`CSVUtils.readHeaderLine`). One line read of every file carries
    * `_metadata.file_path`; each task folds the lines of each file it
    * holds into a line count and Spark's `CSVInferSchema.inferRowType`
    * row types, skipping lines equal to the file's header in the fold as
    * Spark's inference does (`CSVUtils.filterHeaderLine`). The driver
    * merges a file's partial results with `mergeRowTypes` (a file split
    * across tasks sums the same), then names the columns with
    * `makeSafeHeader` and types them with `toStructFields`. A file has
    * its non-empty lines as rows, less its header. A file with no such
    * line profiles as no columns and 0 rows, where the per-file read
    * fails for want of a schema.
    */
  def csvProfiles(spark: SparkSession,
      paths: Seq[String]): Map[String, (StructType, Long)] = {
    import spark.implicits._
    if (paths.isEmpty) return Map.empty
    val opts = new CSVOptions(Map("header" -> "true", "inferSchema" -> "true"),
      columnPruning = true, defaultTimeZoneId = spark.conf.get("spark.sql.session.timeZone"))
    val conf = spark.sparkContext.hadoopConfiguration
    val files = paths.distinct.map { p =>
      val path = new Path(p)
      p -> path.getFileSystem(conf).makeQualified(path)
    }
    val headers: Map[Path, String] = files.flatMap { case (_, q) =>
      CSVUtils.readHeaderLine(q, opts, conf).map(q -> _)
    }.toMap
    def tokens(line: String) = new CsvParser(opts.asParserSettings).parseLine(line)
    val width = headers.map { case (q, h) => q -> tokens(h).length }
    val infer = new CSVInferSchema(opts)
    // Read in groups the file index lists on the driver: a read of more
    // root paths than the discovery threshold lists them in a Spark job.
    val group =
      spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    val text = files.map(_._2.toString).grouped(group).map { g =>
      spark.read.text(g: _*).select(col("_metadata.file_path"), col("value"))
    }.reduce(_ union _)
    // one (file, lines, row types) per file per task; the rows of one
    // file are contiguous within a task
    val partial = text.as[(String, String)]
      .mapPartitions { rows =>
        val it = rows.buffered
        val parser = new CsvParser(opts.asParserSettings)
        Iterator.continually(it).takeWhile(_.hasNext).map { _ =>
          val fp = it.head._1
          val file = new Path(new java.net.URI(fp))
          val run = new Iterator[String] {
            def hasNext: Boolean = it.hasNext && it.head._1 == fp
            def next(): String = it.next()._2
          }
          var n = 0L
          var types = Array.fill[DataType](width.getOrElse(file, 0))(NullType)
          CSVUtils.filterHeaderLine(
            CSVUtils.filterCommentAndEmpty(run, opts).map { l => n += 1; l },
            headers.getOrElse(file, ""), opts)
            .foreach(l => types = infer.inferRowType(types, parser.parseLine(l)))
          (file.toString, n, types.map(_.json).toSeq)
        }
      }.collect()
    val byFile = partial.groupBy(_._1).map { case (f, xs) =>
      f -> (xs.map(_._2).sum,
        xs.map(_._3.map(DataType.fromJson).toArray).reduce(infer.mergeRowTypes))
    }
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
    files.map { case (p, q) =>
      p -> (headers.get(q) match {
        case None => (new StructType(), 0L)
        case Some(h) =>
          val names = CSVUtils.makeSafeHeader(tokens(h), caseSensitive, opts)
          val (lines, types) = byFile(q.toString)
          (StructType(infer.toStructFields(types, names)), lines - 1)
      })
    }.toMap
  }

  /** Per-pair compare (`pair_compare`, `assess_changes.qmd:127-179`):
    * row counts and column drift of each matched (std_name, old path,
    * new path). Every CSV file of every pair is profiled in one pass
    * ([[csvProfiles]], header and inferred types); each `.xlsx` file is read
    * on its own as the reference's `read_xlsx(skip = 1)` (`:132,138`).
    * Schema drift is computed on the driver-side StructTypes.
    */
  def pairCompare(spark: SparkSession, pairs: Seq[(String, String, String)]): DataFrame = {
    import spark.implicits._
    val (xlsx, csv) = pairs.flatMap(p => Seq(p._2, p._3)).distinct
      .partition(_.toLowerCase.endsWith(".xlsx"))
    val profiles = csvProfiles(spark, csv) ++ xlsx.map { p =>
      val df = graft.sources.Xlsx.read(spark, p, skip = 1)
      p -> (df.schema, df.count())
    }
    val rows = pairs.map { case (stdName, oldPath, newPath) =>
      val ((oldS, oc), (newS, nc)) = (profiles(oldPath), profiles(newPath))
      def types(s: StructType) =
        s.fields.map(f => f.name -> f.dataType.simpleString).toMap
      val (o, n) = (types(oldS), types(newS))
      val added = (n.keySet -- o.keySet).toArray.sorted
      val removed = (o.keySet -- n.keySet).toArray.sorted
      val typeChanged = o.keySet.intersect(n.keySet)
        .filter(c => o(c) != n(c)).toArray.sorted
      (stdName, oc, nc, nc - oc,
        if (added.isEmpty) null else added,
        if (removed.isEmpty) null else removed,
        if (typeChanged.isEmpty) null else typeChanged)
    }
    rows.toDF("std_name", "old_rows", "new_rows", "row_change",
      "added_cols", "removed_cols", "type_changed_cols")
  }
}
