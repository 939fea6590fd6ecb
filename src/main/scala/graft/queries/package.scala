package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooters
import org.apache.spark.sql.types.StructType

package object queries {

  /** One registry entry: a named DataFrame query over the driver's
    * parquet tables plus (optionally) the DuckDB oracle SQL the harness
    * hash-compares it against. Column names/aliases MUST match between
    * the two (the driver sorts columns by name before hashing).
    */
  final case class Q(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** Read one driver table from a scale-factor directory.
    *
    * The schema comes from the parquet footer, read on the driver
    * ([[parquet]]), so building a query over driver tables runs no
    * Spark job.
    *
    * `events.parquet` has shipped with two different physical types for
    * `ts` across test-data generations: parquet INT64 TIMESTAMP(MICROS)
    * (reads natively as a timestamp) and INT64 TIMESTAMP(NANOS) (which
    * Spark 4 rejects outright — PARQUET_TYPE_ILLEGAL — unless the
    * `nanosAsLong` legacy conf maps it to a plain long). We branch on the
    * OBSERVED schema rather than assuming either contract: a timestamp-
    * typed `ts` passes through untouched; a long-typed `ts` (legacy nanos
    * read) is rebuilt as a microsecond-precision timestamp — the engine's
    * documented precision floor; every oracle comparison truncates to
    * ≥ms anyway (see StreamQ scaladoc). Any other type fails loudly,
    * naming what was found, so a future data-contract drift surfaces as
    * one clear message instead of 22 downstream analysis errors.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") {
      import org.apache.spark.sql.functions.{expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      val raw =
        try parquet(spark, path)
        catch {
          // TIMESTAMP(NANOS) footer without the legacy flag: enable the
          // flag (needed at execution time too, so it must stay set for
          // this session's nanos-era reads) and re-read as long.
          case e: org.apache.spark.sql.AnalysisException
              if e.getMessage.contains("PARQUET_TYPE_ILLEGAL") ||
                e.getMessage.toLowerCase.contains("nanos") =>
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            parquet(spark, path)
        }
      raw.schema("ts").dataType match {
        case TimestampType => raw
        case TimestampNTZType =>
          // Epoch-identical under the engine's mandated UTC session; keeps
          // every downstream query seeing the same TimestampType the
          // nanos-era loader produced (window/unix_timestamp/etc. parity).
          raw.withColumn("ts", raw("ts").cast(TimestampType))
        case LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case other =>
          throw new IllegalStateException(
            s"events.ts at $path read as unsupported type $other; " +
              "expected a timestamp (TIMESTAMP(MICROS) data) or long " +
              "(TIMESTAMP(NANOS) data under nanosAsLong). Update " +
              "graft.queries.t for the new data contract.")
      }
    } else parquet(spark, path)
  }

  /** `spark.read.parquet(path)` without its schema-inference job: the
    * schema is read from the footer(s) on the driver ([[parquetSchema]])
    * and handed to the reader. Where [[parquetSchema]] gives none (a
    * missing path, an empty directory, a tree too large to list on the
    * driver) it is Spark's own read, with its inference and its errors.
    */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame =
    parquetSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema `spark.read.parquet(path)` infers, from the footers
    * Spark's inference (`ParquetUtils.inferSchema`) touches: a summary
    * file if there is one, else the first data file by path. Under
    * `spark.sql.parquet.mergeSchema`, every summary file and, unless
    * `spark.sql.parquet.respectSummaryFiles` is on, every data file.
    * `path` is a file or a directory, listed the way Spark's file index
    * lists it. `None` when there is no footer to read, and when the tree
    * holds more directories than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`: a large
    * partitioned table is then listed once, by Spark's own read (which
    * spreads a wide listing over a job), not also here one directory at a
    * time.
    */
  private[graft] def parquetSchema(spark: SparkSession,
      path: String): Option[StructType] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
    def flag(key: String) = spark.conf.get(key).toBoolean
    val limit =
      spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // breadth first, one listStatus per directory, up to `limit` of them
    @scala.annotation.tailrec
    def walk(dirs: Seq[Path], files: Seq[FileStatus],
        listed: Int): Option[Seq[FileStatus]] =
      if (dirs.isEmpty) Some(files)
      else if (listed + dirs.size > limit) None
      else {
        val (sub, leaf) = dirs.flatMap(fs.listStatus(_).toSeq)
          .filterNot(c => GraftFooters.hidden(c.getPath.getName))
          .partition(_.isDirectory)
        walk(sub.map(_.getPath), files ++ leaf, listed + dirs.size)
      }
    val listing =
      if (!fs.exists(root)) None
      else {
        val st = fs.getFileStatus(root)
        if (st.isDirectory) walk(Seq(root), Nil, 0) else Some(Seq(st))
      }
    listing.flatMap { found =>
      val files = found.sortBy(_.getPath.toString)
      def named(n: String) = files.filter(_.getPath.getName == n)
      val (common, meta) =
        (named(PARQUET_COMMON_METADATA_FILE), named(PARQUET_METADATA_FILE))
      val data = files.diff(common ++ meta)
      GraftFooters.schema(spark,
        if (!flag("spark.sql.parquet.mergeSchema")) (common ++ meta ++ data).take(1)
        else if (flag("spark.sql.parquet.respectSummaryFiles")) meta ++ common
        else data ++ meta ++ common)
    }
  }

  /** Create a local scratch directory that is TRACKED for shutdown-hook
    * deletion (the [[graft.operators.Stage]] lifecycle). Every query
    * that writes fixture or sink output to disk uses this instead of a
    * bare `Files.createTempDirectory` — gate runs invoke each query 3×
    * and the bench `reps`×, so untracked dirs would accumulate one
    * orphan parquet copy per invocation.
    */
  def scratchDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    graft.operators.Stage.trackLocal(p.toString)
    p
  }
}
