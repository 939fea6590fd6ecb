package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query filter (local iteration)]
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_(name)) }
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): both give the single parquet
      // file the checker reads, but coalesce merges the FINAL stage to
      // one task, serializing every upstream window/aggregation of the
      // query itself (at the 100x audit corpus ts_interp's windows ran
      // 150k users through one task). repartition adds a shuffle
      // boundary, so the query computes at full parallelism and only
      // the write is single-task.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the exact set this run TRIED to dump (post-filter): lets the
    // checker flag a query that threw (no output dir) without
    // guessing whether a missing dir means "subset run" or "crashed"
    val attempted = SparkEntry.queries.keys
      .filter(name => only.forall(_(name))).toSeq.sorted
    Files.writeString(Paths.get(s"$outDir/attempted.json"),
      attempted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
