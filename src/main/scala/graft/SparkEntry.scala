package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is registered here as a
  * named query over the driver's parquet tables; `oracleSql` carries the
  * DuckDB twin for the harness's hash-compare (column names/aliases match
  * the Spark output exactly).
  */
object SparkEntry {

  private val registry: Seq[Q] =
    Relational.all ++ IngestQ.all ++ TextQ.all ++ CorpusQ.all ++
      ScaleQ.all ++ StreamQ.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Semantically-equivalent SQL where the op is
    * SQL-expressible; for the sketch/ANN ops, SQL that replays the
    * sketch or the brute-force ranking, or asserts an error bound.
    */
  def oracleSql: Map[String, String] =
    registry.collect { case Q(n, _, Some(sql)) => n -> sql }.toMap
}
