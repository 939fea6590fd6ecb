package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table helpers (SURVEY.md §7 100 TB design rule: "co-located
  * joins via bucketing").
  *
  * A fact table that is joined on the same key repeatedly (orders ⋈
  * lineitem every run) should pay its shuffle ONCE at write time:
  * `bucketBy(n, key)` hash-partitions the files, and every later
  * equi-join or aggregation on that key plans with zero Exchange on the
  * bucketed side(s) — Spark picks SortMergeJoin straight over the bucket
  * files. BucketingSpec asserts the no-shuffle plan.
  */
object Bucketing {

  /** Write `df` as a bucketed managed table, sorted within each bucket
    * file. The sort does not spare a merge join its own sort: a bucket
    * may hold several files, so under Spark's default
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=false` a bucketed
    * scan reports no output ordering and the plan sorts above both
    * scans; only the shuffle is saved. Drops any previous
    * incarnation AND its warehouse location first — a location left by
    * an earlier session isn't in the new session's catalog, and
    * saveAsTable refuses to overwrite an unregistered directory
    * (LOCATION_ALREADY_EXISTS).
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Join two same-bucketed tables on their bucket key — shuffle-free. */
  def colocatedJoin(spark: SparkSession, left: String, right: String,
                    key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)
}
