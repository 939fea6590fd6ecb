package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Driver-side access to Spark's parquet footer reader and schema
  * converter (both `private[parquet]`). `ParquetFileFormat.inferSchema`
  * runs the same two calls inside a Spark job; here they run on the
  * driver's footer-reading thread pool under the session conf
  * (binary-as-string, INT96, NTZ inference, `nanosAsLong`, Spark's row
  * metadata).
  */
object GraftFooters {
  def schema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] = {
    val state = spark.sessionState
    ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
      state.newHadoopConf(), files, state.conf.ignoreCorruptFiles), spark)
  }

  /** Names Spark's file index leaves out of a listing. */
  def hidden(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
