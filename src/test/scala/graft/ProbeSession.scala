package graft

import org.apache.spark.sql.SparkSession

/** The session the probes and timing mains in `src/test` run on:
  * `local[N]` with N shuffle partitions, N = `SPARK_GRAFT_CPUS`, else
  * the JVM's available processors (as `Verify` and `Bench` size
  * theirs), UTC session time, no UI, ERROR logging. `conf` adds or
  * overrides settings.
  */
object ProbeSession {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(conf: (String, String)*): SparkSession = {
    val base = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
