package graft


/** One-look plan probe for the r15 null-contract filters
  * (`Test/runMain graft.NullPushdownProbe [sfDir]`): the wellFormed /
  * ordered-fold / vector-contract IsNotNull filters must reach the
  * parquet scan as PushedFilters — at 100 TB a null-heavy column
  * (parquet null_count statistics per row group) then prunes at the
  * reader, and the contract costs a codegen'd null check instead of a
  * post-scan pass. Prints the scan line's PushedFilters for one query
  * per contract family.
  */
object NullPushdownProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = ProbeSession()
    def pushed(name: String): Unit = {
      val df = SparkEntry.queries(name)(spark, dir)
      val scans = df.queryExecution.executedPlan.toString.split("\n")
        .filter(_.contains("PushedFilters"))
        .map(_.trim.replaceAll(".*PushedFilters: ", "").take(120))
      println(s"[pushdown] $name -> ${scans.mkString(" ;; ")}")
    }
    Seq("stream_anomaly", "ts_ewma", "win_session", "cluster_kmeans",
      "class_nb", "funnel_conv").foreach(pushed)
    spark.stop()
  }
}
