package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Z-order data-skipping probe: the SAME selective 2-d predicate read
  * from three physical layouts of the same rows — arrival order, a
  * linear sort on one dimension, and the Morton layout. The measured
  * quantity is the scan's numOutputRows (rows surviving parquet
  * row-group pruning + page filtering), the thing min/max clustering
  * exists to shrink. Results land in BASELINE.md.
  */
object ZOrderProbe {
  def main(args: Array[String]): Unit = {
    // one row group per ~small block so pruning granularity is visible
    val spark = ProbeSession(
      "spark.hadoop.parquet.block.size" -> (64 * 1024).toString)

    val base = spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01")))
          .cast("long").as("d"))
    val dir = java.nio.file.Files.createTempDirectory("graft_zprobe").toString

    base.repartition(16).write.parquet(s"$dir/arrival")
    base.repartitionByRange(16, col("o_custkey"))
      .sortWithinPartitions("o_custkey").write.parquet(s"$dir/linear")
    graft.operators.ZOrder.layoutBy(base,
      Seq(col("o_custkey"), col("d")), numFiles = 16)
      .write.parquet(s"$dir/zorder")

    def rowsRead(df: DataFrame): (Long, Long) = {
      // drive THIS plan instance (df.count() would plan a fresh copy
      // and leave these metrics untouched)
      val qe = df.queryExecution
      val n = qe.executedPlan.execute().count()
      val scan = qe.executedPlan.collectLeaves()
        .collectFirst { case s: FileSourceScanExec => s }.get
      (scan.metrics("numOutputRows").value, n)
    }

    for ((tag, pred) <- Seq(
      ("custkey-band", col("o_custkey").between(1000, 1200)),
      ("day-band", col("d").between(100, 200)),
      ("both-bands", col("o_custkey").between(1000, 1200) &&
        col("d").between(100, 200)))) {
      for (layout <- Seq("arrival", "linear", "zorder")) {
        val (read, kept) = rowsRead(
          spark.read.parquet(s"$dir/$layout").filter(pred))
        println(f"ZPROBE $tag%-12s $layout%-8s rows_read=$read%7d matched=$kept%6d")
      }
    }
    spark.stop()
  }
}
