package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A/B probe for the round-13 clone-collapse re-keying
  * (`sbt "Test/runMain graft.CloneKeyProbe <docsDir> [reps]"`):
  * runs the OLD text-keyed textGroups shape (groupBy(text) +
  * equi-join on text, inlined here verbatim from the r12 code) and the
  * NEW hash-keyed `Dedup.textGroups` on the same documents corpus, and
  * reports wall seconds plus total shuffle WRITE bytes per variant
  * (captured by a stage-completion listener — the byte volume the
  * 16-byte-key claim is about). Run against /tmp/sfrep100 for the
  * 100×-corpus evidence row in reports/R13_CLONEKEY.md.
  */
object CloneKeyProbe {

  private final class ShuffleMeter extends SparkListener {
    @volatile var writeBytes = 0L
    @volatile var readBytes = 0L
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      writeBytes += s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
      readBytes += s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
    }
  }

  /** The r12 shape, verbatim (minus Stage.materialize, applied equally
    * to both variants here so the probe measures the KEYING, not the
    * staging I/O).
    */
  private def oldTextGroups(df: DataFrame): (DataFrame, DataFrame) = {
    val norm = df.select(col("doc_id").as("id"), col("text"))
    val reps = norm.groupBy("text").agg(min("id").as("rep"))
    val membership = norm.join(reps, Seq("text")).select("id", "rep")
    (membership, reps.select(col("rep"), col("text")))
  }

  private def newTextGroups(df: DataFrame): (DataFrame, DataFrame) = {
    val norm = df.select(col("doc_id").as("id"), col("text"))
    val nn = norm.filter(col("text").isNotNull)
      .withColumn("hkey", unhex(md5(col("text"))))
    val reps = nn.groupBy("hkey").agg(min("id").as("rep"),
      first(col("text")).as("text"))
    val membership = nn.select("id", "hkey")
      .join(reps.select("hkey", "rep"), Seq("hkey")).select("id", "rep")
      .unionByName(norm.filter(col("text").isNull)
        .select(col("id"), col("id").as("rep")))
    (membership, reps.select(col("rep"), col("text")))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sfrep100")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = ProbeSession()
    val docs = queries.t(spark, dir, "documents").select("doc_id", "text")

    def run(tag: String, f: DataFrame => (DataFrame, DataFrame)): Unit = {
      (1 to reps).foreach { rep =>
        val m = new ShuffleMeter
        spark.sparkContext.addSparkListener(m)
        val t0 = System.nanoTime()
        val (membership, repsDf) = f(docs)
        // consume both frames the way the dedup family does: a full
        // pass over membership and the rep text lengths
        val nM = membership.count()
        val nR = repsDf.agg(count(lit(1)), sum(length(col("text")))).head()
        val secs = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1000) // let the async listener bus drain
        spark.sparkContext.removeSparkListener(m)
        println(f"[clonekey] $tag rep=$rep wall=$secs%.2fs " +
          f"shuffleWrite=${m.writeBytes / 1e6}%.1fMB " +
          f"shuffleRead=${m.readBytes / 1e6}%.1fMB " +
          s"membership=$nM reps=${nR.getLong(0)}")
      }
    }
    run("old-textkey", oldTextGroups)
    run("new-hashkey", newTextGroups)
    spark.stop()
  }
}
