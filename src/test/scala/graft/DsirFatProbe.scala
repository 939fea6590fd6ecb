package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r18 (VERDICT r17 item 7): prove corpus_dsir's two-pass trade on the
  * fat corpus. Dsir.select tokenizes+md5s the corpus TWICE (bucket
  * aggregate, per-doc rollup); the alternative stages ONE (doc, is_t,
  * bucket, count) partial aggregate and feeds both rollups from it —
  * one tokenize pass, one O(docs × distinct-buckets-per-doc) stage
  * write. The r17 ledger argued the write is the wrong 100 TB trade;
  * unmeasured until now.
  *
  * Manual: sbt "Test/runMain graft.DsirFatProbe [corpusDir] [reps]".
  * corpusDir should carry the fat documents table (ReplicateCorpus
  * `src dst 1 1 0 1` — the 64 MB giant + the 1 MB band). Parity of
  * the two variants is asserted before timing.
  */
object DsirFatProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/sffat_r18")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = ProbeSession()

    def docs(): DataFrame = spark.read
      .parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))

    val numBuckets = 4096
    def current(): DataFrame = graft.operators.Dsir.select(
      docs(), "doc_id", "text", col("source") === "src0", topK = 100)

    // single-pass variant: the (doc, is_t, bucket) partial aggregate is
    // staged once; bucket table and per-doc rollup both read it
    def singlePass(): DataFrame = {
      val tok = docs().select(col("doc_id"),
        when(col("source") === "src0", 1L).otherwise(0L).as("is_t"),
        explode(expr(
          "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"))
          .as("w"))
      val bt = tok.select(col("doc_id"), col("is_t"),
        (conv(substring(md5(col("w")), 1, 6), 16, 10).cast("long")
          % numBuckets).as("b"))
      val bt2 = graft.operators.Stage.materialize(
        bt.groupBy("doc_id", "is_t", "b").agg(count(lit(1)).as("c")),
        "dsir_doc_buckets")
      val bc = bt2.groupBy("b")
        .agg(sum("c").as("cr"), sum(col("is_t") * col("c")).as("ct"))
      val n = bc.agg(sum("cr").as("nr"), sum("ct").as("nt"))
      val pts = bc.crossJoin(broadcast(n))
        .select(col("b"), floor(
          ((col("ct") + 1).cast("double") *
            (col("nr") + numBuckets).cast("double")) /
            ((col("cr") + 1).cast("double") *
              (col("nt") + numBuckets).cast("double")) *
            lit(10000.0) + lit(0.5)).as("p"))
      val ds = bt2.join(broadcast(pts), "b")
        .groupBy(col("doc_id"))
        .agg(sum("c").as("n_tokens"), sum(col("c") * col("p")).as("pts"))
        .withColumn("avg_pts", expr("pts div n_tokens"))
      ds.orderBy(col("avg_pts").desc, col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("n_tokens"), col("pts"), col("avg_pts"))
    }

    val a = current().collect().map(_.toSeq).toSeq
    val b = singlePass().collect().map(_.toSeq).toSeq
    require(a == b, s"variant divergence: ${a.take(3)} vs ${b.take(3)}")
    println(s"[dsirfat] parity: identical top-100 (${a.size} rows)")

    def time(tag: String)(f: () => DataFrame): Unit = {
      val t0 = System.nanoTime()
      f().write.format("noop").mode("overwrite").save()
      println(f"[dsirfat] $tag%-12s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    (1 to reps).foreach { _ =>
      time("two-pass")(current _)
      time("single-pass")(singlePass _)
    }
    spark.stop()
  }
}
