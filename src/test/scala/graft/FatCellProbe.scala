package graft

import org.apache.spark.sql.functions._

/** Bounded hot-VALUE limit probe
  * (`sbt "Test/runMain graft.FatCellProbe [mbSizes]"`, default
  * 256,512,1024,1536): how far up the record-size axis does each core
  * text primitive hold before something in the stack (JVM array caps,
  * UTF8String's 2 GB byte ceiling, parquet page limits, task binary
  * shipping) gives out — the "near-2-GB cell" leg of the round-13
  * fat-record audit. Each step is try/caught and reported
  * individually, so the output is a defect LEDGER, not a crash.
  *
  * Findings land in reports/SWEEP_FAT_r14.md; the shipped corpus
  * fat mode stays at 64 MB — the biggest size every gate family
  * handles — while this probe documents the measured ceiling and the
  * first failing component past it.
  */
object FatCellProbe {

  def main(args: Array[String]): Unit = {
    val sizesMb = args.headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(256, 512, 1024, 1536))
    val spark = ProbeSession()
    import spark.implicits._

    def step(tag: String)(body: => Any): Unit = {
      val t0 = System.nanoTime()
      try {
        val r = body
        println(f"[fatcell] $tag%-34s OK   ${(System.nanoTime() - t0) / 1e9}%7.1fs  $r")
      } catch { case e: Throwable =>
        println(f"[fatcell] $tag%-34s FAIL ${(System.nanoTime() - t0) / 1e9}%7.1fs  " +
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}")
      }
      System.out.flush()
    }

    sizesMb.foreach { mb =>
      println(s"[fatcell] ===== ${mb} MB text cell =====")
      val text =
        try ReplicateCorpus.fatText(9000L + mb, mb.toLong * 1024 * 1024)
        catch { case e: Throwable =>
          println(s"[fatcell] generate ${mb}MB FAIL ${e.getMessage}"); ""
        }
      if (text.nonEmpty) {
        lazy val df = Seq((1L, text)).toDF("doc_id", "text")
        step(s"${mb}MB localize+length")(
          df.select(length(col("text"))).head().getInt(0))
        step(s"${mb}MB token count")(
          df.select(size(graft.operators.Dedup.normTokens(col("text"))))
            .head().getInt(0))
        step(s"${mb}MB distinct shingles")(
          df.select(size(graft.operators.Dedup.shingleHashes(col("text"))))
            .head().getInt(0))
        step(s"${mb}MB minhash sig")(
          df.select(size(graft.operators.Dedup.minhashSignature(col("text"))))
            .head().getInt(0))
        step(s"${mb}MB chunk count")(
          df.select(col("doc_id"),
            posexplode(org.apache.spark.sql.graftshim.Shim.column(
              graft.expressions.ChunkSlices(
                org.apache.spark.sql.graftshim.Shim.expression(col("text")),
                200, 50))))
            .groupBy("doc_id").count().head().getLong(1))
        val dir = s"/tmp/fatcell_${mb}mb.parquet"
        step(s"${mb}MB parquet write")(
          { df.write.mode("overwrite").parquet(dir); "written" })
        step(s"${mb}MB parquet read+verify")(
          spark.read.parquet(dir)
            .select(length(col("text"))).head().getInt(0))
        step(s"${mb}MB shuffle one row")(
          df.repartition(col("doc_id"))
            .select(length(col("text"))).head().getInt(0))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      }
    }
    // the array-cell twin: a single embedding row at 256M floats (1 GB)
    println("[fatcell] ===== 1 GB float-array cell =====")
    step("array build 256M floats")({
      val n = 256 * 1024 * 1024
      val arr = new Array[Float](n)
      var i = 0
      while (i < n) { arr(i) = (i % 1001) / 1000.0f; i += 1 }
      val adf = Seq((1L, arr)).toDF("vec_id", "embedding")
      val s = adf.select(size(col("embedding"))).head().getInt(0)
      val dir = "/tmp/fatcell_arr.parquet"
      adf.write.mode("overwrite").parquet(dir)
      val back = spark.read.parquet(dir)
        .select(size(col("embedding"))).head().getInt(0)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      s"size=$s roundtrip=$back"
    })
    spark.stop()
  }
}
