package graft

import org.apache.spark.sql.types._

/** Guards the loader against driver test-data contract drift.
  *
  * Round 6 regression: the driver regenerated `events.parquet` with
  * `ts` as TIMESTAMP(MICROS) while the loader assumed TIMESTAMP(NANOS),
  * erroring 22 queries at analysis time. `graft.queries.t` now branches
  * on the OBSERVED physical type; this spec pins that behavior:
  *
  *  - every driver table loads, and `events.ts` surfaces as
  *    TimestampType regardless of which physical generation is on disk
  *    (micros reads natively; legacy nanos reads as long and is
  *    rebuilt);
  *  - a deliberately re-typed events fixture (ts as neither timestamp
  *    nor long) fails FAST with one clear message naming the type
  *    found — not 22 downstream analysis errors.
  *
  * The schema `t` hands to the reader comes from the parquet footer, read
  * on the driver; the specs below pin it to what Spark's own inference
  * gives, and pin that building over a table runs no Spark job.
  */
class DataContractSpec extends SparkFunSuite {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  test("every driver table loads from the gate SF directory") {
    val failures = tables.flatMap { name =>
      try { queries.t(spark, sfDir, name).schema; None }
      catch { case e: Throwable => Some(s"$name: $e") }
    }
    assert(failures.isEmpty,
      s"driver tables failed to load from $sfDir:\n" +
        failures.mkString("\n"))
  }

  test("events.ts surfaces as TimestampType under either physical generation") {
    val df = queries.t(spark, sfDir, "events")
    assert(df.schema("ts").dataType === TimestampType,
      s"loader must normalize events.ts to TimestampType; got " +
        s"${df.schema("ts").dataType}")
    // and rows actually read (the type branch must not drop data)
    assert(df.limit(1).count() === 1L)
  }

  test("a re-typed events.ts fails fast, naming the observed type") {
    val dir = java.nio.file.Files.createTempDirectory("graft_evbad").toString
    import spark.implicits._
    // string-typed ts: matches neither the timestamp nor the legacy
    // nanos-long contract
    Seq(("e1", "2024-01-01T00:00:00", "u1", 1.0))
      .toDF("event_id", "ts", "user_id", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ex = intercept[IllegalStateException] {
      queries.t(spark, dir, "events")
    }
    assert(ex.getMessage.contains("StringType"),
      s"failure must name the observed type; was: ${ex.getMessage}")
    assert(ex.getMessage.contains("events.ts"),
      s"failure must name the drifted column; was: ${ex.getMessage}")
  }

  private def path(dir: String, name: String) = s"$dir/$name.parquet"

  test("footer schema equals spark.read.parquet's on every table, file and writer-directory form") {
    val dirs = java.nio.file.Files.createTempDirectory("graft_footer").toString
    val mismatches = tables.flatMap { name =>
      val file = path(sfDir, name)
      val dir = path(dirs, name)
      spark.read.parquet(file).write.parquet(dir)
      Seq(file, dir).flatMap { p =>
        val (footer, inferred) =
          (queries.parquet(spark, p).schema, spark.read.parquet(p).schema)
        if (footer == inferred) None else Some(s"$p: $footer != $inferred")
      }
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
    // a partitioned writer directory: partition columns follow the data
    // columns in both reads
    val parted = path(dirs, "nation_by_region")
    spark.read.parquet(path(sfDir, "nation")).write
      .partitionBy("n_regionkey").parquet(parted)
    assert(queries.parquet(spark, parted).schema ===
      spark.read.parquet(parted).schema)
    assert(queries.parquet(spark, parted).count() === 25L)
  }

  test("footer schema follows spark.sql.parquet.mergeSchema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_merge").toString
    Seq((1, "a")).toDF("k", "x").write.parquet(s"$dir/t/part=1")
    Seq((2, 2.5)).toDF("k", "y").write.parquet(s"$dir/t/part=2")
    val p = s"$dir/t"
    assert(queries.parquet(spark, p).schema === spark.read.parquet(p).schema)
    assert(queries.parquet(spark, p).schema.fieldNames.toSeq ===
      Seq("k", "x", "part"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(queries.parquet(spark, p).schema === spark.read.parquet(p).schema)
      assert(queries.parquet(spark, p).schema.fieldNames.toSeq ===
        Seq("k", "x", "y", "part"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("footer schema follows spark.sql.parquet.respectSummaryFiles") {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft_summary").resolve("t").toString
    // summary files hold (k, x); a later data file without them adds y
    Seq((1, "a")).toDF("k", "x").write
      .option("parquet.summary.metadata.level", "ALL").parquet(p)
    Seq((2, "b", 2.5)).toDF("k", "x", "y").write.mode("append").parquet(p)
    assert(java.nio.file.Files.exists(java.nio.file.Path.of(p, "_common_metadata")))
    def fields = {
      val got = queries.parquet(spark, p).schema
      assert(got === spark.read.parquet(p).schema)
      got.fieldNames.toSeq
    }
    assert(fields === Seq("k", "x"))
    val keys = Seq("spark.sql.parquet.mergeSchema", "spark.sql.parquet.respectSummaryFiles")
    try {
      spark.conf.set(keys(0), "true")
      assert(fields === Seq("k", "x", "y"))
      spark.conf.set(keys(1), "true")
      assert(fields === Seq("k", "x"))
    } finally keys.foreach(spark.conf.unset)
  }

  test("a tree of more directories than the discovery threshold is left to Spark's read") {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft_wide").resolve("t").toString
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "part").write.partitionBy("part").parquet(p)
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    // the root and its three partition directories
    assert(queries.parquetSchema(spark, p).isDefined)
    spark.conf.set(key, "3")
    try {
      assert(queries.parquetSchema(spark, p) === None)
      assert(queries.parquet(spark, p).schema === spark.read.parquet(p).schema)
      assert(queries.parquet(spark, p).count() === 3L)
    } finally spark.conf.unset(key)
  }

  test("building over a driver table runs no Spark job") {
    val jobs = tables.map(n => n -> withJobCount(queries.t(spark, sfDir, n))._2)
    assert(jobs.forall(_._2 == 0), s"schema reads ran jobs: $jobs")
    val (df, n) = withJobCount(SparkEntry.queries("proj_any_of")(spark, sfDir))
    assert(n === 0, "building the one-table proj_any_of ran a Spark job")
    assert(df.count() === spark.read.parquet(path(sfDir, "customer")).count())
  }

  test("a TIMESTAMP(NANOS) events file reads through the footer's nanosAsLong retry") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("graft_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,true));
        |  optional binary event_type (STRING);
        |}""".stripMargin)
    val conf = spark.sparkContext.hadoopConfiguration
    val nanos = Seq(1700000000123456789L, 1700003600000000999L, -1000L)
    val w = ExampleParquetWriter.builder(
      HadoopOutputFile.fromPath(new Path(path(dir, "events")), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(groups.newGroup().append("event_id", i.toLong)
        .append("ts", ns).append("event_type", "view"))
    } finally w.close()
    // start with the flag off whatever earlier reads left; restore after
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(flag)
    spark.conf.unset(flag)
    try {
      // the footer conversion raises the error the retry catches ...
      val e = intercept[org.apache.spark.sql.AnalysisException](
        queries.parquetSchema(spark, path(dir, "events")))
      assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
      // ... and `t` retries with the flag, still without a Spark job
      val (df, jobs) = withJobCount(queries.t(spark, dir, "events"))
      assert(jobs === 0)
      assert(spark.conf.get(flag) === "true")
      assert(df.schema("ts").dataType === TimestampType)
      val got = df.orderBy("event_id").select("ts").collect()
        .map(_.getTimestamp(0).toInstant).toSeq
      val micros = nanos.map(ns => Math.floorDiv(ns, 1000L))
      assert(got === micros.map(us => java.time.Instant.EPOCH.plus(us,
        java.time.temporal.ChronoUnit.MICROS)))
    } finally before.fold(spark.conf.unset(flag))(spark.conf.set(flag, _))
  }
}
