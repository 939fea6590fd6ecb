package graft.operators

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame

/** Stage materialization for multi-branch operator plans.
  *
  * A **stage checkpoint** writes a narrow frame once to parquet and
  * hands every consumer a fresh scan of that file. It earns its place
  * where a frame feeds several plan branches over a wide source (the
  * MinHash/SimHash/LSH/PQ sketch frames: banding plus signature/code
  * join-backs would each re-scan and re-hash the corpus), or where it
  * cuts the lineage of an iterative loop. Elsewhere a lazy plan is
  * cheaper: the write runs a Spark job while the query is being built.
  * `StagePolicySpec` lists every call site with its reason.
  *
  * Unlike `persist()`, a stage leaks no cached blocks into the caller's
  * session and costs no executor memory; it is the production shape at
  * 100 TB (checkpoint the signatures, not the text), keeps each
  * invocation self-contained, and each branch's scan is column-pruned.
  *
  * Disk lifecycle: every stage directory is tracked. Local-tmp stages
  * (the default) are deleted by a JVM shutdown hook; `spark.graft.
  * stageDir` stages (HDFS/S3 deployments) are deleted through the
  * Hadoop FileSystem by the same hook, best-effort. A LONG-LIVED
  * session that runs many sketch operators should call `Stage.purge
  * (spark)` at points where no staged frame is still referenced (e.g.
  * between jobs) — stages are one-off per invocation, so disk grows
  * with invocation count until purge/exit.
  */
object Stage {

  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()

  // Caches that hold DataFrames/paths backed by staged files register a
  // listener here and are cleared by purge() — without this, a purge in
  // a long-lived session leaves fit-once caches (ANN models, planted
  // corpora, fixture paths) pointing at deleted directories, and the
  // next cache hit fails mid-scan. Registrants are the handful of
  // static ModelCache instances, so the list stays bounded.
  private val purgeListeners =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Register a callback run after every [[purge]] — for caches whose
    * entries reference staged files and must drop with them.
    */
  def onPurge(f: () => Unit): Unit = purgeListeners.add(f)

  // Wall-clock seconds of each materialize WRITE, by tag — the bench
  // drains this per query so a "same code, N× slower" round can be
  // localized to a stage in one look instead of re-instrumenting.
  private val timings =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()

  /** Remove and return all stage-write timings recorded since the last
    * drain: (tag, seconds) in write-completion order.
    */
  def drainTimings(): Seq[(String, Double)] = {
    val out = Seq.newBuilder[(String, Double)]
    var e = timings.poll()
    while (e != null) { out += e; e = timings.poll() }
    out.result()
  }

  /** Best-effort recursive delete of one tracked directory: local ones
    * through java.nio, the rest through the Hadoop FileSystem.
    */
  private def delete(dir: String, isLocal: Boolean,
                     conf: => org.apache.hadoop.conf.Configuration): Unit =
    try {
      if (isLocal) {
        Files.walk(Path.of(dir)).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { val _ = Files.deleteIfExists(f) })
      } else {
        val p = new org.apache.hadoop.fs.Path(dir)
        val _ = p.getFileSystem(conf).delete(p, true)
      }
    } catch { case _: Throwable => }

  sys.addShutdownHook {
    tracked.forEach { case (dir, isLocal) =>
      delete(dir, isLocal, new org.apache.hadoop.conf.Configuration())
    }
  }

  /** Delete every stage directory written so far. ONLY safe when no
    * DataFrame returned by `materialize` will be read again — i.e.
    * between logically-independent jobs in a long-lived session.
    * Registered [[onPurge]] listeners (the fit-once model/fixture
    * caches) are cleared afterwards, so cached entries can never
    * outlive the staged files they reference: the next access refits
    * and restages.
    */
  def purge(spark: org.apache.spark.sql.SparkSession): Unit = {
    var e = tracked.poll()
    while (e != null) {
      delete(e._1, e._2, spark.sparkContext.hadoopConfiguration)
      e = tracked.poll()
    }
    purgeListeners.forEach(f => f())
  }

  /** Register a caller-created LOCAL scratch directory for the same
    * shutdown-hook deletion the stage directories get — queries that
    * write fixture/sink output to a temp dir route it through here so
    * repeated gate/bench invocations do not accumulate orphan dirs.
    */
  def trackLocal(dir: String): Unit = tracked.add((dir, true))

  /** Materialize `df` to a one-off parquet stage and return a scan of it.
    * The write is the only pass over `df`'s lineage; every downstream
    * branch reads the (small, scalar-only) staged file instead.
    */
  def materialize(df: DataFrame, tag: String): DataFrame = {
    val spark = df.sparkSession
    val base = spark.conf.getOption("spark.graft.stageDir")
    val dir = base match {
      case Some(b) =>
        val d = s"$b/graft_stage_${tag}_${java.util.UUID.randomUUID().toString.take(8)}"
        tracked.add((d, false))
        d
      case None =>
        val p = Files.createTempDirectory(s"graft_stage_$tag")
        tracked.add((p.toString, true))
        p.resolve("data").toString
    }
    val t0 = System.nanoTime()
    df.write.mode("overwrite").parquet(dir)
    timings.add((tag, (System.nanoTime() - t0) / 1e9))
    // the schema is already known — passing it skips the footer-sniffing
    // schema-inference job a bare spark.read.parquet would run
    spark.read.schema(df.schema).parquet(dir)
  }
}
