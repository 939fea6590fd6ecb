package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry
import graft.operators.Stage

/** One benchmark run over a frozen list of `SparkEntry.queries` names.
  *
  * The client is closed-loop: one query at a time, each built (the
  * registry call, with every eager job an operator runs while building)
  * and then written in full to Spark's `noop` sink. Every pass starts
  * with `Stage.purge`, so each pass pays the fit-once model and fixture
  * caches a pipeline run pays. The first `--warmup-passes` passes warm
  * the JVM and are not measured; measured passes follow until
  * `--seconds` have elapsed.
  * A pass's peak live heap is the largest heap occupancy right after any
  * GC during it ([[GcWatch]]); it is taken for untraced measured passes. Every pass ends with
  * full GCs outside the timing, so the next starts from a clean heap.
  *
  * With `--trace 1` measured passes run untraced, traced, traced,
  * untraced, and so on; the traced ones record spans and Spark jobs
  * ([[Tracer]]) and yield the per-layer metrics, and the difference of
  * the two kinds' median pass times is the tracing overhead.
  *
  * Args: --data DIR --queries a,b,c --expect FILE (tab-separated query
  * name and oracle row count) --seed N --seconds S --trace 0|1 --cores N
  * --setups K --warmup-passes W --min-passes N (measured passes to run
  * even past --seconds) --out FILE --spans FILE. The query name
  * `__injected_failure__` runs a query that throws, for the harness
  * self-check. Writes raw samples as JSON to --out.
  */
object Harness {
  val InjectedFailure = "__injected_failure__"
  private val WarmupQuery = "q1_agg"

  final case class Failure(query: String, pass: Int, cls: String, message: String)

  def main(argv: Array[String]): Unit = {
    val arg = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = arg("data")
    val names = arg("queries").split(",").toSeq
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val cores = arg("cores").toInt
    val expect = Files.readAllLines(Paths.get(arg("expect"))).asScala
      .filter(_.nonEmpty).map { l => val Array(k, v) = l.split("\t"); k -> v.toLong }.toMap

    val registry = SparkEntry.queries +
      (InjectedFailure -> ((_: SparkSession, _: String) =>
        throw new IllegalStateException("injected failure")))
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"not in SparkEntry.queries: ${missing.mkString(", ")}")
    val unchecked = names.filterNot(n => n == InjectedFailure || expect.contains(n))
    require(unchecked.isEmpty, s"no oracle row count for: ${unchecked.mkString(", ")}")

    // Setup: session start plus one warm-up query, several times; the
    // last session is kept for the passes.
    val setupS = (1 to arg("setups").toInt).map { i =>
      if (i > 1) SparkSession.active.stop()
      val t0 = System.nanoTime()
      val s = SparkSession.builder().master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      val session = secondsSince(t0)
      materialize(registry(WarmupQuery)(s, data))
      val dt = secondsSince(t0)
      System.gc() // untimed: what follows starts from a clean heap
      System.err.println(f"[harness] setup $i%d: $dt%.3f s, of which session start $session%.3f s")
      dt
    }
    val spark = SparkSession.active
    val sc = spark.sparkContext
    val gcWatch = new GcWatch
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(sc.addSparkListener)
    val run = tracer.map(_.open(0, "run", s"seed=$seed"))

    val passS = mutable.ArrayBuffer.empty[Double]
    val tracedPassS = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val queryS = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[Failure]
    var attempted = 0
    var pass = 0
    var measuredFrom = 0L
    val minPasses = arg("min-passes").toInt
    val warmup = arg("warmup-passes").toInt

    while (pass < warmup || passS.size + tracedPassS.size < minPasses ||
        secondsSince(measuredFrom) < seconds) {
      // untraced, traced, traced, untraced, ...: both kinds see the same
      // average position in the run, which cancels a steady JIT speed-up
      val traceThis = tracer.filter(_ => pass >= warmup && Set(1, 2)((pass - warmup) % 4))
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      Stage.purge(spark)
      Stage.drainTimings()
      if (pass == warmup) measuredFrom = System.nanoTime()
      val passSpan = traceThis.map(t => t.open(run.get.id, "pass", s"pass $pass"))
      val t0 = System.nanoTime()
      val window0 = GcWatch.uptimeMs()
      val times = order.map { name =>
        attempted += 1
        val qSpan = for (t <- traceThis; p <- passSpan) yield t.open(p.id, "query", name)
        def phase[T](kind: String)(body: => T): T = {
          val s = for (t <- traceThis; q <- qSpan) yield t.open(q.id, kind, name)
          sc.setLocalProperty(Tracer.SpanProp, s.map(_.id.toString).orNull)
          try body
          finally {
            sc.setLocalProperty(Tracer.SpanProp, null)
            for (t <- traceThis; x <- s) t.close(x)
          }
        }
        val q0 = System.nanoTime()
        try {
          val df = phase("build")(registry(name)(spark, data))
          val rows = phase("materialize")(materialize(df))
          if (name != InjectedFailure && rows != expect(name))
            failures += Failure(name, pass, "RowCountMismatch",
              s"materialized $rows rows, oracle has ${expect(name)}")
        } catch {
          case e: Throwable =>
            failures += Failure(name, pass, e.getClass.getName,
              String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(500))
        }
        for (t <- traceThis; q <- qSpan) t.close(q)
        secondsSince(q0)
      }
      val dt = secondsSince(t0)
      val window = (window0, GcWatch.uptimeMs())
      cleanHeap() // untimed: a clean heap for the next pass
      System.err.println(f"[harness] pass $pass%d${if (traceThis.isDefined) " (traced)" else ""}: $dt%.3f s, ${failures.size}%d failures so far")
      (traceThis, passSpan) match {
        case (Some(t), Some(p)) =>
          t.close(p)
          BenchBus.drain(sc)
          layers += t.passMetrics(p, cores, Stage.drainTimings())
          tracedPassS += dt
        case _ if pass >= warmup =>
          passS += dt
          gcWatch.watch(window)
          queryS ++= times
        case _ => ()
      }
      pass += 1
    }

    for (t <- tracer; r <- run) { t.close(r); t.writeTo(Paths.get(arg("spans"))) }
    val peaks = gcWatch.peaks()
    System.err.println(s"[harness] peak live heap per untraced pass: " +
      peaks.map { case (mb, n) => f"$mb%.1f MB over $n%d GCs" }.mkString(", "))
    val out = Map(
      "setup_s" -> setupS, "pass_s" -> passS, "traced_pass_s" -> tracedPassS,
      "query_s" -> queryS, "peak_live_heap_mb" -> peaks.map(_._1), "layers" -> layers,
      "attempted" -> attempted, "failed" -> failures.size,
      "failures" -> failures.map(f => Map("query" -> f.query, "pass" -> f.pass,
        "class" -> f.cls, "message" -> f.message)))
    Files.writeString(Paths.get(arg("out")), Json(out))
    spark.stop()
  }

  /** Writes `df` in full to the `noop` sink; returns its row count. */
  def materialize(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** A full GC, then another once Spark's ContextCleaner has had time to
    * drop the broadcast and shuffle state the first one released.
    */
  private def cleanHeap(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
  }
}
