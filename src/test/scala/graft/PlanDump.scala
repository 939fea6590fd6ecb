package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Physical-plan dump of registered queries (`<sfDir> <outDir>
  * <query,query,...>`): for each query, after `Stage.purge`, it builds
  * the DataFrame and writes `<outDir>/<query>.txt`, the line
  * `build jobs: N` (the Spark jobs the build ran: stage writes, counts,
  * collects) followed by the executed plan as AQE first plans it.
  * Expression ids, plan ids, object hashes, the input directory and
  * stage-file paths are normalized (`#n`, `#nL`, `plan_id=n`,
  * `Lambda$n`, `@n`, `<sf>`, `<stage:tag>`), so dumps of two checkouts
  * diff on plan shape only. The tags of the stage writes the build ran go to stdout. It
  * runs on [[ProbeSession]] and uses only the query registry, `Stage`
  * and `ListenerBusDrain`, so it also compiles in a checkout of an older
  * commit, for a parent/change comparison.
  */
object PlanDump {
  def normalize(plan: String, sfDir: String): String =
    plan.replace(sfDir.stripSuffix("/"), "<sf>")
      .replaceAll("file:[^\\s\\],]*graft_stage_([A-Za-z0-9_]*?)_?-?\\d{5,}/data",
        "file:<stage:$1>")
      .replaceAll("#\\d+L", "#nL")
      .replaceAll("#\\d+", "#n")
      .replaceAll("plan_id=\\d+", "plan_id=n")
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda\\$n")
      .replaceAll("@[0-9a-f]{4,8}\\b", "@n")

  def main(args: Array[String]): Unit = {
    val Array(dir, outDir, list) = args
    val spark = ProbeSession()
    val sc = spark.sparkContext
    val tag = "graft.plandump"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) != null))
          jobs.incrementAndGet()
    })
    Files.createDirectories(Paths.get(outDir))
    list.split(",").foreach { q =>
      graft.operators.Stage.purge(spark)
      org.apache.spark.ListenerBusDrain(sc)
      val _ = graft.operators.Stage.drainTimings()
      jobs.set(0)
      sc.setLocalProperty(tag, q)
      val df = try SparkEntry.queries(q)(spark, dir)
        finally sc.setLocalProperty(tag, null)
      org.apache.spark.ListenerBusDrain(sc)
      val n = jobs.get
      val stages = graft.operators.Stage.drainTimings().map(_._1)
      val plan = normalize(df.queryExecution.executedPlan.treeString, dir)
      Files.writeString(Paths.get(outDir, s"$q.txt"),
        s"build jobs: $n\n$plan")
      println(s"[plandump] $q build_jobs=$n stages=${stages.mkString(",")}")
    }
    spark.stop()
  }
}
