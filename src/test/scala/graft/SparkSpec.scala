package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * `sbt test` fast; suites must not mutate global session state).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkFunSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.Sf0001

  // `f`'s result and the Spark jobs it submitted (from this thread and
  // the futures it starts)
  def withJobCount[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.jobs") == tag))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.spec.jobs", tag)
    try {
      val out = f
      org.apache.spark.ListenerBusDrain(sc)
      (out, n.get)
    } finally {
      sc.setLocalProperty("graft.spec.jobs", null)
      sc.removeSparkListener(l)
    }
  }
}
