package graft

import org.apache.spark.sql.functions._

/** Scale probe for RobustStats (manual: sbt "Test/runMain
  * graft.RobustStatsProbe"): exact parity vs percentile() at 1M rows,
  * then wall-clock of the iterative-histogram median at 10M/50M/100M —
  * every pass is a full-scan aggregate with constant-size partials
  * (2048 (count,min,max) triples), so the curve must stay near-linear
  * in rows with a tiny constant pass count (the candidate interval
  * shrinks ~2048× per pass).
  */
object RobustStatsProbe {
  def main(args: Array[String]): Unit = {
    val spark = ProbeSession()

    def data(n: Long) = spark.range(n)
      .select((pmod(xxhash64(col("id")), lit(1000003)).cast("double") +
        pmod(xxhash64(col("id"), lit(7)), lit(997)).cast("double") / 1000.0)
        .as("x"))

    val small = data(1000000L)
    val want = small.selectExpr("percentile(x, 0.5D) AS p").head().getDouble(0)
    val got = graft.operators.RobustStats.medianExact(small, col("x"))
    println(s"RSTATS parity@1M exact=$got percentile=$want")
    assert(got == want, "histogram median diverged from percentile()")

    for (m <- Seq(10L, 50L, 100L)) {
      val n = m * 1000000L
      val t0 = System.nanoTime()
      val med = graft.operators.RobustStats.medianExact(data(n), col("x"))
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"RSTATS median n=${m}M med=$med%.3f time=$sec%.2f s")
    }
    spark.stop()
  }
}
