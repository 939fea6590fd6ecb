package graft

import org.apache.spark.sql.functions._

/** Measurement probe for the radius-join grid geometry
  * (`Test/runMain graft.SpatialBenchProbe <sfDir> [reps] [subCells]`,
  * subCells a comma list, default "1,2"): times join_spatial's exact
  * frames through `Spatial.radiusJoin` at each forced sub-cell
  * factor, plus the r12-era bare shape and the auto-planned form, and
  * asserts identical aggregate row counts across every variant (the
  * grid is a physical choice, not a semantic one). Used twice:
  *
  *  - r15 regression adjudication: the r12 BASELINE "join_spatial
  *    11.3 s at 100×" row — this probe measured r12's OWN bare shape
  *    at 49.7-57.5 s on /tmp/sfrep100 and 6.2-10.3 s on /tmp/sfrep30,
  *    establishing the old row as a 30×-scale figure (BASELINE.md r15
  *    100× table);
  *  - r15 sub-cell sweep: is the auto plan's k=1 pick right at 100×
  *    density, where the k=2 candidate saving (225→156.25 r²-units,
  *    analysis on Spatial.radiusJoin) might beat the ×25/9 small-side
  *    replication? Ledgered in reports/SPATIALK_r15.md.
  */
object SpatialBenchProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sfrep100")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val ks = args.lift(2).getOrElse("1,2").split(",").map(_.trim.toInt)
    val spark = ProbeSession()
    import graft.operators.Sampling.contentHash
    def coord(c: org.apache.spark.sql.Column, seed: Long) =
      pmod(contentHash(c, seed, portable = true), lit(1000000L))
        .cast("double") / 10000.0
    val cust = queries.t(spark, dir, "customer").select(col("c_custkey"),
      coord(col("c_custkey"), 7).as("cx"),
      coord(col("c_custkey"), 8).as("cy"))
    val supp = queries.t(spark, dir, "supplier").select(col("s_suppkey"),
      coord(col("s_suppkey"), 9).as("sx"),
      coord(col("s_suppkey"), 10).as("sy"))
    def agg(j: org.apache.spark.sql.DataFrame) =
      j.groupBy("c_custkey")
        .agg(count(lit(1)).as("n_near"),
          round(sqrt(min((col("cx") - col("sx")) * (col("cx") - col("sx"))
            + (col("cy") - col("sy")) * (col("cy") - col("sy")))), 6)
            .as("min_d"))
    val plan = graft.operators.Spatial.radiusPlan(
      cust, supp, "cx", "cy", "sx", "sy", r = 5.0)
    println(s"[spatial] plan=$plan")
    var expect = -1L
    def run(form: String, j: => org.apache.spark.sql.DataFrame): Unit =
      (1 to reps).foreach { rep =>
        val t0 = System.nanoTime()
        val n = agg(j).count()
        if (expect < 0) expect = n
        assert(n == expect, s"$form rows=$n != $expect — grid must be " +
          "physical-only")
        println(f"[spatial] $form%-8s rep=$rep rows=$n " +
          f"wall=${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
    run("bare", graft.operators.Spatial.radiusJoin(
      cust, supp, "cx", "cy", "sx", "sy", r = 5.0))
    run("planned", graft.operators.Spatial.radiusJoinPlanned(
      cust, supp, "cx", "cy", "sx", "sy", r = 5.0, plan))
    ks.foreach { k =>
      run(s"k=$k", graft.operators.Spatial.radiusJoin(
        cust, supp, "cx", "cy", "sx", "sy", r = 5.0, subCells = k))
    }
    spark.stop()
  }
}
