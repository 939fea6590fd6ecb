package graft

import org.apache.spark.sql.functions._

/** Scale probe for GraphSim (manual: sbt "Test/runMain
  * graft.GraphSimProbe"): neighbor-set Jaccard over synthetic
  * bounded-degree graphs at 1M/5M/10M edges. Candidates come only from
  * shared-neighbor wedges, so with degree bounded by construction the
  * wedge volume grows linearly in edges — the curve must stay
  * near-linear. (A hub-heavy graph is the documented skew case: cap or
  * salt the hub adjacency, as with Triangles.)
  */
object GraphSimProbe {
  def main(args: Array[String]): Unit = {
    val spark = ProbeSession()

    // ~m edges over m/8 vertices: expected degree ~16, max wedge
    // fan-in bounded by the hash spread
    def edges(m: Long) = {
      val v = m / 8
      spark.range(m).select(
          pmod(xxhash64(col("id")), lit(v)).as("a"),
          pmod(xxhash64(col("id"), lit(1)), lit(v)).as("b"))
        .filter(col("a") < col("b"))
    }

    for (m <- Seq(1L, 5L, 10L)) {
      val t0 = System.nanoTime()
      val out = graft.operators.GraphSim
        .neighborJaccard(edges(m * 1000000L), "a", "b", minJac = 0.2)
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"GRAPHSIM jaccard m=${m}M pairs>=0.2=$out time=$sec%.2f s")
    }
    spark.stop()
  }
}
