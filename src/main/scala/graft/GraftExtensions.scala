package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions._

/** SQL surface for graft's native expressions: registers `graft_*`
  * functions so pure-SQL users (spark.sql, JDBC, notebooks) get the same
  * codegen'd kernels the DataFrame API uses.
  *
  * Two registration paths:
  *  - config-driven: `.config("spark.sql.extensions", "graft.GraftExtensions")`
  *    at session build (the standard extension-jar deployment);
  *  - runtime: `GraftExtensions.register(spark)` on an existing session
  *    (what Verify/Bench and the tests use — the driver owns session
  *    construction there).
  *
  * Static arguments (k, seed, bands, …) must be literals; they are folded
  * into the expression at resolution time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
    // Scale-conformance audit on every query of an extension-built
    // session (graft.plans.ScaleGuard scaladoc): unpartitioned windows
    // and unbounded cartesians, warn/error/off per
    // spark.graft.guard.mode. Injected pre-CBO so it runs ONCE per
    // query after the operator-optimization batches (predicate
    // pushdown has extracted join conditions by then) — a plain
    // injectOptimizerRule lands in the fixed-point batches and would
    // re-run and re-log the same audit several times per query.
    ext.injectPreCBORule(graft.plans.ScaleGuardRule)
  }
}

object GraftExtensions {

  private def intLit(e: Expression): Int =
    e.eval(null).asInstanceOf[Number].intValue
  private def longLit(e: Expression): Long =
    e.eval(null).asInstanceOf[Number].longValue
  private def doubleLit(e: Expression): Double =
    e.eval(null).asInstanceOf[Number].doubleValue

  /** name → (args => Expression) for every SQL-exposed kernel. */
  val registrations: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" -> (a => CosineSim(a(0), a(1))),
    "graft_dot" -> (a => DotProduct(a(0), a(1))),
    "graft_shingle_hashes" -> (a => ShingleHashes(a(0), intLit(a(1)))),
    "graft_minhash_sig" -> (a =>
      MinHashSig(a(0), intLit(a(1)), longLit(a(2)))),
    "graft_band_hashes" -> (a =>
      BandHashes(a(0), intLit(a(1)), intLit(a(2)))),
    "graft_sig_agreement" -> (a => SigAgreement(a(0), a(1))),
    "graft_sorted_jaccard" -> (a => SortedJaccard(a(0), a(1))),
    "graft_simhash64" -> (a => SimHash64(a(0))),
    "graft_hyperplane_buckets" -> (a => HyperplaneBuckets(
      a(0), intLit(a(1)), intLit(a(2)), intLit(a(3)), longLit(a(4)))),
    "graft_first_agree" -> (a => FirstAgreeIndex(a(0), a(1))),
    "graft_grid_quantize" -> (a => GridQuantize(a(0), doubleLit(a(1)))),
    // the centroid model is a column argument (e.g. a broadcast
    // one-row aggregate), unlike the matrix-carrying kernels below
    "graft_nearest_grid_centroid" -> (a => NearestGridCentroid(a(0), a(1))),
    "graft_text_signals" -> (a => TextSignals(a(0))),
    "graft_normalize_alnum" -> (a => NormalizeAlnum(a(0))),
    "graft_repetition_signals" -> (a => RepetitionSignals(a(0))),
    "graft_winnow_fingerprint" -> (a =>
      WinnowFingerprint(a(0), intLit(a(1)), intLit(a(2)))),
    "graft_scrub_text" -> (a => ScrubText(a(0))),
    // aggregates register like any expression (Spark resolves them to
    // an AggregateFunction at planning)
    "graft_space_saving_topk" -> (a =>
      SpaceSavingTopK(a(0), intLit(a(1)), intLit(a(2)))),
    "graft_bloom_build" -> (a =>
      BloomBuildAgg(a(0), intLit(a(1)), intLit(a(2)))),
    // bloom bytes arrive as a (folded) binary literal — X'..' in SQL
    "graft_bloom_might_contain" -> (a => BloomMightContain(a(0),
      a(1).eval(null).asInstanceOf[Array[Byte]], intLit(a(2)))),
    // Morton z-value over two bigint dims — the single catalyst tree
    // behind ZOrder.zvalue (built as raw nodes: a Column assembled
    // inside a function builder would stay unresolved)
    "graft_zvalue2" -> (a =>
      graft.operators.ZOrder.zvalueExpr(Seq(a(0), a(1)), intLit(a(2)))),
    // NearestCentroid / PqEncode / PqAdcDist carry centroid matrices in
    // the expression instance — not SQL-literal-able; their surface is
    // VecFns.nearestCentroid / pqEncode / pqAdcDist, used by the IVF,
    // PQ and IVF-PQ fit/probe pairs in Similarity and by Cluster.kmeans.
  )

  /** Runtime registration on an existing session. */
  def register(spark: SparkSession): Unit =
    registrations.foreach { case (name, builder) =>
      org.apache.spark.sql.graftshim.Shim.registerFunction(spark, name, builder)
    }
}
