package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VecFns
import graft.operators.Classify

/** Multinomial Naive Bayes (operators/Classify.scala): separable
  * corpora must classify perfectly, unseen-vocabulary docs must fall
  * back to the documented prior+default scoring with the deterministic
  * tie-break, zero-token docs drop, and the class-cardinality bound
  * fails loudly. The oracle-gated query (class_nb) covers the
  * engine-vs-engine math; this spec pins the MODEL semantics.
  */
class ClassifySpec extends SparkFunSuite {
  import spark.implicits._

  private val train = Seq(
    (0L, "apple banana cherry apple", "fruit"),
    (2L, "banana cherry banana melon", "fruit"),
    (4L, "dog emu fox dog", "beast"),
    (6L, "fox emu wolf emu", "beast")
  ).toDF("doc_id", "text", "source")

  private lazy val model =
    Classify.trainNb(train, "doc_id", "text", "source")

  test("separable held-out docs classify perfectly") {
    val test = Seq(
      (1L, "apple cherry melon"),
      (3L, "banana banana"),
      (5L, "wolf dog"),
      (7L, "emu fox fox wolf")
    ).toDF("doc_id", "text")
    val got = Classify.scoreNb(test, model, "doc_id", "text")
      .select("doc_id", "pred").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "fruit", 3L -> "fruit",
      5L -> "beast", 7L -> "beast"))
  }

  test("model shape: sorted classes, aligned priors and defaults") {
    assert(model.classes === Seq("beast", "fruit"))
    // equal doc counts -> equal priors ln(1/2)
    assert(model.priorLp.forall(p => math.abs(p - math.log(0.5)) < 1e-12))
    // both classes have 8 training tokens, shared V=8 vocab
    assert(model.defaultLp === Seq.fill(2)(math.log(1.0 / (8 + 8))))
  }

  test("unseen-vocab doc: exact score tie breaks to the larger class") {
    // every token unseen -> score_c = prior_c + n*default_c; priors and
    // defaults are equal here, so the tie must go to "fruit" (max name)
    // on Spark exactly as the oracle's ORDER BY score DESC, cls DESC
    val got = Classify.scoreNb(Seq((9L, "zebra quark")).toDF("doc_id", "text"),
      model, "doc_id", "text").as[(Long, String, Long, Double)].head()
    assert(got._2 === "fruit")
    assert(got._3 === 2L)
    // score is per token: (prior + n*default)/n
    val want = (math.log(0.5) + 2 * math.log(1.0 / 16)) / 2
    assert(math.abs(got._4 - math.rint(want * 1e4) / 1e4) < 1e-9)
  }

  test("zero-token docs are unclassifiable and drop from the output") {
    val got = Classify.scoreNb(
      Seq((11L, "...!!!"), (12L, "apple")).toDF("doc_id", "text"),
      model, "doc_id", "text")
    assert(got.select("doc_id").as[Long].collect().toSeq === Seq(12L))
  }

  test("class cardinality above maxClasses fails loudly") {
    val wide = (0 until 5).map(i => (i.toLong, s"tok$i", s"cls$i"))
      .toDF("doc_id", "text", "source")
    val e = intercept[IllegalArgumentException] {
      Classify.trainNb(wide, "doc_id", "text", "source", maxClasses = 3)
    }
    assert(e.getMessage.contains("maxClasses"))
  }

  test("scoring joins 1x the token stream: no cartesian, no window") {
    val test = Seq((1L, "apple wolf")).toDF("doc_id", "text")
    val p = Classify.scoreNb(test, model, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      "argmax must be the struct-max expression, not a window/cross join:\n" +
        p.take(1200))
  }

  // ---- nearest-centroid on the integer grid (class_centroid) ----

  private def quant(x: Float, scale: Double): Long =
    BigDecimal(x.toDouble * scale)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Local brute force of the explode / (label, i) aggregate / join /
    * window form: centroid cell = round(Σq / n) over a class's rows (n
    * counts null elements), distance = Σ over dims where both sides
    * are non-null (None when none are), order = distance ascending with
    * None first, then the lowest class.
    */
  private def bruteForce(
      train: Seq[(Long, Option[Seq[Option[Float]]], Option[Int])],
      test: Seq[(Long, Option[Seq[Option[Float]]], Option[Int])],
      scale: Double): Map[Long, Int] = {
    val cents = train.collect { case (_, Some(v), Some(l)) => (l, v) }
      .groupBy(_._1).map { case (l, rs) =>
        val dims = rs.map(_._2.size).max
        l -> (0 until dims).map { i =>
          val cells = rs.map(_._2).filter(_.size > i).map(_(i))
          val qs = cells.flatten.map(quant(_, scale))
          if (qs.isEmpty) None
          else Some(BigDecimal(qs.sum.toDouble / cells.size.toDouble)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
        }
      }
    test.collect { case (id, Some(v), _) =>
      val q = v.map(_.map(quant(_, scale)))
      val scored = cents.toSeq.map { case (l, c) =>
        val terms = q.zip(c).collect { case (Some(a), Some(b)) => (a - b) * (a - b) }
        (if (terms.isEmpty) None else Some(terms.sum), l)
      }
      id -> scored.minBy { case (d, l) => (d.isDefined, d.getOrElse(0L), l) }._2
    }.toMap
  }

  private def vecFrame(rows: Seq[(Long, Option[Seq[Option[Float]]],
      Option[Int])]): DataFrame =
    rows.map { case (id, v, l) => (id, v.map(_.map(_.map(Float.box).orNull)), l) }
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"),
        col("label"))

  private def preds(train: DataFrame, test: DataFrame,
      scale: Double): Map[Long, Int] =
    Classify.scoreGridCentroids(test,
        Classify.fitGridCentroids(train, "label", "embedding", scale),
        "embedding")
      .select("vec_id", "pred").as[(Long, Int)].collect().toMap

  test("grid centroids match a local brute-force argmin: ties, null " +
       "elements, all-null distances, null label/vector rows") {
    def v(xs: Any*): Option[Seq[Option[Float]]] = Some(xs.map {
      case null => None
      case x: Double => Some(x.toFloat)
      case x: Int => Some(x.toFloat)
    })
    // scale 1: centroids 1 → (0,0), 2 → (2,2) (dim 0 rounds 7/3),
    // 5 → (0,4); the null-label and null-vector rows must not train
    val train = Seq((0L, v(0, 0), Some(1)), (2L, v(2, 2), Some(2)),
      (4L, v(3, 2), Some(2)), (6L, v(2, 2), Some(2)),
      (8L, v(0, 4), Some(5)), (10L, v(100, 100), None), (12L, None, Some(1)))
    val test = Seq(
      (1L, v(1, 1), Some(1)), // d = 2, 2, 10: tie → lowest class 1
      (3L, v(1, 2), Some(2)), // d = 5, 1, 5
      (5L, v(null, 1), Some(1)), // dim 0 skipped: d = 1, 1, 9 → 1
      (7L, v(2, null), Some(2)), // d = 4, 0, 4 → 2
      (9L, v(null, null), Some(5)), // every distance null → lowest class
      (11L, v(0.5, 0.5), Some(1)), // HALF_UP → (1,1): tie → 1
      (13L, v(-0.5, 3), Some(5)), // away from zero → (-1,3): d = 10, 10, 2
      (15L, None, Some(1))) // null vector: unscorable, no row
    val got = preds(vecFrame(train), vecFrame(test), 1.0)
    assert(got === bruteForce(train, test, 1.0))
    assert(got === Map(1L -> 1, 3L -> 2, 5L -> 1, 7L -> 2, 9L -> 1,
      11L -> 1, 13L -> 5))

    // random corpus on the 2^21 grid, with null elements and rows
    val rnd = new Random(3)
    def row(id: Long) = (id,
      if (rnd.nextInt(15) == 0) None
      else Some(Seq.fill(8)(
        if (rnd.nextInt(20) == 0) None else Some(rnd.nextGaussian().toFloat))),
      if (rnd.nextInt(15) == 0) None else Some(rnd.nextInt(6)))
    val rTrain = (0L until 300L).map(row)
    val rTest = (300L until 500L).map(row)
    val rGot = preds(vecFrame(rTrain), vecFrame(rTest), 2097152.0)
    assert(rGot === bruteForce(rTrain, rTest, 2097152.0))
    assert(rGot.size === rTest.count(_._2.nonEmpty))
  }

  test("nearest-grid-centroid kernel: a null distance sorts first; " +
       "null model entries and an empty model give no class") {
    val cv = (xs: Seq[java.lang.Long]) => typedLit(xs)
    def entry(c: Any, xs: Seq[java.lang.Long]) =
      struct(lit(c).cast("int").as("cand"), cv(xs).as("cv"))
    val q = typedLit(Seq(1L, 1L))
    val r = spark.range(1).select(
      // cand 9's cells are all null: its distance is null and wins
      VecFns.nearestGridCentroid(q, array(entry(3, Seq(1L, 1L)),
        entry(9, Seq(null, null)))),
      // a null cand is not a class
      VecFns.nearestGridCentroid(q, array(entry(null, Seq(1L, 1L)),
        entry(4, Seq(5L, 5L)))),
      VecFns.nearestGridCentroid(q, array(entry(null, Seq(0L, 0L)))))
      .head()
    assert(r.getInt(0) === 9)
    assert(r.getInt(1) === 4)
    assert(r.isNullAt(2))
  }
}
