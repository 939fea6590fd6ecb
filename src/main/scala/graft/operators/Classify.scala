package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VecFns

/** Distributed classifiers: multinomial Naive Bayes over text and
  * nearest-centroid (Rocchio) over embeddings on an integer grid
  * (`fitGridCentroids` / `scoreGridCentroids`, documented there).
  *
  * Naive Bayes is the document classifier of the
  * fastText/CCNet-style quality- and domain-filter stage of a training
  * -data pipeline (label a small curated set, score the whole corpus,
  * keep what classifies as "high quality").
  *
  * Scale shape (the whole point vs a single-node trainer):
  *  - training is ONE `(class, word)` hash aggregate over the exploded
  *    token stream — partial aggregation runs map-side, so the shuffle
  *    carries per-partition partial counts, never raw tokens;
  *  - class-level statistics (token totals, vocabulary size, document
  *    priors) are metadata-scale reductions of that aggregate —
  *    collected to the driver, bounded by `maxClasses` (a classifier
  *    with more classes than that is a different algorithm);
  *  - scoring joins each corpus token to a `word -> per-class log-prob
  *    ARRAY` table (one row per vocab word, classes pivoted into a
  *    fixed-width array), so the join output is 1x the token stream —
  *    NOT the k-times blow-up of the long-form `token x class` join.
  *    Spark broadcasts the vocab side when it fits, sort-merges on the
  *    word key when it doesn't; either way the only other exchange is
  *    the per-document score aggregate.
  *
  * Smoothing is standard Laplace: lp(w,c) = ln((cnt(w,c) + 1) /
  * (tok_c + V)); unseen words contribute ln(1 / (tok_c + V)).
  * Documents that normalize to zero tokens are unclassifiable and are
  * dropped (the oracle's explode drops them identically).
  */
object Classify {

  /** Fitted model: `classes` sorted ascending (the array index order of
    * `wordLp`'s `lps` column); `priorLp`/`defaultLp` aligned to it.
    */
  final case class NbModel(
      classes: Seq[String],
      priorLp: Seq[Double],
      defaultLp: Seq[Double],
      wordLp: DataFrame)

  private def toks(df: DataFrame, idCol: String, textCol: String,
                   extra: Seq[String]): DataFrame =
    df.select((idCol +: extra).map(col) :+
        explode(Dedup.normTokens(col(textCol))).as("w"): _*)
      .filter(length(col("w")) > 0)

  /** Fit NB from labeled documents. One wide aggregate on
    * `(class, word)`; everything class-level derives from it plus a
    * one-scan document-count aggregate on the (unexploded) input.
    */
  def trainNb(train: DataFrame, idCol: String, textCol: String,
              classCol: String, maxClasses: Int = 64): NbModel = {
    // null contract (r15, NULL audit): a null label is an UNLABELED
    // document, not a class — such rows never enter training (the
    // r15 null-corpus sweep caught `classes.sorted` NPE-ing on a null
    // class string). Null/empty TEXT is already covered by the
    // zero-token drop contract above. Oracles mirror with
    // `WHERE <label> IS NOT NULL` on the training CTE.
    val labeled = train.filter(col(classCol).isNotNull)
    val wc = toks(labeled, idCol, textCol, Seq(classCol))
      .groupBy(col(classCol).as("cls"), col("w"))
      .agg(count(lit(1)).as("c"))
    val staged = Stage.materialize(wc, "nb_wordcounts")

    // class token totals, document counts + vocab size: small
    // reductions (k rows / 1 row) collected through limit(maxClasses
    // + 1), so a wide class column fails the bound before its rows
    // reach the driver
    def perClass(df: DataFrame): Map[String, Long] = {
      val rows = df.limit(maxClasses + 1).collect()
      require(rows.length <= maxClasses,
        s"more than maxClasses=$maxClasses classes")
      rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val cstat = perClass(staged.groupBy("cls").agg(sum("c").as("n_tok")))
    val vocab = staged.select(countDistinct("w")).head().getLong(0)
    val nDocs = perClass(labeled.groupBy(col(classCol).as("cls"))
      .agg(count(lit(1)).as("n")))
    val classes = cstat.keys.toSeq.sorted
    val total = nDocs.values.sum.toDouble

    val tokOf = classes.map(c => c -> lit(cstat(c) + vocab.toDouble)).toMap
    val wordLp = staged
      .withColumn("lp", log((col("c") + 1.0) /
        classes.foldRight(lit(Double.NaN): Column) { (c, rest) =>
          when(col("cls") === c, tokOf(c)).otherwise(rest)
        }))
      .groupBy("w")
      .agg(max(when(col("cls") === classes.head, col("lp"))).as("lp_0"),
        classes.tail.zipWithIndex.map { case (c, i) =>
          max(when(col("cls") === c, col("lp"))).as(s"lp_${i + 1}")
        }: _*)
      .select(col("w"),
        array(classes.indices.map(i => col(s"lp_$i")): _*).as("lps"))

    NbModel(classes,
      classes.map(c => math.log(nDocs.getOrElse(c, 0L) / total)),
      classes.map(c => math.log(1.0 / (cstat(c) + vocab))),
      wordLp)
  }

  /** Score documents: predicted class (argmax posterior; ties break to
    * the lexicographically-largest class on both engines), token count,
    * and the winning log-posterior PER TOKEN ((prior + Σ lp)/n_tok)
    * rounded to 4 decimals.
    *
    * Per-token, not the raw sum (r16, null×fat sweep): a float sum's
    * partition-reorder jitter grows with the record — on the fat
    * corpus's 64 MB giant (6.8M tokens, |score| ≈ 1e8) the raw sum's
    * engine difference crossed the 4-decimal rounding and hash-failed
    * the gate, while every bounded doc agreed. Normalizing divides
    * the jitter by n_tok, so the gate surface is record-size-robust;
    * the ARGMAX still compares the raw sums (division by a positive
    * count cannot change the winner), and class separation grows with
    * n the same way the jitter does.
    */
  def scoreNb(docs: DataFrame, model: NbModel, idCol: String,
              textCol: String): DataFrame = {
    val k = model.classes.size
    val scored = toks(docs, idCol, textCol, Nil)
      .join(model.wordLp, Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"),
        (0 until k).map(i =>
          sum(coalesce(col("lps")(i), lit(model.defaultLp(i))))
            .as(s"s_$i")): _*)
    // argmax by struct ordering: max(struct(score, cls)) compares score
    // first, class name second — one codegen'd expression, no window
    val best = array_max(array((0 until k).map(i =>
      struct((col(s"s_$i") + model.priorLp(i)).as("score"),
        lit(model.classes(i)).as("cls"))): _*))
    scored.select(col(idCol), best.getField("cls").as("pred"),
      col("n_tok"),
      round(best.getField("score") / col("n_tok"), 4).as("score"))
  }

  /** Nearest-centroid model: `model` is one row with one column `model`
    * = array<struct<cand, cv: array<bigint>>> (cv in dimension order),
    * on the integer grid of `scale`; no row when nothing trained.
    */
  final case class GridCentroids(scale: Double, model: DataFrame)

  /** Fit nearest-centroid on the integer grid. Each coordinate snaps to
    * `CAST(round(x * scale) AS BIGINT)` (VecFns.gridQuantize), and each
    * centroid cell is `CAST(round(Σq / n) AS BIGINT)` over one class's
    * rows, where n also counts null elements (the count(1) of the
    * exploded form). The sums are longs, so every cell is the same
    * integer under any partitioning: the centroid is part of the model
    * definition, not an approximation. Null class = unlabeled, null
    * vector = unscorable (r15 null contract); neither trains. The model
    * is a keyless aggregate (maxRows 1) that stays in the plan: no
    * driver collect, and building runs no job.
    */
  def fitGridCentroids(train: DataFrame, classCol: String, vecCol: String,
                       scale: Double): GridCentroids = {
    val cells = train.filter(col(classCol).isNotNull && col(vecCol).isNotNull)
      .select(col(classCol).as("cand"),
        posexplode(VecFns.gridQuantize(col(vecCol), scale)).as(Seq("i", "qv")))
      .groupBy("cand", "i")
      .agg(round(sum("qv").cast("double") / count(lit(1)).cast("double"))
        .cast("long").as("c"))
    GridCentroids(scale, cells.groupBy("cand")
      .agg(transform(sort_array(collect_list(struct(col("i"), col("c")))),
        _.getField("c")).as("cv"))
      .agg(collect_list(struct(col("cand"), col("cv"))).as("model"))
      .filter(size(col("model")) > 0))
  }

  /** Score `docs`: adds `pred`, the class whose centroid is nearest
    * by exact integer squared distance over the shared dimensions (null
    * terms skipped, all-null distances first, ties to the lowest class —
    * VecFns.nearestGridCentroid). One narrow projection over `docs`
    * against the broadcast model row: no explode, no shuffle, no
    * window. Null vectors are unscorable and drop; an empty model
    * scores nothing.
    */
  def scoreGridCentroids(docs: DataFrame, model: GridCentroids,
                         vecCol: String): DataFrame =
    docs.filter(col(vecCol).isNotNull)
      .crossJoin(broadcast(model.model.select(col("model").as("__gc_model"))))
      .withColumn("pred", VecFns.nearestGridCentroid(
        VecFns.gridQuantize(col(vecCol), model.scale), col("__gc_model")))
      .drop("__gc_model")
}
