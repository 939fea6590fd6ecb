package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source sweep over `src/main/scala`: every `Stage.materialize(` call
  * outside a comment is on the kept list below, keyed by file and stage
  * tag (the call's last argument, as written), each with a one-line
  * reason. A stage write runs a Spark job while the query is being
  * built and reads the result back; it stays only where it cuts an
  * iterative lineage, or where it feeds two or more consumers over a
  * wide source and a noop-sink A/B shows it winning. The list is exact:
  * an unlisted call fails, and so does an entry whose call is gone.
  *
  * The operator-level entries carry the reason their code comment
  * gives and have not been measured one by one yet.
  */
class StagePolicySpec extends AnyFunSuite {

  private val notMeasured = "(reason from the code comment, not yet measured)"

  /** (file, tag) -> reason, one entry per call site. */
  private val kept: Seq[((String, String), String)] = Seq(
    // query level, each decided by measurement (CHANGES.md)
    ("ScaleQ.scala", "\"bfs_edges\"") ->
      "the mirrored edge list feeds every Bfs round (iterative lineage)",
    ("IngestQ.scala", "\"dq_ref_fact\"") ->
      "the planted lineitem frame feeds three totals and three anti-joins; one-pass form slower at 10x",
    ("ScaleQ.scala", "\"khop_sampled\"") ->
      "feeds both hop-2 join sides, the anti-join and n1; lazy re-runs the window per consumer, slower at 10x",
    ("ScaleQ.scala", "\"co_purchase_pairs\"") ->
      "one lineitem self-join serves eight graph queries through a ModelCache",
    ("StreamQ.scala", "s\"${tag}_hourly\"") ->
      "the span/grid-budget collect and the grid both read it; the guard runs before the grid",
    ("StreamQ.scala", "\"type_hourly_sparse\"") ->
      "span, type list and join-back of the dense grid all read the hourly counts",
    ("StreamQ.scala", "\"type_hourly_dense\"") ->
      "the dense grid serves four time-series queries through a ModelCache",
    ("TextQ.scala", "\"planted_docs\"") ->
      "the planted corpus serves eight dedup queries through a ModelCache",
    // operator level
    ("Bfs.scala", "s\"bfs_round_$k\"") -> "cuts the frontier loop's lineage per round",
    ("Bpe.scala", "s\"${tag}_vocab\"") -> "the subword trainers' one corpus-sized pass; its (word, freq) feed the size check and the training loop",
    ("Bpe.scala", "\"bpe_round\"") -> "cuts the merge loop's lineage per round",
    ("Classify.scala", "\"nb_wordcounts\"") -> "the class-word counts feed the class totals, the vocabulary size and the model table",
    ("ConnectedComponents.scala", "\"cc_edges\"") -> "one pass over the upstream pair generation before the star loop",
    ("ConnectedComponents.scala", "\"cc_edges\"") -> "cuts the alternating-star loop's lineage per round",
    ("Corpus.scala", "\"colloc_pairs\"") -> "the pair counts feed the marginals and the PMI join",
    ("Dedup.scala", "\"minhash_sigs\"") -> "the signature frame feeds banding and two score join-backs",
    ("Dedup.scala", "\"text_reps\"") -> "the representatives feed the membership join and the result",
    ("Dedup.scala", "\"text_membership\"") -> "membership is returned next to the representatives; both read the hashed frame once",
    ("Dedup.scala", "\"simhash_sk\"") -> "the sketch frame feeds the bucket self-join and the join-backs",
    ("Dedup.scala", "\"jaccard_sets\"") -> "the shingle sets feed both sides of the pair join",
    ("Dedup.scala", "s\"cross_${side}_sigs\"") -> "each side's signatures feed banding and the score join-back",
    ("Dedup.scala", "\"mh_index_sigs\"") -> "the fitted index's signatures, probed by every batch",
    ("Dedup.scala", "\"mh_index_bands\"") -> "the fitted index's band postings, probed by every batch",
    ("Dedup.scala", "\"mh_probe_sigs\"") -> "the batch signatures feed banding and the score join-back",
    ("Dedup.scala", "\"verified_sets\"") -> "the fit-once shingle sets read by every verification",
    ("Dedup.scala", "s\"crossv_${side}_sets\"") -> "each side's sets feed candidate generation and verification",
    ("Dsir.scala", "\"dsir_doc_buckets\"") -> "both rollups read the (doc, bucket) aggregate (measured 23-25 s against 46-80 s on the 64 MB corpus)",
    ("FuzzyJoin.scala", "\"fuzzy_base\"") -> "the frame feeds the block-size aggregate and both join sides",
    ("GlobalRank.scala", "if (value.isDefined) \"global_running_total\" else \"global_rank\"") ->
      "pins the sampled range-partition id before two downstream jobs read it",
    ("GraphSim.scala", "\"graphsim_adj\"") -> "the mirrored adjacency feeds both wedge sides and both degree lookups",
    ("LabelProp.scala", "\"lp_edges\"") -> "the edge list feeds every round",
    ("LabelProp.scala", "\"lp_round\"") -> "the initial labels, staged above the broadcast bound",
    ("LabelProp.scala", "\"lp_round\"") -> "cuts the label loop's lineage per round above the broadcast bound",
    ("Metrics.scala", "\"auc_groups\"") -> "GlobalRank's boundary and count passes re-read the full-corpus aggregate",
    ("NgramLm.scala", "\"kn_bigrams\"") -> "the bigram counts feed every continuation-count branch",
    ("NgramLm.scala", "\"kn3_trigrams\"") -> "the trigram counts feed the history and continuation branches",
    ("NgramLm.scala", "\"kn3_mid\"") -> "the middle counts feed both interpolation levels",
    ("PageRank.scala", "\"pagerank_edges\"") -> "the prepared edges feed every round",
    ("PageRank.scala", "s\"pagerank_r${lastOfRound - 1}\"") -> "cuts the rank loop's lineage every stageEvery rounds",
    ("PageRank.scala", "\"pagerank_verts\"") -> "the vertex frame backfills every directed round",
    ("Similarity.scala", "\"ivf_cells\"") -> "the fitted IVF table, probed by every query batch",
    ("Similarity.scala", "\"pq_codes\"") -> "the fitted PQ codes, probed by every query batch",
    ("Similarity.scala", "\"ivfpq_table\"") -> "the fitted IVF-PQ table, probed by every query batch",
    ("Similarity.scala", "\"neardup_base\"") -> "the model's base feeds the buckets and the packed sketches",
    ("Similarity.scala", "\"neardup_buckets\"") -> "both self-join sides read the bucket frame",
    ("Similarity.scala", "\"neardup_sk64\"") -> "the model's packed sketches, read by every pair query",
    ("Skyline.scala", "\"skyline_levels\"") -> "the range partitioner's sampling pass and the shuffle would each recompute the aggregate",
    ("Skyline.scala", "\"skyline_sweep\"") -> "the range-partitioned levels feed the per-partition sweep and its offsets",
    ("Triangles.scala", "\"tri_edges\"") -> "the canonical edges feed the degrees, the orientation and the wedge closure",
    ("Triangles.scala", "\"tri_oriented\"") -> "both wedge sides scan the oriented edges",
    ("WordPiece.scala", "\"wp_round\"") -> "cuts the merge loop's lineage per round; the pair and symbol recounts both read it",
  ).map { case (k, r) => k -> (if (k._1.endsWith("Q.scala")) r else s"$r $notMeasured") }

  /** `src` with every comment blanked out; string literals kept. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def skipString(from: Int): Int =
      if (src.startsWith("\"\"\"", from)) {
        var j = src.indexOf("\"\"\"", from + 3) + 3
        while (j < src.length && src(j) == '"') j += 1
        j
      } else {
        var j = from + 1
        while (src(j) != '"') j += (if (src(j) == '\\') 2 else 1)
        j + 1
      }
    while (i < src.length) {
      if (src(i) == '"') {
        val j = skipString(i); out ++= src.substring(i, j); i = j
      } else if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i)
        val j = if (e < 0) src.length else e
        out ++= " " * (j - i); i = j
      } else if (src.startsWith("/*", i)) {
        val j = src.indexOf("*/", i) + 2
        out ++= src.substring(i, j).map(c => if (c == '\n') c else ' '); i = j
      } else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
        out ++= src.substring(i, i + 3); i += 3
      } else { out += src(i); i += 1 }
    }
    out.result()
  }

  /** The last top-level argument of the call whose `(` is at `open`. */
  private def lastArg(c: String, open: Int): String = {
    var depth = 0
    var last = open + 1
    var i = open
    while (true) {
      c(i) match {
        case '"' =>
          i = if (c.startsWith("\"\"\"", i)) c.indexOf("\"\"\"", i + 3) + 2
          else { var j = i + 1; while (c(j) != '"') j += (if (c(j) == '\\') 2 else 1); j }
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' =>
          depth -= 1
          if (depth == 0) return c.substring(last, i).trim
        case ',' if depth == 1 => last = i + 1
        case _ =>
      }
      i += 1
    }
    sys.error("unreachable")
  }

  private def sites(file: Path): Seq[(String, String)] = {
    val c = code(Files.readString(file))
    "Stage\\.materialize\\(".r.findAllMatchIn(c).map { m =>
      (file.getFileName.toString, lastArg(c, m.end - 1))
    }.toSeq
  }

  test("every Stage.materialize call in src/main is on the kept list") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"run from the repo root: ${root.toAbsolutePath} is not a directory")
    val found = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap(sites)
    def counts(xs: Seq[(String, String)]) = xs.groupBy(identity).view.mapValues(_.size).toMap
    val (have, want) = (counts(found), counts(kept.map(_._1)))
    val unlisted = have.toSeq.flatMap { case (k, n) => Seq.fill(n - want.getOrElse(k, 0))(k) }
    val stale = want.toSeq.flatMap { case (k, n) => Seq.fill(n - have.getOrElse(k, 0))(k) }
    assert(unlisted.isEmpty,
      "Stage.materialize sites not on the kept list (remove the stage, or " +
        "list it with its reason): " + unlisted.mkString(", "))
    assert(stale.isEmpty, "kept entries with no call site: " + stale.mkString(", "))
    assert(kept.forall(_._2.trim.nonEmpty))
  }

  test("the sweep sees calls through comments, strings and nesting") {
    val f = Files.createTempFile("stage_sweep", ".scala")
    Files.writeString(f,
      """// Stage.materialize(x, "in_a_comment")
        |/* Stage.materialize(y, "in_a_block") */
        |val a = Stage.materialize(df.select(col("a,b"), f(g(1, 2))), "a_tag")
        |val b = graft.operators.Stage.materialize(
        |  df, s"b_${k}_tag") // trailing ")"
        |""".stripMargin)
    assert(sites(f).map(_._2) === Seq("\"a_tag\"", "s\"b_${k}_tag\""))
  }
}
