package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked edit-distance (record-linkage) join.
  *
  * The reference's version matching joins files on an EXACT
  * standardized key (`assess_changes.qmd:97-114` via
  * `str_std_key`-normalized names); this is the fuzzy generalization a
  * large ingest pipeline needs when upstream names drift by more than
  * case/punctuation — typos, renamed tokens, truncations.
  *
  * Naive fuzzy join is O(n²) distance evaluations — a non-starter at
  * any scale. The standard fix is BLOCKING (Newcombe-style record
  * linkage): only pairs sharing a cheap deterministic block key are
  * compared. The block key is the caller's choice of discriminative
  * token (here: a name token); candidates then pass two filters that
  * each strictly under-approximate edit distance cost:
  *
  *  1. length band — `|len(a) - len(b)| <= maxDist` is implied by
  *     `lev(a,b) <= maxDist`, costs two ints, and prunes before any
  *     DP runs;
  *  2. banded Levenshtein — Spark's 3-arg `levenshtein(l, r, k)`
  *     computes only the `2k+1`-wide DP diagonal and bails to -1 the
  *     moment the distance provably exceeds `k`: O(k·min(|a|,|b|))
  *     per surviving pair instead of O(|a|·|b|).
  *
  * Scale shape: identical texts collapse into (block, text) groups
  * before enumeration, so candidate generation and the DP are
  * quadratic in DISTINCT texts per block, never in records — the
  * all-unique corpus degenerates to the record-pair join, the
  * low-entropy corpus (few names, many records: the shape that needs
  * linkage most) collapses by orders of magnitude. The only shuffle is
  * the group/join exchange on the block key. Oversized blocks are the
  * skew hazard, and the same guardrail as Dedup's mega-bucket salting
  * applies (Dedup.scala): both sides sub-group by a record-hash salt
  * (key lists stay bounded even for one mega-repeated text) and the
  * b-side replicates its group rows across the sub-blocks. The
  * `a_txt < b_txt` cut keeps exactly one of a text pair's two join
  * orientations BEFORE the DP runs, record keys re-orient to
  * `a_key < b_key` at emission, and every unordered record pair is
  * emitted exactly once; recall is 1.0 by construction.
  */
object FuzzyJoin {

  /** All intra-block pairs of `df` rows at edit distance 1..maxDist.
    *
    * @param df       input; one row per record
    * @param keyCol   unique orderable record id (pair orientation)
    * @param textCol  string compared by edit distance
    * @param blockCol blocking key: candidates are generated only within
    *                 equal block values (recall vs the unblocked ideal
    *                 is the caller's modeling choice, exactly as in
    *                 classical record linkage)
    * @param maxDist  inclusive edit-distance ceiling (>= 1)
    * @param maxBlockSize blocks above this size sub-salt (see scaladoc)
    * @return (blk, a_key, b_key, a_txt, b_txt, dist) with a_key < b_key
    */
  def selfPairs(df: DataFrame, keyCol: Column, textCol: Column,
                blockCol: Column, maxDist: Int,
                maxBlockSize: Int = 1000): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    // staged once: the frame feeds THREE plan branches (size aggregate,
    // a-side, b-side) — without the stage checkpoint any expensive
    // upstream pipeline (parsing, normalization) would execute 3x
    val base = Stage.materialize(
      df.select(keyCol.as("k"), textCol.as("txt"),
        blockCol.as("blk"), length(textCol).as("len")),
      "fuzzy_base")

    // Sub-salt plan: ONLY the oversized blocks, broadcast to both sides
    // (Dedup.oversizeSubs, the MinHash cross path's guard). A per-row
    // count window here would shuffle the whole input by blk just to
    // learn sizes.
    val subPlan = Dedup.oversizeSubs(base, Seq("blk"), maxBlockSize,
      "maxBlockSize")

    // Collapse identical texts BEFORE pair enumeration: records group
    // into (block, sub, text) key-lists, candidate generation and the
    // Levenshtein DP run once per DISTINCT-TEXT pair, and surviving
    // text pairs explode back into record pairs. Enumeration cost goes
    // from quadratic in records to quadratic in distinct texts per
    // block — identical in the all-unique worst case, and orders of
    // magnitude less in low-entropy corpora (few names, many records:
    // exactly the shape that needs fuzzy linkage). dist >= 1 already
    // excludes identical-text pairs, so nothing is lost by never
    // comparing a group to itself.
    //
    // Both sides sub-group by the record-hash salt, so every key list
    // is bounded by ~maxBlockSize/nsub even for a mega-block of ONE
    // repeated text; the b-side replicates its (small) GROUP rows
    // across subs, never its records. The explicit repartition on the
    // join key (blk, sub) makes the groupBys and the join share ONE
    // exchange per side (subset-key clustering satisfies both).
    def grouped(side: String) = base.join(subPlan, Seq("blk"), "left")
      .withColumn("sub", Dedup.subOf(col("k")))
      .repartition(col("blk"), col("sub"))
      .groupBy("blk", "sub", "nsub", "txt", "len")
      .agg(collect_list("k").as(s"${side}_ks"))

    val a = grouped("a")
      .select(col("blk"), col("sub"), col("txt").as("a_txt"),
        col("len").as("a_len"), col("a_ks"))
    val b = grouped("b")
      .withColumn("rsub", Dedup.allSubs)
      .select(col("blk"), col("rsub").as("sub"), col("txt").as("b_txt"),
        col("len").as("b_len"), col("b_ks"))

    // a_txt < b_txt kills the mirror BEFORE the DP: of a text pair's
    // two join orientations exactly one survives, so each distinct
    // text pair runs the DP once and explodes once (texts in a pair
    // always differ — groups collapse equal texts). Record keys are
    // re-oriented at emission to keep the a_key < b_key contract.
    val txtPairs = a.join(b, Seq("blk", "sub"))
      .filter(abs(col("a_len") - col("b_len")) <= maxDist &&
        col("a_txt") < col("b_txt"))
      .withColumn("dist", levenshtein(col("a_txt"), col("b_txt"), maxDist))
      .filter(col("dist").between(1, maxDist))
    txtPairs
      .select(col("blk"), explode(col("a_ks")).as("ka"), col("b_ks"),
        col("a_txt").as("ta"), col("b_txt").as("tb"), col("dist"))
      .select(col("blk"), col("ka"), explode(col("b_ks")).as("kb"),
        col("ta"), col("tb"), col("dist"))
      .select(col("blk"),
        least(col("ka"), col("kb")).as("a_key"),
        greatest(col("ka"), col("kb")).as("b_key"),
        when(col("ka") < col("kb"), col("ta")).otherwise(col("tb")).as("a_txt"),
        when(col("ka") < col("kb"), col("tb")).otherwise(col("ta")).as("b_txt"),
        col("dist"))
  }
}
