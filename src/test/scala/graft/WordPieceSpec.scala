package graft

import graft.operators.{Stage, WordPiece}

/** WordPiece training: hand-computed likelihood-ratio merges, the
  * `##` marking semantics, and driver-side vs distributed parity.
  */
class WordPieceSpec extends SparkFunSuite {
  import spark.implicits._

  type M = (Int, String, String, String, Long, Long, Long)

  test("trainMerges learns hand-computable likelihood-ratio merges") {
    // corpus: "low low low lower newest newest"
    //   low:3 = l ##o ##w; lower:1 = l ##o ##w ##e ##r;
    //   newest:2 = n ##e ##w ##e ##s ##t
    // round 1 symbol counts: l:4 ##o:4 ##w:6 ##e:5 ##r:1 n:2 ##s:2 ##t:2
    //   scores: (l,##o) 4/16=.25, (##o,##w) 4/24, (##w,##e) 3/30,
    //     (##e,##r) 1/5=.2, (n,##e) 2/10=.2, (##e,##s) 2/10=.2,
    //     (##s,##t) 2/4=.5 ← WordPiece picks the RARE-symbol pair BPE
    //     would rank last-ish (BPE round 1 merges (l,o) at f=4)
    // round 2: ##st born; (l,##o) .25 now wins → merged "lo"
    // round 3: max .2 three-way tie → pair-string ASC:
    //   "##e ##r" < "##e ##st" < "n ##e" → merge (##e,##r) → "##er"
    val docs = Seq("low low low lower newest newest").toDF("text")
    val out = WordPiece.trainMerges(docs, "text", numMerges = 3)
      .as[M].collect().sortBy(_._1)
    assert(out.length == 3)
    assert(out(0) == ((1, "##s", "##t", "##st", 2L, 2L, 2L)))
    assert(out(1) == ((2, "l", "##o", "lo", 4L, 4L, 4L)))
    assert(out(2) == ((3, "##e", "##r", "##er", 1L, 5L, 1L)))
  }

  test("## marking separates word-initial from internal symbols") {
    // "ab ba": a ##b / b ##a — four DISTINCT symbols each counted 1;
    // both pairs score 1/(1*1)=1, tie → "a ##b" < "b ##a"
    val docs = Seq("ab ba").toDF("text")
    val out = WordPiece.trainMerges(docs, "text", numMerges = 1)
      .as[M].collect()
    assert(out.length == 1)
    assert(out(0) == ((1, "a", "##b", "ab", 1L, 1L, 1L)))
  }

  test("distributed loop is bit-identical to the driver-side fast path") {
    val docs = Seq("banana bandana cabana", "ban ban banana an an")
      .toDF("text")
    val local = WordPiece.trainMerges(docs, "text", numMerges = 6)
      .as[M].collect().sortBy(_._1).toList
    val dist = WordPiece.trainMerges(docs, "text", numMerges = 6,
      localVocabLimit = 0L)
      .as[M].collect().sortBy(_._1).toList
    assert(local == dist, s"local=$local dist=$dist")
    assert(local.nonEmpty)
  }

  test("distributed loop stages the word table once per round, nothing else") {
    val docs = Seq("banana bandana cabana", "ban ban banana an an")
      .toDF("text")
    Stage.drainTimings()
    val out = WordPiece.trainMerges(docs, "text", numMerges = 4,
      localVocabLimit = 0L).as[M].collect()
    assert(out.length == 4)
    assert(Stage.drainTimings().map(_._1) ==
      ("wp_vocab" +: Seq.fill(4)("wp_round")))
  }

  test("fuzz: 8 random corpora — distributed and local trainers agree") {
    val rnd = new scala.util.Random(41)
    val lexicon = Vector("aa", "ab", "abc", "bca", "cab", "a", "b",
      "aab", "bb", "abab")
    for (trial <- 1 to 8) {
      val docs = (0 until (2 + rnd.nextInt(4))).map(_ =>
        Seq.fill(1 + rnd.nextInt(15))(
          lexicon(rnd.nextInt(lexicon.length))).mkString(" "))
        .toDF("text")
      val n = 1 + rnd.nextInt(6)
      val local = WordPiece.trainMerges(docs, "text", n)
        .as[M].collect().sortBy(_._1).toList
      val dist = WordPiece.trainMerges(docs, "text", n,
        localVocabLimit = 0L)
        .as[M].collect().sortBy(_._1).toList
      assert(local == dist, s"trial $trial (n=$n): local=$local dist=$dist")
    }
  }

  test("subwordStats: hand-computed fertility under learned merges") {
    // vocab low:3 = l ##o ##w; (l,##o) and (##o,##w) tie at 3/9 →
    // "##o ##w" < "l ##o" → merge → low encodes [l, ##ow]
    val docs = Seq((1L, "low low"), (2L, ""), (3L, "low"))
      .toDF("doc_id", "text")
    val out = WordPiece.subwordStats(docs, "doc_id", "text", numMerges = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).sortBy(_._1).toList
    assert(out(0) == ((1L, 2L, 4L, Some(2.0))))
    assert(out(1) == ((2L, 0L, 0L, None)), "token-less doc keeps a row")
    assert(out(2) == ((3L, 1L, 2L, Some(2.0))))
  }

  test("vocabulary exhaustion stops early with fewer rows") {
    val docs = Seq("a b a b").toDF("text")
    val out = WordPiece.trainMerges(docs, "text", numMerges = 5)
    assert(out.count() == 0L)
  }
}
