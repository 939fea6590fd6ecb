package graft

/** SQL surface of the native kernels: graft_* functions registered on the
  * session and called from pure spark.sql text.
  */
class SqlFunctionsSpec extends SparkFunSuite {
  import spark.implicits._

  test("graft_* functions are callable from SQL") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT
        graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS cos_same,
        graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
        graft_simhash64(array('hello', 'world')) AS sh,
        graft_sorted_jaccard(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS jac,
        size(graft_minhash_sig(array(5L, 9L), 64, 42L)) AS klen,
        graft_first_agree(array(1, 2, 3), array(9, 2, 3)) AS fa
      """).as[(Double, Double, Long, Double, Int, Int)].head()
    assert(math.abs(r._1 - 1.0) < 1e-9)
    assert(math.abs(r._2 - 11.0) < 1e-9)
    assert(r._3 !== 0L)
    assert(math.abs(r._4 - 0.5) < 1e-9) // |{2,3}| / |{1,2,3,4}|
    assert(r._5 === 64)
    assert(r._6 === 1)
  }

  test("SQL and DataFrame paths produce identical minhash signatures") {
    GraftExtensions.register(spark)
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text")
    docs.createOrReplaceTempView("sql_docs")
    val viaSql = spark.sql(
      """SELECT graft_minhash_sig(graft_shingle_hashes(
           split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' '),
           3), 64, 42L) AS sig FROM sql_docs""")
      .as[Seq[Long]].head()
    val viaDf = docs.select(
      graft.operators.Dedup.minhashSignature($"text").as("sig"))
      .as[Seq[Long]].head()
    assert(viaSql === viaDf)
  }

  test("bloom build + probe round-trips through pure SQL") {
    GraftExtensions.register(spark)
    Seq(10L, 20L, 30L).toDF("k").createOrReplaceTempView("sql_bloom_keys")
    val bloom = spark.sql(
      "SELECT graft_bloom_build(k, 1024, 8) AS bf FROM sql_bloom_keys")
      .head().getAs[Array[Byte]]("bf")
    val hex = bloom.map(b => f"$b%02x").mkString
    val r = spark.sql(
      s"""SELECT graft_bloom_might_contain(10L, X'$hex', 8) AS hit,
             graft_bloom_might_contain(999L, X'$hex', 8) AS miss""")
      .as[(Boolean, Boolean)].head()
    assert(r._1 === true)
    assert(r._2 === false) // 1024 bits / 3 keys: FP chance negligible
  }

  test("SQL aggregates and z-value match the operator paths") {
    GraftExtensions.register(spark)
    Seq("a", "a", "b", "a").toDF("t").createOrReplaceTempView("sql_terms")
    val top = spark.sql(
      """SELECT graft_space_saving_topk(t, 2, 16) AS tk FROM sql_terms""")
      .selectExpr("tk[0].term", "tk[0].cnt").as[(String, Long)].head()
    assert(top === (("a", 3L)))
    val z = spark.sql("SELECT graft_zvalue2(3L, 5L, 3) AS z").as[Long].head()
    // x=011, y=101 -> interleaved (y2 x2 y1 x1 y0 x0) = 100111b = 39
    assert(z === 39L)
  }

  test("grid quantizer and nearest-grid-centroid kernel from SQL") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT
        graft_grid_quantize(array(0.5F, -0.5F, 1.25F, CAST(NULL AS FLOAT)),
          2.0D) AS q,
        graft_nearest_grid_centroid(
          graft_grid_quantize(array(0.5D, 0.5D), 2.0D),
          array(named_struct('cand', 7, 'cv', array(0L, 0L)),
                named_struct('cand', 3, 'cv', array(2L, 2L)),
                named_struct('cand', 5, 'cv', array(5L, 5L)))) AS pred
      """).head()
    // ×2 then HALF_UP away from zero: 1, -1, 2.5 → 3, null stays null
    assert(r.getSeq[java.lang.Long](0) === Seq(1L, -1L, 3L, null))
    // q = (1, 1): distances 2, 2, 32 — the tie goes to the lower cand
    assert(r.getInt(1) === 3)
  }
}
