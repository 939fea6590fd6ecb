package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import graft.functions.Cols

/** Scalar-function semantics (SURVEY.md §2.2/§2.7), incl. the R-fidelity
  * cases called out in §7 "hard parts".
  */
class ColsSpec extends SparkFunSuite {
  import spark.implicits._

  private def std(s: String): String = {
    Seq(s).toDF("f").select(Cols.stdKey($"f").as("k")).as[String].head()
  }

  test("stdKey matches the reference chain on known names") {
    // assess_changes.qmd:87-94 semantics
    assert(std("filtered_Global_production_V202411a.csv") === "global_production")
    assert(std("TradeData_V2024101.xlsx") === "tradedata")
    assert(std("some file-name.CSV") === "some_file_name")
    assert(std("noextension") === "noextension")
  }

  test("stdKey is idempotent (property)") {
    val rnd = new scala.util.Random(42)
    val alphabet = "aZ0._- /%\u00e9\u4e16"
    val samples = Seq("", "filtered_", "_V123456x.csv") ++
      (1 to 40).map(_ => (1 to rnd.nextInt(20) + 1)
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    import spark.implicits._
    val once = samples.toDF("f").select(Cols.stdKey($"f").as("k")).as[String].collect()
    val twice = once.toSeq.toDF("f").select(Cols.stdKey($"f").as("k")).as[String].collect()
    assert(once.toSeq === twice.toSeq)
  }

  test("notInRSemantics keeps NULL rows, unlike Spark's !isin") {
    val df = Seq(Some("a"), Some("b"), None).toDF("x")
    val kept = df.filter(Cols.notInRSemantics($"x", Seq("a")))
      .as[Option[String]].collect().toSet
    assert(kept === Set(Some("b"), None))
    // contrast: plain !isin drops the null row
    val naive = df.filter(!$"x".isin("a")).as[Option[String]].collect().toSet
    assert(naive === Set(Some("b")))
  }

  test("basename and absolutize") {
    val df = Seq(("a/b/c.txt", "x.zip"), ("c.txt", "http://h/y.zip")).toDF("p", "u")
    val r = df.select(Cols.basename($"p").as("b"),
      Cols.absolutize($"u", "http://pre/").as("a"))
      .as[(String, String)].collect().toSet
    assert(r === Set(("c.txt", "http://pre/x.zip"), ("c.txt", "http://h/y.zip")))
  }

  test("trimAll trims every column schema-generically") {
    val df = Seq((" a ", 1)).toDF("s", "i")
    val r = Cols.trimAll(df).as[(String, String)].head()
    assert(r === ("a", "1")) // non-strings cast to string, like R as.character
  }

  test("selectAnyOf tolerates absent columns") {
    val df = Seq((1, "x")).toDF("a", "b")
    assert(Cols.selectAnyOf(df, Seq("b", "nope")).columns.toSeq === Seq("b"))
  }

  test("sizeMb uses 1e6 scaling like the reference") {
    val r = Seq(2500000L).toDF("b").select(Cols.sizeMb($"b")).as[Double].head()
    assert(r === 2.5)
  }

  test("cents is the portable floor-snap: identity on money, half-UP " +
      "on true sub-cent halves, exact on negatives (r16 convention)") {
    // r15 regression class: engine-native round() differs between
    // Spark (BigDecimal HALF_UP on the shortest decimal string) and
    // DuckDB (libm on the binary double, tie mode CHANGED across
    // releases). floor(x*100 + 0.5) has no tie case — pin its values.
    val got = Seq(123.45, -123.45, 0.125, -0.125, 9999.99, -999.99,
        0.005, 0.004999)
      .toDF("v").select(Cols.cents($"v").as("c")).as[Long].collect().toSeq
    //              money identity      true halves -> half-UP
    assert(got == Seq(12345L, -12345L, 13L, -12L, 999999L, -99999L,
      1L, 0L), got.mkString(","))
    // scalar mirror contract: math.floor(x*100 + 0.5) — same values
    val jvm = Seq(123.45, -123.45, 0.125, -0.125, 9999.99, -999.99,
      0.005, 0.004999).map(x => math.floor(x * 100 + 0.5).toLong)
    assert(jvm == got, jvm.mkString(","))
  }

  // sumCents over >10^6 two-decimal summands per cell: the Spark
  // partial-aggregate tree (any partitioning) returns bit-identical
  // doubles equal to a sequential BigDecimal fold of the same values,
  // so the sum is plan-independent and engine-exact, where a plain
  // sum(double)'s last ulp depends on the aggregation tree's shape. The
  // data is generated distributed (seeded xxhash64 cents), so real
  // partial aggregation runs across partitions; the driver only folds
  // the collected values for the truth.
  test("sumCents: 10^6+ summands/cell, bit-exact vs sequential " +
       "BigDecimal fold, invariant across repartitionings") {
    val rnd = new Random(20260815L)
    for (trial <- 0 until 2) {
      val seed = rnd.nextLong()
      val n = 2200000L // 2 cells x 1.1M summands
      // cents in [-10^8, 10^8): values up to +-$1M with exactly 2
      // decimals; c/100.0 then round(v*100) round-trips exactly at
      // this magnitude (|c| << 2^51)
      val base = spark.range(n)
        .withColumn("g", (col("id") % 2).cast("int"))
        .withColumn("cents",
          pmod(xxhash64(col("id"), lit(seed)), lit(200000000L))
            - lit(100000000L))
        .withColumn("v", col("cents") / lit(100.0))
        .select("g", "v")

      def run(parts: Int): Map[Int, Double] =
        base.repartition(parts)
          .groupBy("g").agg(Cols.sumCents(col("v")).as("s"))
          .as[(Int, Double)].collect().toMap

      val byPlan = Seq(1, 13, 64).map(run)
      // independent sequential truth: BigDecimal fold of the
      // 2-decimal values, ONE final division like the convention
      val truth = base.as[(Int, Double)].collect()
        .groupBy(_._1)
        .map { case (g, rows) =>
          val centsSum = rows.foldLeft(BigDecimal(0)) { (acc, r) =>
            acc + BigDecimal(math.round(r._2 * 100), 2)
          }
          g -> ((centsSum * 100).toLongExact / 100.0)
        }

      for (plan <- byPlan; (g, s) <- plan) {
        assert(java.lang.Double.doubleToLongBits(s) ==
               java.lang.Double.doubleToLongBits(truth(g)),
          s"trial $trial seed $seed cell $g: sumCents=$s truth=${truth(g)}")
      }
      // plan-independence stated directly: all three partitionings
      // produced the identical bit pattern per cell
      assert(byPlan.distinct.size == 1,
        s"trial $trial seed $seed: partitioning changed the sum: $byPlan")
    }
  }
}
