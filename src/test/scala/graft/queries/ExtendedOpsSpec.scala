package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Invariant tests for the round-2 registry additions (j7, a13, w5, f4,
  * d20–d22). The DuckDB gate proves value-level correctness; these pin the
  * algebraic properties that must hold on ANY corpus, so a future refactor
  * cannot silently change semantics while staying self-consistent.
  */
class ExtendedOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def run(name: String) = graft.SparkEntry.queries(name)(spark, dir)

  test("j7: semi + anti counts partition the customer set per segment") {
    val seg = graft.core.Tables.load(spark, dir, "customer")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_total"))
    val bad = run("j7_semi_anti_join")
      .join(seg, "c_mktsegment")
      .filter(col("n_with_urgent") + col("n_without_urgent") =!= col("n_total"))
    assert(bad.count() === 0)
  }

  test("a13: rollup grand total row equals the flat aggregate") {
    val out = run("a13_rollup")
    val grand = out.filter(col("o_orderstatus") === "ALL" && col("o_orderpriority") === "ALL")
    assert(grand.count() === 1)
    val flat = graft.core.Tables.load(spark, dir, "orders").count()
    assert(grand.head().getAs[Long]("n") === flat)
    // every (status, ALL) subtotal is the sum of its leaves
    val leaves = out.filter(col("o_orderstatus") =!= "ALL" && col("o_orderpriority") =!= "ALL")
      .groupBy(col("o_orderstatus")).agg(sum(col("n")).as("n_leaves"))
    val bad = out.filter(col("o_orderstatus") =!= "ALL" && col("o_orderpriority") === "ALL")
      .join(leaves, "o_orderstatus")
      .filter(col("n") =!= col("n_leaves"))
    assert(bad.count() === 0)
  }

  test("w5: running total ends at the per-customer decimal sum") {
    val out = run("w5_window_frames")
    val last = out.groupBy(col("o_custkey"))
      .agg(max(col("run_total")).as("run_last"))
    val expect = graft.core.Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("tot"))
    val bad = last.join(expect, "o_custkey").filter(col("run_last") =!= col("tot"))
    assert(bad.count() === 0)
  }

  test("f4: day arithmetic is self-consistent") {
    val bad = run("f4_datetime_functions")
      .filter(datediff(col("due_date"), col("d")) =!= 30 ||
        col("month_end") < col("d") ||
        col("month_start") > col("d") ||
        col("isodow") < 1 || col("isodow") > 7)
    assert(bad.count() === 0)
  }

  test("f5: from_json and json_tuple extractors agree on every event row") {
    // The registry query (f5) extracts with from_json only; this is the
    // separate hard check that the typed path and the string-path generator
    // never diverge — including on null: both must yield null for
    // missing/malformed k, and equal ints elsewhere.
    val both = graft.core.Tables.load(spark, dir, "events")
      .select(
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k1"),
        json_tuple(col("props"), "k").as("k2s"))
      .withColumn("k2", col("k2s").cast("int"))
    val disagree = both.filter(
      !(col("k1") <=> col("k2"))).count()
    assert(disagree === 0L)
    // and the fixture genuinely exercises the extractors
    assert(both.filter(col("k1").isNotNull).count() > 0)
  }

  test("d20: ratios bounded and consistent with token counts") {
    val bad = run("d20_repetition_ratio")
      .filter(col("distinct_ratio") > 1.0 || col("distinct_ratio") <= 0.0 ||
        col("top_tok_frac") > 1.0 ||
        col("n_distinct") > col("n_tokens") ||
        // the most frequent token carries at least the uniform share
        col("top_tok_frac") * col("n_distinct") < 1.0 - 1e-3)
    assert(bad.count() === 0)
  }

  test("d21: mean IDF is non-negative and bounded by ln(N)") {
    val n = graft.core.Tables.load(spark, dir, "documents").count().toDouble
    val bad = run("d21_mean_idf")
      .filter(col("mean_idf") < 0.0 || col("mean_idf") > math.log(n) + 1e-9)
    assert(bad.count() === 0)
  }

  test("d22: proportions and mix weights each sum to 1") {
    val out = run("d22_source_mix_weights")
    val r = out.agg(
      round(sum(col("p")), 4).as("sp"),
      round(sum(col("mix_weight")), 4).as("sw")).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-3)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-3)
    // alpha<1 compresses: the largest source's weight must not exceed its
    // proportion, the smallest's must not fall below it
    val top = out.orderBy(col("p").desc).head()
    val bot = out.orderBy(col("p")).head()
    assert(top.getAs[Double]("mix_weight") <= top.getAs[Double]("p") + 1e-9)
    assert(bot.getAs[Double]("mix_weight") >= bot.getAs[Double]("p") - 1e-9)
  }

  test("d32: redactPii scrubs all three PII kinds, placeholders never re-match") {
    val sp = spark
    import sp.implicits._
    val got = Seq(
      "mail a.b+c@x-y.co and d@e.io twice",        // two emails, one with +/-/.
      "link http://a.b/c?q=1 then https://d.e/f",  // ? stops the first URL match
      "call +1-555-0000 or +44-208-1234 now",      // 1- and 2-digit country codes
      "plain text with no pii at all",
      "user@host.com https://u.v/w +1-555-9999")   // all three in one row
      .toDF("t").select(TextOps.redactPii(col("t")).as("r")).as[String].collect()
    assert(got(0) == "mail <EMAIL> and <EMAIL> twice")
    assert(got(1) == "link <URL>?q=1 then <URL>")
    assert(got(2) == "call <PHONE> or <PHONE> now")
    assert(got(3) == "plain text with no pii at all")
    assert(got(4) == "<EMAIL> <URL> <PHONE>")
    // idempotence: placeholders survive a second pass untouched
    val twice = Seq(got(4)).toDF("t")
      .select(TextOps.redactPii(col("t")).as("r")).as[String].head()
    assert(twice == got(4), "redaction must be idempotent")
  }
}
