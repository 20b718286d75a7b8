package graft

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The front-door contract: one [[Graft.session]] call gives a SQL user the
  * corpus, the native functions, and the custom-operator wiring without
  * touching any internal API — everything arrives through the session
  * extension, with no per-call registration anywhere.
  */
class GraftSessionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: org.apache.spark.sql.SparkSession = _

  override def beforeAll(): Unit = {
    spark = Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    Graft.openCorpus(spark, "/root/testdata/sf0.001")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("a SQL user runs TPC-H Q6 text against the opened corpus") {
    val row = spark.sql(
      """SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,6)))
        |             AS DOUBLE), 4) AS revenue, count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)
      .head()
    assert(row.getLong(1) > 0, "the scan must hit rows")
    assert(row.getDouble(0) > 0.0)
  }

  test("native functions resolve through SQL text") {
    val sim = spark.sql(
      "SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS s, " +
        "graft_dot(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS d")
      .head()
    assert(math.abs(sim.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(sim.getDouble(1) - 1.0) < 1e-12)
  }

  test("every registry query runs against the wired session") {
    // front-door smoke: the flagship entry works on the session as built,
    // no extra configuration
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the vector-fold rewrite and the as-of strategy come with the session") {
    val s2 = spark
    import s2.implicits._
    // the optimizer rule rewrites the composed fold to the native kernel
    // (input derives from range() so constant folding can't collapse it
    // before the rewrite is observable)
    val composed = spark.range(1, 2)
      .select(array(col("id").cast("double"), lit(2.0)).as("a"),
        array(lit(3.0), lit(4.0)).as("b"))
      .selectExpr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (acc, v) -> acc + v) AS dp")
    val optimized = composed.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_dot") || optimized.toLowerCase.contains("dotproduct"),
      s"RewriteVectorFolds must fire:\n$optimized")
    assert(composed.head().getDouble(0) === 11.0)

    // the planner strategy resolves a hand-built as-of node — not one made
    // by AsOf.join, so nothing but the session's wiring can plan it
    val left = Seq((1L, 5L, 1L)).toDF("k", "ts", "id")
    val right = Seq((1L, 3L, 2L, 0.25)).toDF("k", "ts", "id", "pv")
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.select(right.columns.map(c => col(c).as(c)): _*)
      .queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             n: String) = p.output.find(_.name == n).get
    val node = graft.plans.AsOfJoin(lPlan, rPlan,
      attr(lPlan, "k"), attr(rPlan, "k"), attr(lPlan, "ts"), attr(rPlan, "ts"),
      attr(lPlan, "id"), attr(rPlan, "id"), Seq(attr(rPlan, "pv")))
    val asof = org.apache.spark.sql.graftbridge.GraftSqlBridge.ofRows(spark, node)
    assert(asof.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    assert(asof.head().getDouble(3) === 0.25)
  }

  // runs last: it stops the suite's session to get at a bare SparkContext
  test("a session built without the extension is refused, not half-wired") {
    spark.stop()
    // a SparkContext configured without spark.sql.extensions: getOrCreate
    // builds its new session from the context's conf, so the extension the
    // factory asks for is never applied
    val bare = new SparkContext(new SparkConf().setMaster("local[1]")
      .setAppName("bare").set("spark.ui.enabled", "false"))
    try {
      val e = intercept[IllegalStateException](Graft.session(1))
      assert(e.getMessage.contains("spark.sql.extensions"))
    } finally bare.stop()
  }
}
