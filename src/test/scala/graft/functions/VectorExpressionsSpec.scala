package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The native kernels must be bit-identical to the composed
  * aggregate/zip_with form they replace (both fold ascending-index). */
class VectorExpressionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(2)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def composedCosine(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"aggregate(zip_with($x, $y, (p, q) -> p * q), cast(0 as double), (acc, v) -> acc + v)"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  test("graft_dot and graft_cosine match the composed form bit-exactly") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(13)
    val vecs = (1 to 200).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble() * 2 - 1))).toDF("id", "v")
    vecs.createOrReplaceTempView("vecs")
    val pairs = sp.sql(
      """SELECT a.v AS va, b.v AS vb,
        |  graft_dot(a.v, b.v) AS ndot, graft_cosine(a.v, b.v) AS ncos
        |FROM vecs a JOIN vecs b ON a.id < b.id""".stripMargin)
      .withColumn("cdot", expr(
        "aggregate(zip_with(va, vb, (p, q) -> p * q), cast(0 as double), (acc, v) -> acc + v)"))
      .withColumn("ccos", expr(composedCosine("va", "vb")))
    val bad = pairs.filter(col("ndot") =!= col("cdot") || col("ncos") =!= col("ccos")).count()
    assert(bad == 0, s"$bad of ${pairs.count()} pairs differ from the composed form")
  }

  test("null and empty inputs behave like the built-ins") {
    val rows = spark.sql(
      """SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS null_dot,
        |       graft_dot(CAST(array() AS ARRAY<DOUBLE>), CAST(array() AS ARRAY<DOUBLE>)) AS empty_dot,
        |       graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS self_cos
        |""".stripMargin).first()
    assert(rows.isNullAt(0), "null input -> null")
    assert(rows.getDouble(1) == 0.0, "empty arrays -> 0.0 dot")
    assert(rows.getDouble(2) == 1.0, "self cosine == 1.0")
  }

  test("optimizer rule rewrites composed aggregate/zip_with into the kernel") {
    val sp = spark
    // parquet-backed source so the optimizer can't constant-fold the plan away
    sp.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")
      .createOrReplaceTempView("rv")
    val composed = sp.sql(
      """SELECT vec_id, aggregate(zip_with(v, v, (x, y) -> x * y),
        |  cast(0 as double), (acc, w) -> acc + w) AS selfdot FROM rv""".stripMargin)
    val optimized = composed.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_dot"),
      s"composed fold should rewrite to DotProduct:\n$optimized")
    // and the rewrite changes nothing numerically vs the kernel spelled directly
    val direct = sp.sql("SELECT vec_id, graft_dot(v, v) AS selfdot FROM rv")
    assert(composed.exceptAll(direct).count() == 0
      && direct.exceptAll(composed).count() == 0)
  }

  test("optimizer rule does NOT fire on lookalike lambdas") {
    val sp = spark
    sp.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")
      .createOrReplaceTempView("rv2")
    // (x, y) -> x * x is a sum of squares of the LEFT side, not a dot product
    val squares = sp.sql(
      """SELECT vec_id, aggregate(zip_with(v, v, (x, y) -> x * x),
        |  cast(0 as double), (acc, w) -> acc + w) AS s FROM rv2""".stripMargin)
    assert(!squares.queryExecution.optimizedPlan.toString.contains("graft_dot"),
      "x * x must not rewrite to DotProduct")
    // (acc, w) -> acc + acc doubles the accumulator, ignoring the element
    val accacc = sp.sql(
      """SELECT vec_id, aggregate(zip_with(v, v, (x, y) -> x * y),
        |  cast(0 as double), (acc, w) -> acc + acc) AS s FROM rv2""".stripMargin)
    assert(!accacc.queryExecution.optimizedPlan.toString.contains("graft_dot"),
      "acc + acc must not rewrite to DotProduct")
    // sanity: the results really do differ from a dot product
    val r = sp.sql(
      """SELECT aggregate(zip_with(array(1.0d, 2.0d), array(3.0d, 4.0d),
        |  (x, y) -> x * x), cast(0 as double), (acc, w) -> acc + w) AS sq""".stripMargin).first()
    assert(r.getDouble(0) == 5.0, "1 + 4, not the dot product 11")
  }

  test("kernels replicate zip_with null/length-pad semantics") {
    val r = spark.sql(
      """SELECT
        |  graft_dot(array(1.0d, 2.0d), array(3.0d)) AS mismatched,
        |  aggregate(zip_with(array(1.0d, 2.0d), array(3.0d), (x, y) -> x * y),
        |    cast(0 as double), (acc, v) -> acc + v) AS composed_mismatched,
        |  graft_dot(array(1.0d, CAST(NULL AS DOUBLE)), array(3.0d, 4.0d)) AS null_elem,
        |  aggregate(zip_with(array(1.0d, CAST(NULL AS DOUBLE)), array(3.0d, 4.0d),
        |    (x, y) -> x * y), cast(0 as double), (acc, v) -> acc + v) AS composed_null_elem,
        |  graft_cosine(array(1.0d, 2.0d), array(3.0d)) AS cos_mismatched
        |""".stripMargin).first()
    assert(r.isNullAt(0) && r.isNullAt(1), "length mismatch -> NULL, both forms")
    assert(r.isNullAt(2) && r.isNullAt(3), "null element -> NULL, both forms")
    assert(r.isNullAt(4), "cosine length mismatch -> NULL")
  }

  test("TopKAggregator: ties break by id, k caps, merge path is partition-invariant") {
    val sp = spark
    import sp.implicits._
    // score 9.0 appears three times — ids 4,5,6 — so the top-3 must be
    // (9.0, 4), (9.0, 5), (9.0, 6) regardless of how rows are distributed
    val rows = Seq((9.0, 6L), (1.0, 1L), (9.0, 4L), (2.0, 2L), (9.0, 5L), (8.0, 3L))
    val topK = TopKAggregator.topK(3)
    def run(parts: Int) =
      rows.toDF("score", "id").repartition(parts)
        .agg(topK(col("score"), col("id")).as("top"))
        .select(explode(col("top")).as("t"))
        .select(col("t._1"), col("t._2"))
        .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    val expected = Seq((9.0, 4L), (9.0, 5L), (9.0, 6L))
    (1 to 4).foreach { parts =>
      assert(run(parts) == expected,
        s"$parts partitions: merge must preserve order+ties, got ${run(parts)}")
    }
  }

  test("mismatched element type is rejected at analysis") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot(array('a'), array(1.0d))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("array<double>")
      || e.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  test("two kernels over NON-nullable inputs share one codegen scope cleanly") {
    // regression: fixed Java local names collide when the children are
    // non-nullable (array literals get no wrapping if-block), producing a
    // janino compile error and a silent interpreted fallback. Strict codegen
    // fallback OFF turns that silent degradation into a test failure.
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val row = spark.sql(
        """SELECT graft_dot(array(1d,2d), array(3d,4d)) AS d1,
          |       graft_dot(array(1d,1d), array(1d,1d)) AS d2,
          |       graft_cosine(array(1d,0d), array(1d,0d)) AS c1,
          |       graft_cosine(array(0d,2d), array(0d,4d)) AS c2""".stripMargin).head()
      assert(row.getDouble(0) == 11.0 && row.getDouble(1) == 2.0)
      assert(row.getDouble(2) == 1.0 && row.getDouble(3) == 1.0)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("wrong arity fails with a clear message, not an index error") {
    val e = intercept[Exception](spark.sql("SELECT graft_dot(array(1d))").head())
    assert(e.getMessage.contains("requires exactly 2 arguments"), e.getMessage)
    val e1 = intercept[Exception](spark.sql("SELECT graft_nfc('a', 'b')").head())
    assert(e1.getMessage.contains("requires exactly 1 argument"), e1.getMessage)
  }
}
