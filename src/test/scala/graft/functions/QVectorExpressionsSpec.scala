package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The integer-grid kernels must be bit-identical to the composed
  * aggregate/zip_with lambdas they replace — long sums are exact and
  * order-insensitive, so any mismatch is a kernel bug, not float noise. */
class QVectorExpressionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(2)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("graft_qdot / graft_ql2 / graft_qnorm2 match the composed folds exactly") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(29)
    // grid-scale magnitudes (|x| <= 4096) like the quantized vectors carry
    val vecs = (1 to 150).map(i =>
      (i.toLong, Array.fill(64)((rnd.nextInt(8193) - 4096).toLong))).toDF("id", "q")
    vecs.createOrReplaceTempView("qvecs")
    val pairs = sp.sql(
      """SELECT a.q AS qa, b.q AS qb,
        |  graft_qdot(a.q, b.q) AS ndot, graft_ql2(a.q, b.q) AS nl2,
        |  graft_qnorm2(a.q) AS nn2
        |FROM qvecs a JOIN qvecs b ON a.id < b.id""".stripMargin)
      .withColumn("cdot", expr(
        "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"))
      .withColumn("cl2", expr(
        "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"))
      .withColumn("cn2", expr("aggregate(qa, 0L, (acc, x) -> acc + x * x)"))
    val bad = pairs.filter(col("ndot") =!= col("cdot")
      || col("nl2") =!= col("cl2") || col("nn2") =!= col("cn2")).count()
    assert(bad == 0, s"$bad of ${pairs.count()} pairs differ from the composed folds")
  }

  test("integer kernels replicate zip_with null/length-pad semantics") {
    val r = spark.sql(
      """SELECT
        |  graft_qdot(array(1L, 2L), array(3L)) AS dot_mismatched,
        |  graft_ql2(array(1L, 2L), array(3L)) AS l2_mismatched,
        |  graft_qdot(array(1L, CAST(NULL AS BIGINT)), array(3L, 4L)) AS dot_null_elem,
        |  graft_qnorm2(array(1L, CAST(NULL AS BIGINT))) AS norm_null_elem,
        |  graft_qnorm2(CAST(NULL AS ARRAY<BIGINT>)) AS norm_null_arr,
        |  graft_qdot(CAST(array() AS ARRAY<BIGINT>), CAST(array() AS ARRAY<BIGINT>)) AS dot_empty,
        |  graft_qnorm2(CAST(array() AS ARRAY<BIGINT>)) AS norm_empty,
        |  graft_ql2(array(1L, 5L), array(4L, 1L)) AS l2_basic,
        |  graft_qdot(array(2L, 3L), array(4L, 5L)) AS dot_basic
        |""".stripMargin).first()
    assert(r.isNullAt(0) && r.isNullAt(1), "length mismatch -> NULL")
    assert(r.isNullAt(2) && r.isNullAt(3), "null element -> NULL")
    assert(r.isNullAt(4), "null array -> NULL")
    assert(r.getLong(5) == 0L && r.getLong(6) == 0L, "empty arrays -> 0")
    assert(r.getLong(7) == 25L, "(1-4)^2 + (5-1)^2 = 25")
    assert(r.getLong(8) == 23L, "2*4 + 3*5 = 23")
  }

  test("graft_qmatmul (fast path) matches the composed transform of graft_qdot exactly") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(31)
    // foldable P x d plane literal — the registry shape (lshBands' matrix)
    val planes = (0 until 17).map(_ =>
      Array.fill(48)((rnd.nextInt(8193) - 4096).toLong).mkString("array(", "L,", "L)"))
      .mkString("array(", ",", ")")
    (1 to 200).map(i => (i.toLong, Array.fill(48)((rnd.nextInt(8193) - 4096).toLong)))
      .toDF("id", "q").createOrReplaceTempView("qmv")
    val bad = sp.sql(
      s"""SELECT graft_qmatmul(q, $planes) AS k,
         |       transform($planes, w -> graft_qdot(q, w)) AS c
         |FROM qmv""".stripMargin)
      .filter("k IS DISTINCT FROM c").count()
    assert(bad == 0, s"$bad rows: fused kernel differs from the composed transform")
  }

  test("graft_qmatmul generic path (non-foldable planes) matches the fast path") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(37)
    val planeRows = Array.fill(9)(Array.fill(32)((rnd.nextInt(8193) - 4096).toLong))
    val planesLit = planeRows.map(_.mkString("array(", "L,", "L)"))
      .mkString("array(", ",", ")")
    // carry the SAME matrix as a per-row column: right is non-foldable, so
    // foldedPlanes stays null and every row walks evalGeneric
    (1 to 100).map(i => (i.toLong, Array.fill(32)((rnd.nextInt(8193) - 4096).toLong),
      planeRows)).toDF("id", "q", "pm").createOrReplaceTempView("qmg")
    val df = sp.sql(
      s"""SELECT graft_qmatmul(q, pm) AS generic,
         |       graft_qmatmul(q, $planesLit) AS fast,
         |       transform(pm, w -> graft_qdot(q, w)) AS composed
         |FROM qmg""".stripMargin)
    assert(df.filter("generic IS DISTINCT FROM fast").count() == 0,
      "generic path must equal the foldable fast path")
    assert(df.filter("generic IS DISTINCT FROM composed").count() == 0,
      "generic path must equal the composed transform")
  }

  test("graft_qmatmul per-plane null semantics and the null-v divergence") {
    // per-plane: length mismatch or a null element in EITHER side -> that
    // plane's entry is NULL, the others still compute (both paths)
    val r = spark.sql(
      """SELECT
        |  graft_qmatmul(array(2L, 3L),
        |    array(array(4L, 5L), array(1L), CAST(NULL AS ARRAY<BIGINT>),
        |          array(1L, CAST(NULL AS BIGINT)), array(10L, 1L))) AS fastish,
        |  graft_qmatmul(array(1L, CAST(NULL AS BIGINT)),
        |    array(array(4L, 5L), array(7L, 8L))) AS vnullelem,
        |  graft_qmatmul(CAST(NULL AS ARRAY<BIGINT>), array(array(1L, 2L))) AS vnull,
        |  transform(array(array(1L, 2L)),
        |    w -> graft_qdot(CAST(NULL AS ARRAY<BIGINT>), w)) AS vnull_composed
        |""".stripMargin).first()
    // NOTE: a matrix literal with a NULL plane or null element is NOT
    // foldable-clean, so column 0 actually exercises the generic walk; the
    // pure fast path is pinned by the two equivalence tests above.
    val a = r.getSeq[Any](0)
    assert(a == Seq(23L, null, null, null, 23L),
      s"per-plane null/mismatch semantics: $a")
    val b = r.getSeq[Any](1)
    assert(b == Seq(null, null), s"null element in v nulls every plane: $b")
    // the documented divergence: the kernel is null-intolerant in v (NULL
    // in -> NULL out); the composed transform captures v in the lambda and
    // yields an all-null ARRAY instead. No registry data carries null
    // vectors; this test pins both behaviors.
    assert(r.isNullAt(2), "kernel: NULL v -> NULL result")
    assert(r.getSeq[Any](3) == Seq(null), "composed: NULL v -> array of nulls")
  }

  test("optimizer rule rewrites long folds into graft_qdot / graft_qnorm2") {
    val sp = spark
    sp.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(floor(x * 4096.0d + 0.5d) AS BIGINT)) AS qv")
      .createOrReplaceTempView("qrv")
    val composedDot = sp.sql(
      """SELECT vec_id, aggregate(zip_with(qv, qv, (x, y) -> x * y),
        |  0L, (acc, w) -> acc + w) AS selfdot FROM qrv""".stripMargin)
    assert(composedDot.queryExecution.optimizedPlan.toString.contains("graft_qdot"),
      s"long dot fold should rewrite to QDotProduct:\n${composedDot.queryExecution.optimizedPlan}")
    val composedNorm = sp.sql(
      "SELECT vec_id, aggregate(qv, 0L, (acc, x) -> acc + x * x) AS n2 FROM qrv")
    assert(composedNorm.queryExecution.optimizedPlan.toString.contains("graft_qnorm2"),
      s"norm fold should rewrite to QNorm2:\n${composedNorm.queryExecution.optimizedPlan}")
    // rewrites change nothing numerically vs the kernels spelled directly
    val directDot = sp.sql("SELECT vec_id, graft_qdot(qv, qv) AS selfdot FROM qrv")
    assert(composedDot.exceptAll(directDot).count() == 0
      && directDot.exceptAll(composedDot).count() == 0)
    val directNorm = sp.sql("SELECT vec_id, graft_qnorm2(qv) AS n2 FROM qrv")
    assert(composedNorm.exceptAll(directNorm).count() == 0
      && directNorm.exceptAll(composedNorm).count() == 0)
  }

  test("optimizer rule does NOT fire on long-fold lookalikes") {
    val sp = spark
    sp.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(floor(x * 4096.0d + 0.5d) AS BIGINT)) AS qv")
      .createOrReplaceTempView("qrv2")
    // cube fold: acc + x * x is squared-norm but acc + x * x * x is not
    val cube = sp.sql(
      "SELECT vec_id, aggregate(qv, 0L, (acc, x) -> acc + x * x * x) AS s FROM qrv2")
    val cubePlan = cube.queryExecution.optimizedPlan.toString
    assert(!cubePlan.contains("graft_qnorm2") && !cubePlan.contains("graft_qdot"),
      "cube fold must not rewrite")
    // nonzero seed changes the result — must stay composed
    val seeded = sp.sql(
      "SELECT vec_id, aggregate(qv, 7L, (acc, x) -> acc + x * x) AS s FROM qrv2")
    assert(!seeded.queryExecution.optimizedPlan.toString.contains("graft_qnorm2"),
      "nonzero zero-element must not rewrite")
    // (x, y) -> x * x over zip_with sums LEFT squares, not a dot product
    val sq = sp.sql(
      """SELECT vec_id, aggregate(zip_with(qv, qv, (x, y) -> x * x),
        |  0L, (acc, w) -> acc + w) AS s FROM qrv2""".stripMargin)
    assert(!sq.queryExecution.optimizedPlan.toString.contains("graft_qdot"),
      "x * x zip lambda must not rewrite to QDotProduct")
  }

  test("integer kernels codegen cleanly side by side (strict fallback off)") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val row = spark.sql(
        """SELECT graft_qdot(array(1L,2L), array(3L,4L)) AS d1,
          |       graft_ql2(array(1L,2L), array(3L,4L)) AS d2,
          |       graft_qnorm2(array(3L,4L)) AS d3,
          |       graft_qnorm2(array(1L,1L,1L)) AS d4""".stripMargin).head()
      assert(row.getLong(0) == 11L && row.getLong(1) == 8L)
      assert(row.getLong(2) == 25L && row.getLong(3) == 3L)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("mismatched element type is rejected at analysis") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_qdot(array(1.0d), array(1L))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("array<bigint>")
      || e.getMessage.toLowerCase.contains("datatype_mismatch"))
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_qnorm2(array('a'))").collect()
    }
    assert(e1.getMessage.toLowerCase.contains("array<bigint>")
      || e1.getMessage.toLowerCase.contains("datatype_mismatch"))
  }
}
