package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins the run-metrics contract of [[Pipeline.observed]]: observed metrics
  * are collected during the materializing action itself (no second scan) and
  * equal the independently-computed aggregates.
  */
class ObservationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("observed metrics ride the materializing action and match direct aggregates") {
    val orders = graft.core.Tables.load(spark, dir, "orders")
    val (df, obs) = Pipeline.observed(
      orders.filter(col("o_totalprice") > 100000),
      "rows" -> count(lit(1)),
      "null_keys" -> count(when(col("o_orderkey").isNull, 1)),
      "price_cents" -> sum((col("o_totalprice") * 100).cast("long")))
    // ONE action materializes frame + metrics together
    val n = df.count()
    val row = obs.get
    assert(row("rows") === n)
    assert(row("null_keys") === 0L)
    val direct = orders.filter(col("o_totalprice") > 100000)
      .agg(sum((col("o_totalprice") * 100).cast("long"))).head().getLong(0)
    assert(row("price_cents") === direct)
  }

  test("observation on a mart model: row count and rank integrity in the serving write") {
    val root = java.nio.file.Files.createTempDirectory("graft-obs-fixtures").toString
    FixtureGen.generate(root)
    val mat = java.nio.file.Files.createTempDirectory("graft-obs-mat").toString
    val out = Pipeline.run(spark, root, Materialization.ParquetDir(mat),
      select = Seq("+mart_preseason_overall_rankings_oc"))
    val mart = out("mart_preseason_overall_rankings_oc")
    val (df, obs) = Pipeline.observed(mart,
      "rows" -> count(lit(1)),
      "min_rank" -> min(col("rank")),
      "max_rank" -> max(col("rank")))
    val n = df.count()
    val m = obs.get
    assert(m("rows") === n && n > 0)
    // dense serving ranks: 1..n with no gap at the extremes
    assert(m("min_rank") === 1L || m("min_rank") === 1)
    assert(m("max_rank").toString.toLong === n)
  }
}
