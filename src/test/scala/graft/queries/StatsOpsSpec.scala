package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Invariants for the statistical-aggregate pack. The DuckDB gate proves the
  * manual-moment columns and native variance family value-for-value; these
  * tests pin the properties the gate cannot state — native skewness/kurtosis
  * agree with the exact-moment rebuild, the deterministic-mode tie contract,
  * and that the bitmap rollup equals COUNT(DISTINCT) on any slice.
  */
class StatsOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def run(name: String) = graft.SparkEntry.queries(name)(spark, dir)

  test("a19: native skewness/kurtosis match the exact-moment rebuild") {
    val manual = run("a19_stats_battery")
      .select(col("l_returnflag"), col("skew_m"), col("kurt_m"))
    val native = graft.core.Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(skewness(col("l_quantity")).as("skew_n"),
        kurtosis(col("l_quantity")).as("kurt_n"))
    val joined = manual.join(native, "l_returnflag").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(math.abs(r.getAs[Double]("skew_m") - r.getAs[Double]("skew_n")) < 1e-3,
        s"skew mismatch for ${r.getString(0)}")
      assert(math.abs(r.getAs[Double]("kurt_m") - r.getAs[Double]("kurt_n")) < 1e-3,
        s"kurtosis mismatch for ${r.getString(0)}")
    }
  }

  test("a21: mode(x, deterministic=true) breaks frequency ties to the lowest value") {
    val sp = spark
    import sp.implicits._
    // 1 and 2 both appear twice; deterministic mode must pick 1
    val m = Seq(1, 1, 2, 2, 3).toDF("x")
      .agg(expr("mode(x, true)").as("m")).head().getInt(0)
    assert(m === 1)
  }

  test("a20: bitmap rollup equals COUNT(DISTINCT) per group") {
    val bm = run("a20_bitmap_distinct").select("l_returnflag", "n_parts")
    val exact = graft.core.Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_exact"))
    val bad = bm.join(exact, "l_returnflag")
      .filter(col("n_parts") =!= col("n_exact"))
    assert(bad.count() === 0)
  }

  test("a20: bucket bitmaps are mergeable — union of two halves equals the whole") {
    // the 100 TB contract: partial bitmaps from disjoint slices OR together
    // to the same distinct count as a one-shot pass
    val li = graft.core.Tables.load(spark, dir, "lineitem")
    def partials(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(expr("bitmap_bucket_number(l_partkey)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))").as("bm"))
    val merged = partials(li.filter(col("l_orderkey") % 2 === 0))
      .unionAll(partials(li.filter(col("l_orderkey") % 2 =!= 0)))
      .groupBy(col("bkt"))
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .agg(sum(expr("bitmap_count(bm)")).as("n")).head().getLong(0)
    val oneShot = li.select(countDistinct(col("l_partkey"))).head().getLong(0)
    assert(merged === oneShot)
  }

  test("a22: listagg digest is order-stable across repartitionings") {
    val a = run("a22_listagg").select("o_orderpriority", "keys_md5")
    val b = graft.core.Tables.load(spark, dir, "orders")
      .repartition(7, col("o_orderkey"))
      .filter(col("o_totalprice") > 450000)
      .groupBy(col("o_orderpriority"))
      .agg(md5(expr(
        "listagg(CAST(o_orderkey AS STRING), ',') WITHIN GROUP (ORDER BY o_orderkey)"))
        .as("keys_md5_b"))
    val bad = a.join(b, "o_orderpriority")
      .filter(col("keys_md5") =!= col("keys_md5_b"))
    assert(bad.count() === 0)
  }

  test("a19/a20 plans: mergeable hash aggregates, no Expand, scans pruned") {
    val p19 = run("a19_stats_battery").queryExecution.executedPlan.toString
    assert(p19.contains("HashAggregate"), "stats battery must be a hash aggregate")
    assert(!p19.contains("Expand"),
      "every stats aggregate keeps O(1) mergeable state — no Expand fan-out")
    // only the three referenced columns reach the scan
    assert(p19.contains("ReadSchema") &&
      !p19.contains("l_shipdate"), s"scan must prune to used columns:\n${p19.take(800)}")
    val p20 = run("a20_bitmap_distinct").queryExecution.executedPlan.toString
    assert(!p20.contains("Expand"),
      "the bitmap rollup is two plain aggregates — no COUNT DISTINCT Expand plan")
    assert("HashAggregate".r.findAllIn(p20).size >= 2,
      "bucket stage + final rollup both plan as (Object)HashAggregates")
  }

  test("f23: the bound parameter filter pushes into the parquet scan") {
    val plan = run("f23_parameterized_sql").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(o_totalprice,300000"),
      s"expected the bound :minp literal pushed to the scan:\n$plan")
  }
}
