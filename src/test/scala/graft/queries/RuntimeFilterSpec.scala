package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Runtime bloom-filter injection: when a selectively-filtered build side
  * feeds a shuffle join, Spark can push a bloom filter of the build keys
  * into the probe side's scan — at 100 TB this prunes most of the probe
  * shuffle before it happens. The production thresholds (10 MB build /
  * 10 GB probe scan) are sized for clusters, so this suite lowers them to
  * fixture scale to pin (a) the filter is injected and (b) it never changes
  * results. Own session: the thresholds and disabled broadcast are
  * deliberately NOT the engine defaults.
  */
class RuntimeFilterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    // force the join to stay a shuffle join: bloom filters are only
    // injected when the keys aren't already co-shipped by a broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1B")
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def joined() = {
    val o = graft.core.Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    val li = graft.core.Tables.load(spark, sfDir, "lineitem")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
  }

  test("a bloom filter of the selective side is pushed into the probe scan") {
    val p = joined().queryExecution.optimizedPlan.toString.toLowerCase
    assert(p.contains("might_contain") || p.contains("bloomfilter"),
      s"probe side should carry a runtime bloom filter:\n${p.take(1500)}")
  }

  test("the runtime filter is a pure optimization — results are unchanged") {
    val withFilter = joined().collect().toSeq
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    try {
      val without = joined().collect().toSeq
      assert(withFilter.toSet == without.toSet && withFilter.nonEmpty,
        "bloom-filtered join must return identical rows")
    } finally spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
  }
}
