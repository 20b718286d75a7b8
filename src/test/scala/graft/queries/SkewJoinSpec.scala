package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** AQE skew-join handling: x1 shows the MANUAL salting pattern; this suite
  * pins the runtime alternative — AQE detecting an oversized shuffle
  * partition and splitting it — because at 100 TB the long tail of skew is
  * handled by AQE while salting is reserved for known-pathological keys.
  * Own session: the skew thresholds are production-sized (256 MB) and must
  * be shrunk to fixture scale for the splitter to engage.
  */
class SkewJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // keep the join a sort-merge join so skew splitting applies
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1KB")
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("AQE splits the skewed partition at runtime (skew=true in the final plan)") {
    val sp = spark
    import sp.implicits._
    // one pathological key (0) carrying ~90% of rows, joined to a small
    // per-key table — the classic skewed fact <-> dim shape
    // incompressible payloads — shuffle sizes are measured post-compression,
    // and a repetitive payload can squeeze the "hot" partition under the
    // skew threshold
    val fact = spark.range(0, 20000)
      .select(when(col("id") % 10 === 0, col("id") % 97).otherwise(0L).as("k"),
        concat(md5(col("id").cast("string")),
          md5(concat(lit("x"), col("id").cast("string")))).as("payload"))
    val dim = (0L until 97L).map(k => (k, s"dim-$k")).toDF("k", "attr")
    // global aggregate on purpose: a groupBy on the join key would REUSE the
    // join's hash partitioning, and OptimizeSkewedJoin declines to split a
    // partition some downstream operator still requires intact
    val joined = fact.join(dim, Seq("k"))
      .agg(count(lit(1)).as("n"), sum(length(col("payload"))).as("bytes"))
    val rows = joined.collect() // AQE finalizes only after execution
    assert(rows.head.getLong(0) == 20000, "join must preserve all fact rows")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), "must run under AQE")
    assert(plan.contains("skew=true"),
      s"the hot key's partition should be split by OptimizeSkewedJoin:\n${plan.take(1800)}")
  }
}
