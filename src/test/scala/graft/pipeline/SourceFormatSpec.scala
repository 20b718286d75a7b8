package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Ingestion formats beyond the reference's CSV/TSV externals: JSON-lines
  * with corrupt-record capture (feeds always contain some at corpus scale)
  * and ORC as a second columnar format with working predicate pushdown —
  * the "could switch storage formats without touching queries" story.
  */
class SourceFormatSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("JSONL: valid rows parse typed, malformed lines land in _corrupt_record") {
    val dir = Files.createTempDirectory("graft-jsonl").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/feed.jsonl"),
      """{"id": 1, "name": "alpha", "score": 9.5}
        |{"id": 2, "name": "beta", "score": 7.25}
        |{not json at all
        |{"id": 3, "name": "gamma", "score": 4.0}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val df = SourceReader.readJsonl(spark, dir, schema).cache()
    val good = df.filter(col("_corrupt_record").isNull)
    assert(good.count() == 3)
    assert(good.schema("id").dataType == LongType, "declared schema applies")
    assert(good.agg(sum(col("score"))).head().getDouble(0) == 20.75)
    val bad = df.filter(col("_corrupt_record").isNotNull)
      .select("_corrupt_record").collect().map(_.getString(0))
    assert(bad.length == 1 && bad.head.startsWith("{not json"),
      "the malformed line must be captured verbatim, not dropped")
  }

  test("ORC round-trips the corpus slice and pushes predicates to the scan") {
    val dir = Files.createTempDirectory("graft-orc").toString
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    src.write.orc(s"$dir/orders")
    val orc = spark.read.orc(s"$dir/orders")
    assert(orc.count() == src.count())
    // same rows, column-for-column (spot-check an aggregate)
    val a = src.agg(sum(col("o_totalprice"))).head().getDouble(0)
    val b = orc.agg(sum(col("o_totalprice"))).head().getDouble(0)
    assert(a == b, "ORC round trip must preserve values bit-exactly")
    // the filter must reach the ORC reader as a pushed predicate
    val plan = orc.filter(col("o_totalprice") > 300000)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val pushed = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("o_totalprice"),
      s"predicate must push into the ORC scan: $pushed")
  }
}
