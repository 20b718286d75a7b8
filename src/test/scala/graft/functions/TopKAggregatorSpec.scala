package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The O(k)-buffer top-k aggregator's edge contract: the buffer NEVER
  * exceeds k (exact duplicates included), NaN ranks like Spark's own sort
  * (greatest), and degenerate k fails fast. The happy path is pinned by the
  * a12 registry oracle; these are the edges the oracle fixture cannot hit.
  */
class TopKAggregatorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def run(k: Int, rows: Seq[(Double, Long)]): Seq[(Double, Long)] = {
    val sp = spark
    import sp.implicits._
    val fn = TopKAggregator.topK(k)
    rows.toDF("score", "id")
      .agg(fn(col("score"), col("id")).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t._1"), col("t._2"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
  }

  test("exact duplicate rows occupy slots but never grow the buffer past k") {
    // regression: an element tying buf.last exactly used to fall through
    // both strict comparisons and append PAST the cap (k+1 results)
    val got = run(2, Seq((5.0, 1L), (3.0, 2L), (3.0, 2L), (3.0, 2L)))
    assert(got.length == 2, s"top-2 must return 2 rows, got $got")
    assert(got == Seq((5.0, 1L), (3.0, 2L)))
    // duplicates legitimately take multiple slots when k allows
    assert(run(3, Seq((5.0, 1L), (3.0, 2L), (3.0, 2L))) ==
      Seq((5.0, 1L), (3.0, 2L), (3.0, 2L)))
  }

  test("NaN scores rank greatest (Spark's sort order) and never grow the buffer") {
    // regression: NaN fell through every comparison and appended unboundedly
    val nan = Double.NaN
    val got = run(2, Seq((1.0, 1L), (nan, 2L), (nan, 3L), (nan, 4L), (2.0, 5L)))
    assert(got.length == 2, s"buffer must stay at k even with NaN scores: $got")
    assert(got.forall(_._1.isNaN) && got.map(_._2) == Seq(2L, 3L),
      s"NaN is greatest in Spark's total order, smallest ids win ties: $got")
  }

  test("k must be positive") {
    val e = intercept[IllegalArgumentException](new TopKAggregator(0))
    assert(e.getMessage.contains("k >= 1"))
  }
}
