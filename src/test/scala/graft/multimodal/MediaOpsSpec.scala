package graft.multimodal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Edge contracts of the media kernels the registry oracles cannot hit:
  * poolGrid's size precondition, and m7's same-signature-group margin under
  * the hamming sweep's BucketCap (the d49-style pinned assumption).
  */
class MediaOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("poolGrid rejects images smaller than the grid with a clear message") {
    // regression: a 6x6 thumbnail against an 8x8 grid used to die with an
    // opaque executor-side ArithmeticException (divide by zero)
    val tiny = MediaOps.syntheticPng(1L, 6, 6)
    val e = intercept[IllegalArgumentException](MediaOps.poolGrid(tiny, 8))
    assert(e.getMessage.contains("at least that large"), e.getMessage)
    // boundary: exactly grid-sized pools fine (1 px per block)
    assert(MediaOps.poolGrid(MediaOps.syntheticPng(1L, 8, 8), 8).length == 64)
  }

  test("m7's dist-0 clusters stay far under the hamming sweep's BucketCap") {
    // m7 keys content by doc_id % 40, so each signature's doc group is
    // ~N/40; TextOps.hammingPairs drops same-signature groups larger than
    // BucketCap (the documented production policy), which would silently
    // diverge from the brute-force oracle. Pin a 10x margin at the gate
    // scale so a re-keyed cluster scheme fails HERE with an explanation,
    // not as an opaque driver hash mismatch.
    val n = graft.core.Tables.load(spark, "/root/testdata/sf0.01", "documents").count()
    val maxGroup = n / 40 + 1
    assert(maxGroup * 10 <= graft.queries.TextOps.BucketCap,
      s"m7 signature groups (~$maxGroup docs) approach BucketCap " +
        s"(${graft.queries.TextOps.BucketCap}) — re-key the clusters or pass a larger cap")
  }
}
