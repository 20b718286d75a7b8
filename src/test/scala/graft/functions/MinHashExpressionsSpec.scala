package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** graft_minhash must be bit-identical to the 128-column min-aggregate form
  * it replaced in d3 (r13): same pmod/multiply/mod arithmetic, min over the
  * same multiset — the kernel only changes WHERE the fold runs (one per-doc
  * array pass instead of per-posting aggregate buffers). */
class MinHashExpressionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(2)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("graft_minhash matches the composed min-aggregate form exactly") {
    val sp = spark
    import sp.implicits._
    val P = 2147483647L
    val k = 16
    val rnd = new scala.util.Random(42)
    val hashA = Array.fill(k)(1 + rnd.nextLong().abs % (P - 1))
    val hashB = Array.fill(k)(rnd.nextLong().abs % P)
    // docs with negative and positive 64-bit shingle hashes, varied sizes
    val data = new scala.util.Random(7)
    val docs = (1 to 50).map { id =>
      (id.toLong, Seq.fill(1 + data.nextInt(40))(data.nextLong()))
    }
    val df = docs.toDF("doc_id", "hv_arr")

    // aggregate form: explode + pmod + k min columns (the pre-r13 shape)
    val ex = df.select(col("doc_id"), explode(col("hv_arr")).as("hv"))
      .withColumn("hv", pmod(col("hv"), lit(P)))
    val minCols = (0 until k).map(i =>
      min((lit(hashA(i)) * col("hv") + lit(hashB(i))) % lit(P)).as(s"m$i"))
    val agg = ex.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong).toSeq).toMap

    // kernel form
    val ab = typedLit((0 until k).flatMap(i => Seq(hashA(i), hashB(i))))
    val ker = df.select(col("doc_id"),
        call_function("graft_minhash", col("hv_arr"), ab).as("ms"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap

    assert(ker.keySet == agg.keySet)
    agg.foreach { case (id, sig) => assert(ker(id) == sig, s"doc $id") }
  }

  test("graft_minhash null semantics: empty array and null elements yield NULL") {
    val sp = spark
    import sp.implicits._
    val ab = typedLit(Seq(3L, 5L))
    val df = Seq(
      (1L, Some(Seq[Option[Long]](Some(10L), Some(-3L)))),
      (2L, Some(Seq.empty[Option[Long]])),
      (3L, Some(Seq[Option[Long]](Some(1L), None))),
      (4L, None)
    ).toDF("id", "hv_arr")
    val out = df.select(col("id"),
        call_function("graft_minhash", col("hv_arr"), ab).as("ms"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!out(1L) && out(2L) && out(3L) && out(4L))
  }
}
