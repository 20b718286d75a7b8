package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import scala.util.Random

/** Misra–Gries guarantee tests against exact counts:
  *   - every item with true frequency > n/(k+1) appears in the sketch;
  *   - estimates never overcount, and undercount by at most n/(k+1);
  *   - the buffer never exceeds k counters;
  * on (a) the real document corpus and (b) a skewed synthetic stream spread
  * over many partitions, so the merge path (not just reduce) is exercised.
  */
class FreqSketchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def check(toks: org.apache.spark.sql.DataFrame, k: Int): Unit = {
    val sketch = FreqSketchAggregator.freqSketch(k)
    val mg = toks.agg(sketch(col("tok")).as("mg")).head()
      .getMap[String, Long](0).toMap
    val exact = toks.groupBy(col("tok")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val slack = n.toDouble / (k + 1)

    assert(mg.size <= k, s"buffer must hold <= $k counters, got ${mg.size}")
    val heavy = exact.filter { case (_, c) => c > slack }
    val missing = heavy.keySet -- mg.keySet
    assert(missing.isEmpty,
      s"items with freq > n/(k+1)=$slack must be present; missing $missing")
    for ((item, est) <- mg) {
      val truth = exact.getOrElse(item, 0L)
      assert(est <= truth, s"$item: estimate $est overcounts true $truth")
      assert(truth - est <= slack + 1,
        s"$item: undercount ${truth - est} exceeds n/(k+1)=$slack")
    }
  }

  test("MG guarantees hold on the document corpus (sf0.001, k=30)") {
    val toks = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    check(toks, k = 30)
  }

  test("MG guarantees hold on a skewed multi-partition stream (k=10)") {
    val rnd = new Random(4242)
    // one dominant item (~30%), a mid tier, and a long uniform tail
    val items = Seq.fill(3000)("hot") ++
      (1 to 6).flatMap(i => Seq.fill(400)(s"mid$i")) ++
      Seq.fill(4600)("t" + rnd.nextInt(2000))
    val s = spark
    import s.implicits._
    val toks = rnd.shuffle(items).toDF("tok").repartition(16)
    check(toks, k = 10)
  }

  test("null items are skipped like any SQL aggregate (no null map key)") {
    // regression: counting a null item put a null KEY in the buffer map,
    // which the encoder rejects at the first partial serialization
    val sp = spark
    import sp.implicits._
    val fn = FreqSketchAggregator.freqSketch(10)
    val got = Seq(Some("a"), None, Some("a"), None, Some("b"))
      .toDF("tok").repartition(4)
      .agg(fn(col("tok")).as("sk"))
      .select(explode(col("sk"))).as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 2L, "b" -> 1L), s"nulls must not count: $got")
  }
}
