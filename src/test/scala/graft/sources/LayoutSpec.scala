package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Quantifies the Z-order layout claim behind x6: under a Morton-clustered
  * write, file-level min/max stats bound BOTH dimensions, so a filter on the
  * non-sort dimension prunes files; under a time-sorted layout the same
  * filter prunes nothing. Also pins the Morton spread arithmetic itself.
  */
class LayoutSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("morton spread interleaves bits: z(x, 0) has x's bits at even positions") {
    val rows = spark.range(0, 16)
      .select(col("id").cast("int").as("x"),
        Layout.zValue2(col("id").cast("int"), lit(0)).as("zx"),
        Layout.zValue2(lit(0), col("id").cast("int")).as("zy"))
      .collect()
    rows.foreach { r =>
      val x = r.getInt(0)
      // spread(x) = sum over set bits i of 2^(2i)
      val expect = (0 until 16).filter(i => (x & (1 << i)) != 0)
        .map(i => 1L << (2 * i)).sum
      assert(r.getLong(1) === expect, s"even-bit spread of $x")
      assert(r.getLong(2) === 2 * expect, s"odd-bit spread of $x")
    }
  }

  test("z-order files prune on the non-time dimension; a time-sort does not") {
    val ev = graft.core.Tables.load(spark, dir, "events")
      .withColumn("ts_s", unix_timestamp(col("ts"))).drop("ts")
    val zPath = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val tPath = java.nio.file.Files.createTempDirectory("graft-tsort").toString
    Layout.zorderWrite(ev, "user_id", "ts_s", zPath, 8)
    // the status-quo layout: ingestion order ~ time order
    ev.repartitionByRange(8, col("ts_s")).sortWithinPartitions(col("ts_s"))
      .write.mode("overwrite").parquet(tPath)

    // file-level pruning simulation from footer-equivalent stats: a file can
    // serve user_id BETWEEN 5 AND 25 only if its [min,max] user span overlaps
    def filesHit(path: String): (Long, Long) = {
      val stats = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("user_id")).as("lo"), max(col("user_id")).as("hi"))
      (stats.count(), stats.filter(col("lo") <= 25 && col("hi") >= 5).count())
    }
    val (zTotal, zHit) = filesHit(zPath)
    val (tTotal, tHit) = filesHit(tPath)
    assert(zTotal === 8 && tTotal === 8)
    assert(tHit === 8, "time-sorted files all span the full user range")
    assert(zHit < tHit, s"z-order must prune: hit $zHit of $zTotal")
    assert(zHit <= 5, s"z-order should bound user spans to ~half the files: $zHit")

    // losslessness: both layouts return identical box-query rows
    def box(path: String) = spark.read.parquet(path)
      .filter(col("user_id").between(5, 25) &&
        col("ts_s").between(1704844800L, 1705276800L))
      .select("event_id", "user_id", "ts_s")
    assert(box(zPath).exceptAll(box(tPath)).count() === 0)
    assert(box(tPath).exceptAll(box(zPath)).count() === 0)
  }

  test("x6 registry query survives a fresh layout write (idempotent helper)") {
    val out = graft.SparkEntry.queries("x6_zorder_layout")(spark, dir)
    assert(out.count() > 0)
  }

  test("mortonSpread16 honors its low-16-bit contract for out-of-range input") {
    // regression: without the leading mask, bit 16 survived the 0x00FF00FF
    // step and aliased with bit 8 — 65536 spread identically to 256, so
    // unclamped callers got a non-monotone interleave
    val sp = spark
    import sp.implicits._
    val df = Seq((0, 5, 256, 65536, 65536 + 5)).toDF("zero", "five", "b8", "b16", "b16p5")
    def spread(c: String): Int =
      df.select(Layout.mortonSpread16(col(c))).head().getInt(0)
    assert(spread("b16") == spread("zero"), "bit 16 is outside the low-16 contract: masked off")
    assert(spread("b16p5") == spread("five"))
    assert(spread("b8") != spread("b16"), "256 and 65536 must not alias")
  }

  test("zorderWrite handles empty input and all-null dimensions (no bounds, no crash)") {
    val sp = spark
    import sp.implicits._
    val empty = Seq.empty[(Long, Long, Double)].toDF("u", "t", "v")
    val dirE = java.nio.file.Files.createTempDirectory("graft-z-empty").toString + "/t"
    Layout.zorderWrite(empty, "u", "t", dirE, 4)
    assert(sp.read.parquet(dirE).count() === 0)
    val nulls = Seq((Some(1L), Option.empty[Long], 1.0),
      (Some(2L), Option.empty[Long], 2.0)).toDF("u", "t", "v")
    val dirN = java.nio.file.Files.createTempDirectory("graft-z-null").toString + "/t"
    Layout.zorderWrite(nulls, "u", "t", dirN, 4)
    assert(sp.read.parquet(dirN).count() === 2, "all-null dimension degrades to a plain write")
  }
}
