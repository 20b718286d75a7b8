package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import scala.util.Random

/** Differential tests for the incremental materializations:
  *   - fold(scd2Apply over K batches) == scd2Rebuild(full log), on randomized
  *     change logs — the incremental path provably converges to the batch
  *     path, for any batch boundaries;
  *   - upsert is idempotent (replaying the same batch changes nothing) and
  *     equivalent to latest-per-key over the concatenated log;
  *   - SCD2 output is structurally sound: per key, intervals chain
  *     contiguously and exactly one is open.
  */
class IncrementalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Random change log: `n` rows over `nKeys` keys, 4 attr values, unique
    * (seq) tiebreak; ts collisions across keys on purpose. */
  private def randomLog(seed: Long, n: Int, nKeys: Int): DataFrame = {
    val rnd = new Random(seed)
    val rows = (0 until n).map { i =>
      (rnd.nextInt(nKeys).toLong, s"v${rnd.nextInt(4)}", rnd.nextInt(50).toLong, i.toLong)
    }
    val s = spark
    import s.implicits._
    rows.toDF("k", "attr", "ts", "seq")
  }

  private def canon(df: DataFrame): Set[(Long, String, Long, Option[Long])] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet

  test("fold of scd2Apply batches == scd2Rebuild on the full log (randomized)", graft.Slow) {
    for (seed <- 1 to 5) {
      val log = randomLog(seed, 400, 12).cache()
      val full = Incremental.scd2Rebuild(log, Seq("k"), "attr", "ts", "seq")
        .select(col("k"), col("attr"), col("valid_from"), col("valid_to"))

      // batch boundaries depend on the seed so the split points vary too
      val cut1 = 10 + seed * 3
      val cut2 = 25 + seed * 3
      val h0 = Incremental.scd2Rebuild(log.filter(col("ts") < cut1),
        Seq("k"), "attr", "ts", "seq")
      val h1 = Incremental.scd2Apply(h0,
        log.filter(col("ts") >= cut1 && col("ts") < cut2), Seq("k"), "attr", "ts", "seq")
      val h2 = Incremental.scd2Apply(h1, log.filter(col("ts") >= cut2),
        Seq("k"), "attr", "ts", "seq")
        .select(col("k"), col("attr"), col("valid_from"), col("valid_to"))

      assert(canon(h2) === canon(full), s"seed=$seed")
      log.unpersist()
    }
  }

  test("scd2Apply drops equal-ts boundary rows (documented strict-slice contract)") {
    // A batch row whose ts EQUALS the open interval's valid_from violates
    // the strict-slice precondition: the rebuild orders it after the change
    // point via the tie-break and emits an interval; apply drops it as a
    // late arrival. Pin the documented apply behavior so the divergence is
    // explicit, not accidental.
    val s = spark
    import s.implicits._
    val log = Seq((1L, "a", 10L, 0L)).toDF("k", "attr", "ts", "seq")
    val h0 = Incremental.scd2Rebuild(log, Seq("k"), "attr", "ts", "seq")
    // equal-ts row with a later tie-break and a different attr
    val batch = Seq((1L, "b", 10L, 1L)).toDF("k", "attr", "ts", "seq")
    val applied = Incremental.scd2Apply(h0, batch, Seq("k"), "attr", "ts", "seq")
      .select(col("k"), col("attr"), col("valid_from"), col("valid_to"))
    // apply: unchanged history (row dropped as late)
    assert(canon(applied) === canon(h0
      .select(col("k"), col("attr"), col("valid_from"), col("valid_to"))))
    // rebuild over the combined log: the same row becomes a change point —
    // the two paths legitimately diverge here, which is why the contract
    // requires strict slices
    val rebuilt = Incremental.scd2Rebuild(log.unionByName(batch),
      Seq("k"), "attr", "ts", "seq")
    assert(rebuilt.count() === 2L)
    // and a strictly-later ts converges again
    val strictBatch = Seq((1L, "b", 11L, 1L)).toDF("k", "attr", "ts", "seq")
    val appliedStrict = Incremental.scd2Apply(h0, strictBatch, Seq("k"), "attr", "ts", "seq")
      .select(col("k"), col("attr"), col("valid_from"), col("valid_to"))
    val rebuiltStrict = Incremental.scd2Rebuild(log.unionByName(strictBatch),
      Seq("k"), "attr", "ts", "seq")
      .select(col("k"), col("attr"), col("valid_from"), col("valid_to"))
    assert(canon(appliedStrict) === canon(rebuiltStrict))
  }

  test("scd2CloseDeleted closes only vanished keys' open intervals") {
    val s = spark
    import s.implicits._
    // key 1: open interval, still present -> stays open
    // key 2: open interval, absent       -> closes at deleteTs
    // key 3: already closed, absent      -> untouched
    val log = Seq((1L, "a", 10L, 0L), (2L, "b", 10L, 1L),
      (3L, "c", 5L, 2L), (3L, "d", 8L, 3L)).toDF("k", "attr", "ts", "seq")
    val hist = Incremental.scd2Rebuild(log, Seq("k"), "attr", "ts", "seq")
    val present = Seq(Tuple1(1L), Tuple1(99L)).toDF("k")
    val out = Incremental.scd2CloseDeleted(hist, present, Seq("k"), lit(42L))
      .select(col("k"), col("attr"), col("valid_from"), col("valid_to"))
    assert(canon(out) === Set(
      (1L, "a", 10L, None),        // present: open survives
      (2L, "b", 10L, Some(42L)),   // deleted: closed at deleteTs
      (3L, "c", 5L, Some(8L)),     // closed history untouched
      (3L, "d", 8L, Some(42L))))   // key 3's OPEN interval also closes
  }

  test("scd2 intervals chain contiguously with exactly one open per key") {
    val log = randomLog(99, 500, 10)
    val h = Incremental.scd2Rebuild(log, Seq("k"), "attr", "ts", "seq")
    val open = h.filter(col("valid_to").isNull).groupBy(col("k")).count()
      .filter(col("count") =!= 1)
    assert(open.count() === 0, "each key must have exactly one open interval")
    // every closed interval's valid_to equals the next interval's valid_from
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("valid_from"))
    val broken = h.withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .filter(col("valid_to").isNotNull && col("valid_to") =!= col("next_from"))
    assert(broken.count() === 0, "intervals must chain without gaps or overlaps")
    // consecutive intervals must actually change the attr
    val flat = h.withColumn("next_attr", lead(col("attr"), 1).over(w))
      .filter(col("next_attr").isNotNull && col("next_attr") === col("attr"))
    assert(flat.count() === 0, "consecutive intervals with equal attr must merge")
  }

  test("upsert == latest-per-key; replaying the batch is a no-op") {
    val log = randomLog(7, 300, 15)
    val old = log.filter(col("ts") < 25)
    val batch = log.filter(col("ts") >= 25)
    val base = Incremental.upsert(old.limit(0), old, Seq("k"), "ts", "seq")
    val merged = Incremental.upsert(base, batch, Seq("k"), "ts", "seq")

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k"))
      .orderBy((col("ts") >= 25).desc, col("ts").desc, col("seq").desc)
    val expect = log.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    def c(df: DataFrame) = df.select(col("k"), col("attr"), col("ts"), col("seq"))
      .collect().map(_.toSeq).toSet
    assert(c(merged) === c(expect))

    val replay = Incremental.upsert(merged, batch, Seq("k"), "ts", "seq")
    assert(c(replay) === c(merged), "replaying the same batch must be idempotent")
  }

  test("upsertEvolve: late-added column null-backfills; strict upsert refuses drift") {
    val s = spark; import s.implicits._
    val base0 = Seq((1L, "a", 10L, 1L), (2L, "b", 11L, 2L))
      .toDF("k", "attr", "ts", "seq")
    val base = Incremental.upsert(base0.limit(0), base0, Seq("k"), "ts", "seq")
    val batch = Seq((2L, "b2", 20L, 3L, "x"), (3L, "c", 21L, 4L, "y"))
      .toDF("k", "attr", "ts", "seq", "extra")
    val merged = Incremental.upsertEvolve(base, batch, Seq("k"), "ts", "seq")
    val got = merged.select("k", "attr", "extra").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(got === Set((1L, "a", None), (2L, "b2", Some("x")),
      (3L, "c", Some("y"))),
      "kept base rows must null-backfill the late-added column")
    // the strict path treats the same drift as an error, not a silent union
    intercept[org.apache.spark.sql.AnalysisException] {
      Incremental.upsert(base, batch, Seq("k"), "ts", "seq")
    }
  }

  test("schema evolution: mergeSchema unions file schemas; old files read nulls") {
    // the lakehouse add-a-column path: a later batch lands with an extra
    // column and a widened reader sees the union schema — old rows surface
    // NULL for the new column, new rows carry it; column pruning still
    // reaches the scan when the new column is not selected
    val s = spark
    import s.implicits._
    val tbl = java.nio.file.Files.createTempDirectory("graft-se").toString
    (1L to 50L).map(k => (k, s"p$k")).toDF("k", "v")
      .write.parquet(s"$tbl/batch=0")
    (51L to 80L).map(k => (k, s"p$k", k * 10)).toDF("k", "v", "score")
      .write.parquet(s"$tbl/batch=1")

    val merged = spark.read.option("mergeSchema", "true").parquet(tbl)
    assert(merged.schema.fieldNames.sorted.toSeq === Seq("batch", "k", "score", "v"))
    assert(merged.count() === 80)
    assert(merged.filter(col("score").isNull).count() === 50,
      "pre-evolution rows read NULL for the added column")
    assert(merged.filter(col("score") === col("k") * 10).count() === 30,
      "post-evolution rows carry their values")
    // pruning: a projection without `score` must not read it from the scan
    val p = merged.select(col("k"), col("v")).queryExecution.executedPlan.toString
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("score"), s"unselected evolved column must prune: $read")
  }

  test("aggState folds converge to the one-shot aggregate in ANY arrival order") {
    // the i6 contract: mergeAggState is associative+commutative, so every
    // permutation of batch arrival produces the identical state
    val log = randomLog(11, 400, 12)
      .withColumn("value", (col("seq") % 17 * 1.25) - 3.0)
    def state(df: DataFrame) = Incremental.aggState(df, Seq("k"), "value", "ts")
    val batches = Seq(
      log.filter(col("ts") < 15),
      log.filter(col("ts") >= 15 && col("ts") < 35),
      log.filter(col("ts") >= 35)).map(state)
    def c(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val oneShot = c(state(log))
    for (perm <- batches.permutations) {
      val folded = perm.reduce(Incremental.mergeAggState(_, _, Seq("k")))
      assert(c(folded) === oneShot, "fold order must not change the state")
    }
  }

  test("SCD2 tracks transitions into and out of NULL attr values") {
    val s = spark
    import s.implicits._
    // (k, attr, ts, seq): a -> null -> a — three intervals, not one, and
    // the null-validity span must survive (a =!= null evaluates to NULL
    // under plain comparison, which used to silently drop the transition)
    val log = Seq(
      (1L, Some("a"), 10L, 0L), (1L, None, 20L, 1L), (1L, Some("a"), 30L, 2L),
      (2L, None, 5L, 3L), (2L, None, 8L, 4L), (2L, Some("b"), 12L, 5L))
      .toDF("k", "attr", "ts", "seq")
    val hist = Incremental.scd2Rebuild(log, Seq("k"), "attr", "ts", "seq")
      .collect().map(r => (r.getLong(0),
        Option(r.getString(1)), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(hist == Set(
      (1L, Some("a"), 10L, Some(20L)), (1L, None, 20L, Some(30L)),
      (1L, Some("a"), 30L, None),
      (2L, None, 5L, Some(12L)), (2L, Some("b"), 12L, None)),
      s"null transitions must produce their own intervals: $hist")

    // incremental face: a batch transitioning an open null interval to a
    // value (and vice versa) must fold to the same history as the rebuild
    val h0 = Incremental.scd2Rebuild(log.filter(col("ts") < 12),
      Seq("k"), "attr", "ts", "seq")
    val folded = Incremental.scd2Apply(h0, log.filter(col("ts") >= 12),
      Seq("k"), "attr", "ts", "seq")
    val full = Incremental.scd2Rebuild(log, Seq("k"), "attr", "ts", "seq")
    assert(folded.exceptAll(full).isEmpty && full.exceptAll(folded).isEmpty,
      "apply must equal rebuild on null-bearing logs")
  }

  test("upsert is replay-idempotent for null keys (null-safe merge)") {
    val s = spark
    import s.implicits._
    val base = Seq((Some(1L), "x", 1L, 0L), (None, "y", 1L, 1L))
      .toDF("k", "v", "version", "seq")
    val batch = Seq((Some(1L), "x2", 2L, 2L), (None, "y2", 2L, 3L))
      .toDF("k", "v", "version", "seq")
    val once = Incremental.upsert(base, batch, Seq("k"), "version", "seq")
    val twice = Incremental.upsert(once, batch, Seq("k"), "version", "seq")
    assert(once.count() == 2, "null key must MERGE, not append a duplicate")
    assert(twice.exceptAll(once).isEmpty && once.exceptAll(twice).isEmpty,
      "replaying the same batch must be a no-op, null keys included")
    val nullRow = once.filter(col("k").isNull).select("v").head().getString(0)
    assert(nullRow == "y2", "the null-key row must take the batch's value")
  }
}
