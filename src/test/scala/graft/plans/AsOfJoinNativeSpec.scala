package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import scala.util.Random

/** The native as-of operator (AsOfJoin -> AsOfJoinStrategy -> AsOfJoinExec)
  * against the composed union+window form:
  *   - bit-identical results on randomized fixtures with heavy (key, ts)
  *     ties and keys missing from either side;
  *   - the physical plan actually contains AsOfJoinExec (the strategy fired)
  *     and co-partitions/sorts both sides rather than unioning them;
  *   - null timestamps and unmatched keys produce null payloads.
  */
class AsOfJoinNativeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Random (key, ts, tie-unique id, value) frames with many ts collisions. */
  private def fixture(seed: Long, n: Int, nKeys: Int): (DataFrame, DataFrame) = {
    val rnd = new Random(seed)
    val s = spark
    import s.implicits._
    // left keys range over [0, nKeys), right over [1, nKeys+1) so each side
    // has a key the other lacks
    val left = (0 until n).map { i =>
      (rnd.nextInt(nKeys).toLong, rnd.nextInt(40).toLong, i.toLong)
    }.toDF("k", "ts", "id")
    val right = (0 until n).map { i =>
      (rnd.nextInt(nKeys).toLong + 1, rnd.nextInt(40).toLong, (n + i).toLong,
        rnd.nextDouble())
    }.toDF("k", "ts", "id", "payload_v")
    (left, right)
  }

  /** The composed reference implementation (same shape as TemporalOps). */
  private def composed(left: DataFrame, right: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k"))
      .orderBy(col("ts"), col("id"), col("_is_left"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tl = left.withColumn("_is_left", lit(1))
      .withColumn("payload_v", lit(null).cast("double"))
    val tr = right.withColumn("_is_left", lit(0))
    tl.unionByName(tr)
      .withColumn("pv", last(when(col("_is_left") === 0, col("payload_v")),
        ignoreNulls = true).over(w))
      .filter(col("_is_left") === 1)
      .select(col("k"), col("ts"), col("id"), col("pv").as("payload_v"))
  }

  private def canon(df: DataFrame): Set[(Long, Long, Long, Option[Double])] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet

  test("native as-of == composed union+window on randomized tie-heavy fixtures") {
    for (seed <- 1 to 4) {
      val (left, right) = fixture(seed, 500, 8)
      val native = AsOf.join(left, right.select(col("k"), col("ts"), col("id"),
          col("payload_v")), key = "k", leftTs = "ts", rightTs = "ts",
          payload = Seq("payload_v"), tieBreak = "id")
        .select(col("k"), col("ts"), col("id"), col("payload_v"))
      assert(canon(native) === canon(composed(left, right)), s"seed=$seed")
    }
  }

  test("strategy plans AsOfJoinExec with co-partitioned sorted children") {
    val (left, right) = fixture(9, 100, 4)
    val df = AsOf.join(left, right, key = "k", leftTs = "ts", rightTs = "ts",
      payload = Seq("payload_v"), tieBreak = "id")
    df.collect() // force execution so AQE finalizes the plan
    val p = df.queryExecution.executedPlan.toString
    // nodeName strips the Exec suffix: the physical node prints as "AsOfJoin"
    assert(p.contains("AsOfJoin"), s"strategy must fire:\n$p")
    assert(!p.contains("Window"), s"no window machinery in the native plan:\n$p")
    assert(p.contains("Sort"), s"children must be sort-merged:\n$p")
    assert(p.contains("hashpartitioning(k"),
      s"both sides must co-partition on the key:\n$p")
  }

  test("native as-of == composed on STRING keys (buffer-backed key retention)") {
    // String keys evaluate to UTF8Strings aliasing the sorted child's reused
    // row buffer; an uncopied matchKey would silently track the current row,
    // the key-change reset would never fire, and a key group with no visible
    // right rows would inherit the previous group's payload. In-memory sort
    // pages happen to keep old bytes stable, so force the sorter to SPILL —
    // the spill reader deserializes every record into one reused byte array,
    // which is exactly the reuse discipline a 100 TB sort exhibits.
    val s = spark
    import s.implicits._
    val conf = org.apache.spark.SparkEnv.get.conf
    val spillKey = "spark.shuffle.spill.numElementsForceSpillThreshold"
    val prevSpill = conf.getOption(spillKey)
    conf.set(spillKey, "32") // SortExec reads this at sorter-creation time
    try {
    for (seed <- 1 to 3) {
      val rnd = new Random(seed)
      val n = 400
      val left = (0 until n).map { i =>
        (f"key_${rnd.nextInt(12)}%04d", rnd.nextInt(40).toLong, i.toLong)
      }.toDF("k", "ts", "id")
      // right only covers even keys: odd key groups must all be null
      val right = (0 until n).map { i =>
        (f"key_${rnd.nextInt(6) * 2}%04d", rnd.nextInt(40).toLong,
          (n + i).toLong, rnd.nextDouble())
      }.toDF("k", "ts", "id", "payload_v")
      val native = AsOf.join(left, right, key = "k", leftTs = "ts",
          rightTs = "ts", payload = Seq("payload_v"), tieBreak = "id")
        .select(col("k"), col("ts"), col("id"), col("payload_v"))
      def canonS(df: DataFrame): Set[(String, Long, Long, Option[Double])] =
        df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k"))
        .orderBy(col("ts"), col("id"), col("_is_left"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val tl = left.withColumn("_is_left", lit(1))
        .withColumn("payload_v", lit(null).cast("double"))
      val tr = right.withColumn("_is_left", lit(0))
      val ref = tl.unionByName(tr)
        .withColumn("pv", last(when(col("_is_left") === 0, col("payload_v")),
          ignoreNulls = true).over(w))
        .filter(col("_is_left") === 1)
        .select(col("k"), col("ts"), col("id"), col("pv").as("payload_v"))
      val nat = canonS(native)
      assert(nat === canonS(ref), s"seed=$seed")
      // sanity: the fixture genuinely exercises both leak-sensitive cases
      assert(nat.exists(_._4.isEmpty) && nat.exists(_._4.nonEmpty), s"seed=$seed")
    }
    } finally prevSpill match {
      case Some(v) => conf.set(spillKey, v)
      case None => conf.remove(spillKey)
    }
  }

  test("cross-side key type drift fails at plan-build time") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 5L, 1L)).toDF("k", "ts", "id")
    val right = Seq((1, 3L, 10L, 0.5)).toDF("k", "ts", "id", "payload_v") // k: INT
    val e = intercept[IllegalArgumentException] {
      AsOf.join(left, right, "k", "ts", "ts", Seq("payload_v"), "id")
    }
    assert(e.getMessage.contains("type mismatch"))
  }

  test("downstream aggregation on the key reuses the as-of join's partitioning") {
    // outputPartitioning advertises the left child's placement; a groupBy on
    // the same key must NOT insert a second exchange above the join — at
    // scale that second shuffle would double the operator's cost for the
    // commonest consumer (per-key aggregation of the enriched rows).
    val (left, right) = fixture(13, 300, 6)
    val joined = AsOf.join(left, right, key = "k", leftTs = "ts", rightTs = "ts",
      payload = Seq("payload_v"), tieBreak = "id")
    val agg = joined.groupBy(col("k")).agg(sum(col("payload_v")).as("s"))
    agg.collect()
    // AQE plan strings repeat the tree under "== Initial Plan ==" — only the
    // final section reflects what actually ran
    val full = agg.queryExecution.executedPlan.toString
    val p = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    val exchanges = "Exchange hashpartitioning\\(k".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"one exchange per join child at most — no re-shuffle above the join:\n$p")
    // the aggregate must sit on the join's partitioning: no exchange between
    // the final HashAggregate and AsOfJoin
    val aggIdx = p.indexOf("HashAggregate")
    val joinIdx = p.indexOf("AsOfJoin")
    assert(aggIdx >= 0 && joinIdx > aggIdx,
      "final aggregate above the join in the plan string")
    assert(!p.substring(aggIdx, joinIdx).contains("Exchange"),
      s"no exchange between aggregate and as-of join:\n${p.substring(aggIdx, joinIdx)}")
  }

  test("tolerance nulls out stale matches (merge_asof semantics)") {
    // expected = the untolerated join carrying the match's own ts as an
    // extra payload column, with payloads older than `tol` nulled manually
    val tolVal = 5L
    for (seed <- 1 to 3) {
      val (left, right0) = fixture(seed + 40, 400, 6)
      val right = right0.withColumn("rts", col("ts"))
      val tolerated = AsOf.join(left, right, key = "k", leftTs = "ts",
          rightTs = "ts", payload = Seq("payload_v"), tieBreak = "id",
          tolerance = Some(tolVal))
        .select(col("k"), col("ts"), col("id"), col("payload_v"))
      val open = AsOf.join(left, right, key = "k", leftTs = "ts",
          rightTs = "ts", payload = Seq("payload_v", "rts"), tieBreak = "id")
        .select(col("k"), col("ts"), col("id"),
          when(col("ts") - col("rts") <= tolVal, col("payload_v")).as("payload_v"))
      val got = canon(tolerated)
      assert(got === canon(open), s"seed=$seed")
      // the fixture must exercise both stale-nulled and fresh-kept matches
      assert(got.exists(_._4.isEmpty) && got.exists(_._4.nonEmpty), s"seed=$seed")
    }
    // negative tolerance and non-long ts rejected at build time
    val s = spark
    import s.implicits._
    val l = Seq((1L, 5L, 1L)).toDF("k", "ts", "id")
    val r = Seq((1L, 3L, 2L, 0.1)).toDF("k", "ts", "id", "payload_v")
    assert(intercept[IllegalArgumentException] {
      AsOf.join(l, r, "k", "ts", "ts", Seq("payload_v"), "id", Some(-1L))
    }.getMessage.contains("non-negative"))
  }

  test("unmatched keys and too-early left rows carry null payload") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 5L, 1L), (1L, 1L, 2L), (99L, 5L, 3L))
      .toDF("k", "ts", "id")
    val right = Seq((1L, 3L, 10L, 0.5)).toDF("k", "ts", "id", "payload_v")
    val out = AsOf.join(left, right, "k", "ts", "ts", Seq("payload_v"), "id")
      .collect().map(r => (r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out === Map(1L -> Some(0.5), 2L -> None, 3L -> None))
  }

  test("tolerance is wrap-safe across the full Long ts domain") {
    // the band exec's MinValue lesson applied to the tolerance: a match near
    // Long.MinValue against a left row near Long.MaxValue makes the gap
    // subtraction WRAP negative — a naive `gap <= tol` would call that
    // 2^64-stale match "fresh" and emit its payload
    val s = spark
    import s.implicits._
    val left = Seq((1L, Long.MaxValue - 1, 1L)).toDF("k", "ts", "id")
    val right = Seq((1L, Long.MinValue + 10, 0L, 0.5)).toDF("k", "ts", "id", "payload_v")
    // sanity: without tolerance the match IS visible (it precedes the left row)
    val open = AsOf.join(left, right, "k", "ts", "ts", Seq("payload_v"), "id")
      .select("payload_v").head()
    assert(!open.isNullAt(0) && open.getDouble(0) == 0.5)
    // with any finite tolerance the wrapped gap must read as stale -> null
    val tolerated = AsOf.join(left, right, "k", "ts", "ts", Seq("payload_v"), "id",
        tolerance = Some(Long.MaxValue))
      .select("payload_v").head()
    assert(tolerated.isNullAt(0),
      "a gap that wraps Long arithmetic is beyond any tolerance, never fresh")
  }
}
