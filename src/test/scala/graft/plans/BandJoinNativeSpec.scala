package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import scala.util.Random

/** The native band join (BandJoin -> BandJoinStrategy -> BandJoinExec)
  * against the composed bucket-probe form (TemporalOps.rangeJoin shape):
  *   - identical pair sets on randomized fixtures with heavy ts ties, keys
  *     missing from either side, and band-boundary hits (late - early ==
  *     range exactly);
  *   - identical under FORCED SPILL (the reused-row-buffer discipline the
  *     deque must survive — buffered rows are copies);
  *   - the physical plan contains BandJoinExec with co-partitioned sorted
  *     children and NO explode (the compose's 2x probe is gone);
  *   - plan-build-time validation of key/ts types.
  */
class BandJoinNativeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Random (key, id, ts) frame: few keys, dense ts collisions, so bands
    * hold many rows and boundary cases occur often. */
  private def fixture(seed: Long, n: Int, nKeys: Int, tsRange: Int): DataFrame = {
    val rnd = new Random(seed)
    val s = spark
    import s.implicits._
    (0 until n).map { i =>
      (rnd.nextInt(nKeys).toLong, i.toLong, rnd.nextInt(tsRange).toLong)
    }.toDF("k", "id", "ts")
  }

  /** The composed reference: bucket width == range, early probes 2 buckets. */
  private def composed(ev: DataFrame, range: Long): DataFrame = {
    val early = ev.select(col("k"), col("id").as("early_id"), col("ts").as("early_ts"))
      .withColumn("_jb", explode(array(
        expr(s"early_ts div $range"), expr(s"early_ts div $range + 1"))))
    val late = ev.select(col("k"), col("id").as("late_id"), col("ts").as("late_ts"))
      .withColumn("_jb", expr(s"late_ts div $range"))
    early.join(late, Seq("k", "_jb"))
      .filter(col("late_ts") > col("early_ts") &&
        col("late_ts") <= col("early_ts") + range)
      .select(col("k"), col("early_id"), col("late_id"))
  }

  private def native(ev: DataFrame, range: Long): DataFrame = {
    val early = ev.select(col("k"), col("id").as("early_id"), col("ts").as("early_ts"))
    val late = ev.select(col("k"), col("id").as("late_id"), col("ts").as("late_ts"))
    Band.join(early, late, key = "k", earlyTs = "early_ts", lateTs = "late_ts",
        range = range)
      .select(col("k"), col("early_id"), col("late_id"))
  }

  private def canon(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("native band join == composed bucket-probe on randomized tie-heavy fixtures") {
    for (seed <- 1 to 4) {
      val ev = fixture(seed, 400, 6, 60)
      val got = canon(native(ev, 7))
      assert(got === canon(composed(ev, 7)), s"seed=$seed")
      assert(got.nonEmpty, s"seed=$seed: fixture should produce pairs")
    }
  }

  test("native band join matches under forced spill (copied deque rows)") {
    val conf = org.apache.spark.SparkEnv.get.conf
    val spillKey = "spark.shuffle.spill.numElementsForceSpillThreshold"
    val prev = conf.getOption(spillKey)
    conf.set(spillKey, "32")
    try {
      val ev = fixture(9, 600, 4, 50)
      assert(canon(native(ev, 9)) === canon(composed(ev, 9)))
    } finally prev match {
      case Some(v) => conf.set(spillKey, v)
      case None => conf.remove(spillKey)
    }
  }

  test("band boundary: exactly-range gaps join, zero and over-range gaps do not") {
    val s = spark
    import s.implicits._
    val ev = Seq((1L, 1L, 100L), (1L, 2L, 100L), (1L, 3L, 105L), (1L, 4L, 106L))
      .toDF("k", "id", "ts")
    val got = canon(native(ev, 5))
    // (1,3): gap 5 == range joins; (1,4): gap 6 does not; (2,3)/(2,4) same;
    // (1,2): gap 0 never joins; (3,4): gap 1 joins
    assert(got === Set((1L, 1L, 3L), (1L, 2L, 3L), (1L, 3L, 4L)))
  }

  test("strategy plans BandJoinExec, co-partitioned and explode-free") {
    val ev = fixture(11, 100, 3, 40)
    val df = native(ev, 7)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BandJoin"), s"strategy must fire:\n$p")
    assert(!p.contains("Explode") && !p.contains("Generate"),
      s"no bucket-probe explode in the native plan:\n$p")
    assert(p.contains("hashpartitioning(k"),
      s"both sides must co-partition on the key:\n$p")
  }

  test("SQL metrics report output rows and the deque's memory ceiling") {
    val ev = fixture(21, 200, 3, 30)
    val df = native(ev, 6)
    val expected = df.count()
    df.collect()
    // collectFirst alone won't cross AQE node boundaries — descend manually
    def find(p: org.apache.spark.sql.execution.SparkPlan): Option[BandJoinExec] = p match {
      case b: BandJoinExec => Some(b)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        find(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => find(q.plan)
      case other => other.children.iterator.flatMap(find(_).iterator).nextOption()
    }
    val exec = find(df.queryExecution.executedPlan)
      .getOrElse(fail("BandJoinExec not in executed plan"))
    assert(exec.metrics("numOutputRows").value === expected,
      "numOutputRows must equal the result size")
    val ceiling = exec.metrics("maxBandRows").value
    assert(ceiling > 0 && ceiling <= 200,
      s"per-task band ceiling must be positive and bounded: $ceiling")
  }

  test("downstream aggregation on the key reuses the band join's partitioning") {
    // outputPartitioning advertises the LEFT child's placement (rightKey is
    // dropped from the output, so only the left partitioning is reusable); a
    // groupBy on the surviving key must NOT insert an exchange above the join.
    val ev = fixture(31, 300, 5, 40)
    val joined = native(ev, 7)
    val agg = joined.groupBy(col("k")).agg(count(lit(1)).as("n"))
    agg.collect()
    val full = agg.queryExecution.executedPlan.toString
    val p = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    val exchanges = "Exchange hashpartitioning\\(k".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"one exchange per join child at most — no re-shuffle above the join:\n$p")
    val aggIdx = p.indexOf("HashAggregate")
    val joinIdx = p.indexOf("BandJoin")
    assert(aggIdx >= 0 && joinIdx > aggIdx,
      "final aggregate above the join in the plan string")
    assert(!p.substring(aggIdx, joinIdx).contains("Exchange"),
      s"no exchange between aggregate and band join:\n${p.substring(aggIdx, joinIdx)}")
  }

  test("ts == Long.MinValue is a legitimate value, not a null sentinel") {
    // regression: the early-side null-ts flag must be a separate boolean —
    // an in-band MinValue sentinel would silently drop this row's pairs
    val s = spark
    import s.implicits._
    val ev = Seq((1L, 1L, Long.MinValue), (1L, 2L, Long.MinValue + 3))
      .toDF("k", "id", "ts")
    val got = canon(native(ev, 5))
    assert(got === Set((1L, 1L, 2L)),
      "an early row at Long.MinValue inside the band must join")
  }

  test("ts type validation fails at plan-build time") {
    val s = spark
    import s.implicits._
    val ev = Seq((1L, 1L, 1.5)).toDF("k", "id", "ts") // DOUBLE ts
    val early = ev.select(col("k"), col("id").as("early_id"), col("ts").as("early_ts"))
    val late = ev.select(col("k"), col("id").as("late_id"), col("ts").as("late_ts"))
    val e = intercept[IllegalArgumentException] {
      Band.join(early, late, "k", "early_ts", "late_ts", 5L)
    }
    assert(e.getMessage.contains("LONG"))
  }

  test("shared non-key column names fail at plan-build time") {
    // the doc'd contract, now enforced like AsOf's payload require: a shared
    // 'v' would emit duplicate output columns that fail far away with
    // AMBIGUOUS_REFERENCE (or a positional select silently reads wrong side)
    val s = spark
    import s.implicits._
    val ev = Seq((1L, 1L, 1L, 2.0)).toDF("k", "id", "ts", "v")
    val early = ev.select(col("k"), col("id").as("early_id"),
      col("ts").as("early_ts"), col("v"))
    val late = ev.select(col("k"), col("id").as("late_id"),
      col("ts").as("late_ts"), col("v"))
    val e = intercept[IllegalArgumentException] {
      Band.join(early, late, "k", "early_ts", "late_ts", 5L)
    }
    assert(e.getMessage.contains("share column names"), e.getMessage)
  }

  test("downstream sort on (key, lateTs) reuses the band join's output ordering") {
    // outputOrdering must advertise SURVIVING attributes (leftKey, rightTs):
    // the exec streams rows exactly in that order, so a downstream
    // sortWithinPartitions on them must plan with NO sort above the join —
    // only the two required child sorts. Advertising the pruned rightKey
    // (the pre-fix state) could never satisfy any downstream requirement.
    val s = spark
    import s.implicits._
    val ev = fixture(37, 200, 4, 30)
    val early = ev.select(col("k"), col("id").as("early_id"), col("ts").as("early_ts"))
    val late = ev.select(col("k"), col("id").as("late_id"), col("ts").as("late_ts"))
    val sorted = Band.join(early, late, "k", "early_ts", "late_ts", 7L)
      .sortWithinPartitions(col("k"), col("late_ts"))
    sorted.collect()
    val full = sorted.queryExecution.executedPlan.toString
    val p = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    val sorts = "(?m)^[^\\n]*Sort \\[".r.findAllIn(p).size
    assert(sorts == 2,
      s"exactly the two child sorts, none above the join (saw $sorts):\n$p")
  }
}
