package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Hand-checked semantics of the generic as-of join. */
class TemporalOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("asofJoin picks the latest prior-or-equal right row per key, null when none") {
    val sp = spark
    import sp.implicits._
    // trades: (id, key, ts); quotes: (id, key, ts, px)
    val trades = Seq((100L, 1L, 10L), (101L, 1L, 20L), (102L, 2L, 5L), (103L, 3L, 7L))
      .toDF("id", "k", "ts")
    val quotes = Seq((1L, 1L, 10L, 1.5), (2L, 1L, 15L, 2.5), (3L, 2L, 6L, 9.9))
      .toDF("id", "k", "ts", "px")
    val got = TemporalOps.asofJoin(trades, quotes, key = "k",
      leftTs = "ts", rightTs = "ts", payload = Seq("px"), tieBreak = "id")
      .select("id", "k", "px")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toMap
    // trade 100 @ (k1,t10): quote 1 @ t10 is prior-or-equal (tie on ts, id 1 < 100)
    // trade 101 @ (k1,t20): latest is quote 2 @ t15
    // trade 102 @ (k2,t5): quote 3 is at t6 — in the future -> null
    // trade 103 @ (k3,t7): no quotes for key 3 -> null
    assert(got == Map(100L -> 1.5, 101L -> 2.5, 102L -> -1.0, 103L -> -1.0), s"got $got")
  }

  test("overlapJoin == brute-force non-equi join on random intervals, emit-once") {
    val sp = spark
    import sp.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // intervals spanning 0..20 buckets of width 10, lengths 1..35 (1 to 4
      // buckets), heavy key collisions so pairs abound; ids disambiguate
      val rows = (0 until 120).map { i =>
        val s0 = rnd.nextInt(200).toLong
        (rnd.nextInt(5).toLong, i.toLong, s0, s0 + 1 + rnd.nextInt(35))
      }
      val a = rows.toDF("k", "a_id", "a_s", "a_e")
      val b = rows.toDF("k", "b_id", "b_s", "b_e")
      val got = TemporalOps.overlapJoin(a, b, "k", "a_s", "a_e", "b_s", "b_e", 10L)
        .filter($"a_id" < $"b_id")
        .select("a_id", "b_id").as[(Long, Long)].collect().toSeq
      // emit-once: no duplicates even for pairs sharing several buckets
      assert(got.size == got.toSet.size, s"seed=$seed: duplicate emits")
      val brute = (for {
        (ka, ia, sa, ea) <- rows; (kb, ib, sb, eb) <- rows
        if ka == kb && ia < ib && sa < eb && sb < ea
      } yield (ia, ib)).toSet
      assert(got.toSet == brute, s"seed=$seed: overlap sets differ")
      assert(brute.nonEmpty, s"seed=$seed: fixture should produce overlaps")
    }
  }

  test("rangeJoin finds exactly the in-range pairs, including across buckets") {
    val sp = spark
    import sp.implicits._
    // key 1: ts 0,100,250,600 with range 300 -> (0,100),(0,250),(100,250);
    // key 2: ts 299,301 straddle a bucket boundary -> the 2-bucket probe
    // must still pair them exactly once
    val ev = Seq((1L, 10L, 0L), (1L, 11L, 100L), (1L, 12L, 250L), (1L, 13L, 600L),
      (2L, 20L, 299L), (2L, 21L, 301L)).toDF("k", "id", "ts")
    val early = ev.select($"k", $"id".as("early_id"), $"ts".as("early_ts"))
    val late = ev.select($"k", $"id".as("late_id"), $"ts".as("late_ts"))
    val got = TemporalOps.rangeJoin(early, late, key = "k",
      earlyTs = "early_ts", lateTs = "late_ts", range = 300L)
      .select("early_id", "late_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L)), s"got $got")
  }
}
