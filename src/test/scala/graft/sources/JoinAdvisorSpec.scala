package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The NDV-advised join planner: every rung of [[JoinAdvisor]]'s ladder is
  * licensed by a manifest fact, each advice really lands as its physical
  * strategy, and the NDV rung sees what bytes alone cannot — a wide
  * dimension whose JOIN KEY set is tiny. */
class JoinAdvisorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    // the advisor under test IS the broadcast decision — turn off the
    // engine's own size-based conversions so the landed strategy is the
    // advice, not the planner second-guessing it
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-ja-$tag").toString + "/t"

  /** A WIDE dimension: few distinct keys, fat INCOMPRESSIBLE payload (hex
    * digests — a constant string would dictionary-encode to nothing) so the
    * on-disk bytes dwarf the key set. Returns the data bytes. */
  private def wideDim(path: String, rows: Int, distinctKeys: Int): Long = {
    val s2 = spark
    import s2.implicits._
    def hex(i: Int): String = (0 until 32).map { j =>
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"$i-$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }.mkString
    (0 until rows).map(i => (i % distinctKeys.toLong, hex(i)))
      .toDF("k", "payload")
      .repartition(4).write.parquet(path)
    FileStats.write(spark, path)
    FileStats.analyze(spark, path, Seq("k"))
    val root = new org.apache.hadoop.fs.Path(path)
    FileStats.dataBytes(root.getFileSystem(spark.sessionState.newHadoopConf()), root)
  }

  private def flat(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(flat)
  }

  private def joins(df: DataFrame): Seq[SparkPlan] = {
    df.collect(): Unit
    flat(df.queryExecution.executedPlan).filter {
      case _: BroadcastHashJoinExec | _: ShuffledHashJoinExec |
           _: SortMergeJoinExec => true
      case _ => false
    }
  }

  test("advice ladder: every rung licensed by a manifest fact") {
    val path = tmp("ladder")
    val bytes = wideDim(path, rows = 3000, distinctKeys = 50)
    // a ceiling just under the real bytes: rung 1 must fail on it but pass
    // on a generous one
    val tight = bytes - 1
    assert(tight > 50L * 64 + 1, s"precondition: payload must dwarf the key set ($bytes B)")
    assert(JoinAdvisor.advise(spark, path, Seq("k"),
      broadcastMaxBytes = 1L << 30) == JoinAdvisor.Broadcast)
    // tight ceiling: bytes fail, but 50 distinct keys * 64 B fit -> the
    // rung bytes alone cannot see
    assert(JoinAdvisor.advise(spark, path, Seq("k"),
      broadcastMaxBytes = tight) == JoinAdvisor.BroadcastDistinctKeys)
    // un-analyzed column: no NDV bound -> falls to the exact-row-count rung
    assert(JoinAdvisor.advise(spark, path, Seq("payload"),
      broadcastMaxBytes = tight) == JoinAdvisor.ShuffleHash)
    // row count over the hash-build budget -> merge, the never-blows choice
    assert(JoinAdvisor.advise(spark, path, Seq("payload"),
      broadcastMaxBytes = tight, maxBuildRows = 10L) == JoinAdvisor.Merge)
    // no manifest at all: nothing provable past the byte rung
    val bare = tmp("bare")
    val s2 = spark
    import s2.implicits._
    (0 until 100).map(i => (i.toLong, "y")).toDF("k", "p").write.parquet(bare)
    assert(JoinAdvisor.advise(spark, bare, Seq("k"),
      broadcastMaxBytes = 1L) == JoinAdvisor.Merge)
  }

  test("each advice lands as its physical strategy; results identical") {
    val path = tmp("plans")
    val bytes = wideDim(path, rows = 3000, distinctKeys = 50)
    val tight = bytes - 1
    val dim = spark.read.parquet(path)
    val s2 = spark
    import s2.implicits._
    val fact = (0 until 10000).map(i => (i % 60L, i.toDouble)).toDF("fk", "v")
    def agg(j: DataFrame) = j.groupBy(col("k")).agg(sum(col("v")).as("t"))
    val expect = agg(fact.join(dim, col("fk") === col("k")))
      .collect().map(_.toString).sorted.toSeq

    val broad = agg(fact.join(
      JoinAdvisor.hinted(spark, path, dim, Seq("k"), broadcastMaxBytes = 1L << 30),
      col("fk") === col("k")))
    assert(joins(broad).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "byte-rung advice must land as a broadcast hash join")
    assert(broad.collect().map(_.toString).sorted.toSeq == expect)

    val shuffled = agg(fact.join(
      JoinAdvisor.hinted(spark, path, dim, Seq("k"), broadcastMaxBytes = tight),
      col("fk") === col("k")))
    assert(joins(shuffled).exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "a full-row join under a tight ceiling must land as shuffle-hash")
    assert(shuffled.collect().map(_.toString).sorted.toSeq == expect)

    // the semi-shaped probe: raw bytes are far over the ceiling, but the
    // NDV bound licenses broadcasting the 50-key distinct projection —
    // no shuffle of either side
    val probe = JoinAdvisor.distinctKeysFrame(spark, path, dim, Seq("k"),
      broadcastMaxBytes = tight)
    val semi = fact.join(probe, col("fk") === col("k"), "left_semi")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("t"))
    assert(joins(semi).exists {
      case b: BroadcastHashJoinExec =>
        b.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi
      case _ => false
    }, "the NDV-licensed distinct-key probe must broadcast")
    val gotN = semi.head()
    val expN = fact.filter(col("fk") < 50L)
      .agg(count(lit(1)), sum(col("v"))).head()
    assert(gotN == expN, s"semi probe content: $gotN vs $expN")
  }

  test("full-row degrade of the NDV rung respects the hash-build row budget") {
    val path = tmp("budget")
    val bytes = wideDim(path, rows = 3000, distinctKeys = 50)
    val tight = bytes - 1
    // precondition: the advice itself is the NDV rung (keys fit, bytes don't)
    assert(JoinAdvisor.advise(spark, path, Seq("k"),
      broadcastMaxBytes = tight) == JoinAdvisor.BroadcastDistinctKeys)
    val dim = spark.read.parquet(path)
    val s2 = spark
    import s2.implicits._
    val fact = (0 until 10000).map(i => (i % 60L, i.toDouble)).toDF("fk", "v")
    def agg(j: DataFrame) = j.groupBy(col("k")).agg(sum(col("v")).as("t"))
    val expect = agg(fact.join(dim, col("fk") === col("k")))
      .collect().map(_.toString).sorted.toSeq
    // rows (3000) within the budget: the bounded hash build is licensed
    val hashed = agg(fact.join(
      JoinAdvisor.hinted(spark, path, dim, Seq("k"), broadcastMaxBytes = tight,
        maxBuildRows = 3000L),
      col("fk") === col("k")))
    assert(joins(hashed).exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "row count within budget must license the shuffle-hash build")
    assert(hashed.collect().map(_.toString).sorted.toSeq == expect)
    // rows OVER the budget: tiny key NDV must NOT force an unbounded
    // full-row hash build — the degrade falls to merge
    val merged = agg(fact.join(
      JoinAdvisor.hinted(spark, path, dim, Seq("k"), broadcastMaxBytes = tight,
        maxBuildRows = 2999L),
      col("fk") === col("k")))
    assert(joins(merged).exists(_.isInstanceOf[SortMergeJoinExec]) &&
      !joins(merged).exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "row count over budget must fall to sort-merge, never a forced hash build")
    assert(merged.collect().map(_.toString).sorted.toSeq == expect)
  }
}
