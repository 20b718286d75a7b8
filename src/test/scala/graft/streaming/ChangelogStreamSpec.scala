package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.{HiddenPartitioning, VersionedHiddenTable => VHT}

/** The streaming CDC source ([[ChangelogStream]]): each micro-batch is the
  * changelog of the snapshot steps published since the last batch —
  * stream-fold == rebuild across a full DML history, restart from a
  * checkpoint resumes at the committed version (no duplicates, no gaps),
  * `maxVersionsPerTrigger` bounds every catch-up batch, and a consumer
  * older than the retention window fails loudly instead of emitting a
  * gapped feed. */
class ChangelogStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-cls-$tag").toString

  private def events: DataFrame = graft.core.Tables.load(spark, dir, "events")

  /** v0 create(first half) → v1 append(rest) → v2 MoR delete(user<10) →
    * v3 compact (no-op step) → v4 CoW update(user 10-14: value+100) →
    * v5 rollback to v2 — the same history shape the batch CDC consumers
    * (s24/i11) are gated on. */
  private def buildHistory(t: String): Unit = {
    val ev = events
    VHT.create(spark, t, ev.filter(col("ts") < "2024-01-16"),
      Seq(HiddenPartitioning.DayT("ts"))): Unit
    assert(VHT.append(spark, t, ev.filter(col("ts") >= "2024-01-16"))().isRight)
    assert(VHT.deleteMergeOnRead(spark, t, col("user_id") < 10L) == 2L)
    assert(VHT.compact(spark, t) == 3L)
    assert(VHT.update(spark, t, col("user_id").between(10L, 14L),
      Map("value" -> (col("value") + 100))) == 4L)
    assert(VHT.rollback(spark, t, 2L) == 5L)
  }

  /** Drain the stream with Trigger.AvailableNow, landing every batch in
    * `out` (parquet append) and recording each batch's distinct commit
    * versions. Returns the per-batch commit-version sets, empty batches
    * omitted. */
  private def drain(stream: DataFrame, out: String, checkpoint: String)
      : Seq[Set[Long]] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val vs = df.select(col("_commit_version")).distinct()
          .collect().map(_.getLong(0)).toSet
        seen.synchronized { seen += vs }
        df.write.mode("append").parquet(out)
      }
      .start()
    q.awaitTermination()
    seen.toSeq.filter(_.nonEmpty)
  }

  /** Fold a materialization of version `base` forward by the landed feed:
    * per-user (count, decimal sum) — the i11 discipline. */
  private def fold(t: String, base: Long, feed: DataFrame): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,4)")
    val b = VHT.read(spark, t, Some(base)).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n0"), sum(dec(col("value"))).as("t0"))
    val d = feed
      .withColumn("sign", when(col("_change_type") === "insert", 1L).otherwise(-1L))
      .groupBy(col("user_id"))
      .agg(sum(col("sign")).as("dn"), sum(dec(col("value")) * col("sign")).as("dv"))
    b.join(d, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("t0"), lit(0).cast("decimal(18,4)")) +
          coalesce(col("dv"), lit(0).cast("decimal(18,4)"))).as("total"))
      .filter(col("n") > 0)
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def rebuilt(t: String): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,4)")
    VHT.read(spark, t).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("total"))
  }

  test("stream-fold == from-scratch rebuild across the full DML history") {
    val t = tmp("fold") + "/t"
    buildHistory(t)
    val out = tmp("foldout")
    val batches = drain(
      ChangelogStream.changelog(spark, t, startingVersion = Some(0L),
        maxVersionsPerTrigger = Some(1)),
      out, tmp("foldckpt"))
    // one bounded step per trigger; the compaction step (v3) is a no-op and
    // carries no rows — 4 of the 5 steps produce changes
    assert(batches.map(_.max).sorted == Seq(1L, 2L, 4L, 5L),
      s"per-step batching must surface exactly the changing commits: $batches")
    assert(batches.forall(_.size == 1),
      s"maxVersionsPerTrigger=1 must bound every batch to one commit: $batches")
    val feed = spark.read.parquet(out)
    assert(canon(fold(t, 0L, feed)) == canon(rebuilt(t)),
      "folding the streamed feed over v0 must reproduce the latest state")
  }

  test("restart from checkpoint resumes at the committed version — no dupes, no gaps") {
    val t = tmp("restart") + "/t"
    val ev = events
    VHT.create(spark, t, ev.filter(col("ts") < "2024-01-16"),
      Seq(HiddenPartitioning.DayT("ts"))): Unit
    assert(VHT.append(spark, t, ev.filter(col("ts") >= "2024-01-16"))().isRight)
    val out = tmp("restartout")
    val ckpt = tmp("restartckpt")
    def stream = ChangelogStream.changelog(spark, t, startingVersion = Some(0L))
    val run1 = drain(stream, out, ckpt)
    assert(run1.flatten.toSet == Set(1L), s"run 1 must cover (0,1]: $run1")
    // new commits land AFTER the first drain
    assert(VHT.deleteMergeOnRead(spark, t, col("user_id") < 10L) == 2L)
    assert(VHT.update(spark, t, col("user_id").between(10L, 14L),
      Map("value" -> (col("value") + 100))) == 3L)
    val run2 = drain(stream, out, ckpt)
    assert(run2.flatten.toSet == Set(2L, 3L),
      s"run 2 must cover exactly the new commits (2,3], got $run2")
    val feed = spark.read.parquet(out)
    assert(feed.groupBy(col("_commit_version")).count()
      .filter(col("_commit_version") === 1L).head().getLong(1) ==
      events.filter(col("ts") >= "2024-01-16").count(),
      "the restart must not replay run 1's committed batch")
    assert(canon(fold(t, 0L, feed)) == canon(rebuilt(t)),
      "the two runs' concatenated feed must fold to the latest state")
  }

  test("maxVersionsPerTrigger bounds every catch-up batch (backpressure)") {
    val t = tmp("bp") + "/t"
    val ev = events
    VHT.create(spark, t, ev.filter(col("user_id") < 5L),
      Seq(HiddenPartitioning.DayT("ts"))): Unit
    // one single-user slice per commit (sf0.001 holds users 0-14)
    (1 to 5).foreach { k =>
      assert(VHT.append(spark, t,
        ev.filter(col("user_id") === (4L + k)))().isRight)
    }
    // 5 pending steps, 2 per trigger -> (0,2] (2,4] (4,5]
    val batches = drain(
      ChangelogStream.changelog(spark, t, startingVersion = Some(0L),
        maxVersionsPerTrigger = Some(2)),
      tmp("bpout"), tmp("bpckpt"))
    assert(batches.map(_.toSeq.sorted) == Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L)),
      s"a 5-step catch-up under maxVersionsPerTrigger=2 must drain as 2+2+1: $batches")
  }

  test("a consumer older than the retention window fails loudly, never a gapped feed") {
    val t = tmp("ret") + "/t"
    val ev = events
    VHT.create(spark, t, ev.filter(col("ts") < "2024-01-16"),
      Seq(HiddenPartitioning.DayT("ts"))): Unit
    assert(VHT.append(spark, t, ev.filter(col("ts") >= "2024-01-16"))().isRight)
    val ckpt = tmp("retckpt")
    val out = tmp("retout")
    val run1 = drain(ChangelogStream.changelog(spark, t,
      startingVersion = Some(0L)), out, ckpt)
    assert(run1.flatten.toSet == Set(1L))
    // retention retires the consumer's committed version (v1), then new
    // commits land
    assert(VHT.deleteMergeOnRead(spark, t, col("user_id") < 10L) == 2L)
    assert(VHT.vacuum(spark, t, keep = 1) == Seq(0L, 1L))
    val boom = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(ChangelogStream.changelog(spark, t, startingVersion = Some(0L)),
        out, ckpt)
    }
    def causes(e: Throwable): Seq[Throwable] =
      if (e == null) Nil else e +: causes(e.getCause)
    assert(causes(boom).exists(_.getMessage != null) &&
      causes(boom).exists(c => c.getMessage != null &&
        c.getMessage.contains("not retained")),
      s"the retention race must surface changes()'s loud refusal: $boom")
  }

  test("branch commits interleaved in the id space neither wedge nor leak into the stream") {
    val t = tmp("branch") + "/t"
    val ev = events
    VHT.create(spark, t, ev.filter(col("ts") < "2024-01-16"),
      Seq(HiddenPartitioning.DayT("ts"))): Unit               // v0 (main)
    VHT.createBranch(spark, t, "audit"): Unit
    assert(VHT.appendToBranch(spark, t, "audit",
      ev.filter(col("ts") >= "2024-01-16"))().isRight)         // v1 (BRANCH)
    assert(VHT.append(spark, t,
      ev.filter(col("ts") >= "2024-01-16"))().isRight)         // v2 (main)
    assert(VHT.appendToBranch(spark, t, "audit",
      ev.filter(col("ts") < "2024-01-16"))().isRight)          // v3 (BRANCH) — newest id
    // schema + offsets must resolve along MAIN even though the newest
    // snapshot is a branch commit; id arithmetic (from+1 = branch v1) would
    // poison the checkpoint with a version changes() refuses on every retry
    val out = tmp("branchout")
    val batches = drain(
      ChangelogStream.changelog(spark, t, startingVersion = Some(0L),
        maxVersionsPerTrigger = Some(1)),
      out, tmp("branchckpt"))
    assert(batches.flatten.toSet == Set(2L),
      s"the stream must surface exactly the main steps, no branch ids: $batches")
    assert(canon(fold(t, 0L, spark.read.parquet(out))) == canon(rebuilt(t)),
      "folding the streamed feed over v0 must reproduce main's latest state")
    // a startingVersion naming a BRANCH id refuses loudly BEFORE any offset
    // lands in the checkpoint log (a poisoned log would wedge every retry)
    val boom = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(ChangelogStream.changelog(spark, t, startingVersion = Some(1L)),
        tmp("branchout2"), tmp("branchckpt2"))
    }
    def causes(e: Throwable): Seq[Throwable] =
      if (e == null) Nil else e +: causes(e.getCause)
    assert(causes(boom).exists(c => c.getMessage != null &&
      c.getMessage.contains("not retained on the main lineage")),
      s"a branch-id startingVersion must refuse at the source: $boom")
  }
}
