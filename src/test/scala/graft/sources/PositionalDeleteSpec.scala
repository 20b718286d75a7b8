package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Positional delete files — Iceberg v2's second merge-on-read flavor
  * ((data-file path, row ordinal) addresses): DELETE/UPDATE without
  * rewriting or copying wide rows, coexisting with equality masks in one
  * snapshot history, retired together by compaction, consistent through
  * the changelog, and plan-priced by the mask's own touched-file list. */
class PositionalDeleteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-pos-$tag").toString + "/t"

  private def events: DataFrame = graft.core.Tables.load(spark, dir, "events")

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def delDirs(t: String): Seq[String] = {
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(new Path(s"$t/data")).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("del-"))
  }

  test("deletePositional masks exactly the matched rows; nothing is rewritten; time travel intact") {
    val t = tmp("del")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev, Seq(HiddenPartitioning.DayT("ts")))
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    val erasBefore = fs.listStatus(new Path(s"$t/data")).map(_.getPath.getName)
      .filter(_.startsWith("era-")).toSet
    val pred = col("event_type") === "click" && col("user_id").between(2L, 8L)
    assert(VersionedHiddenTable.deletePositional(spark, t, pred) == 1L)
    // no data rewrite: same era set, one new del dir holding ONLY addresses
    val erasAfter = fs.listStatus(new Path(s"$t/data")).map(_.getPath.getName)
      .filter(_.startsWith("era-")).toSet
    assert(erasAfter == erasBefore, "a positional delete must rewrite nothing")
    assert(delDirs(t).size == 1)
    val mask = spark.read.parquet(s"$t/data/${delDirs(t).head}")
    assert(mask.columns.sorted.toSeq == Seq("_g_file", "_g_pos"),
      "the positional mask holds addresses only — row width never matters")
    assert(canon(VersionedHiddenTable.read(spark, t)) ==
      canon(ev.filter(not(coalesce(pred, lit(false))))),
      "the masked read must equal the predicate's survivors")
    assert(canon(VersionedHiddenTable.read(spark, t, Some(0L))) == canon(ev),
      "time travel reads through the mask")
    // empty match publishes nothing
    assert(VersionedHiddenTable.deletePositional(spark, t,
      col("user_id") === -1L) == 1L)
  }

  test("updatePositional: one mask + one era, no key needed, later append untouched") {
    val t = tmp("upd")
    val ev = events
    VersionedHiddenTable.create(spark, t,
      ev.filter(col("ts") < "2024-01-16"), Seq(HiddenPartitioning.DayT("ts")))
    val pred = col("user_id").between(5L, 9L)
    assert(VersionedHiddenTable.updatePositional(spark, t, pred,
      Map("value" -> (col("value") + 1000))) == 1L)
    val expect1 = ev.filter(col("ts") < "2024-01-16")
      .withColumn("value", when(coalesce(pred, lit(false)),
        col("value") + 1000).otherwise(col("value")))
    assert(canon(VersionedHiddenTable.read(spark, t)) == canon(expect1),
      "the updated face must equal the per-row SQL UPDATE semantics")
    // rows appended AFTER the update share no address with the mask
    assert(VersionedHiddenTable.append(spark, t,
      ev.filter(col("ts") >= "2024-01-16"))().isRight)
    assert(canon(VersionedHiddenTable.read(spark, t)) ==
      canon(expect1.unionByName(ev.filter(col("ts") >= "2024-01-16"))),
      "post-update appends are outside the mask's scope")
  }

  test("both flavors coexist in one snapshot; compaction retires them together") {
    val t = tmp("mixed")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev, Seq(HiddenPartitioning.DayT("ts")))
    assert(VersionedHiddenTable.deleteMergeOnRead(spark, t,
      col("user_id") < 3L) == 1L)
    assert(VersionedHiddenTable.deletePositional(spark, t,
      col("event_type") === "view" && col("user_id") >= 8L) == 2L)
    val expect = ev.filter(col("user_id") >= 3L &&
      !(col("event_type") === "view" && col("user_id") >= 8L))
    assert(canon(VersionedHiddenTable.read(spark, t)) == canon(expect),
      "equality + positional masks must compose")
    assert(delDirs(t).size == 2)
    // compaction reads THROUGH both flavors and retires both
    assert(VersionedHiddenTable.compact(spark, t) == 3L)
    val (eras, dels) = VersionedHiddenTable.snapshot(spark, t, 3L)
    assert(eras.size == 1 && dels.isEmpty,
      "the compacted snapshot must list one era and zero masks of either flavor")
    assert(canon(VersionedHiddenTable.read(spark, t)) == canon(expect))
    // the changelog across the mixed history folds: v0 + changes == latest
    val ch = VersionedHiddenTable.changes(spark, t, 0L)
    val meta = Seq("_change_type", "_commit_version")
    val folded = VersionedHiddenTable.read(spark, t, Some(0L))
      .exceptAll(ch.filter(col("_change_type") === "delete").drop(meta: _*))
      .unionByName(ch.filter(col("_change_type") === "insert").drop(meta: _*))
    assert(canon(folded) == canon(expect),
      "the CDC feed must be consistent across positional masks")
    assert(ch.columns.count(c => c == "_g_file" || c == "_g_pos") == 0,
      "address columns must never leak into the feed")
  }

  test("plan pricing: rows of files the mask never touches skip the anti join") {
    val t = tmp("price")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev, Nil)
    // a clustered layout: many files with disjoint event_id spans
    VersionedHiddenTable.compact(spark, t, clusterBy = Seq("event_id"),
      targetBytes = 1L << 10)
    // a NARROW positional delete: matches rows in very few files
    assert(VersionedHiddenTable.deletePositional(spark, t,
      col("event_id").between(10L, 30L)) == 2L)
    val df = VersionedHiddenTable.read(spark, t)
    df.collect(): Unit
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.SparkPlan
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(flatten)
    }
    // files scanned as input to anti joins (the mask-application cost):
    // the touched-file split must keep untouched files out of the join arm
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plan = flatten(df.queryExecution.executedPlan)
    val antiInputs = plan.collect {
      case j: BaseJoinExec if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti =>
        flatten(j.left).collect { case f: FileSourceScanExec =>
          f.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum
    }.sum
    val total = plan.collect { case f: FileSourceScanExec =>
      f.metrics.get("numFiles").map(_.value).getOrElse(0L) }.max
    assert(total >= 8, s"precondition: need a multi-file era, got $total files")
    assert(antiInputs * 2 < total,
      s"the touched-file split must bound the anti join's input: $antiInputs of $total")
  }

  test("OCC: a positional delete raced by a concurrent commit rebases; a covered-era rewrite refuses") {
    val t = tmp("occ")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev.filter(col("user_id") < 8L),
      Seq(HiddenPartitioning.DayT("ts")))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val pred = col("event_type") === "click"
    val fDel = Future(VersionedHiddenTable.deletePositional(spark, t, pred))
    val fApp = Future(VersionedHiddenTable.append(spark, t,
      ev.filter(col("user_id") >= 8L))())
    val (vDel, vApp) = (Await.result(fDel, 5.minutes), Await.result(fApp, 5.minutes))
    assert(vApp.isRight && Set(vDel, vApp.toOption.get) == Set(1L, 2L))
    // the delete masks only PRE-EXISTING rows (its era scope), the appended
    // slice survives whole — snapshot-isolation semantics under either order
    val expect = ev.filter(col("user_id") < 8L)
      .filter(not(coalesce(pred, lit(false))))
      .unionByName(ev.filter(col("user_id") >= 8L))
    assert(canon(VersionedHiddenTable.read(spark, t)) == canon(expect))
  }
}
