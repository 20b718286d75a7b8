package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Named branches (Iceberg's writable refs, fast-forward-only): commits on
  * a branch leave every main surface untouched, fast-forward lands the
  * branch head on main atomically, a diverged main refuses with
  * [[CommitConflictException]], and retention pins live branches. */
class BranchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-br-$tag").toString + "/t"

  private def events: DataFrame = graft.core.Tables.load(spark, dir, "events")

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("branch commits are invisible to main; fast-forward lands them atomically") {
    val t = tmp("wap")
    val ev = events
    val (h1, h2, h3) = (ev.filter(col("ts") < "2024-01-12"),
      ev.filter(col("ts") >= "2024-01-12" && col("ts") < "2024-01-22"),
      ev.filter(col("ts") >= "2024-01-22"))
    VersionedHiddenTable.create(spark, t, h1, Seq(HiddenPartitioning.DayT("ts")))
    assert(VersionedHiddenTable.createBranch(spark, t, "audit") == 0L)
    // two staged commits on the branch (a multi-commit WAP audit)
    assert(VersionedHiddenTable.appendToBranch(spark, t, "audit", h2)().isRight)
    assert(VersionedHiddenTable.appendToBranch(spark, t, "audit", h3)().isRight)
    // EVERY main surface is untouched: read, changes, filesMeta default
    assert(canon(VersionedHiddenTable.read(spark, t)) == canon(h1),
      "main must not see branch commits")
    assert(VersionedHiddenTable.mainVersions(spark, t) == Seq(0L))
    assert(VersionedHiddenTable.changes(spark, t, 0L).isEmpty,
      "the main changelog must be empty while work sits on the branch")
    // the branch face sees the staged whole
    assert(canon(VersionedHiddenTable.readBranch(spark, t, "audit")) ==
      canon(h1.unionByName(h2).unionByName(h3)))
    // one atomic fast-forward lands everything on main
    val ffv = VersionedHiddenTable.fastForward(spark, t, "audit")
    assert(VersionedHiddenTable.snapshotOp(spark, t, ffv) == "fast-forward")
    assert(canon(VersionedHiddenTable.read(spark, t)) ==
      canon(h1.unionByName(h2).unionByName(h3)))
    // the changelog reports the landing as ONE net step
    val ch = VersionedHiddenTable.changes(spark, t, 0L)
    assert(ch.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(ffv))
    assert(ch.filter(col("_change_type") === "insert").count() ==
      h2.count() + h3.count())
  }

  test("a branch WAP audit veto publishes nothing, on either lineage") {
    val t = tmp("veto")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev.limit(100),
      Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.createBranch(spark, t, "b")
    val vetoed = VersionedHiddenTable.appendToBranch(spark, t, "b",
      ev.limit(50))(_ => Seq("nope"))
    assert(vetoed == Left(Seq("nope")))
    assert(VersionedHiddenTable.versions(spark, t) == Seq(0L))
    assert(VersionedHiddenTable.branchHead(spark, t, "b") == 0L)
  }

  test("fast-forward on a diverged main surfaces CommitConflictException") {
    val t = tmp("diverge")
    val ev = events
    VersionedHiddenTable.create(spark, t,
      ev.filter(col("user_id") < 5L), Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.createBranch(spark, t, "b")
    assert(VersionedHiddenTable.appendToBranch(spark, t, "b",
      ev.filter(col("user_id") === 5L))().isRight)
    // main moves past the fork point
    assert(VersionedHiddenTable.append(spark, t,
      ev.filter(col("user_id") === 6L))().isRight)
    val boom = intercept[CommitConflictException] {
      VersionedHiddenTable.fastForward(spark, t, "b")
    }
    assert(boom.expectedBase == 0L && boom.actualLatest >= 1L)
    // neither lineage lost anything
    assert(canon(VersionedHiddenTable.read(spark, t)) ==
      canon(ev.filter(col("user_id") < 5L || col("user_id") === 6L)))
    assert(canon(VersionedHiddenTable.readBranch(spark, t, "b")) ==
      canon(ev.filter(col("user_id") < 5L || col("user_id") === 5L)))
  }

  test("concurrent branch and main commits never conflict; two branch writers rebase") {
    val t = tmp("conc")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev.filter(col("user_id") < 5L),
      Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.createBranch(spark, t, "b")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fb1 = Future(VersionedHiddenTable.appendToBranch(spark, t, "b",
      ev.filter(col("user_id") === 5L))())
    val fb2 = Future(VersionedHiddenTable.appendToBranch(spark, t, "b",
      ev.filter(col("user_id") === 6L))())
    val fm = Future(VersionedHiddenTable.append(spark, t,
      ev.filter(col("user_id") === 7L))())
    val (b1, b2, m) = (Await.result(fb1, 5.minutes),
      Await.result(fb2, 5.minutes), Await.result(fm, 5.minutes))
    assert(b1.isRight && b2.isRight && m.isRight)
    assert(canon(VersionedHiddenTable.read(spark, t)) ==
      canon(ev.filter(col("user_id") < 5L || col("user_id") === 7L)),
      "main holds exactly its own commit")
    assert(canon(VersionedHiddenTable.readBranch(spark, t, "b")) ==
      canon(ev.filter(col("user_id") < 7L)),
      "the branch holds both branch commits and no main content")
  }

  test("graft_branches TVF: the SQL face of the branch refs") {
    val t = tmp("tvf")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev.limit(100),
      Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.createBranch(spark, t, "b")
    assert(VersionedHiddenTable.appendToBranch(spark, t, "b",
      ev.limit(20))().isRight)
    val rows = spark.sql(s"SELECT * FROM graft_branches('$t')").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("b", 0L, 1L)))
  }

  test("retention pins live branches; dropBranch releases the pin") {
    val t = tmp("gc")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev.filter(col("user_id") < 5L),
      Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.createBranch(spark, t, "b")
    assert(VersionedHiddenTable.appendToBranch(spark, t, "b",
      ev.filter(col("user_id") === 5L))().isRight)
    // main advances twice so keep=1 would drop v0 (the fork base) and the
    // branch commit v1 if they were unpinned
    assert(VersionedHiddenTable.append(spark, t,
      ev.filter(col("user_id") === 6L))().isRight)
    assert(VersionedHiddenTable.append(spark, t,
      ev.filter(col("user_id") === 7L))().isRight)
    val dropped = VersionedHiddenTable.vacuum(spark, t, keep = 1)
    assert(!dropped.contains(0L) && !dropped.contains(1L),
      s"a live branch must pin its fork base and commits, dropped: $dropped")
    assert(canon(VersionedHiddenTable.readBranch(spark, t, "b")) ==
      canon(ev.filter(col("user_id") <= 5L)))
    VersionedHiddenTable.dropBranch(spark, t, "b")
    val dropped2 = VersionedHiddenTable.vacuum(spark, t, keep = 1)
    assert(dropped2.contains(1L),
      s"dropping the branch must release its snapshots to GC: $dropped2")
  }
}
