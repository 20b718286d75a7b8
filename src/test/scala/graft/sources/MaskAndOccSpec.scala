package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-11 storage contracts: stats-bounded merge-on-read reads (the mask
  * is change-priced on the READ side — provably-unaffected eras and files
  * skip the anti join), the broadcast ceiling on delete masks, optimistic
  * concurrency for DML commits (two concurrent merges both land; a stale
  * staged base fails loudly instead of silently dropping a commit), and the
  * one-materialization MERGE source. */
class MaskAndOccSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-mao-$tag").toString

  private def events: DataFrame = graft.core.Tables.load(spark, dir, "events")

  private def ids(df: DataFrame): Seq[Long] =
    df.select("event_id").collect().map(_.getLong(0)).sorted.toSeq

  /** Flatten an executed plan THROUGH adaptive wrappers (AQE hides the
    * final plan behind AdaptiveSparkPlanExec / QueryStageExec, which plain
    * TreeNode.collect does not descend into). */
  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: children.flatMap(flatten)
  }

  /** Files scanned as INPUT to anti joins (the mask-application cost). */
  private def antiJoinFiles(df: DataFrame): Long = {
    df.collect(): Unit
    flatten(df.queryExecution.executedPlan).collect {
      case j: BaseJoinExec if j.joinType == LeftAnti =>
        flatten(j.left).collect {
          case s: FileSourceScanExec => s.metrics("numFiles").value
        }.sum
    }.sum
  }

  private def totalFiles(df: DataFrame): Long = {
    df.collect(): Unit
    flatten(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
  }

  test("masked read: an era provably outside the mask's key box skips its anti join") {
    val t = tmp("eraskip")
    val ev = events
    val lowKeys = ev.filter(col("event_id") < 1000L)
    val highKeys = ev.filter(col("event_id") >= 1000L)
    VersionedHiddenTable.create(spark, t, lowKeys, Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.append(spark, t, highKeys)()
    // mask three HIGH keys: era-0 (all keys < 1000) is provably disjoint
    val touch = highKeys.orderBy(desc("event_id")).limit(3)
      .withColumn("value", -col("value"))
    VersionedHiddenTable.merge(spark, t, touch, Seq("event_id"))
    val touchIds = ids(touch)
    val read = VersionedHiddenTable.read(spark, t)
    // semantics first: merged images replace, everything else untouched
    assert(ids(read) == ids(ev), "merge by key keeps the key set")
    val vals = read.filter(col("event_id").isin(touchIds: _*))
      .select("value").collect().map(_.getDouble(0))
    assert(vals.forall(_ <= 0.0), "masked keys must read the merged images")
    // scale contract: only era-1's overlapping slice feeds the anti join —
    // era-0's files (disjoint key range) never become join input. Each
    // measurement uses a FRESH frame: AQE re-executions reset scan metrics.
    val era0Files = totalFiles(
      VersionedHiddenTable.read(spark, t, Some(0L)))
    val joined = antiJoinFiles(VersionedHiddenTable.read(spark, t))
    val all = totalFiles(VersionedHiddenTable.read(spark, t))
    assert(joined < all - era0Files + 1,
      s"era-0 must skip the mask join: joined=$joined, all=$all, era0=$era0Files")
    // the del file's OWN manifest landed with it (what derives the box)
    val (fs, _) = (new Path(t).getFileSystem(spark.sessionState.newHadoopConf()), ())
    val delDirs = fs.listStatus(new Path(s"$t/data"))
      .map(_.getPath).filter(_.getName.startsWith("del-"))
    assert(delDirs.nonEmpty &&
      delDirs.forall(p => fs.exists(new Path(p, FileStats.StatsFile))),
      "every delete file must carry a stats manifest")
  }

  test("masked read: clustered files outside a narrow mask prune from the join input") {
    val t = tmp("fileskip")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev, Seq(HiddenPartitioning.DayT("ts")))
    // clustered compaction: many small files, each a narrow disjoint
    // event_id span inside its day directory
    VersionedHiddenTable.compact(spark, t, clusterBy = Seq("event_id"),
      targetBytes = 16L << 10)
    val victim = ev.orderBy("event_id").limit(1).select("event_id")
      .head().getLong(0)
    VersionedHiddenTable.deleteMergeOnRead(spark, t, col("event_id") === victim)
    assert(ids(VersionedHiddenTable.read(spark, t)) == ids(ev).filterNot(_ == victim),
      "the masked read must drop exactly the deleted key")
    val joined = antiJoinFiles(VersionedHiddenTable.read(spark, t))
    val all = totalFiles(VersionedHiddenTable.read(spark, t, Some(1L)))
    assert(all > 8, s"precondition: clustered compaction must yield many files, got $all")
    assert(joined * 4 <= all,
      s"a one-key mask must join a small fraction of the files: joined=$joined of $all")
    // degrade-don't-guess: without the del manifest the read stays correct
    // (unbounded join fallback), it just prunes nothing
    val (fs, _) = (new Path(t).getFileSystem(spark.sessionState.newHadoopConf()), ())
    val delDir = fs.listStatus(new Path(s"$t/data"))
      .map(_.getPath).filter(_.getName.startsWith("del-")).head
    fs.delete(new Path(delDir, FileStats.StatsFile), false)
    assert(ids(VersionedHiddenTable.read(spark, t)) == ids(ev).filterNot(_ == victim),
      "a legacy delete file without stats must still mask correctly")
    assert(antiJoinFiles(VersionedHiddenTable.read(spark, t)) >= all,
      "without bounds every file feeds the join (the old cost, not a wrong answer)")
  }

  test("changelog of a narrow CDC commit is mask-priced: out-of-box era files never scan") {
    val t = tmp("chmask")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev, Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.compact(spark, t, clusterBy = Seq("event_id"),
      targetBytes = 16L << 10) // v1: many files, narrow disjoint key spans
    val batch = ev.orderBy("event_id").limit(5)
      .withColumn("value", -col("value"))
    val v = VersionedHiddenTable.merge(spark, t, batch, Seq("event_id")) // v2
    val batchIds = ids(batch)
    val ch = VersionedHiddenTable.changes(spark, t, v - 1, Some(v))
    assert(ids(ch.filter(col("_change_type") === "delete")) == batchIds &&
      ids(ch.filter(col("_change_type") === "insert")) == batchIds,
      "the merge step must net exactly the batch's old images out, new in")
    // the coverage pass probes only the mask's in-box files: the commit's
    // changelog read is priced by the 5-key mask, not the compacted table
    val scanned = totalFiles(VersionedHiddenTable.changes(spark, t, v - 1, Some(v)))
    val all = totalFiles(VersionedHiddenTable.read(spark, t, Some(1L)))
    assert(all > 8, s"precondition: clustering must yield many files, got $all")
    assert(scanned * 2 <= all,
      s"a narrow commit's changelog must not scan the table: $scanned of $all files")
  }

  test("broadcast ceiling: an oversized mask falls back to a shuffle anti join, row-identical") {
    val t = tmp("bcast")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev, Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.deleteMergeOnRead(spark, t, pmod(col("event_id"), lit(3)) === 0L)
    val expect = ids(ev.filter(pmod(col("event_id"), lit(3)) =!= 0L))
    val broadcasted = VersionedHiddenTable.read(spark, t)
    assert(ids(broadcasted) == expect)
    spark.conf.set("graft.vht.deleteBroadcastMaxBytes", "1")
    try {
      val shuffled = VersionedHiddenTable.read(spark, t)
      assert(ids(shuffled) == expect,
        "the shuffle fallback must be row-identical to the broadcast path")
      shuffled.collect(): Unit
      val broadcastAntis = shuffled.queryExecution.executedPlan.collect {
        case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
      }
      assert(broadcastAntis.isEmpty,
        "past the ceiling the mask must not force a broadcast")
    } finally spark.conf.unset("graft.vht.deleteBroadcastMaxBytes")
  }

  test("OCC: two concurrent merges both land; the changelog folds consistently") {
    val t = tmp("occmerge")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev, Seq(HiddenPartitioning.DayT("ts")))
    // disjoint key sets so the outcome is deterministic under either
    // serialization order
    val batchA = ev.filter(pmod(col("event_id"), lit(10)) === 1L)
      .withColumn("value", lit(111.0))
    val batchB = ev.filter(pmod(col("event_id"), lit(10)) === 2L)
      .withColumn("value", lit(222.0))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(VersionedHiddenTable.merge(spark, t, batchA, Seq("event_id")))
    val fb = Future(VersionedHiddenTable.merge(spark, t, batchB, Seq("event_id")))
    val (va, vb) = (Await.result(fa, 5.minutes), Await.result(fb, 5.minutes))
    assert(Set(va, vb) == Set(1L, 2L),
      s"both merges must publish distinct snapshots, got $va/$vb")
    val read = VersionedHiddenTable.read(spark, t)
    assert(ids(read) == ids(ev), "neither merge may drop the other's rows")
    val gotA = read.filter(pmod(col("event_id"), lit(10)) === 1L)
      .select("value").distinct().collect().map(_.getDouble(0)).toSeq
    val gotB = read.filter(pmod(col("event_id"), lit(10)) === 2L)
      .select("value").distinct().collect().map(_.getDouble(0)).toSeq
    assert(gotA == Seq(111.0) && gotB == Seq(222.0),
      s"both batches' images must survive: a=$gotA b=$gotB")
    // changelog consistency: folding (0, latest] onto v0 reproduces latest
    val ch = VersionedHiddenTable.changes(spark, t, 0L)
    def key(df: DataFrame): Seq[String] =
      df.select("event_id", "value").collect().map(_.toString).sorted.toSeq
    val folded = key(VersionedHiddenTable.read(spark, t, Some(0L))
      .select("event_id", "value")
      .exceptAll(ch.filter(col("_change_type") === "delete")
        .select("event_id", "value"))
      .unionByName(ch.filter(col("_change_type") === "insert")
        .select("event_id", "value")))
    assert(folded == key(read), "the OCC-rebased history must fold exactly")
  }

  test("OCC: a merge-on-read delete raced by an append rebases; both land") {
    val t = tmp("occdel")
    val ev = events
    val h1 = ev.filter(col("event_id") < 5000L)
    // the appended rows are OUTSIDE the delete predicate's key range, so
    // the outcome is identical under either serialization order
    val h2 = ev.filter(col("event_id") >= 5000L)
      .withColumn("event_id", col("event_id") + 1000000L)
    VersionedHiddenTable.create(spark, t, h1, Seq(HiddenPartitioning.DayT("ts")))
    val pred = pmod(col("event_id"), lit(7)) === 0L && col("event_id") < 5000L
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fDel = Future(VersionedHiddenTable.deleteMergeOnRead(spark, t, pred))
    val fApp = Future(VersionedHiddenTable.append(spark, t, h2)())
    val (vDel, vApp) = (Await.result(fDel, 5.minutes), Await.result(fApp, 5.minutes))
    assert(vApp.isRight && Set(vDel, vApp.toOption.get) == Set(1L, 2L),
      s"both commits must publish distinct snapshots: $vDel / $vApp")
    val expect = (ids(h1.filter(!coalesce(pred, lit(false)))) ++ ids(h2)).sorted
    assert(ids(VersionedHiddenTable.read(spark, t)) == expect,
      "the rebased history must hold the delete's survivors plus the full append")
  }

  test("OCC: a staged manifest with a stale base fails loudly instead of dropping a commit") {
    val t = tmp("occstale")
    val ev = events
    val (h1, h2) = (ev.filter(pmod(col("event_id"), lit(2)) === 0L),
      ev.filter(pmod(col("event_id"), lit(2)) === 1L))
    VersionedHiddenTable.create(spark, t, h1, Seq(HiddenPartitioning.DayT("ts")))
    // simulate a cross-process writer: stage against base v=0 ...
    val era = VersionedHiddenTable.writeEra(spark, t, h2,
      Seq(HiddenPartitioning.DayT("ts")))
    val stale = VersionedHiddenTable.stageSnapshot(spark, t, Seq("era-0", era),
      None, "append", base = Some(0L))
    // ... and let ANOTHER commit land first
    VersionedHiddenTable.append(spark, t,
      h2.orderBy("event_id").limit(5)
        .withColumn("event_id", col("event_id") + 9000000L))()
    val boom = intercept[CommitConflictException] {
      VersionedHiddenTable.publish(spark, t, stale)
    }
    assert(boom.expectedBase == 0L && boom.actualLatest == 1L)
    assert(VersionedHiddenTable.versions(spark, t) == Seq(0L, 1L),
      "the conflicting publish must leave history intact")
  }

  test("OCC: losing the exists->rename race surfaces the conflict, never silent success") {
    val t = tmp("occrace")
    val ev = events
    val (h1, h2) = (ev.filter(pmod(col("event_id"), lit(2)) === 0L),
      ev.filter(pmod(col("event_id"), lit(2)) === 1L))
    VersionedHiddenTable.create(spark, t, h1, Seq(HiddenPartitioning.DayT("ts")))
    val era = VersionedHiddenTable.writeEra(spark, t, h2,
      Seq(HiddenPartitioning.DayT("ts")))
    val token = VersionedHiddenTable.stageSnapshot(spark, t, Seq("era-0", era),
      None, "append", base = Some(0L))
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    // the competing publisher fully lands v=<n> — manifest included — INSIDE
    // the window between publish's existence probe and its rename; our
    // rename then nests under the winner's directory, whose manifest would
    // fool a top-manifest-only success check
    @volatile var fired = false
    def landWinner(dir: String, v: Long): Unit = if (!fired && dir == t) {
      fired = true
      val d = new Path(s"$dir/v=$v")
      fs.mkdirs(d): Unit
      val out = fs.create(new Path(d, "_snapshot.json"), false)
      out.write("""{"op":"append","eras":["era-0"]}""".getBytes("UTF-8"))
      out.close()
    }
    VersionedHiddenTable.preRenameHook = landWinner
    try {
      val boom = intercept[CommitConflictException] {
        VersionedHiddenTable.publish(spark, t, token)
      }
      assert(boom.expectedBase == 0L && boom.actualLatest == 1L)
    } finally VersionedHiddenTable.preRenameHook = (_, _) => ()
    // v=1 is the WINNER's snapshot, unpolluted; the loser's staged manifest
    // was moved back out of the nest, intact for a rebase
    assert(VersionedHiddenTable.versions(spark, t) == Seq(0L, 1L))
    assert(VersionedHiddenTable.snapshot(spark, t, 1L)._1 == Seq("era-0"),
      "the raced version must hold the winner's content")
    assert(!fs.exists(new Path(s"$t/v=1/$token")), "no nested debris may remain")
    assert(fs.exists(new Path(s"$t/_staging/$token/_snapshot.json")),
      "the losing staged manifest must be restored for a rebase")
    // a base-less (legacy) staging retries under the next id instead
    fired = false
    val legacy = VersionedHiddenTable.stageSnapshot(spark, t, Seq("era-0", era),
      None, "append", base = None)
    VersionedHiddenTable.preRenameHook = landWinner
    try assert(VersionedHiddenTable.publish(spark, t, legacy) == 3L,
      "a legacy staging must step past the raced id and land")
    finally VersionedHiddenTable.preRenameHook = (_, _) => ()
    assert(VersionedHiddenTable.versions(spark, t) == Seq(0L, 1L, 2L, 3L))
  }

  test("MERGE materializes its source once (persisted across keys/upserts consumptions)") {
    val t = tmp("once")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev, Seq(HiddenPartitioning.DayT("ts")))
    val acc = spark.sparkContext.longAccumulator("srcEvals")
    val tick = udf((x: Long) => { acc.add(1L); x })
    val batch = ev.orderBy("event_id").limit(100)
      .withColumn("event_id", tick(col("event_id")))
    VersionedHiddenTable.merge(spark, t, batch, Seq("event_id"),
      deleteWhen = Some(col("value") < 0.0))
    assert(acc.value <= 150L,
      s"the source batch must be computed ~once, saw ${acc.value} row evaluations")
    assert(ids(VersionedHiddenTable.read(spark, t)) == ids(ev))
  }

  test("table service: a young in-flight era write survives a concurrent maintain") {
    val t = tmp("svcgc")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev.limit(200), Seq(HiddenPartitioning.DayT("ts")))
    // an appender mid-flight: era written, snapshot NOT yet staged
    val era = VersionedHiddenTable.writeEra(spark, t, ev.limit(50),
      Seq(HiddenPartitioning.DayT("ts")))
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    TableService.maintain(spark, t, TableService.Policy(keepSnapshots = 1))
    assert(fs.exists(new Path(s"$t/data/$era")),
      "maintain must spare a young unreferenced era (in-flight write)")
    // the appender can still stage + publish its era afterwards
    val token = VersionedHiddenTable.stageSnapshot(spark, t, Seq("era-0", era),
      None, "append", base = Some(0L))
    assert(VersionedHiddenTable.publish(spark, t, token) == 1L)
    // a grace-0 sweep still reclaims true orphans
    val orphan = VersionedHiddenTable.writeEra(spark, t, ev.limit(10),
      Seq(HiddenPartitioning.DayT("ts")))
    TableService.maintain(spark, t,
      TableService.Policy(keepSnapshots = 1, stagingGraceMs = 0L))
    assert(!fs.exists(new Path(s"$t/data/$orphan")),
      "a grace-0 maintain reclaims unreferenced data")
  }
}
