package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The snapshot × hidden-partitioning composition (the full Iceberg-style
  * contract, cf. reference `dbt_project.yml:40-43`): WAP appends, spec
  * evolution, per-era pruning through the composite read, compaction that
  * preserves time travel, reference-counted vacuum, replay idempotency.
  * Every mutation is checked differentially — a versioning bug that drops
  * or duplicates rows is worse than no versioning at all. */
class VersionedHiddenTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-vht-$tag").toString

  private def events: DataFrame = graft.core.Tables.load(spark, dir, "events")
  private def half(df: DataFrame, r: Int): DataFrame =
    df.filter(pmod(col("event_id"), lit(2)) === r)

  private def ids(df: DataFrame): Seq[Long] =
    df.select("event_id").collect().map(_.getLong(0)).sorted.toSeq

  /** Total files read across ALL scans of an executed plan (the composite
    * read unions one scan per era). */
  private def filesRead(df: DataFrame): Long = {
    df.collect(): Unit
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
  }

  private def dataEras(t: String): Seq[String] = {
    val p = new Path(s"$t/data")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).sorted.toSeq
  }

  test("create + WAP append + time travel: composite read is exact per snapshot") {
    val t = tmp("rt")
    val ev = events
    val (h1, h2) = (half(ev, 0), half(ev, 1))
    val v0 = VersionedHiddenTable.create(spark, t, h1,
      Seq(HiddenPartitioning.DayT("ts")))
    assert(v0 == 0L)
    val v1 = VersionedHiddenTable.append(spark, t, h2)()
    assert(v1 == Right(1L))
    val latest = VersionedHiddenTable.read(spark, t)
    assert(latest.columns.sorted.toSeq == ev.columns.sorted.toSeq,
      s"derived partition columns must stay hidden: ${latest.columns.toSeq}")
    assert(ids(latest) == ids(ev), "latest snapshot must hold both halves")
    assert(ids(VersionedHiddenTable.read(spark, t, Some(0L))) == ids(h1),
      "time travel to v0 must see exactly the pre-append rows")
    // a repeat read of the unchanged table plans from the metadata caches
    def filtered(): Seq[Long] =
      ids(VersionedHiddenTable.read(spark, t).filter(col("event_id") < 500L))
    def counters = Seq(HiddenPartitioning.frameCache(spark),
      HiddenPartitioning.specCache, FileStats.statsCache).map(_.counters)
    val first = filtered()
    val before = counters
    assert(filtered() == first)
    counters.zip(before).zip(Seq("frame", "spec", "stats")).foreach {
      case ((a, b), name) => assert(a.hits > b.hits && a.misses == b.misses,
        s"$name cache on a repeat read: $b -> $a")
    }
    // a manifest rewrite drops the cached parse: the next lookup misses
    val era = s"$t/data/${dataEras(t).filter(_.startsWith("era-")).head}"
    FileStats.write(spark, era)
    val misses = FileStats.statsCache.counters.misses
    assert(FileStats.stats(spark, era).isDefined)
    assert(FileStats.statsCache.counters.misses == misses + 1)
  }

  test("WAP: a failing audit publishes nothing; vacuum reclaims the orphan era") {
    val t = tmp("wap")
    val ev = events
    val (h1, h2) = (half(ev, 0), half(ev, 1))
    VersionedHiddenTable.create(spark, t, h1, Seq(HiddenPartitioning.DayT("ts")))
    // the audit sees the STAGED composite (what readers WOULD see) and vetoes
    var auditSawRows = -1L
    val res = VersionedHiddenTable.append(spark, t, h2) { staged =>
      auditSawRows = staged.count()
      Seq("rowcount jumped beyond the contract")
    }
    assert(res == Left(Seq("rowcount jumped beyond the contract")))
    assert(auditSawRows == ev.count(), "audit must run against the staged composite")
    assert(VersionedHiddenTable.versions(spark, t) == Seq(0L),
      "a vetoed append must publish no snapshot")
    assert(ids(VersionedHiddenTable.read(spark, t)) == ids(h1),
      "readers must still see only the committed rows")
    assert(dataEras(t).size == 2, "the staged era's data dir is orphaned garbage")
    // default grace: a YOUNG never-referenced era could be a concurrent
    // writer mid-fill, so it survives; grace 0 sweeps it as a known orphan
    VersionedHiddenTable.vacuum(spark, t, keep = 1)
    assert(dataEras(t).size == 2,
      "a young never-referenced era must survive a default-grace vacuum (in-flight claim)")
    VersionedHiddenTable.vacuum(spark, t, keep = 1, stagingGraceMs = 0L)
    assert(dataEras(t) == Seq("era-0"), "grace-0 vacuum must reclaim the unreferenced era")
    assert(ids(VersionedHiddenTable.read(spark, t)) == ids(h1),
      "vacuum must not touch referenced data")
    // an audit that THROWS aborts the staged snapshot and rethrows
    val boom = intercept[RuntimeException] {
      VersionedHiddenTable.append(spark, t, h2) { _ => throw new RuntimeException("boom") }
    }
    assert(boom.getMessage == "boom")
    assert(VersionedHiddenTable.versions(spark, t) == Seq(0L))
  }

  test("evolveSpec: later appends land under the new spec; each era prunes under its own") {
    val t = tmp("evolve")
    val ev = events
    val (h1, h2) = (half(ev, 0), half(ev, 1))
    VersionedHiddenTable.create(spark, t, h1, Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.evolveSpec(spark, t, Seq(HiddenPartitioning.BucketT(16, "user_id")))
    assert(ids(VersionedHiddenTable.read(spark, t)) == ids(h1),
      "the evolution snapshot is data-identical (its new era is empty)")
    assert(VersionedHiddenTable.append(spark, t, h2)().isRight)
    val composite = VersionedHiddenTable.read(spark, t)
    assert(ids(composite) == ids(ev))
    // a raw user_id equality must prune bucket dirs in the NEW era while the
    // old (day-partitioned) era reads fully — fewer files than the full scan
    val user = ev.select("user_id").head().getLong(0)
    val allFiles = filesRead(VersionedHiddenTable.read(spark, t))
    val prunedByUser = VersionedHiddenTable.read(spark, t)
      .filter(col("user_id") === lit(user))
    assert(filesRead(prunedByUser) < allFiles,
      "user filter must bucket-prune the evolved era")
    // and a ts range must day-prune the OLD era symmetric-ly
    val b = ev.agg(min(col("ts")), max(col("ts"))).head()
    val (lo, hi) = (b.getTimestamp(0), b.getTimestamp(1))
    val cut = new java.sql.Timestamp(lo.getTime + (hi.getTime - lo.getTime) / 2)
    val prunedByTs = VersionedHiddenTable.read(spark, t).filter(col("ts") >= lit(cut))
    assert(filesRead(prunedByTs) < allFiles, "ts filter must day-prune the old era")
    // differential: pruning changes nothing
    assert(ids(prunedByUser) == ids(ev.filter(col("user_id") === lit(user))))
    assert(ids(prunedByTs) == ids(ev.filter(col("ts") >= lit(cut))))
  }

  test("compact folds the era history; old snapshots time-travel until vacuumed") {
    val t = tmp("compact")
    val ev = events
    val (h1, h2) = (half(ev, 0), half(ev, 1))
    VersionedHiddenTable.create(spark, t, h1, Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.evolveSpec(spark, t, Seq(HiddenPartitioning.BucketT(16, "user_id")))
    VersionedHiddenTable.append(spark, t, h2)()
    val before = ids(VersionedHiddenTable.read(spark, t))
    val erasBefore = dataEras(t).size
    val vc = VersionedHiddenTable.compact(spark, t)
    assert(ids(VersionedHiddenTable.read(spark, t)) == before,
      "compaction must not change a single row")
    assert(ids(VersionedHiddenTable.read(spark, t, Some(vc))) == before)
    // the compacted snapshot references ONE era; the old eras stay on disk
    // because older snapshots still reference them
    assert(ids(VersionedHiddenTable.read(spark, t, Some(0L))) == ids(h1),
      "pre-compaction snapshots must still time-travel exactly")
    assert(dataEras(t).size == erasBefore + 1,
      "compaction writes a fresh era and destroys nothing")
    // the whole table now prunes under the CURRENT (bucket) spec
    val user = ev.select("user_id").head().getLong(0)
    val allFiles = filesRead(VersionedHiddenTable.read(spark, t))
    val pruned = VersionedHiddenTable.read(spark, t).filter(col("user_id") === lit(user))
    assert(filesRead(pruned) < allFiles, "compacted table must bucket-prune everywhere")
    assert(ids(pruned) == ids(ev.filter(col("user_id") === lit(user))))
    // vacuum retires history: only the compacted era survives
    val dropped = VersionedHiddenTable.vacuum(spark, t, keep = 1)
    assert(dropped.nonEmpty)
    assert(VersionedHiddenTable.versions(spark, t) == Seq(vc))
    assert(dataEras(t).size == 1, "only the compacted era is still referenced")
    assert(ids(VersionedHiddenTable.read(spark, t)) == before,
      "vacuum must not touch the live snapshot")
    intercept[IllegalArgumentException] {
      VersionedHiddenTable.read(spark, t, Some(0L))
    }
  }

  test("clustered compaction: rewrite range-partitions the cluster key, so stats skip files") {
    val t = tmp("cluster")
    val ev = events.drop("props")
    // append-ordered layout: every file spans the full user range, so a
    // user predicate can skip nothing before the rewrite
    VersionedHiddenTable.create(spark, t, half(ev, 0), Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.append(spark, t, half(ev, 1))()
    val before = ids(VersionedHiddenTable.read(spark, t))
    val pred = col("user_id").between(10L, 30L)
    // tiny targetBytes forces several output files so the skip is observable
    val vc = VersionedHiddenTable.compact(spark, t,
      clusterBy = Seq("user_id"), targetBytes = 64L << 10)
    assert(ids(VersionedHiddenTable.read(spark, t)) == before,
      "clustered compaction must not change a single row")
    val total = filesRead(VersionedHiddenTable.read(spark, t))
    val hit = filesRead(VersionedHiddenTable.read(spark, t).filter(pred))
    assert(total > 2, s"sizing must split the rewrite into several files: $total")
    assert(hit < total,
      s"clustered rewrite must make the key predicate skip files: $hit of $total")
    assert(ids(VersionedHiddenTable.read(spark, t, Some(vc)).filter(pred)) ==
      ids(ev.filter(pred)), "skipping after the rewrite must stay lossless")
    // pre-rewrite snapshots still time-travel exactly
    assert(ids(VersionedHiddenTable.read(spark, t, Some(0L))) == ids(half(ev, 0)))
  }

  test("batch-id markers ride the publish: replay detection is exact") {
    val t = tmp("batch")
    val ev = events
    val (h1, h2) = (half(ev, 0), half(ev, 1))
    VersionedHiddenTable.create(spark, t, h1, Seq(HiddenPartitioning.DayT("ts")))
    assert(VersionedHiddenTable.publishedBatchIds(spark, t).isEmpty)
    VersionedHiddenTable.append(spark, t, h2, batchId = Some("b-17"))()
    assert(VersionedHiddenTable.publishedBatchIds(spark, t) == Set("b-17"))
    // the caller's replay guard: skip when the id is already published
    val replayed = VersionedHiddenTable.publishedBatchIds(spark, t).contains("b-17")
    assert(replayed, "a published batch must be visible to the replay check")
    // a VETOED append's marker must NOT appear (it rode the aborted stage)
    VersionedHiddenTable.append(spark, t, h2, batchId = Some("b-18")) { _ => Seq("no") }
    assert(VersionedHiddenTable.publishedBatchIds(spark, t) == Set("b-17"),
      "an aborted append leaves no published batch marker")
  }

  test("delete: copy-on-write rewrites only matching eras; older snapshots keep the rows") {
    val t = tmp("delete")
    val ev = events
    // era-0 = first half of January, era-1 = second half: a predicate
    // confined to the second half must leave era-0's directory untouched
    VersionedHiddenTable.create(spark, t, ev.filter(col("ts") < "2024-01-16"),
      Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.append(spark, t, ev.filter(col("ts") >= "2024-01-16"))()
    val erasBefore = VersionedHiddenTable.snapshotsMeta(spark, t)
      .filter(col("version") === 1L).select("eras").head().getSeq[String](0)
    val pred = col("ts") >= "2024-01-20" && col("user_id") < 25L
    val vDel = VersionedHiddenTable.delete(spark, t, pred)
    assert(vDel == 2L, "the delete must publish exactly one new snapshot")
    // survivors = SQL DELETE semantics: TRUE rows gone, FALSE/NULL kept
    assert(ids(VersionedHiddenTable.read(spark, t)) ==
      ids(ev.filter(!(col("ts") >= "2024-01-20" && col("user_id") < 25L))),
      "latest snapshot must hold exactly the non-matching rows")
    // time travel: both pre-delete snapshots still read the deleted rows
    assert(ids(VersionedHiddenTable.read(spark, t, Some(1L))) == ids(ev))
    assert(ids(VersionedHiddenTable.read(spark, t, Some(0L))) ==
      ids(ev.filter(col("ts") < "2024-01-16")))
    // copy-on-write scope: the untouched era (era-0, first half) is carried
    // by REFERENCE — same directory in both snapshots; the matching era was
    // replaced by a fresh rewrite
    val erasAfter = VersionedHiddenTable.snapshotsMeta(spark, t)
      .filter(col("version") === 2L).select("eras").head().getSeq[String](0)
    assert(erasAfter.contains(erasBefore.head),
      s"the predicate-free era must not be rewritten: $erasBefore -> $erasAfter")
    assert(!erasAfter.contains(erasBefore.last),
      "the matching era must be replaced by its rewrite")
    // a predicate matching nothing publishes no snapshot
    val vNoop = VersionedHiddenTable.delete(spark, t, col("user_id") === -1L)
    assert(vNoop == 2L && VersionedHiddenTable.versions(spark, t).max == 2L,
      "an empty delete must not publish")
  }

  test("delete composes with compact and vacuum; a full-era delete leaves a readable table") {
    val t = tmp("delete-gc")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev.filter(col("ts") < "2024-01-16"),
      Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.append(spark, t, ev.filter(col("ts") >= "2024-01-16"))()
    // delete ALL of era-1's rows: the rewrite is a data-less era, reads stay exact
    VersionedHiddenTable.delete(spark, t, col("ts") >= "2024-01-16")
    val kept = ev.filter(col("ts") < "2024-01-16")
    assert(ids(VersionedHiddenTable.read(spark, t)) == ids(kept),
      "a full-era delete must leave exactly the other era's rows")
    // compact after delete: one era, same rows, pre-delete travel intact
    val vc = VersionedHiddenTable.compact(spark, t)
    assert(ids(VersionedHiddenTable.read(spark, t, Some(vc))) == ids(kept))
    assert(ids(VersionedHiddenTable.read(spark, t, Some(1L))) == ids(ev),
      "pre-delete snapshots must still read the deleted rows until vacuum")
    // vacuum retires the history: deleted rows are now physically gone
    VersionedHiddenTable.vacuum(spark, t, keep = 1)
    assert(VersionedHiddenTable.versions(spark, t) == Seq(vc))
    assert(ids(VersionedHiddenTable.read(spark, t)) == ids(kept))
    assert(dataEras(t).size == 1, "only the compacted era survives the vacuum")
  }

  test("merge-on-read delete: no rewrite, era-scoped masking, re-appends survive, compact folds") {
    val t = tmp("mor")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev.filter(col("ts") < "2024-01-16"),
      Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.append(spark, t, ev.filter(col("ts") >= "2024-01-16"))()
    val erasBefore = dataEras(t)
    val pred = col("user_id") < 15L
    val vDel = VersionedHiddenTable.deleteMergeOnRead(spark, t, pred)
    assert(vDel == 2L)
    // ZERO data rewritten: same era dirs, one new del- dir
    assert(dataEras(t).filter(_.startsWith("era-")) == erasBefore,
      "merge-on-read must not touch any era")
    assert(dataEras(t).count(_.startsWith("del-")) == 1,
      "the deleted tuples land in one delete file")
    val expect = ev.filter(!(col("user_id") < 15L))
    assert(ids(VersionedHiddenTable.read(spark, t)) == ids(expect),
      "readers must mask exactly the matching rows")
    assert(ids(VersionedHiddenTable.read(spark, t, Some(1L))) == ids(ev),
      "pre-delete snapshots still read the deleted rows")
    // era scoping: re-append TUPLE-IDENTICAL rows — they are NEWER than the
    // delete (outside its `over` set) and must survive
    // ordered limit: a bare limit re-executes nondeterministically between
    // the ids() capture and the append
    val readded = ev.filter(col("user_id") < 15L).orderBy("event_id").limit(7)
    val readdedIds = ids(readded)
    VersionedHiddenTable.append(spark, t, readded)()
    val afterReadd = ids(VersionedHiddenTable.read(spark, t))
    assert(afterReadd == (ids(expect) ++ readdedIds).sorted,
      "rows appended after an equality delete must survive it")
    // a second MoR delete over the composite: masks the re-added rows too
    VersionedHiddenTable.deleteMergeOnRead(spark, t, col("user_id") < 15L)
    assert(ids(VersionedHiddenTable.read(spark, t)) == ids(expect))
    // copy-on-write delete over a del-carrying table folds the masks in —
    // it must never resurrect masked rows
    val vCow = VersionedHiddenTable.delete(spark, t, col("ts") >= "2024-01-20")
    val expect2 = expect.filter(!(col("ts") >= "2024-01-20"))
    assert(ids(VersionedHiddenTable.read(spark, t)) == ids(expect2),
      "CoW over merge-on-read state must fold, not resurrect")
    // compact retires the delete files entirely; rows unchanged
    val vc = VersionedHiddenTable.compact(spark, t)
    assert(ids(VersionedHiddenTable.read(spark, t, Some(vc))) == ids(expect2))
    // time travel across the whole history still exact
    assert(ids(VersionedHiddenTable.read(spark, t, Some(vDel))) == ids(expect))
    assert(ids(VersionedHiddenTable.read(spark, t, Some(0L))) ==
      ids(ev.filter(col("ts") < "2024-01-16")))
    // vacuum reclaims the now-unreferenced delete files with the old eras
    VersionedHiddenTable.vacuum(spark, t, keep = 1)
    assert(dataEras(t).count(_.startsWith("del-")) == 0,
      "vacuum must reclaim unreferenced delete files")
    assert(dataEras(t).size == 1)
    assert(ids(VersionedHiddenTable.read(spark, t)) == ids(expect2))
  }

  test("vacuum grace window: a freshly staged append survives; grace 0 sweeps it") {
    val t = tmp("grace")
    val ev = events
    val (h1, h2) = (half(ev, 0), half(ev, 1))
    VersionedHiddenTable.create(spark, t, h1, Seq(HiddenPartitioning.DayT("ts")))
    // the mid-WAP state: era written, snapshot staged, publish not yet run
    val era = VersionedHiddenTable.writeEra(spark, t, h2,
      Seq(HiddenPartitioning.DayT("ts")))
    val token = VersionedHiddenTable.stageSnapshot(spark, t,
      Seq("era-0", era), None)
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    VersionedHiddenTable.vacuum(spark, t, keep = 1) // default grace
    assert(fs.exists(new Path(s"$t/_staging/$token")),
      "a staged candidate inside the grace window must survive vacuum")
    assert(dataEras(t).contains(era),
      "the era a surviving staged candidate references must survive the GC")
    // grace 0 = the admin asserts no writers: wholesale sweep, era orphaned + gone
    VersionedHiddenTable.vacuum(spark, t, keep = 1, stagingGraceMs = 0L)
    assert(!fs.exists(new Path(s"$t/_staging/$token")))
    assert(!dataEras(t).contains(era), "grace 0 must reclaim the orphan era")
    assert(ids(VersionedHiddenTable.read(spark, t)) == ids(h1))
  }

  /** (event_id, event_type, value) multiset — id-only comparison can't see
    * an UPDATE's value changes. */
  private def rows3(df: DataFrame): Seq[(Long, String, Double)] =
    df.select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sorted.toSeq

  test("update: copy-on-write rewrites only matching eras; SQL SET semantics; schema stable") {
    val t = tmp("update")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev.filter(col("ts") < "2024-01-16"),
      Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.append(spark, t, ev.filter(col("ts") >= "2024-01-16"))()
    val erasBefore = VersionedHiddenTable.snapshotsMeta(spark, t)
      .filter(col("version") === 1L).select("eras").head().getSeq[String](0)
    // predicate confined to the second era; one SET is an int literal that
    // must cast to the column's double type (schema never changes)
    val pred = col("ts") >= "2024-01-20" && col("user_id") < 25L
    val vUp = VersionedHiddenTable.update(spark, t, pred,
      Map("value" -> (col("value") * 2 + lit(1)), "event_type" -> lit("corrected")))
    assert(vUp == 2L, "the update must publish exactly one new snapshot")
    val expected = ev.withColumn("value",
        when(pred, col("value") * 2 + lit(1)).otherwise(col("value")))
      .withColumn("event_type", when(pred, lit("corrected")).otherwise(col("event_type")))
    val latest = VersionedHiddenTable.read(spark, t)
    assert(latest.schema == VersionedHiddenTable.read(spark, t, Some(1L)).schema,
      "an update must never change the table schema")
    assert(rows3(latest) == rows3(expected),
      "matching rows take the assignments; FALSE/NULL rows pass through verbatim")
    assert(rows3(VersionedHiddenTable.read(spark, t, Some(1L))) == rows3(ev),
      "pre-update snapshots must read pre-update values")
    // copy-on-write scope: the predicate-free era is carried by reference
    val erasAfter = VersionedHiddenTable.snapshotsMeta(spark, t)
      .filter(col("version") === 2L).select("eras").head().getSeq[String](0)
    assert(erasAfter.contains(erasBefore.head),
      s"the predicate-free era must not be rewritten: $erasBefore -> $erasAfter")
    assert(!erasAfter.contains(erasBefore.last),
      "the matching era must be replaced by its rewrite")
    // no-match update publishes nothing; unknown SET target is refused
    assert(VersionedHiddenTable.update(spark, t, col("user_id") === -1L,
      Map("value" -> lit(0))) == 2L)
    intercept[IllegalArgumentException] {
      VersionedHiddenTable.update(spark, t, pred, Map("no_such_col" -> lit(0)))
    }
  }

  test("merge-on-read update: one delete file + one era, no rewrite; partition move prunes") {
    val t = tmp("mor-up")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev.filter(col("ts") < "2024-01-16"),
      Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.append(spark, t, ev.filter(col("ts") >= "2024-01-16"))()
    val erasBefore = dataEras(t)
    val pred = col("user_id").between(5L, 9L)
    val vUp = VersionedHiddenTable.updateMergeOnRead(spark, t, pred,
      Map("value" -> -col("value")))
    assert(vUp == 2L)
    assert(dataEras(t).filter(_.startsWith("era-")).size == erasBefore.size + 1 &&
      dataEras(t).count(_.startsWith("del-")) == 1,
      "merge-on-read update writes ONE delete file and ONE era, rewrites nothing")
    val expected = ev.withColumn("value",
      when(pred, -col("value")).otherwise(col("value")))
    assert(rows3(VersionedHiddenTable.read(spark, t)) == rows3(expected),
      "readers must see old values masked and new values added, nothing else")
    assert(rows3(VersionedHiddenTable.read(spark, t, Some(1L))) == rows3(ev),
      "time travel reads pre-update values")
    // era scoping: a tuple identical to a PRE-image, appended after the
    // update, must survive the update's delete file
    val readd = ev.filter(pred).orderBy("event_id").limit(3)
    val readdRows = rows3(readd)
    VersionedHiddenTable.append(spark, t, readd)()
    assert(rows3(VersionedHiddenTable.read(spark, t)) ==
      (rows3(expected) ++ readdRows).sorted,
      "pre-image-identical rows appended after the update must survive")
    // updating the partition-source column re-derives the layout: moved rows
    // prune into their new day directory
    val vMove = VersionedHiddenTable.updateMergeOnRead(spark, t,
      col("user_id") === 5L, Map("ts" -> lit("2024-03-01 00:00:00").cast("timestamp")))
    assert(vMove > vUp)
    val moved = VersionedHiddenTable.read(spark, t).filter(col("ts") >= "2024-03-01")
    assert(moved.count() == VersionedHiddenTable.read(spark, t)
      .filter(col("user_id") === 5L).count(), "moved rows all land on the new day")
    // the update era was re-derived under the day spec: the moved rows'
    // NEW day directory physically exists in the freshly written era
    val newEra = dataEras(t).filter(_.startsWith("era-"))
      .maxBy(_.stripPrefix("era-").toInt)
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new Path(s"$t/data/$newEra/ts_day=2024-03-01")) ||
      fs.listStatus(new Path(s"$t/data/$newEra"))
        .exists(_.getPath.getName.contains("2024-03-01")),
      "the rewrite must re-derive the partition layout for moved rows")
    // compact folds the masks; vacuum reclaims the delete files
    val vc = VersionedHiddenTable.compact(spark, t)
    VersionedHiddenTable.vacuum(spark, t, keep = 1)
    assert(VersionedHiddenTable.versions(spark, t) == Seq(vc))
    assert(dataEras(t).count(_.startsWith("del-")) == 0)
  }

  test("merge: upsert + insert + delete in ONE snapshot; no rewrite; CDC surfaces the net") {
    val t = tmp("merge")
    val ev = events
    VersionedHiddenTable.create(spark, t, ev.filter(col("ts") < "2024-01-16"),
      Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.append(spark, t, ev.filter(col("ts") >= "2024-01-16"))()
    val erasBefore = dataEras(t)
    // CDC batch: replace user 3's rows (negated value), delete user 7's,
    // insert 5 brand-new keys
    val updates = ev.filter(col("user_id") === 3L).withColumn("value", -col("value"))
    val deletes = ev.filter(col("user_id") === 7L)
      .withColumn("event_type", lit("__deleted__"))
    val inserts = ev.filter(col("user_id") === 4L).orderBy("event_id").limit(5)
      .withColumn("event_id", col("event_id") + 1000000L)
    val batch = updates.unionByName(deletes).unionByName(inserts)
    val vM = VersionedHiddenTable.merge(spark, t, batch, Seq("event_id"),
      deleteWhen = Some(col("event_type") === "__deleted__"),
      batchId = Some("cdc-7"))
    assert(vM == 2L, "one MERGE = one snapshot")
    assert(dataEras(t).filter(_.startsWith("era-")).size == erasBefore.size + 1 &&
      dataEras(t).count(_.startsWith("del-")) == 1,
      "merge-on-read MERGE writes one delete file + one era, rewrites nothing")
    val expect = ev.filter(col("user_id") =!= 3L && col("user_id") =!= 7L)
      .unionByName(updates).unionByName(inserts)
    assert(rows3(VersionedHiddenTable.read(spark, t)) == rows3(expect),
      "matched keys replaced, deleteWhen keys gone, new keys inserted")
    assert(rows3(VersionedHiddenTable.read(spark, t, Some(1L))) == rows3(ev),
      "time travel reads the pre-merge state")
    assert(VersionedHiddenTable.publishedBatchIds(spark, t) == Set("cdc-7"),
      "the CDC batch id rides the merge publish for replay detection")
    // the changelog nets the merge exactly: old user-3 rows + user-7 rows
    // out, new user-3 images + inserts in
    val ch = VersionedHiddenTable.changes(spark, t, 1L, Some(2L))
    val del = ch.filter(col("_change_type") === "delete")
    val ins = ch.filter(col("_change_type") === "insert")
    assert(rows3(del) == rows3(ev.filter(col("user_id").isin(3L, 7L))))
    assert(rows3(ins) == rows3(updates.unionByName(inserts)))
    // a second merge replaying the same batch id is the CALLER's guard;
    // an effect-free merge still publishes (empty commit, version advances)
    val vEmpty = VersionedHiddenTable.merge(spark, t,
      ev.filter(col("user_id") === -1L), Seq("event_id"))
    assert(vEmpty == 3L)
    assert(rows3(VersionedHiddenTable.read(spark, t)) == rows3(expect))
    // compact folds everything; vacuum retires the mask
    VersionedHiddenTable.compact(spark, t)
    VersionedHiddenTable.vacuum(spark, t, keep = 1)
    assert(dataEras(t).count(_.startsWith("del-")) == 0)
    assert(rows3(VersionedHiddenTable.read(spark, t)) == rows3(expect))
  }

  test("changes: era-aware net CDC equals the brute-force snapshot diff at every step") {
    val t = tmp("cdc")
    val ev = events
    // a history exercising every op class: create, append, MoR delete,
    // compact (replace: no changes), CoW update, rollback
    VersionedHiddenTable.create(spark, t, ev.filter(col("ts") < "2024-01-16"),
      Seq(HiddenPartitioning.DayT("ts")))                                  // v0
    VersionedHiddenTable.append(spark, t, ev.filter(col("ts") >= "2024-01-16"))() // v1
    VersionedHiddenTable.deleteMergeOnRead(spark, t, col("user_id") < 10L) // v2
    VersionedHiddenTable.compact(spark, t)                                 // v3
    VersionedHiddenTable.update(spark, t, col("user_id").between(20L, 29L),
      Map("value" -> (col("value") + 100)))                                // v4
    VersionedHiddenTable.rollback(spark, t, 2L)                            // v5
    val meta = Seq("_change_type", "_commit_version")
    def key(df: DataFrame): Seq[String] =
      df.select((Seq("event_id", "event_type", "value") ++ meta).map(col): _*)
        .collect().map(_.toString).sorted.toSeq
    // brute force per step: the DEFINITION of net changes
    val expected = (0L to 5L).sliding(2).flatMap { case Seq(a, b) =>
      val ra = VersionedHiddenTable.read(spark, t, Some(a))
      val rb = VersionedHiddenTable.read(spark, t, Some(b))
      Seq(
        rb.exceptAll(ra).withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(b)),
        ra.exceptAll(rb).withColumn("_change_type", lit("delete"))
          .withColumn("_commit_version", lit(b)))
    }.reduce(_.unionByName(_))
    val got = VersionedHiddenTable.changes(spark, t, 0L)
    assert(key(got) == key(expected),
      "net changes must equal the brute-force diff of every consecutive snapshot pair")
    // the compact step (v3, op=replace) must contribute nothing
    assert(got.filter(col("_commit_version") === 3L).isEmpty,
      "a content-preserving replace contributes no changes")
    // sub-ranges compose; an empty range is empty
    assert(key(VersionedHiddenTable.changes(spark, t, 1L, Some(2L))) ==
      key(expected.filter(col("_commit_version") === 2L)))
    assert(VersionedHiddenTable.changes(spark, t, 4L, Some(4L)).isEmpty)
    // era-awareness: an append-only step scans only the APPENDED era's files
    // (the carried-over era contributes zero read tasks)
    val appendStep = VersionedHiddenTable.changes(spark, t, 0L, Some(1L))
    val newEraFiles = filesRead(
      VersionedHiddenTable.read(spark, t, Some(1L)).filter(col("ts") >= "2024-01-16"))
    assert(filesRead(appendStep) <= newEraFiles,
      "an append step must not scan the carried-over era")
  }

  test("changes: a gapped step landing on a replace still reports the vacuumed DML") {
    val t = tmp("gapchg")
    val ev = events
    VersionedHiddenTable.create(spark, t, half(ev, 0),
      Seq(HiddenPartitioning.DayT("ts")))                                     // v0
    VersionedHiddenTable.append(spark, t, half(ev, 1))()                      // v1
    VersionedHiddenTable.deleteMergeOnRead(spark, t,
      pmod(col("event_id"), lit(5)) === 0L)                                   // v2: real DML
    VersionedHiddenTable.compact(spark, t)                                    // v3: replace
    VersionedHiddenTable.append(spark, t,
      half(ev, 1).orderBy("event_id").limit(7)
        .withColumn("event_id", col("event_id") + 5000000L))()                // v4
    val before = ids(VersionedHiddenTable.read(spark, t, Some(1L)))
    VersionedHiddenTable.tag(spark, t, "pin-v1", 1L)
    VersionedHiddenTable.vacuum(spark, t, keep = 2, stagingGraceMs = 0L)
    assert(VersionedHiddenTable.versions(spark, t) == Seq(1L, 3L, 4L),
      "retention must create a gap landing on the op=replace snapshot")
    // the v1 -> v3 step is GAPPED: the compaction ABSORBED v2's delete, so
    // content preservation does not hold relative to v1 — the collapsed
    // step must diff for real instead of skipping on op=replace
    val ch = VersionedHiddenTable.changes(spark, t, 1L)
    val del = ch.filter(col("_change_type") === "delete")
      .select("event_id").collect().map(_.getLong(0)).toSet
    val ins = ch.filter(col("_change_type") === "insert")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(del.nonEmpty, "the vacuumed v2 delete must surface in the collapsed step")
    assert(before.toSet -- del ++ ins == ids(VersionedHiddenTable.read(spark, t)).toSet,
      "folding the gapped changelog forward from v1 must reproduce the latest content")
    // an ADJACENT replace still contributes nothing (v2 -> v3 pre-vacuum
    // proved that above via the era-aware test; here: no deletes after v3)
    assert(VersionedHiddenTable.changes(spark, t, 3L, Some(4L))
      .filter(col("_change_type") === "delete").isEmpty,
      "the append step after the replace must report inserts only")
  }

  test("changes: no-op commits are pruned from the plan (long-history hygiene)") {
    val t = tmp("noopchg")
    val ev = events
    VersionedHiddenTable.create(spark, t, half(ev, 0),
      Seq(HiddenPartitioning.DayT("ts")))
    // a burst of EFFECT-FREE merges: each publishes a content-identical
    // snapshot (same eras, same delete files) — the long-history shape a
    // CDC replayer with mostly-empty batches produces
    (1 to 30).foreach { _ =>
      VersionedHiddenTable.merge(spark, t,
        ev.filter(col("event_id") < 0L), Seq("event_id")): Unit
    }
    VersionedHiddenTable.append(spark, t, half(ev, 1))() // one REAL step at the end
    val ch = VersionedHiddenTable.changes(spark, t, 0L)
    // plan hygiene: 30 no-op steps contribute ZERO plan arms — the feed
    // plans one arm for the schema seed and one per real step
    val leaves = ch.queryExecution.logical.collectLeaves().size
    assert(leaves <= 4,
      s"no-op steps must be pruned at plan time, got $leaves leaf plans")
    assert(ch.filter(col("_change_type") === "delete").isEmpty)
    assert(ch.select("event_id").collect().map(_.getLong(0)).sorted.toSeq ==
      ids(half(ev, 1)), "the one real step must survive the pruning")
  }

  test("rollback publishes a reverting snapshot; history and batch replay stay intact") {
    val t = tmp("rollback")
    val ev = events
    val (h1, h2) = (half(ev, 0), half(ev, 1))
    VersionedHiddenTable.create(spark, t, h1, Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.append(spark, t, h2)()                    // v1
    VersionedHiddenTable.delete(spark, t, col("user_id") < 20L)    // v2
    val v3 = VersionedHiddenTable.rollback(spark, t, 1L)
    assert(v3 == 3L, "rollback publishes a NEW version, never rewrites history")
    assert(ids(VersionedHiddenTable.read(spark, t)) == ids(ev),
      "the rolled-back table reads exactly the target snapshot's content")
    assert(ids(VersionedHiddenTable.read(spark, t, Some(2L))) ==
      ids(ev.filter(!(col("user_id") < 20L))),
      "the rolled-back-over snapshot stays readable until vacuum")
    val ops = VersionedHiddenTable.snapshotsMeta(spark, t)
      .orderBy("version").select("op").collect().map(_.getString(0)).toSeq
    assert(ops == Seq("create", "append", "delete", "rollback"),
      s"snapshot ops must record the producing operation: $ops")
    // life goes on after a rollback: appends and vacuum behave normally
    VersionedHiddenTable.append(spark, t, h2.limit(5))()
    assert(VersionedHiddenTable.read(spark, t).count() == ev.count() + 5)
    VersionedHiddenTable.vacuum(spark, t, keep = 1)
    assert(VersionedHiddenTable.versions(spark, t) == Seq(4L))
    assert(VersionedHiddenTable.read(spark, t).count() == ev.count() + 5)
  }

  test("tags pin snapshots through vacuum; travel by name; re-tag refused") {
    val t = tmp("tags")
    val ev = events
    val (h1, h2) = (half(ev, 0), half(ev, 1))
    VersionedHiddenTable.create(spark, t, h1, Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.append(spark, t, h2)()                    // v1
    VersionedHiddenTable.tag(spark, t, "audit-v1", 1L)
    VersionedHiddenTable.delete(spark, t, col("user_id") < 20L)    // v2
    VersionedHiddenTable.compact(spark, t)                         // v3
    // keep=1 would normally drop v0, v1, v2 — the tag pins v1 AND the eras
    // it references
    val dropped = VersionedHiddenTable.vacuum(spark, t, keep = 1)
    assert(dropped == Seq(0L, 2L), s"only unpinned history may drop: $dropped")
    assert(VersionedHiddenTable.versions(spark, t) == Seq(1L, 3L))
    assert(ids(VersionedHiddenTable.readTag(spark, t, "audit-v1")) == ids(ev),
      "the tagged snapshot must read exactly its pinned content after vacuum")
    assert(ids(VersionedHiddenTable.read(spark, t)) ==
      ids(ev.filter(!(col("user_id") < 20L))))
    assert(VersionedHiddenTable.tags(spark, t) == Map("audit-v1" -> 1L))
    // a tag is an audit pin: re-tagging the name is refused, deletion is
    // explicit, and after deletion the pin stops protecting
    intercept[IllegalArgumentException] {
      VersionedHiddenTable.tag(spark, t, "audit-v1", 3L)
    }
    VersionedHiddenTable.dropTag(spark, t, "audit-v1")
    VersionedHiddenTable.vacuum(spark, t, keep = 1)
    assert(VersionedHiddenTable.versions(spark, t) == Seq(3L))
    intercept[IllegalArgumentException] {
      VersionedHiddenTable.readTag(spark, t, "audit-v1")
    }
  }

  test("table service: fragmentation-driven compaction + retention; tidy tables untouched") {
    val t = tmp("service")
    val ev = events
    val h1 = ev.filter(col("ts") < "2024-01-16")
    VersionedHiddenTable.create(spark, t, h1, Seq(HiddenPartitioning.DayT("ts")))
    // six CDC merges -> six key masks + six one-batch eras: exactly the
    // fragmentation the merge-on-read DML path deliberately defers
    (0 until 6).foreach { k =>
      VersionedHiddenTable.merge(spark, t,
        ev.filter(col("ts") < "2024-01-16" && col("user_id") === k.toLong)
          .withColumn("value", col("value") + 1),
        Seq("event_id"))
    }
    val expected = h1.withColumn("value",
      when(col("user_id") < 6L, col("value") + 1).otherwise(col("value")))
    assert(rows3(VersionedHiddenTable.read(spark, t)) == rows3(expected))
    assert(dataEras(t).count(_.startsWith("del-")) == 6)
    val rep = TableService.maintain(spark, t,
      TableService.Policy(maxDelFiles = 4, keepSnapshots = 1))
    assert(rep.compacted && rep.delFiles == 6,
      s"six key masks must exceed the policy threshold: $rep")
    assert(rep.droppedSnapshots.nonEmpty)
    assert(rows3(VersionedHiddenTable.read(spark, t)) == rows3(expected),
      "maintenance must never change a row")
    assert(dataEras(t).count(_.startsWith("del-")) == 0 &&
      dataEras(t).count(_.startsWith("era-")) == 1,
      "compaction + vacuum must fold the fragmentation away")
    // an already-tidy table: the second pass reads manifests and does nothing
    val rep2 = TableService.maintain(spark, t,
      TableService.Policy(maxDelFiles = 4, keepSnapshots = 1))
    assert(!rep2.compacted && rep2.droppedSnapshots.isEmpty &&
      rep2.latestVersion == rep.latestVersion,
      s"a tidy table must not be touched: $rep2")
  }

  test("expireSnapshots: age-based retention spares young and tagged history") {
    val t = tmp("expire")
    val ev = events
    val (h1, h2) = (half(ev, 0), half(ev, 1))
    VersionedHiddenTable.create(spark, t, h1, Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.append(spark, t, h2)()          // v1
    VersionedHiddenTable.tag(spark, t, "pin0", 0L)
    VersionedHiddenTable.append(spark, t, h2.limit(5))() // v2
    // everything was published seconds ago: a 1-hour horizon drops nothing
    assert(VersionedHiddenTable.expireSnapshots(spark, t, 3600L * 1000).isEmpty)
    // a negative horizon ages everything — keepLast spares v2, the tag v0;
    // only v1 is eligible
    val dropped = VersionedHiddenTable.expireSnapshots(spark, t, -1000L)
    assert(dropped == Seq(1L), s"only the unpinned aged snapshot drops: $dropped")
    assert(VersionedHiddenTable.versions(spark, t) == Seq(0L, 2L))
    assert(ids(VersionedHiddenTable.readTag(spark, t, "pin0")) == ids(h1),
      "the tag must still read its pinned content")
    assert(VersionedHiddenTable.read(spark, t).count() == ev.count() + 5)
  }

  test("schema evolution (add column): null backfill, schema-as-of travel, DML interop") {
    val t = tmp("schema-evo")
    val ev = events
    val h1 = ev.filter(col("ts") < "2024-01-16")
    val h2 = ev.filter(col("ts") >= "2024-01-16")
    VersionedHiddenTable.create(spark, t, h1, Seq(HiddenPartitioning.DayT("ts")))
    // a pre-evolution merge-on-read delete: its full-tuple file carries the
    // OLD columns and must keep masking after the schema widens
    VersionedHiddenTable.deleteMergeOnRead(spark, t, col("user_id") === 3L) // v1
    // the evolution is just an append whose batch carries a new column
    VersionedHiddenTable.append(spark, t,
      h2.withColumn("source_tag", lit("batch2")))()                        // v2
    val latest = VersionedHiddenTable.read(spark, t)
    assert(latest.columns.contains("source_tag"),
      "the added column must join the table schema")
    assert(latest.filter(col("source_tag").isNull).count() ==
      h1.filter(col("user_id") =!= 3L).count(),
      "pre-evolution rows read the added column as null (and stay masked)")
    assert(latest.filter(col("source_tag") === "batch2").count() == h2.count())
    // schema-as-of: time travel BEFORE the evolution has no such column
    assert(!VersionedHiddenTable.read(spark, t, Some(1L)).columns.contains("source_tag"),
      "pre-evolution snapshots keep their own schema")
    // DML sees the canonical schema: predicates and SETs on the new column
    // work, and old rows (null tag) pass through a tag-keyed update
    VersionedHiddenTable.update(spark, t, col("source_tag") === "batch2",
      Map("value" -> lit(0.0)))                                            // v3
    val afterUp = VersionedHiddenTable.read(spark, t)
    assert(afterUp.filter(col("source_tag") === "batch2")
      .agg(sum(abs(col("value")))).head().getDouble(0) == 0.0)
    assert(rows3(afterUp.filter(col("source_tag").isNull)) ==
      rows3(h1.filter(col("user_id") =!= 3L)),
      "NULL-predicate rows must pass through the update untouched")
    // a post-evolution full-tuple delete matches pre-evolution rows where
    // the added column is null — exactly how those rows read at delete time
    VersionedHiddenTable.deleteMergeOnRead(spark, t, col("user_id") === 5L) // v4
    assert(VersionedHiddenTable.read(spark, t)
      .filter(col("user_id") === 5L).isEmpty,
      "the delete must reach rows in BOTH schema generations")
    // compaction migrates everything to the canonical schema; time travel
    // before it still answers in the old shape
    val vc = VersionedHiddenTable.compact(spark, t)
    val compacted = VersionedHiddenTable.read(spark, t, Some(vc))
    assert(compacted.columns.contains("source_tag"))
    assert(compacted.count() ==
      ev.filter(col("user_id") =!= 3L || col("ts") >= "2024-01-16")
        .filter(col("user_id") =!= 5L).count())
    // changes across the evolution step: the feed's one schema is the
    // canonical fold, so the pre-evolution baseline still diffs cleanly
    val ch = VersionedHiddenTable.changes(spark, t, 1L, Some(2L))
    assert(ch.columns.contains("source_tag"))
    assert(ch.filter(col("_change_type") === "insert").count() == h2.count())
    // a same-name column with a DIFFERENT type is refused loudly (the
    // staged audit read trips the canonical-schema type check, so the
    // poisoned append publishes nothing)
    val vBefore = VersionedHiddenTable.versions(spark, t).max
    intercept[IllegalArgumentException] {
      VersionedHiddenTable.append(spark, t,
        h2.limit(1).withColumn("source_tag", lit(7)))()
    }
    assert(VersionedHiddenTable.versions(spark, t).max == vBefore,
      "a type-conflicting append must abort, not publish")
  }

  test("changes: an empty range has the schema of a non-empty feed across an add-column evolution") {
    val t = tmp("cdc-schema")
    val base = spark.range(6).select(col("id"), (col("id") * 2).cast("int").as("v"))
    VersionedHiddenTable.create(spark, t, base, Nil)                               // v0
    VersionedHiddenTable.append(spark, t, base.withColumn("tag", lit("new")))()    // v1
    val feed = VersionedHiddenTable.changes(spark, t, 0L, Some(1L))
    assert(feed.count() == 6)
    assert(feed.columns.toSeq == Seq("id", "v", "tag", "_change_type", "_commit_version"))
    // the changelog stream takes its schema from exactly this empty range
    assert(VersionedHiddenTable.changes(spark, t, 1L, Some(1L)).schema == feed.schema)
    assert(VersionedHiddenTable.changes(spark, t, 1L, Some(1L)).isEmpty)
  }

  /** Every node of an executed plan, through the adaptive wrappers. */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: children.flatMap(planNodes)
  }

  /** A rendering that tells apart every value the two diff paths could
    * emit differently: floating values by their raw bits (so `-0.0` and
    * `0.0`, or two NaN payloads, differ), binary by content. */
  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => f"d${java.lang.Double.doubleToRawLongBits(d)}%x"
    case f: Float => f"f${java.lang.Float.floatToRawIntBits(f)}%x"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("b", "", "")
    case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  test("changes: a bounded two-sided step nets on the driver exactly as the distributed aggregate") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val t = tmp("cdc-driver")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType),
      StructField("dec", DecimalType(20, 4)), StructField("bin", BinaryType),
      StructField("s", StructType(Seq(StructField("y", DoubleType), StructField("tag", StringType))))))
    def dec(v: String) = new java.math.BigDecimal(v).setScale(4)
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    def frame(rows: Row*) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(2)
    val nulls = Row(null, null, null, null, null)
    VersionedHiddenTable.create(spark, t, frame(                                        // v0
      Row(1L, 0.0, dec("1.5"), Array[Byte](1, 2), Row(0.0, "a")),
      Row(1L, 0.0, dec("1.5"), Array[Byte](1, 2), Row(0.0, "a")),
      Row(2L, Double.NaN, null, null, null),
      Row(3L, 1.0, dec("2"), Array[Byte](3), Row(Double.NaN, "b")),
      Row(4L, -0.0, dec("3"), Array[Byte](), Row(-0.0, "c")),
      nulls), Nil)
    VersionedHiddenTable.overwrite(spark, t, frame(                                     // v1
      Row(1L, -0.0, dec("1.5"), Array[Byte](1, 2), Row(-0.0, "a")), // one of two copies left
      Row(2L, otherNaN, null, null, null),                          // same group: NaN
      Row(3L, 1.0, dec("2"), Array[Byte](3), Row(otherNaN, "b")),   // same group: nested NaN
      Row(4L, 0.0, dec("3"), Array[Byte](), Row(0.0, "c")),         // same group: -0.0 = 0.0
      Row(5L, 2.5, dec("9.9999"), Array[Byte](-1), Row(1.0, null)),
      Row(6L, -0.0, dec("0.0001"), Array[Byte](0), Row(-0.0, "z")), // emitted normalized
      nulls, nulls, nulls))
    def feed(): (Seq[String], DataFrame) = {
      val ch = VersionedHiddenTable.changes(spark, t, 0L)
      (ch.collect().map(render).sorted.toSeq, ch)
    }
    val (onDriver, local) = feed()
    assert(local.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "a step under the broadcast threshold must net on the driver")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val distributed = try feed()._1 finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(onDriver == distributed,
      s"the driver diff must emit the aggregate's multiset:\n$onDriver\nvs\n$distributed")
    val types = local.collect().map(r => r.getAs[Any]("id") -> r.getAs[String]("_change_type")).toSeq
    assert(types.sortBy(_.toString) == Seq(1L -> "delete", 5L -> "insert", 6L -> "insert",
      (null, "insert"), (null, "insert")).sortBy(_.toString),
      s"-0.0/NaN rows must group with 0.0/NaN rows and duplicates must net: $types")
  }

  test("changes: a bounded two-sided step costs one job; past the threshold it plans the aggregate") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val t = tmp("cdc-jobs")
    val base = spark.range(40).select(col("id"), (col("id") % 7).cast("double").as("x"))
    VersionedHiddenTable.create(spark, t, base, Nil)                                // v0
    VersionedHiddenTable.overwrite(spark, t,
      base.filter(col("id") > 5L).union(spark.range(100, 104).select(col("id"),
        lit(0.5).as("x"))))                                                          // v1
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      val j0 = jobs.get
      body
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      jobs.get - j0
    }
    // the first call warms the per-session frame and stats caches
    assert(VersionedHiddenTable.changes(spark, t, 0L).count() == 10)
    spark.sparkContext.addSparkListener(listener)
    try assert(jobsOf(VersionedHiddenTable.changes(spark, t, 0L).collect(): Unit) == 1,
      "a bounded overwrite step: one scan job, no shuffle stage")
    finally spark.sparkContext.removeSparkListener(listener)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ch = VersionedHiddenTable.changes(spark, t, 0L)
      assert(ch.count() == 10)
      ch.collect(): Unit
      assert(planNodes(ch.queryExecution.executedPlan).exists(_.isInstanceOf[HashAggregateExec]),
        "a threshold of -1 keeps the distributed aggregate")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("publish skips a foreign v=<n> directory instead of nesting into it") {
    val t = tmp("race")
    val ev = events
    val (h1, h2) = (half(ev, 0), half(ev, 1))
    VersionedHiddenTable.create(spark, t, h1, Seq(HiddenPartitioning.DayT("ts")))
    // simulate an external publisher (or crashed debris) occupying v=1:
    // a bare rename would move the staged dir INSIDE it and silently lose
    // the append — publish must detect and take the next id instead
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new Path(s"$t/v=1"))
    val res = VersionedHiddenTable.append(spark, t, h2)()
    assert(res == Right(2L), s"publish must step over the occupied id: $res")
    assert(ids(VersionedHiddenTable.read(spark, t)) == ids(ev),
      "the stepped-over publish must lose nothing")
    assert(!fs.exists(new Path(s"$t/v=1/_snapshot.json")) &&
      fs.exists(new Path(s"$t/v=2/_snapshot.json")),
      "the manifest must land at the TOP of its own version dir")
  }
}
