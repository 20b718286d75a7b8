package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The DSv2 `graft` catalog ([[GraftCatalog]]): SQL three-part names, DML
  * and time travel resolve to the SAME storage layer as the Scala API —
  * reads are an analysis-time splice of the library plan (so stats
  * skipping still prunes, plan-asserted), INSERT INTO/OVERWRITE land as
  * append/overwrite snapshots, DELETE FROM runs the copy-on-write delete. */
class CatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private var catSeq = 0
  /** Fresh warehouse + registered catalog per test (catalog instances cache
    * by name, so each warehouse needs its own name). */
  private def freshCatalog(tag: String): (String, String) = {
    catSeq += 1
    val wh = java.nio.file.Files.createTempDirectory(s"graft-cat-$tag").toString
    (GraftCatalog.register(spark, s"gcat_${tag}_$catSeq", wh), wh)
  }

  private def events: DataFrame = graft.core.Tables.load(spark, dir, "events")

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

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

  private def scannedFiles(df: DataFrame): Long = {
    df.collect(): Unit
    flatten(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }

  test("SQL SELECT, VERSION AS OF, tag travel and SYSTEM_TIME equal the Scala API") {
    val (cat, wh) = freshCatalog("read")
    val ev = events
    VersionedHiddenTable.create(spark, s"$wh/db/t",
      ev.filter(col("ts") < "2024-01-16"), Seq(HiddenPartitioning.DayT("ts"))): Unit
    assert(VersionedHiddenTable.append(spark, s"$wh/db/t",
      ev.filter(col("ts") >= "2024-01-16"))().isRight)
    VersionedHiddenTable.tag(spark, s"$wh/db/t", "audit", 0L)
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.t")) ==
      canon(VersionedHiddenTable.read(spark, s"$wh/db/t")),
      "catalog SELECT must equal the Scala read")
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 0")) ==
      canon(VersionedHiddenTable.read(spark, s"$wh/db/t", Some(0L))),
      "VERSION AS OF must time-travel")
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 'audit'")) ==
      canon(VersionedHiddenTable.read(spark, s"$wh/db/t", Some(0L))),
      "VERSION AS OF a tag name must resolve through refs")
    // SYSTEM_TIME far in the future resolves to the latest snapshot
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t " +
      "FOR SYSTEM_TIME AS OF '2099-01-01'").head().getLong(0) == ev.count())
    // and a filtered aggregate (pushdown path) matches too
    assert(canon(spark.sql(
      s"SELECT event_type, count(*) AS n FROM $cat.db.t " +
        "WHERE user_id < 10 GROUP BY event_type")) ==
      canon(VersionedHiddenTable.read(spark, s"$wh/db/t")
        .filter(col("user_id") < 10).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))))
  }

  test("INSERT INTO appends; INSERT OVERWRITE replaces; DELETE FROM is copy-on-write DML") {
    val (cat, wh) = freshCatalog("dml")
    val ev = events
    val t = s"$wh/t"
    VersionedHiddenTable.create(spark, t, ev.filter(col("ts") < "2024-01-16"),
      Seq(HiddenPartitioning.DayT("ts"))): Unit
    ev.filter(col("ts") >= "2024-01-16").createOrReplaceTempView("cat_rest")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM cat_rest").collect(): Unit
    assert(VersionedHiddenTable.versions(spark, t) == Seq(0L, 1L))
    assert(canon(spark.sql(s"SELECT * FROM $cat.t")) == canon(ev),
      "after INSERT INTO the table holds the full content")
    spark.sql(s"DELETE FROM $cat.t WHERE user_id < 10").collect(): Unit
    assert(VersionedHiddenTable.versions(spark, t) == Seq(0L, 1L, 2L))
    assert(canon(spark.sql(s"SELECT * FROM $cat.t")) ==
      canon(ev.filter(col("user_id") >= 10)),
      "DELETE FROM must remove exactly the matching rows")
    assert(canon(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1")) == canon(ev),
      "the pre-delete snapshot stays readable")
    ev.filter(col("user_id") < 3).createOrReplaceTempView("cat_over")
    spark.sql(s"INSERT OVERWRITE $cat.t SELECT * FROM cat_over").collect(): Unit
    assert(VersionedHiddenTable.manifest(spark, t, 3L).op == "overwrite",
      "INSERT OVERWRITE must publish an op=overwrite snapshot")
    assert(canon(spark.sql(s"SELECT * FROM $cat.t")) ==
      canon(ev.filter(col("user_id") < 3)))
  }

  test("stats skipping prunes era files through the catalog read (plan-asserted)") {
    val (cat, wh) = freshCatalog("prune")
    val t = s"$wh/t"
    VersionedHiddenTable.create(spark, t, events, Nil): Unit
    // clustered compaction lays files out with disjoint event_id spans —
    // the layout StatsFileSkipping monetizes
    VersionedHiddenTable.compact(spark, t, clusterBy = Seq("event_id"),
      targetBytes = 1L << 10): Unit
    val total = scannedFiles(spark.sql(s"SELECT * FROM $cat.t"))
    assert(total >= 8, s"precondition: need a multi-file layout, got $total")
    val narrow = scannedFiles(spark.sql(
      s"SELECT * FROM $cat.t WHERE event_id BETWEEN 10 AND 20"))
    assert(narrow * 2 < total,
      s"a narrow key-range catalog read must prune files: $narrow of $total scanned")
  }

  test("SYSTEM_TIME travel resolves along MAIN even when a branch commit is newest") {
    val (cat, wh) = freshCatalog("ttbranch")
    val ev = events
    val t = s"$wh/db/t"
    VersionedHiddenTable.create(spark, t, ev.filter(col("user_id") < 8),
      Seq(HiddenPartitioning.DayT("ts"))): Unit                 // v0 (main)
    VersionedHiddenTable.createBranch(spark, t, "wip"): Unit
    assert(VersionedHiddenTable.appendToBranch(spark, t, "wip",
      ev.filter(col("user_id") >= 8))().isRight)                 // v1 (BRANCH) — newest
    // a future timestamp sees every published snapshot; the newest is the
    // branch commit, which main has never seen — Iceberg resolves timestamp
    // travel along the main branch, so the read must return v0's content
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.t " +
      "FOR SYSTEM_TIME AS OF '2099-01-01'")) ==
      canon(ev.filter(col("user_id") < 8)),
      "timestamp travel must not leak branch-only content")
  }

  test("DELETE FROM with a graft-relation subquery condition splices the inner read") {
    val (cat, wh) = freshCatalog("delsub")
    val ev = events
    VersionedHiddenTable.create(spark, s"$wh/t", ev, Nil): Unit
    VersionedHiddenTable.create(spark, s"$wh/u",
      ev.filter(col("user_id") < 5).select(col("user_id")).distinct(), Nil): Unit
    // the inner graft.u read sits inside DeleteFromTable's condition — it
    // must still get the analysis-time splice (the target alone stays a V2
    // relation for SupportsDelete planning)
    spark.sql(s"DELETE FROM $cat.t WHERE user_id IN " +
      s"(SELECT user_id FROM $cat.u)").collect(): Unit
    assert(canon(spark.sql(s"SELECT * FROM $cat.t")) ==
      canon(ev.filter(col("user_id") >= 5)),
      "the subquery-driven DELETE must remove exactly the matching rows")
  }

  test("catalog hygiene: listTables, dropTable, unsupported ALTER refuses loudly") {
    val (cat, wh) = freshCatalog("hyg")
    VersionedHiddenTable.create(spark, s"$wh/db/a", events.limit(10), Nil): Unit
    VersionedHiddenTable.create(spark, s"$wh/db/b", events.limit(10), Nil): Unit
    assert(canon(spark.sql(s"SHOW TABLES IN $cat.db").select("tableName")) ==
      Seq("[a]", "[b]"))
    // non-ADD changes break the add-only null-fill fold and refuse loudly
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.a DROP COLUMN value").collect()
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.a RENAME COLUMN value TO v2").collect()
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.a").head().getLong(0) == 10L)
    spark.sql(s"DROP TABLE $cat.db.a").collect(): Unit
    val fs = new Path(wh).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new Path(s"$wh/db/a")), "DROP TABLE must delete the dir")
    assert(canon(spark.sql(s"SHOW TABLES IN $cat.db").select("tableName")) ==
      Seq("[b]"))
  }

  test("ALTER TABLE ADD COLUMNS: SQL schema evolution, time travel across the boundary") {
    val (cat, wh) = freshCatalog("addcol")
    val ev = events
    val t = s"$wh/db/t"
    VersionedHiddenTable.create(spark, t, ev.filter(col("user_id") < 8),
      Seq(HiddenPartitioning.DayT("ts"))): Unit
    spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMNS (score DOUBLE, note STRING)")
      .collect(): Unit
    assert(VersionedHiddenTable.mainVersions(spark, t) == Seq(0L, 1L),
      "the evolution is a published snapshot")
    // widened schema visible; old rows null-fill
    val widened = spark.sql(s"SELECT * FROM $cat.db.t")
    assert(widened.columns.takeRight(2).toSeq == Seq("score", "note"))
    assert(widened.filter(col("score").isNotNull).count() == 0)
    // INSERT with the widened schema, then read both sides of the boundary
    ev.filter(col("user_id") >= 8)
      .withColumn("score", col("value") * 2)
      .withColumn("note", lit("new")).createOrReplaceTempView("addcol_rest")
    spark.sql(s"INSERT INTO $cat.db.t SELECT * FROM addcol_rest").collect(): Unit
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t WHERE note = 'new'")
      .head().getLong(0) == ev.filter(col("user_id") >= 8).count())
    assert(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 0").columns
      .toSeq == ev.columns.toSeq,
      "pre-evolution snapshots keep the narrow schema")
    // duplicate column refuses
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMNS (score DOUBLE)").collect()
    }
  }

  test("branch SQL face: db.t.branch_<name> reads/writes; VERSION AS OF branch; main isolated") {
    val (cat, wh) = freshCatalog("branch")
    val ev = events
    val t = s"$wh/db/t"
    VersionedHiddenTable.create(spark, t, ev.filter(col("user_id") < 8),
      Seq(HiddenPartitioning.DayT("ts"))): Unit
    VersionedHiddenTable.createBranch(spark, t, "wip"): Unit
    // SQL branch read == Scala branchHead read
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.t.branch_wip")) ==
      canon(VersionedHiddenTable.readBranch(spark, t, "wip")))
    // SQL write to the branch leaves main's SQL read unchanged
    ev.filter(col("user_id") >= 8).createOrReplaceTempView("branch_rest")
    spark.sql(s"INSERT INTO $cat.db.t.branch_wip SELECT * FROM branch_rest")
      .collect(): Unit
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.t")) ==
      canon(ev.filter(col("user_id") < 8)),
      "main must not see branch commits")
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.t.branch_wip")) == canon(ev),
      "the branch face reads its own head")
    // VERSION AS OF '<branch>' resolves the branch head read-only
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 'wip'")) ==
      canon(ev))
    // branch faces refuse OVERWRITE and DML
    intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE $cat.db.t.branch_wip SELECT * FROM branch_rest").collect()
    }
    intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.db.t.branch_wip WHERE user_id < 3").collect()
    }
    // after fast-forward, main's SQL read picks the branch content up
    VersionedHiddenTable.fastForward(spark, t, "wip"): Unit
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.t")) == canon(ev),
      "fast-forward publishes the branch content to main")
  }

  test("CALL procedures: compact preserves content and reduces files; retention; maintain") {
    val (cat, wh) = freshCatalog("proc")
    val ev = events
    val t = s"$wh/db/t"
    VersionedHiddenTable.create(spark, t, ev.filter(col("ts") < "2024-01-16"), Nil): Unit
    assert(VersionedHiddenTable.append(spark, t,
      ev.filter(col("ts") >= "2024-01-16"))().isRight)
    assert(VersionedHiddenTable.deleteMergeOnRead(spark, t, col("user_id") === 3L) == 2L)
    val before = canon(spark.sql(s"SELECT * FROM $cat.db.t"))
    val scanBefore = scannedFiles(spark.sql(s"SELECT * FROM $cat.db.t"))
    // SQL-invoked clustered compaction: content hash unchanged, one era,
    // mask retired, and a key-range read prunes files afterwards
    val v = spark.sql(
      s"CALL $cat.system.compact('db.t', 'event_id', ${1L << 10})")
      .head().getLong(0)
    assert(v == 3L, "compaction publishes a snapshot and returns its version")
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.t")) == before,
      "compaction must not change a row")
    val total = scannedFiles(spark.sql(s"SELECT * FROM $cat.db.t"))
    val narrow = scannedFiles(spark.sql(
      s"SELECT * FROM $cat.db.t WHERE event_id BETWEEN 10 AND 20"))
    assert(narrow * 2 < total,
      s"clustered CALL compact must enable file skipping: $narrow of $total")
    // tag v0, then CALL vacuum: the tag pin survives, untagged history goes
    VersionedHiddenTable.tag(spark, t, "keep0", 0L)
    val dropped = spark.sql(s"CALL $cat.system.vacuum('db.t', 1)")
      .collect().map(_.getLong(0)).toSeq
    assert(dropped == Seq(1L, 2L), s"vacuum drops untagged history: $dropped")
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 'keep0'")) ==
      canon(ev.filter(col("ts") < "2024-01-16")), "the tag pin survives CALL vacuum")
    // maintain on the now-tidy table: no compaction, nothing dropped
    val r = spark.sql(s"CALL $cat.system.maintain('db.t')").head()
    assert(!r.getBoolean(2), "a tidy table must not re-compact")
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.t")) == before)
  }

  test("CREATE TABLE (bare + PARTITIONED BY + CTAS): SQL DDL reaches the storage layer") {
    val (cat, wh) = freshCatalog("ctas")
    val ev = events
    ev.filter(col("ts") < "2024-01-16").createOrReplaceTempView("ctas_first")
    ev.filter(col("ts") >= "2024-01-16").createOrReplaceTempView("ctas_rest")
    // CTAS with a hidden-partitioning transform: v0 empty create, v1 spec
    // evolution (days), v2 the CTAS batch
    spark.sql(s"CREATE TABLE $cat.db.t PARTITIONED BY (days(ts)) " +
      "AS SELECT * FROM ctas_first").collect(): Unit
    assert(VersionedHiddenTable.versions(spark, s"$wh/db/t") == Seq(0L, 1L, 2L))
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.t")) ==
      canon(ev.filter(col("ts") < "2024-01-16")))
    // the declared spec is the CURRENT spec: the CTAS batch landed under
    // day-derived partition directories
    val fs = new Path(wh).getFileSystem(spark.sessionState.newHadoopConf())
    val era2 = fs.listStatus(new Path(s"$wh/db/t/data/era-2"))
      .map(_.getPath.getName).filter(_.contains("="))
    assert(era2.nonEmpty && era2.forall(_.startsWith("_p_day_")),
      s"the CTAS batch must lay out under the declared days(ts) spec: ${era2.toSeq}")
    // later INSERTs use the same spec; the content composes
    spark.sql(s"INSERT INTO $cat.db.t SELECT * FROM ctas_rest").collect(): Unit
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.t")) == canon(ev))
    // duplicate CREATE refuses; the empty pre-CTAS snapshot reads as zero rows
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.db.t (x INT)").collect()
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF 1")
      .head().getLong(0) == 0L)
    // bare CREATE TABLE: durable, empty, writable
    spark.sql(s"CREATE TABLE $cat.db.e (x INT, y STRING)").collect(): Unit
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.e").head().getLong(0) == 0L)
    spark.sql(s"INSERT INTO $cat.db.e VALUES (1, 'a'), (2, 'b')").collect(): Unit
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.e")) == Seq("[1,a]", "[2,b]"))
  }
}
