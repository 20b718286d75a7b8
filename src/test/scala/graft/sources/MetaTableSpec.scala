package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Metadata tables ($files / $partitions / $snapshots): operational
  * answers from the stats manifests alone. Counts are proven against full
  * recomputes of the same data, and the metadata-only claim is asserted
  * structurally — the plans must contain NO file scan.
  */
class MetaTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def noScan(df: DataFrame): Unit = {
    df.collect(): Unit
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.isEmpty, "metadata tables must not scan data files:\n" +
      df.queryExecution.executedPlan.treeString)
  }

  test("filesMeta: per-file row counts equal a full recompute; no data scan") {
    val ev = graft.core.Tables.load(spark, dir, "events").drop("props")
    val path = tmp("graft-meta-files")
    HiddenPartitioning.write(ev.repartitionByRange(4, col("user_id")), path,
      Seq(HiddenPartitioning.DayT("ts")))
    val meta = HiddenPartitioning.filesMeta(spark, path)
    noScan(meta)
    // part-file NAMES repeat across partition directories — key by the
    // partition-relative path, not the bare name
    val truth = spark.read.parquet(path)
      .groupBy(input_file_name().as("f")).agg(count(lit(1)).as("rows"))
      .collect()
      .map(r => r.getString(0).split('/').takeRight(2).mkString("/") -> r.getLong(1))
      .toMap
    val got = meta.select("partition", "file", "rows").collect()
      .map(r => s"${r.getString(0)}/${r.getString(1)}" -> r.getLong(2)).toMap
    assert(got == truth, s"manifest counts diverged: $got vs $truth")
    // partition column carries the derived day dir
    assert(meta.select("partition").collect()
      .forall(_.getString(0).startsWith("_p_day_ts=")))
  }

  test("partitionsMeta on an evolved table: per-era aggregation, total exact") {
    val ev = graft.core.Tables.load(spark, dir, "events").drop("props")
    val path = tmp("graft-meta-evo")
    HiddenPartitioning.write(ev.filter(col("ts") < "2024-01-16"), path,
      Seq(HiddenPartitioning.DayT("ts")))
    HiddenPartitioning.evolveSpec(spark, path, Seq(
      HiddenPartitioning.DayT("ts"), HiddenPartitioning.BucketT(8, "user_id")))
    HiddenPartitioning.append(ev.filter(col("ts") >= "2024-01-16"), path)
    val parts = HiddenPartitioning.partitionsMeta(spark, path)
    noScan(parts)
    assert(parts.select("era").distinct().count() == 2, "both eras must report")
    val total = parts.agg(sum("n_rows")).collect()(0).getLong(0)
    assert(total == ev.count(), "manifest totals must equal the row count")
    // era-1 partitions are two-level (day + bucket)
    assert(parts.filter(col("era") === "_era-1").collect()
      .forall(_.getAs[String]("partition").contains("/_p_bucket8_user_id=")))
  }

  test("s19 registry query: metadata-only rows-per-day, equal to a recount") {
    val out = graft.SparkEntry.queries("s19_partition_metadata_table")(spark, dir)
    noScan(out)
    val ev = graft.core.Tables.load(spark, dir, "events")
    val truth = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_rows"))
    assert(out.exceptAll(truth).count() == 0 && truth.exceptAll(out).count() == 0)
  }

  test("versioned table: $files per snapshot and $snapshots with batch ids") {
    val ev = graft.core.Tables.load(spark, dir, "events").drop("props")
    val path = tmp("graft-meta-vht") + "/t"
    VersionedHiddenTable.create(spark, path,
      ev.filter(col("ts") < "2024-01-16"), Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.append(spark, path,
      ev.filter(col("ts") >= "2024-01-16"), batchId = Some("back-half"))()
    val latest = VersionedHiddenTable.filesMeta(spark, path)
    noScan(latest)
    assert(latest.agg(sum("rows")).collect()(0).getLong(0) == ev.count())
    val v0 = VersionedHiddenTable.filesMeta(spark, path, Some(0L))
    assert(v0.agg(sum("rows")).collect()(0).getLong(0) ==
      ev.filter(col("ts") < "2024-01-16").count(),
      "snapshot-scoped $files must see only its own eras")
    val snaps = VersionedHiddenTable.snapshotsMeta(spark, path)
    noScan(snaps)
    val rows = snaps.orderBy("version").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(rows(1).getSeq[String](2) == Seq("back-half"), "batch id must surface")
    assert(rows(1).getSeq[String](1).size == 2, "v1 references both eras")
  }

  test("count pushdown: bare count(*) folds to the manifest sum; every guard keeps the scan") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val path = tmp("graft-meta-count")
    spark.range(0, 1000, 1, 4)
      .select(col("id"), when(col("id") % 5 === 0, lit(null)).otherwise(col("id")).as("maybe"))
      .write.mode("overwrite").parquet(path)
    FileStats.write(spark, path)
    def folded(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectFirst { case l: LocalRelation => l }.isDefined

    val bare = spark.read.parquet(path).agg(count(lit(1)).as("n"))
    assert(bare.collect()(0).getLong(0) == 1000)
    assert(folded(bare), "ungrouped unfiltered count(*) must fold to metadata:\n" +
      bare.queryExecution.optimizedPlan.treeString)

    // count(col) counts non-nulls — metadata must NOT answer it
    val countCol = spark.read.parquet(path).agg(count(col("maybe")).as("n"))
    assert(countCol.collect()(0).getLong(0) == 800)
    assert(!folded(countCol), "count(col) must scan")

    // a filter disqualifies (that is StatsFileSkipping's job)
    val filtered = spark.read.parquet(path).filter(col("id") < 100L).agg(count(lit(1)).as("n"))
    assert(filtered.collect()(0).getLong(0) == 100)

    // grouped counts are untouched
    val grouped = spark.read.parquet(path)
      .groupBy((col("id") % 2).as("p")).agg(count(lit(1)).as("n"))
    assert(grouped.collect().map(_.getLong(1)).sum == 1000)
    assert(!folded(grouped), "grouped count must scan")

    // stale manifest: an appended unlisted file forces the real count
    spark.range(5000, 5100).select(col("id"), col("id").as("maybe"))
      .coalesce(1).write.mode("append").parquet(path)
    val stale = spark.read.parquet(path).agg(count(lit(1)).as("n"))
    assert(stale.collect()(0).getLong(0) == 1100,
      "a stale manifest must never undercount")
    assert(!folded(stale), "unlisted files must force a scan")
  }

  test("SQL face: graft_table/graft_files/graft_partitions/graft_snapshots TVFs") {
    val ev = graft.core.Tables.load(spark, dir, "events").drop("props")
    val path = tmp("graft-meta-sql") + "/t"
    VersionedHiddenTable.create(spark, path,
      ev.filter(col("ts") < "2024-01-16"), Seq(HiddenPartitioning.DayT("ts")))
    VersionedHiddenTable.append(spark, path,
      ev.filter(col("ts") >= "2024-01-16"), batchId = Some("b-sql"))()

    // the table itself, latest + time travel, entirely through spark.sql
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table('$path')")
      .head().getLong(0) == ev.count())
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table('$path', 0)")
      .head().getLong(0) == ev.filter(col("ts") < "2024-01-16").count(),
      "SQL time travel must see exactly the v0 rows")
    // source columns only — the derived partition columns stay hidden in SQL
    assert(spark.sql(s"SELECT * FROM graft_table('$path') LIMIT 1")
      .columns.sorted.toSeq == ev.columns.sorted.toSeq)

    // $files: manifest row counts, no data scan, fresh per query
    val files = spark.sql(
      s"SELECT sum(rows) AS n, count(*) AS files FROM graft_files('$path')")
    noScan(files)
    assert(files.head().getLong(0) == ev.count())
    // $partitions aggregates the same manifests
    val parts = spark.sql(
      s"SELECT sum(n_rows) AS n FROM graft_partitions('$path')")
    noScan(parts)
    assert(parts.head().getLong(0) == ev.count())
    // $snapshots carries versions and batch ids
    val snaps = spark.sql(
      s"SELECT version, batch_ids FROM graft_snapshots('$path') ORDER BY version")
      .collect()
    assert(snaps.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(snaps(1).getSeq[String](1) == Seq("b-sql"))

    // freshness: a new append is visible to the NEXT SQL query without any
    // re-registration (the builder runs per analysis, not per session)
    VersionedHiddenTable.append(spark, path, ev.limit(5))()
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table('$path')")
      .head().getLong(0) == ev.count() + 5)
    assert(spark.sql(s"SELECT max(version) AS v FROM graft_snapshots('$path')")
      .head().getLong(0) == 2L)

    // the changelog through SQL: (v0, v1] = the appended back half as
    // inserts; (v1, latest] = the 5-row append; sub-ranges compose
    val step1 = spark.sql(
      s"""SELECT _change_type, count(*) AS n
         |FROM graft_changes('$path', 0, 1) GROUP BY 1""".stripMargin).collect()
    assert(step1.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("insert", ev.filter(col("ts") >= "2024-01-16").count())),
      "the append step must surface as pure inserts through SQL")
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_changes('$path', 1)")
      .head().getLong(0) == 5L,
      "the open-ended range must cover exactly the later commits")

    // tags through SQL: pin v0, travel by NAME, list the refs
    VersionedHiddenTable.tag(spark, path, "pin0", 0L)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table('$path', 'pin0')")
      .head().getLong(0) == ev.filter(col("ts") < "2024-01-16").count(),
      "tag-name time travel must read the pinned snapshot")
    assert(spark.sql(s"SELECT name, version FROM graft_tags('$path')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("pin0", 0L)))

    // the hidden-partitioned (non-versioned) flavor through the same TVFs
    val hpPath = tmp("graft-meta-sql-hp")
    HiddenPartitioning.write(ev, hpPath, Seq(HiddenPartitioning.DayT("ts")))
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table('$hpPath')")
      .head().getLong(0) == ev.count())
    val hpFiles = spark.sql(s"SELECT sum(rows) AS n FROM graft_files('$hpPath')")
    noScan(hpFiles)
    assert(hpFiles.head().getLong(0) == ev.count())
    // time travel on a non-versioned table refuses loudly
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_table('$hpPath', 0)").collect()
    }

    // graft_columns: column-level stats for a flat stats-carrying dir,
    // NDV bounds appearing only after an explicit analyze pass
    val colPath = tmp("graft-meta-sql-cols")
    ev.select("event_id", "user_id", "event_type")
      .repartition(4).write.mode("overwrite").parquet(colPath)
    FileStats.write(spark, colPath)
    FileStats.analyze(spark, colPath)
    val colsDf = spark.sql(
      s"SELECT column, ndv_lo, ndv_hi, nulls FROM graft_columns('$colPath')")
    noScan(colsDf)
    val byName = colsDf.collect().map(r => r.getString(0) -> r).toMap
    val trueUsers = ev.select("user_id").distinct().count()
    assert(byName("user_id").getLong(1) <= trueUsers * 1.06,
      "ndv_lo must not exceed the true distinct count (mod HLL error)")
    assert(byName("user_id").getLong(2) * 1.06 >= trueUsers,
      "ndv_hi must cover the true distinct count (mod HLL error)")
    assert(byName("event_id").getLong(3) == 0, "null counts fold exactly")
  }

  test("an era without a stats manifest fails loudly, never undercounts") {
    val path = tmp("graft-meta-nostats")
    spark.range(0, 10).select(col("id")).write.mode("overwrite").parquet(path)
    // a bare parquet dir: spec-less -> filesMeta treats it as the root era
    // and demands the manifest
    HiddenPartitioning.writeSpecFile(spark, path, Seq(HiddenPartitioning.IdentityT("id")))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(path, FileStats.StatsFile), false)
    intercept[IllegalStateException] {
      HiddenPartitioning.filesMeta(spark, path).collect()
    }
  }
}
