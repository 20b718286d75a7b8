package graft.sources

import java.sql.Date

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** File-level stats + plan-time skipping. Every skipping assertion is
  * paired with a differential one (pruned result == unpruned result),
  * because a stats bug that drops a qualifying FILE is silent data loss —
  * the same pairing discipline as HiddenPartitioningSpec. Harvest
  * correctness is proven against a full recompute of the same quantities
  * from the data.
  */
class FileStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** Total parquet files the executed plan actually scanned (sums over all
    * file scans — era-union reads have one per branch). */
  private def scannedFiles(df: DataFrame): Long = {
    df.collect(): Unit
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
  }

  /** Differential check: `pred` over the stats-carrying `pruned` read must
    * return exactly the rows it returns over `plain` (same data, no stats
    * manifest — skipping impossible). */
  private def lossless(pruned: DataFrame, plain: DataFrame,
      pred: org.apache.spark.sql.Column): Unit = {
    val a = pruned.filter(pred)
    val b = plain.filter(pred)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      s"skipping changed the answer for $pred")
  }

  // ---- harvest ----------------------------------------------------------------

  test("harvest: per-file min/max/null-count/row-count equal a full recompute") {
    val df = spark.range(0, 1000)
      .select(col("id"),
        when(col("id") % 7 === 0, lit(null))
          .otherwise(concat(lit("k"), lpad(col("id").cast("string"), 4, "0")))
          .as("s"),
        date_add(lit(Date.valueOf("2024-01-01")), (col("id") % 50).cast("int")).as("d"),
        (col("id") % 2 === 0).as("b"),
        col("id").cast("double").as("v"))
      .repartitionByRange(4, col("id"))
    val path = tmp("graft-fs-harvest")
    df.write.mode("overwrite").parquet(path)
    FileStats.write(spark, path)
    val recs = FileStats.stats(spark, path).get
    assert(recs.size == 4, s"expected 4 per-file records, got ${recs.keySet}")

    val truth = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("rows"),
        min("id").as("id_min"), max("id").as("id_max"),
        sum(isnull(col("s")).cast("long")).as("s_nulls"),
        min("s").as("s_min"), max("s").as("s_max"),
        min("d").as("d_min"), max("d").as("d_max"))
      .collect()
    truth.foreach { r =>
      val name = r.getString(0).split('/').last // flat dir: rel path == name
      val rec = recs(name)
      assert(rec.rows == r.getLong(1))
      val id = rec.cols("id")
      assert(id.kind == "int" && id.mm == "ex" && id.nulls.contains(0L))
      assert(id.min == r.getLong(2) && id.max == r.getLong(3))
      val s = rec.cols("s")
      assert(s.kind == "string" && s.mm == "ex")
      assert(s.nulls.contains(r.getLong(4)))
      assert(new String(s.min.asInstanceOf[Array[Byte]], "UTF-8") == r.getString(5))
      assert(new String(s.max.asInstanceOf[Array[Byte]], "UTF-8") == r.getString(6))
      val d = rec.cols("d")
      assert(d.kind == "date" && d.mm == "ex")
      assert(d.min == r.getDate(7).toLocalDate.toEpochDay)
      assert(d.max == r.getDate(8).toLocalDate.toEpochDay)
      assert(rec.cols("b").kind == "bool")
      // doubles are deliberately excluded from skipping (NaN poisoning)
      assert(!rec.cols.contains("v"))
    }
  }

  test("harvest: micros timestamps carry stats; the manifest survives a reload") {
    val ev = graft.core.Tables.load(spark, dir, "events")
    val path = tmp("graft-fs-ts")
    ev.repartitionByRange(4, col("ts")).write.mode("overwrite").parquet(path)
    FileStats.write(spark, path)
    val recs = FileStats.stats(spark, path).get
    val tsKinds = recs.values.map(_.cols("ts").kind).toSet
    assert(tsKinds == Set("tsutc"),
      s"TIMESTAMP_MICROS writer sessions must yield skippable ts stats: $tsKinds")
    // min/max really are micros: range must cover the table's span
    val Array(lo, hi) = ev.agg(min("ts"), max("ts")).collect()
      .flatMap(r => Seq(r.getTimestamp(0), r.getTimestamp(1)))
    val mins = recs.values.map(_.cols("ts").min.asInstanceOf[Long]).min
    val maxs = recs.values.map(_.cols("ts").max.asInstanceOf[Long]).max
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    assert(mins == micros(lo))
    assert(maxs == micros(hi))
  }

  // ---- skipping ---------------------------------------------------------------

  test("z-order layout: plan-time skipping prunes files on either dimension, lossless") {
    val ev = graft.core.Tables.load(spark, dir, "events")
      .withColumn("ts_s", unix_timestamp(col("ts"))).drop("ts", "props")
    val zPath = tmp("graft-fs-z")
    Layout.zorderWrite(ev, "user_id", "ts_s", zPath, 8) // writes stats now
    val plainPath = tmp("graft-fs-plain")
    ev.repartition(8).write.mode("overwrite").parquet(plainPath) // no stats manifest
    val pruned = spark.read.parquet(zPath)
    val plain = spark.read.parquet(plainPath)

    val preds = Seq(
      col("user_id").between(5L, 25L),
      col("user_id") === 7L,
      col("user_id").isin(3L, 5L, 17L),
      col("ts_s") >= lit(1705276800L),
      col("user_id") < 10L && col("ts_s") < lit(1705276800L))
    preds.foreach(lossless(pruned, plain, _))

    val hit = scannedFiles(pruned.filter(col("user_id").between(5L, 25L)))
    assert(hit < 8, s"z-order + file stats must skip files: scanned $hit of 8")
    assert(scannedFiles(plain.filter(col("user_id").between(5L, 25L))) == 8,
      "the stats-free twin has no license to skip anything")
  }

  test("provably-empty predicate folds the whole scan to an empty LocalRelation") {
    val ev = graft.core.Tables.load(spark, dir, "events").drop("props")
    val path = tmp("graft-fs-empty")
    ev.write.mode("overwrite").parquet(path)
    FileStats.write(spark, path)
    val hi = ev.agg(max("user_id")).collect()(0).getLong(0)
    val q = spark.read.parquet(path).filter(col("user_id") > hi)
    assert(q.count() == 0)
    val folded = q.queryExecution.optimizedPlan.collectFirst {
      case l: LocalRelation => l
    }
    assert(folded.isDefined, "expected the Filter to fold away:\n" +
      q.queryExecution.optimizedPlan.treeString)
  }

  test("null semantics: IS NULL / IS NOT NULL / equality skip on null counts") {
    // two deterministic files: one all-null, one null-free
    val path = tmp("graft-fs-null")
    spark.range(0, 50).select(col("id"), lit(null).cast("string").as("maybe"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    spark.range(50, 100).select(col("id"), lit("x").as("maybe"))
      .coalesce(1).write.mode("append").parquet(path)
    FileStats.write(spark, path)
    val r = spark.read.parquet(path)
    assert(r.filter(col("maybe").isNull).count() == 50)
    assert(scannedFiles(r.filter(col("maybe").isNull)) == 1,
      "only the all-null file can hold NULLs")
    assert(r.filter(col("maybe").isNotNull).count() == 50)
    assert(scannedFiles(r.filter(col("maybe").isNotNull)) == 1,
      "the all-null file cannot serve IS NOT NULL")
    assert(r.filter(col("maybe") === "x").count() == 50)
    assert(scannedFiles(r.filter(col("maybe") === "x")) == 1,
      "equality cannot match in a zero-non-null file")
  }

  test("files appended after the stats write are never skipped (stale manifest)") {
    val path = tmp("graft-fs-stale")
    spark.range(0, 100).select(col("id")).coalesce(1)
      .write.mode("overwrite").parquet(path)
    FileStats.write(spark, path)
    // append rows OUTSIDE the recorded range without refreshing the manifest
    spark.range(1000, 1100).select(col("id")).coalesce(1)
      .write.mode("append").parquet(path)
    val r = spark.read.parquet(path)
    // the listed file is provably out of range and skips; the unlisted one
    // must survive on no evidence at all
    assert(r.filter(col("id") >= 1000L).count() == 100,
      "stale stats must not hide appended rows")
    assert(scannedFiles(r.filter(col("id") >= 1000L)) == 1)
  }

  test("integral upcast comparisons still skip (int column vs long literal)") {
    // range(..., numPartitions = 4) slices EXACTLY [0,25)[25,50)[50,75)[75,100)
    val df = spark.range(0, 100, 1, 4).select(col("id").cast("int").as("i"))
    val path = tmp("graft-fs-cast")
    df.write.mode("overwrite").parquet(path)
    FileStats.write(spark, path)
    val r = spark.read.parquet(path)
    assert(r.filter(col("i") > 74L).count() == 25)
    assert(scannedFiles(r.filter(col("i") > 74L)) == 1,
      "Cast(i AS BIGINT) > 74L must derive from the int column's stats")
  }

  test("narrowing casts derive nothing: CAST(bigint AS INT) = lit must not skip") {
    // values that WRAP to small ints under a non-ANSI narrowing cast:
    // (1L << 32) + 5 wraps to 5. Deriving "skip files whose bigint range
    // excludes 5" would silently drop this file's qualifying rows.
    val path = tmp("graft-fs-narrow")
    spark.range(0, 4).select((lit(1L << 32) + lit(5L) + col("id") * 0L).as("big"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    spark.range(0, 4).select((col("id") + 100L).as("big"))
      .coalesce(1).write.mode("append").parquet(path)
    FileStats.write(spark, path)
    val r = spark.read.parquet(path)
    val wasAnsi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false") // the wrapping regime
      val q = r.filter(col("big").cast("int") === 5)
      assert(q.count() == 4, "wrapped values satisfy the narrowed predicate")
      assert(scannedFiles(q) == 2,
        "a narrowing cast gives no license to skip either file")
    } finally spark.conf.set("spark.sql.ansi.enabled", wasAnsi)
    // the widening direction still skips (the license attrOf DOES grant)
    val wide = r.filter(col("big").cast("long") === 100L)
    assert(scannedFiles(wide) == 1, "widening casts must keep their skip license")
  }

  test("a file rewritten in place after the harvest is treated as unlisted") {
    val path = tmp("graft-fs-rewrite")
    spark.range(0, 100).select(col("id")).coalesce(1)
      .write.mode("overwrite").parquet(path)
    FileStats.write(spark, path)
    // rewrite the SAME file name with out-of-range content (an external
    // compaction/repair tool's move): stale stats say max=99
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val dataFile = fs.listStatus(new Path(path))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val side = tmp("graft-fs-rewrite-side")
    spark.range(5000, 5200).select(col("id")).coalesce(1)
      .write.mode("overwrite").parquet(side)
    val newFile = fs.listStatus(new Path(side))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.delete(dataFile, false)
    org.apache.hadoop.fs.FileUtil.copy(fs, newFile, fs, dataFile, false,
      spark.sessionState.newHadoopConf())
    val r = spark.read.parquet(path)
    // without the per-file length check this returns 0 rows (silent loss)
    assert(r.filter(col("id") >= 5000L).count() == 200,
      "stale per-file stats must not prune a rewritten file")
    // and the metadata count fold must disqualify (stale rows=100 vs 200)
    assert(r.count() == 200, "count pushdown must not fold a stale row count")
  }

  test("date-domain skipping end to end") {
    val df = spark.range(0, 365, 1, 4) // exact slices; Dec 1 = day 335, last file
      .select(date_add(lit(Date.valueOf("2024-01-01")), col("id").cast("int")).as("d"),
        col("id"))
    val path = tmp("graft-fs-date")
    df.write.mode("overwrite").parquet(path)
    FileStats.write(spark, path)
    val r = spark.read.parquet(path)
    val pred = col("d") >= lit(Date.valueOf("2024-12-01"))
    assert(r.filter(pred).count() == 30) // leap 2024: days 335..364 of range(0,365)
    assert(scannedFiles(r.filter(pred)) == 1)
  }

  test("string prefix (LIKE 'p%') skipping and its 0xff boundary arithmetic") {
    val df = spark.range(0, 260, 1, 4) // exact slices: u250-u259 land in one file
      .select(concat(lit("u"), lpad(col("id").cast("string"), 3, "0")).as("s"),
        col("id"))
    val path = tmp("graft-fs-prefix")
    df.write.mode("overwrite").parquet(path)
    FileStats.write(spark, path)
    val r = spark.read.parquet(path)
    assert(r.filter(col("s").startsWith("u25")).count() == 10)
    assert(scannedFiles(r.filter(col("s").startsWith("u25"))) == 1)
    // nextPrefix unit edges: increment, 0xff carry, all-0xff has no upper bound
    assert(FileStats.nextPrefix(Array('a'.toByte)).get.toSeq == Seq('b'.toByte))
    assert(FileStats.nextPrefix(Array('a'.toByte, 0xff.toByte)).get.toSeq == Seq('b'.toByte))
    assert(FileStats.nextPrefix(Array(0xff.toByte, 0xff.toByte)).isEmpty)
  }

  test("skipping composes with hidden partitioning: files inside surviving day dirs") {
    val ev = graft.core.Tables.load(spark, dir, "events").drop("props")
      // user-range-clustered tasks => within each day directory, every task's
      // file covers a narrow user span — the layout file skipping pays for
      .repartitionByRange(4, col("user_id"))
    val path = tmp("graft-fs-hp")
    HiddenPartitioning.write(ev, path, Seq(HiddenPartitioning.DayT("ts")))
    val r = HiddenPartitioning.read(spark, path)
    val pred = col("ts") >= "2024-01-10" && col("ts") < "2024-01-12" &&
      col("user_id") < 10L
    val full = HiddenPartitioning.read(spark, path).filter(
      col("ts") >= "2024-01-10" && col("ts") < "2024-01-12")
    val prunedOnly = scannedFiles(full) // day-dir pruning alone
    val both = scannedFiles(r.filter(pred))
    assert(both < prunedOnly,
      s"file skipping must prune INSIDE surviving day dirs: $both vs $prunedOnly")
    // differential: same rows as a stats-free write of the same data
    val plainPath = tmp("graft-fs-hp-plain")
    ev.write.mode("overwrite").parquet(plainPath)
    lossless(r, spark.read.parquet(plainPath), pred)
  }

  test("OR disjunctions and != skip when both sides are provable") {
    // four exact files [0,25)[25,50)[50,75)[75,100), plus one constant file
    val path = tmp("graft-fs-or")
    spark.range(0, 100, 1, 4).select(col("id")).write.mode("overwrite").parquet(path)
    spark.range(0, 10).select(lit(777L).as("id")).coalesce(1)
      .write.mode("append").parquet(path)
    FileStats.write(spark, path)
    val r = spark.read.parquet(path)
    // OR of two provable ranges: middle files skip
    val or = r.filter(col("id") < 20L || col("id") > 80L)
    assert(or.count() == 20 + 19 + 10)
    assert(scannedFiles(or) == 3, "OR must keep only the two edge files + the 777 file")
    // !=: only the constant-valued file can prove no row passes
    val ne = r.filter(col("id") =!= 777L)
    assert(ne.count() == 100)
    assert(scannedFiles(ne) == 4, "!= must skip exactly the constant file")
    // one unmodeled OR branch keeps everything (no license to skip)
    val mixed = r.filter(col("id") < 20L || length(col("id").cast("string")) > 90)
    assert(scannedFiles(mixed) == 5, "an unprovable OR branch must disable skipping")
  }

  test("sharded manifest: past the threshold the root is an index; harvest/skip/count identical; one-partition append rewrites one shard") {
    val path = tmp("graft-fs-shard")
    val df = spark.range(0, 3000)
      .select(col("id"), pmod(col("id"), lit(8)).as("p"))
    // 19 tasks x 8 partition dirs ≈ 152 files — past ShardThreshold, and
    // inside a shard-count band (129..192 -> 3 shards) so the +1-file append
    // below cannot shift the bucket layout
    df.repartition(19, col("id")).write.partitionBy("p")
      .mode("overwrite").parquet(path)
    FileStats.write(spark, path)
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val rootJson = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path, FileStats.StatsFile)), "UTF-8")
    assert(rootJson.contains("\"v\":2") && rootJson.contains("shards"),
      s"past the threshold the root must be a shard index: $rootJson")
    def shardStatus(): Map[String, String] =
      fs.listStatus(new Path(path)).collect {
        case st if st.getPath.getName.startsWith("_file_stats.g") =>
          st.getPath.getName -> s"${st.getModificationTime}:${st.getLen}"
      }.toMap
    val shardsBefore = shardStatus()
    assert(shardsBefore.size >= 2, s"expected >=2 shards: ${shardsBefore.keySet}")
    val recs = FileStats.stats(spark, path).get
    val nFiles = recs.size
    assert(nFiles > FileStats.ShardThreshold, s"test must exceed the threshold: $nFiles")
    assert(nFiles >= 129 && nFiles <= 191, // one band below + above the append
      s"file count must sit inside a shard-count band: $nFiles")
    // identical behavior to a stats-free twin (skip soundness) and to the
    // data itself (count fold exactness)
    val plainPath = tmp("graft-fs-shard-plain")
    df.write.mode("overwrite").parquet(plainPath)
    val pruned = spark.read.parquet(path)
    lossless(pruned, spark.read.parquet(plainPath), col("id").between(100L, 200L))
    assert(pruned.count() == 3000, "count must fold from the sharded manifest")
    val folded = pruned.groupBy().count().queryExecution.optimizedPlan.collectFirst {
      case l: LocalRelation => l
    }
    assert(folded.isDefined, "bare count over a sharded manifest must still fold")
    // append ONE file into ONE partition: exactly one shard may change
    spark.range(90000, 90100).select(col("id"), lit(3L).as("p"))
      .coalesce(1).write.partitionBy("p").mode("append").parquet(path)
    FileStats.write(spark, path)
    val shardsAfter = shardStatus()
    assert(shardsAfter.keySet == shardsBefore.keySet,
      "the bucket layout must be stable inside a band")
    val changed = shardsAfter.filter { case (k, v) => shardsBefore(k) != v }.keys
    assert(changed.size == 1,
      s"a one-partition append must rewrite exactly one shard: $changed")
    val recs2 = FileStats.stats(spark, path).get
    assert(recs2.size == nFiles + 1, "the appended file must join the manifest")
    assert(spark.read.parquet(path).count() == 3100,
      "the count fold must see the appended rows")
    assert(spark.read.parquet(path).filter(col("id") >= 90000L).count() == 100,
      "skipping must locate the appended rows through the rewritten shard")
  }

  test("many files (>=1000): sharded harvest, exact fold, skipping still prunes") {
    val path = tmp("graft-fs-many")
    // 250 range slices x 4 partition dirs = 1000 files, each slice exact
    spark.range(0, 100000, 1, 250)
      .select(col("id"), pmod(col("id"), lit(4)).as("p"))
      .write.partitionBy("p").mode("overwrite").parquet(path)
    FileStats.write(spark, path)
    val recs = FileStats.stats(spark, path).get
    assert(recs.size == 1000, s"expected 1000 per-file records, got ${recs.size}")
    assert(FileStats.stats(spark, path).get eq recs,
      "an unchanged sharded manifest must be served its cached merge")
    val r = spark.read.parquet(path)
    assert(r.count() == 100000, "count fold over 1000 manifest entries")
    // a narrow id range lives in exactly one range slice per partition dir
    val q = r.filter(col("id").between(50000L, 50099L))
    assert(q.count() == 100)
    assert(scannedFiles(q) <= 8,
      "per-file stats must prune nearly all of the 1000 files")
    // incremental re-run: nothing changed, so no shard rewrites at all
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    def fp() = fs.listStatus(new Path(path)).collect {
      case st if st.getPath.getName.startsWith("_file_stats") =>
        st.getPath.getName -> s"${st.getModificationTime}:${st.getLen}"
    }.toMap
    val before = fp()
    FileStats.write(spark, path)
    val after = fp()
    assert(before.filterNot(_._1 == FileStats.StatsFile) ==
      after.filterNot(_._1 == FileStats.StatsFile),
      "an unchanged table's re-harvest must rewrite no shard")
  }

  test("analyze: per-file NDV lands in the manifest; columnsMeta folds honest bounds") {
    val path = tmp("graft-fs-ndv")
    val df = spark.range(0, 1000, 1, 4)
      .select(col("id"), (col("id") % 100).as("mod"),
        concat(lit("u"), (col("id") % 10).cast("string")).as("u"),
        when(col("id") % 4 === 0, lit(null)).otherwise(col("id")).as("maybe"))
    df.write.mode("overwrite").parquet(path)
    FileStats.write(spark, path)
    // pre-analyze: no NDV anywhere -> bounds null, min/max/nulls still fold
    val before = FileStats.columnsMeta(spark, path).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(before("id").isNullAt(2) && before("id").isNullAt(3),
      "NDV bounds must be null before an analyze pass")
    assert(before("id").getString(5) == "0" && before("id").getString(6) == "999",
      "min/max must fold from the manifest without analyze")
    assert(before("maybe").getLong(4) == 250, "null counts must fold exactly")

    FileStats.analyze(spark, path)
    val after = FileStats.columnsMeta(spark, path).collect()
      .map(r => r.getString(0) -> r).toMap
    // id is globally distinct: every file's NDV ~ its row count; bounds
    // bracket the true 1000 (approx_count_distinct rsd = 5%)
    val (idLo, idHi) = (after("id").getLong(2), after("id").getLong(3))
    assert(idLo >= 200 && idLo <= 300, s"lo = biggest single file ~250: $idLo")
    assert(idHi >= 900 && idHi <= 1100, s"hi = sum ~1000: $idHi")
    // u has 10 distinct values IN EVERY file: lo ~10 exact-ish, hi ~40
    assert(after("u").getLong(2) == 10, "tiny NDVs are exact in HLL range")
    assert(after("u").getLong(3) == 40)
    // the true table NDV (10) respects the bounds: lo <= 10 <= hi
    assert(after("u").getLong(2) <= 10 && 10 <= after("u").getLong(3))
    // a re-harvest after new data drops the stale NDV for the new file only
    spark.range(5000, 5100).select(col("id"), (col("id") % 100).as("mod"),
      lit("u0").as("u"), col("id").as("maybe"))
      .coalesce(1).write.mode("append").parquet(path)
    FileStats.write(spark, path)
    val mixed = FileStats.columnsMeta(spark, path).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(mixed("id").isNullAt(2),
      "an un-analyzed new file must null the bounds, never fake them")
    assert(mixed("id").getString(6) == "5099", "min/max stay fold-able")
  }

  test("s18 registry query: the stats-skipping scan fires for real (fewer files than day pruning alone)") {
    val out = graft.SparkEntry.queries("s18_stats_skipping_scan")(spark, dir)
    assert(out.count() > 0)
    // re-derive the underlying artifact read: day pruning alone vs + stats
    val hpDir = graft.core.Tables.scratchPath(dir, "hp_events_stats")
    val dayOnly = HiddenPartitioning.read(spark, hpDir)
      .filter(col("ts") >= "2024-01-08" && col("ts") < "2024-01-10")
    val both = HiddenPartitioning.read(spark, hpDir)
      .filter(col("ts") >= "2024-01-08" && col("ts") < "2024-01-10" &&
        col("user_id").between(10L, 40L))
    val (d, b) = (scannedFiles(dayOnly), scannedFiles(both))
    assert(b < d, s"s18 must skip files inside surviving day dirs: $b vs $d")
  }

  test("versioned hidden table: every era carries stats; pruning holds across eras and time travel") {
    val ev = graft.core.Tables.load(spark, dir, "events").drop("props")
      .repartitionByRange(4, col("user_id"))
    val path = tmp("graft-fs-vht") + "/t"
    VersionedHiddenTable.create(spark, path,
      ev.filter(col("ts") < "2024-01-16"), Seq(HiddenPartitioning.DayT("ts")))
    val r = VersionedHiddenTable.append(spark, path,
      ev.filter(col("ts") >= "2024-01-16"))()
    assert(r.isRight)
    val pred = col("user_id") < 10L
    val read = VersionedHiddenTable.read(spark, path)
    val plainPath = tmp("graft-fs-vht-plain")
    ev.write.mode("overwrite").parquet(plainPath)
    lossless(read, spark.read.parquet(plainPath), pred)
    val allFiles = scannedFiles(read)
    val hit = scannedFiles(read.filter(pred))
    assert(hit < allFiles, s"expected cross-era file skipping: $hit of $allFiles")
    // v0 time travel: pruning against era-0's own manifest, rows exact
    val v0 = VersionedHiddenTable.read(spark, path, Some(0L))
    lossless(v0, spark.read.parquet(plainPath).filter(col("ts") < "2024-01-16"), pred)
  }
}
