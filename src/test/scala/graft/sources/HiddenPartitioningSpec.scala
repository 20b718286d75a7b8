package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Hidden partitioning: the table is laid out by DERIVED partition values
  * (day/bucket/truncate/identity transforms), the reader sees only source
  * columns, and filters on source columns still prune partitions — the
  * optimizer rule injects the implied partition predicates. Every pruning
  * assertion is paired with a differential one: pruned results must equal
  * the unpruned filter, because a derivation bug that DROPS rows is worse
  * than no pruning at all.
  */
class HiddenPartitioningSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The scan node of `df`'s executed plan + its partition-filter count;
    * runs the query so the numFiles metric is populated. */
  private def scanOf(df: DataFrame): (FileSourceScanExec, Long) = {
    df.collect(): Unit
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1, s"expected one file scan, got ${scans.size}")
    (scans.head, scans.head.metrics("numFiles").value)
  }

  test("write/read round trip: derived columns are hidden, data is intact") {
    val ev = graft.core.Tables.load(spark, dir, "events")
    val path = java.nio.file.Files.createTempDirectory("graft-hp-rt").toString
    HiddenPartitioning.write(ev, path, Seq(
      HiddenPartitioning.DayT("ts"), HiddenPartitioning.BucketT(8, "user_id")))
    val back = HiddenPartitioning.read(spark, path)
    assert(back.columns.sorted.toSeq == ev.columns.sorted.toSeq,
      s"partition columns must be hidden: ${back.columns.toSeq}")
    assert(back.count() == ev.count())
    assert(back.select("event_id").exceptAll(ev.select("event_id")).count() == 0)
  }

  test("day transform: a raw-ts range filter prunes day partitions, rows identical") {
    val ev = graft.core.Tables.load(spark, dir, "events")
    val path = java.nio.file.Files.createTempDirectory("graft-hp-day").toString
    HiddenPartitioning.write(ev, path, Seq(HiddenPartitioning.DayT("ts")))
    val b = ev.agg(min(col("ts")), max(col("ts"))).head()
    val (lo, hi) = (b.getTimestamp(0), b.getTimestamp(1))
    // a ~1/4 slice of the time range, with strict < on the upper bound
    val cutLo = new java.sql.Timestamp(lo.getTime + (hi.getTime - lo.getTime) / 2)
    val cutHi = new java.sql.Timestamp(lo.getTime + 3 * (hi.getTime - lo.getTime) / 4)
    def q(df: DataFrame) =
      df.filter(col("ts") >= lit(cutLo) && col("ts") < lit(cutHi))

    val (scanAll, filesAll) = scanOf(HiddenPartitioning.read(spark, path))
    val pruned = q(HiddenPartitioning.read(spark, path))
    val (scan, files) = scanOf(pruned)
    assert(scan.partitionFilters.nonEmpty,
      s"derived day predicates must reach PartitionFilters: ${scan.metadata.get("PartitionFilters")}")
    assert(files < filesAll,
      s"pruned scan must read fewer files ($files vs $filesAll)")
    assert(scanAll.partitionFilters.isEmpty, "no filter, no derived predicate")
    // differential: pruning must not change a single row
    val got = pruned.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    val want = q(ev).select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want, s"pruned rows (${got.size}) != raw filter rows (${want.size})")
    assert(got.nonEmpty, "the slice must be non-trivial")
  }

  test("bucket transform: equality and IN on the raw key prune buckets, rows identical") {
    val ev = graft.core.Tables.load(spark, dir, "events")
    val path = java.nio.file.Files.createTempDirectory("graft-hp-bkt").toString
    HiddenPartitioning.write(ev, path, Seq(HiddenPartitioning.BucketT(16, "user_id")))
    val keys = ev.select("user_id").distinct().limit(3)
      .collect().map(_.getLong(0)).toSeq

    // single-key equality
    val eq = HiddenPartitioning.read(spark, path).filter(col("user_id") === lit(keys.head))
    val (scanEq, filesEq) = scanOf(eq)
    val (_, filesAll) = scanOf(HiddenPartitioning.read(spark, path))
    assert(scanEq.partitionFilters.nonEmpty, "bucket equality must derive")
    assert(filesEq < filesAll, s"bucket pruning must skip files ($filesEq vs $filesAll)")
    assert(eq.count() == ev.filter(col("user_id") === lit(keys.head)).count())

    // IN-list
    val in = HiddenPartitioning.read(spark, path).filter(col("user_id").isin(keys: _*))
    val (scanIn, _) = scanOf(in)
    assert(scanIn.partitionFilters.nonEmpty, "bucket IN must derive")
    assert(in.count() == ev.filter(col("user_id").isin(keys: _*)).count())

    // a RANGE on a bucketed key must NOT derive (hash is not monotonic) —
    // the query still answers correctly from a full scan
    val rg = HiddenPartitioning.read(spark, path).filter(col("user_id") > lit(keys.head))
    val (scanRg, _) = scanOf(rg)
    assert(scanRg.partitionFilters.isEmpty,
      "a range over a hash bucket must not produce a partition predicate")
    assert(rg.count() == ev.filter(col("user_id") > lit(keys.head)).count())
  }

  test("truncate transform: string prefix and numeric floor both derive ranges") {
    val s = spark
    import s.implicits._
    val df = (1 to 400).map(i => (f"k$i%03d", i.toLong, s"v$i"))
      .toDF("code", "n", "v")
    val path = java.nio.file.Files.createTempDirectory("graft-hp-tr").toString
    HiddenPartitioning.write(df, path, Seq(
      HiddenPartitioning.TruncateT(2, "code"), HiddenPartitioning.TruncateT(100, "n")))

    // string prefix: code >= 'k2' lands in prefix partitions >= 'k2'
    val sq = HiddenPartitioning.read(spark, path).filter(col("code") >= lit("k2"))
    val (scanS, _) = scanOf(sq)
    assert(scanS.partitionFilters.nonEmpty, "string-prefix range must derive")
    assert(sq.count() == df.filter(col("code") >= lit("k2")).count())

    // numeric floor: strict > must widen to >= on the truncated value so the
    // boundary partition (which holds both sides of the cut) is retained
    val nq = HiddenPartitioning.read(spark, path).filter(col("n") > lit(150L))
    val (scanN, _) = scanOf(nq)
    assert(scanN.partitionFilters.nonEmpty, "numeric floor range must derive")
    assert(nq.count() == df.filter(col("n") > lit(150L)).count(),
      "rows 151..200 live in the boundary partition 100 — strict > must not lose them")
  }

  test("identity transform + unspec'd tables: rule is precise and inert elsewhere") {
    val s = spark
    import s.implicits._
    val df = (1 to 100).map(i => (i % 5, i.toLong)).toDF("grp", "x")
    val path = java.nio.file.Files.createTempDirectory("graft-hp-id").toString
    HiddenPartitioning.write(df, path, Seq(HiddenPartitioning.IdentityT("grp")))
    val q = HiddenPartitioning.read(spark, path).filter(col("grp") === 2)
    val (scan, files) = scanOf(q)
    assert(scan.partitionFilters.nonEmpty)
    val (_, filesAll) = scanOf(HiddenPartitioning.read(spark, path))
    assert(files < filesAll)
    assert(q.count() == 20)

    // a plain parquet table (no spec file) is untouched by the rule
    val plain = java.nio.file.Files.createTempDirectory("graft-hp-plain").toString
    df.write.mode("overwrite").parquet(plain)
    val pq = spark.read.parquet(plain).filter(col("grp") === 2)
    val (scanP, _) = scanOf(pq)
    assert(scanP.partitionFilters.isEmpty, "no spec, no derived predicates")
    assert(pq.count() == 20)
  }

  test("calendar-grain transforms (year/month/hour) derive ranges and prune") {
    val ev = graft.core.Tables.load(spark, dir, "events")
    val path = java.nio.file.Files.createTempDirectory("graft-hp-cal").toString
    HiddenPartitioning.write(ev, path, Seq(
      HiddenPartitioning.MonthT("ts"), HiddenPartitioning.HourT("ts")))
    val (_, filesAll) = scanOf(HiddenPartitioning.read(spark, path))

    // an hour-grain slice: raw-ts range predicates must reach the hour
    // partitions (the January corpus spans ~720 hour partitions)
    val q = HiddenPartitioning.read(spark, path)
      .filter(col("ts") >= "2024-01-05" && col("ts") < "2024-01-06")
    val (scan, files) = scanOf(q)
    assert(scan.partitionFilters.nonEmpty, "month+hour ranges must derive")
    assert(files < filesAll, s"calendar pruning must skip files ($files vs $filesAll)")
    val want = ev.filter(col("ts") >= "2024-01-05" && col("ts") < "2024-01-06").count()
    assert(q.count() == want, "pruned rows must equal the raw filter")

    // year transform: equality on a ts literal derives the int year
    val py = java.nio.file.Files.createTempDirectory("graft-hp-year").toString
    HiddenPartitioning.write(ev, py, Seq(HiddenPartitioning.YearT("ts")))
    val qy = HiddenPartitioning.read(spark, py)
      .filter(col("ts") >= "2024-01-10")
    val (scanY, _) = scanOf(qy)
    assert(scanY.partitionFilters.nonEmpty, "year range must derive")
    assert(qy.count() == ev.filter(col("ts") >= "2024-01-10").count())
  }

  test("null source values: layout keeps them, derivation stays consistent") {
    val s = spark
    import s.implicits._
    // null ts lands in the hive default partition; a raw-ts range filter
    // excludes null rows by SQL semantics, and the derived partition
    // predicate excludes the default partition the same way — the two
    // filters can never disagree on a row
    val df = Seq(
      (1L, Some(java.sql.Timestamp.valueOf("2026-01-02 10:00:00"))),
      (2L, Some(java.sql.Timestamp.valueOf("2026-02-03 11:00:00"))),
      (3L, None)).toDF("k", "ts")
    val path = java.nio.file.Files.createTempDirectory("graft-hp-null").toString
    HiddenPartitioning.write(df, path, Seq(HiddenPartitioning.DayT("ts")))
    val back = HiddenPartitioning.read(spark, path)
    assert(back.count() == 3, "null-ts rows must survive the layout round trip")
    assert(back.filter(col("ts").isNull).select("k").head().getLong(0) == 3L)
    val q = back.filter(col("ts") >= lit("2026-01-01"))
    val (scan, _) = scanOf(q)
    assert(scan.partitionFilters.nonEmpty)
    assert(q.select("k").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "the pruned result must equal SQL semantics: null ts never matches a range")
  }

  test("spec evolution: both eras readable, each pruned under its own spec") {
    val ev = graft.core.Tables.load(spark, dir, "events")
    val path = java.nio.file.Files.createTempDirectory("graft-hp-evo").toString
    val cut = "2024-01-16"
    // era 0: day grain over the first half of January
    HiddenPartitioning.write(ev.filter(col("ts") < cut), path,
      Seq(HiddenPartitioning.DayT("ts")))
    // the table re-partitions day -> hour as volume grows (the classic)
    val id = HiddenPartitioning.evolveSpec(spark, path,
      Seq(HiddenPartitioning.HourT("ts")))
    assert(id == 1)
    HiddenPartitioning.append(ev.filter(col("ts") >= cut), path)

    val back = HiddenPartitioning.read(spark, path)
    assert(back.count() == ev.count(), "both eras must be read")
    assert(back.columns.sorted.toSeq == ev.columns.sorted.toSeq,
      "derived columns of every era must be hidden")

    // per-era totals from the filesystem (the public API reads eras united)
    def parquetFiles(p: java.io.File, skip: String => Boolean): Int = {
      val kids = Option(p.listFiles()).getOrElse(Array.empty)
      kids.count(f => f.isFile && f.getName.endsWith(".parquet")) +
        kids.filter(f => f.isDirectory && !skip(f.getName))
          .map(parquetFiles(_, _ => false)).sum
    }
    val era0Files = parquetFiles(new java.io.File(path), _.startsWith("_era-"))
    val era1Files = parquetFiles(new java.io.File(s"$path/_era-1"), _ => false)

    // a raw-ts range spanning the evolution boundary must prune BOTH eras
    val q = back.filter(col("ts") >= "2024-01-14" && col("ts") < "2024-01-18")
    q.collect(): Unit
    val scans = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 2, s"one scan per era, got ${scans.size}")
    val byEra = scans.map { s =>
      val root = s.relation.location.rootPaths.head.toString
      (root.contains("_era-1"), s)
    }.toMap
    val s0 = byEra(false); val s1 = byEra(true)
    assert(s0.partitionFilters.nonEmpty, "era-0 day predicates must derive")
    assert(s1.partitionFilters.nonEmpty, "era-1 hour predicates must derive")
    assert(s0.metrics("numFiles").value < era0Files,
      s"era 0 must prune (${s0.metrics("numFiles").value} vs $era0Files)")
    assert(s1.metrics("numFiles").value < era1Files,
      s"era 1 must prune (${s1.metrics("numFiles").value} vs $era1Files)")
    // differential: per-era pruning must not change a single row
    val got = q.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    val want = ev.filter(col("ts") >= "2024-01-14" && col("ts") < "2024-01-18")
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want)
    assert(got.nonEmpty, "the boundary-spanning slice must be non-trivial")

    // appends route to the CURRENT era: era-1 holds exactly the second half
    assert(spark.read.parquet(s"$path/_era-1").count() ==
      ev.filter(col("ts") >= cut).count())
  }

  test("a replaced table's new spec is honored — no stale cache") {
    val s = spark
    import s.implicits._
    val df = (1 to 100).map(i => (i % 5, i.toLong)).toDF("grp", "x")
    val path = java.nio.file.Files.createTempDirectory("graft-hp-stale").toString
    HiddenPartitioning.write(df, path, Seq(HiddenPartitioning.IdentityT("grp")))
    // warm the cache through a pruned read
    val (scan0, _) = scanOf(HiddenPartitioning.read(spark, path).filter(col("grp") === 2))
    assert(scan0.partitionFilters.nonEmpty)
    // another writer legally replaces the table under a different spec
    HiddenPartitioning.write(df, path, Seq(HiddenPartitioning.BucketT(4, "x")))
    assert(HiddenPartitioning.spec(spark, path).get ==
      Seq(HiddenPartitioning.BucketT(4, "x")),
      "the cache must re-read a replaced spec file")
    val q = HiddenPartitioning.read(spark, path).filter(col("x") === 7L)
    val (scan1, _) = scanOf(q)
    assert(scan1.partitionFilters.nonEmpty, "the NEW spec must derive")
    assert(q.count() == 1)
    // the old spec must no longer derive anything
    val (scanOld, _) = scanOf(HiddenPartitioning.read(spark, path).filter(col("grp") === 2))
    assert(scanOld.partitionFilters.isEmpty, "the dead spec must not derive")
  }

  test("calendar transforms are UTC-pinned: a reader in another zone never narrows") {
    val s = spark
    import s.implicits._
    // rows around a UTC day boundary (explicit epoch instants — no parse tz)
    val df = Seq(
      (1L, new java.sql.Timestamp(1704834000000L)), // 2024-01-09T21:00Z
      (2L, new java.sql.Timestamp(1704794400000L)), // 2024-01-09T10:00Z
      (3L, new java.sql.Timestamp(1704862800000L))  // 2024-01-10T05:00Z
    ).toDF("k", "ts")
    val path = java.nio.file.Files.createTempDirectory("graft-hp-tz").toString
    HiddenPartitioning.write(df, path, Seq(HiddenPartitioning.DayT("ts")))

    // a session nine hours AHEAD of the writer: Tokyo's calendar day of the
    // cut instant (20:00Z) is already Jan 10 — a session-tz derivation would
    // prune the Jan 9 partition and lose row 1 (21:00Z qualifies). The
    // derived session registers nothing: it inherits the extension's rules
    val tokyo = spark.newSession()
    tokyo.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    val cut = new java.sql.Timestamp(1704830400000L) // 2024-01-09T20:00Z
    val q = HiddenPartitioning.read(tokyo, path).filter(col("ts") >= lit(cut))
    val got = q.select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 3L),
      s"UTC-pinned day transform must keep the boundary row: got $got")
    q.collect(): Unit
    val scan = q.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.nonEmpty, "the UTC derivation must still prune")
  }

  test("a wrapping (non-ANSI) literal cast derives nothing instead of narrowing") {
    val noAnsi = spark.newSession()
    noAnsi.conf.set("spark.sql.ansi.enabled", "false")
    import noAnsi.implicits._
    val df = (1 to 400).map(i => (i.toLong, s"v$i")).toDF("n", "v")
    val path = java.nio.file.Files.createTempDirectory("graft-hp-wrap").toString
    HiddenPartitioning.write(df, path, Seq(HiddenPartitioning.TruncateT(100, "n")))
    // partition discovery infers _p_trunc100_n as INT; the long literal 2^32
    // wraps to 0 under non-ANSI cast — the old catch-on-throw guard would
    // fold it and prune every partition above 0, dropping all 400 rows
    val q = HiddenPartitioning.read(noAnsi, path)
      .filter(col("n") < lit(4294967296L))
    assert(q.count() == 400,
      "a wrapped literal must derive nothing, never a narrowed predicate")
  }

  test("spec file is the commit marker and round-trips every transform kind") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a", java.sql.Timestamp.valueOf("2026-01-02 03:04:05")))
      .toDF("k", "c", "ts")
    val path = java.nio.file.Files.createTempDirectory("graft-hp-spec").toString
    assert(!HiddenPartitioning.exists(path))
    val transforms = Seq(
      HiddenPartitioning.DayT("ts"), HiddenPartitioning.BucketT(4, "k"),
      HiddenPartitioning.TruncateT(1, "c"), HiddenPartitioning.IdentityT("k"),
      HiddenPartitioning.YearT("ts"), HiddenPartitioning.MonthT("ts"),
      HiddenPartitioning.HourT("ts"))
    HiddenPartitioning.write(df, path, transforms)
    assert(HiddenPartitioning.exists(path))
    assert(HiddenPartitioning.spec(spark, path).get == transforms,
      "the parsed spec must reconstruct the declared transforms exactly")
  }

  test("torn evolveSpec (spec-only era, no manifest): readers fall back to the root era") {
    // crash window: evolveSpec wrote _era-1/_partition_spec.json but died
    // before the FIRST manifest write — the committed data (the root era)
    // is complete, so reads must keep working, appends must keep landing at
    // the root, and nothing may refuse
    val s = spark
    import s.implicits._
    val df = (1 to 50).map(i => (i % 5, i.toLong)).toDF("grp", "x")
    val path = java.nio.file.Files.createTempDirectory("graft-hp-torn1").toString
    HiddenPartitioning.write(df, path, Seq(HiddenPartitioning.IdentityT("grp")))
    // simulate the torn evolution: era spec file exists, manifest never written
    HiddenPartitioning.writeSpecFile(spark, s"$path/_era-1",
      Seq(HiddenPartitioning.BucketT(4, "x")))
    val back = HiddenPartitioning.read(spark, path)
    assert(back.count() == 50, "root era must stay readable through the orphan")
    HiddenPartitioning.append((51 to 60).map(i => (i % 5, i.toLong)).toDF("grp", "x"), path)
    assert(HiddenPartitioning.read(spark, path).count() == 60,
      "appends must keep landing under the root spec")
    // a RE-RUN evolution supersedes the orphan (fresh era id) and commits
    val id = HiddenPartitioning.evolveSpec(spark, path,
      Seq(HiddenPartitioning.BucketT(4, "x")))
    assert(id >= 1)
    HiddenPartitioning.append(Seq((0, 99L)).toDF("grp", "x"), path)
    assert(HiddenPartitioning.read(spark, path).count() == 61)
  }

  test("torn manifest next to an era HOLDING DATA still refuses (no silent row drop)") {
    val s = spark
    import s.implicits._
    val df = (1 to 50).map(i => (i % 5, i.toLong)).toDF("grp", "x")
    val path = java.nio.file.Files.createTempDirectory("graft-hp-torn2").toString
    HiddenPartitioning.write(df, path, Seq(HiddenPartitioning.IdentityT("grp")))
    val id = HiddenPartitioning.evolveSpec(spark, path,
      Seq(HiddenPartitioning.BucketT(4, "x")))
    HiddenPartitioning.append((51 to 60).map(i => (i % 5, i.toLong)).toDF("grp", "x"), path)
    // now the evolved era holds rows; losing the manifest means a plain
    // fallback would DROP them — that must refuse loudly
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(path, "_table_specs.json"), false)
    val e = intercept[IllegalArgumentException] {
      HiddenPartitioning.read(spark, path).count()
    }
    assert(e.getMessage.contains("torn"), s"must name the torn commit: ${e.getMessage}")
    assert(id == 1)
  }

  test("compactEras folds old eras under the current spec; pruning and rows unchanged") {
    val ev = graft.core.Tables.load(spark, dir, "events")
    val path = java.nio.file.Files.createTempDirectory("graft-hp-compact").toString
    val (c1, c2) = ("2024-01-12", "2024-01-20")
    HiddenPartitioning.write(ev.filter(col("ts") < c1), path,
      Seq(HiddenPartitioning.DayT("ts")))
    HiddenPartitioning.evolveSpec(spark, path, Seq(HiddenPartitioning.MonthT("ts")))
    HiddenPartitioning.append(ev.filter(col("ts") >= c1 && col("ts") < c2), path)
    HiddenPartitioning.evolveSpec(spark, path, Seq(HiddenPartitioning.HourT("ts")))
    HiddenPartitioning.append(ev.filter(col("ts") >= c2), path)

    def slice(df: DataFrame) =
      df.filter(col("ts") >= "2024-01-10" && col("ts") < "2024-01-22")
        .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    val want = slice(ev)
    assert(slice(HiddenPartitioning.read(spark, path)) == want)
    val scansBefore = {
      val q = HiddenPartitioning.read(spark, path)
        .filter(col("ts") >= "2024-01-10" && col("ts") < "2024-01-22")
      q.collect(): Unit
      q.queryExecution.executedPlan.collect { case sc: FileSourceScanExec => sc }.size
    }
    assert(scansBefore == 3, "three eras pre-compaction")

    val compactedId = HiddenPartitioning.compactEras(spark, path)
    assert(compactedId == 3, "compacted rows land in a fresh era")
    val after = HiddenPartitioning.read(spark, path)
    assert(after.count() == ev.count(), "compaction must preserve every row")
    assert(slice(after) == want, "pruned slice identical after compaction")
    val q2 = after.filter(col("ts") >= "2024-01-10" && col("ts") < "2024-01-22")
    q2.collect(): Unit
    val scans2 = q2.queryExecution.executedPlan.collect {
      case sc: FileSourceScanExec => sc }
    assert(scans2.size == 2, "current era + ONE compacted era after folding")
    assert(scans2.forall(_.partitionFilters.nonEmpty),
      "both surviving eras prune under the (hour) current spec")
    // retired directories are gone; re-compacting folds the previous fold
    // (the current era is the append target and is never folded)
    assert(!new java.io.File(s"$path/_era-1").exists(),
      "retired era directories are garbage-collected post-commit")
    assert(HiddenPartitioning.compactEras(spark, path) == 4)
    assert(HiddenPartitioning.read(spark, path).count() == ev.count(),
      "re-compaction preserves every row")
  }

  test("compactEras refuses when an old era holds data without a parseable spec") {
    val s = spark
    import s.implicits._
    val df = (1 to 80).map(i => (i % 5, i.toLong)).toDF("grp", "x")
    val path = java.nio.file.Files.createTempDirectory("graft-hp-ctorn").toString
    HiddenPartitioning.write(df.filter(col("x") <= 40), path,
      Seq(HiddenPartitioning.IdentityT("grp")))
    HiddenPartitioning.evolveSpec(spark, path, Seq(HiddenPartitioning.BucketT(4, "x")))
    HiddenPartitioning.append(df.filter(col("x") > 40 && col("x") <= 60), path)
    HiddenPartitioning.evolveSpec(spark, path, Seq(HiddenPartitioning.BucketT(8, "x")))
    HiddenPartitioning.append(df.filter(col("x") > 60), path)
    // tear an OLD era: its rows exist but its spec file is gone
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_era-1/_partition_spec.json"), false)
    val e = intercept[IllegalArgumentException] {
      HiddenPartitioning.compactEras(spark, path)
    }
    assert(e.getMessage.contains("torn"), e.getMessage)
    assert(new java.io.File(s"$path/_era-1").exists(),
      "a refused compaction must delete NOTHING")
  }
}
