package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Per-FILE column statistics — the manifest-level stats layer of the
  * Iceberg contract (cf. reference `dbt_project.yml:40-43`, whose Iceberg
  * tables carry data-file min/max stats in their manifests), re-expressed
  * over plain parquet.
  *
  * Spark's parquet reader already skips ROW GROUPS from footer stats — but
  * only after the scan has listed every file and scheduled a task per file.
  * At 100 TB that is the cost that matters: a 1000-executor cluster burns
  * its time opening footers of files a metadata check could have excluded.
  * Iceberg fixes this by keeping per-file min/max/null-count in the table's
  * own metadata and pruning at PLAN time; this object is that layer:
  *
  *   - [[write]] harvests per-file stats from parquet FOOTERS (metadata-only
  *     — no data pages are read; distributed over executors past a small
  *     file count) into `_file_stats.json` next to the data. Past
  *     [[ShardThreshold]] files the manifest SHARDS per partition-hash
  *     bucket with the root file as a tiny index (Iceberg's manifest-list
  *     split): at 10⁵–10⁶ files per era a monolithic JSON is a
  *     multi-hundred-MB driver parse per cold plan — sharded, an append to
  *     one partition rewrites and re-parses one shard, and unchanged shards
  *     keep their parse-cache entries. Harvests are incremental: a file
  *     whose (length, mtime) matches its manifest entry is never re-opened.
  *   - [[StatsFileSkipping]] (a `Rule[LogicalPlan]`) consults the manifest
  *     when a Filter sits on a stats-carrying scan and removes files no
  *     predicate-satisfying row can live in — before the physical scan is
  *     planned, so skipped files never become tasks.
  *
  * Soundness stance (the same rule as [[HiddenPartitionPruning]]): skipping
  * may only remove files PROVABLY free of matching rows; anything unknown —
  * a column missing from the manifest, a file appended after the manifest
  * was written, a non-literal conjunct, a type this layer does not model —
  * keeps the file. The original filter still runs over surviving rows, so
  * stats can lag the data without a correctness cliff.
  *
  * Column domains modeled (matching parquet's TYPE_DEFINED_ORDER to Spark's
  * ordering exactly):
  *   - signed integers (INT32/INT64, byte..long)     -> long compare
  *   - DATE (days), TIMESTAMP micros/millis (INT64)  -> long compare
  *   - BOOLEAN                                       -> 0/1
  *   - UTF8 strings (BINARY) -> unsigned byte-wise compare, which is both
  *     parquet's UNSIGNED binary order and `UTF8String.compareTo`'s order
  * FLOAT/DOUBLE are deliberately NOT skippable: parquet min/max poisons on
  * NaN and Spark orders NaN above +Inf — range logic over those stats can
  * narrow. DECIMAL and INT96 timestamps are likewise excluded (INT96 has no
  * defined stats order). Excluded columns simply never prune.
  */
object FileStats {

  val StatsFile = "_file_stats.json"

  /** Per-column record. `mm` states: `ex` — min/max below are exact over the
    * file's non-null values; `nul` — provably zero non-null values; `unk` —
    * at least one row group lacked usable stats. `nulls` is the exact null
    * count when every row group recorded one. Values in the long domain are
    * `java.lang.Long`; strings are UTF-8 byte arrays. `ndv` is the file's
    * APPROXIMATE distinct count, present only after an [[analyze]] pass
    * (Iceberg's Puffin-NDV analog) — never consulted by the skipping rules,
    * only surfaced through [[columnsMeta]]. */
  final case class ColRec(kind: String, mm: String,
      min: Any, max: Any, nulls: Option[Long], ndv: Option[Long] = None)

  /** `len` is the data file's byte length at harvest time — the identity
    * check that makes a same-path in-place rewrite (external compaction or
    * repair tool) detectable: [[entryFor]] refuses the entry when the live
    * length differs, so stale min/max can never prune the rewritten file and
    * the count pushdown never folds its stale row count. Iceberg gets this
    * for free by tracking immutable file identities; this is the
    * plain-parquet equivalent. `-1` marks a pre-length-tracking manifest
    * (legacy grace: trusted as before, regenerated on the next write).
    * `mt` (modification time at harvest) exists ONLY for [[write]]'s
    * incremental-reuse check — it never licenses a skip. */
  final case class FileRec(rows: Long, cols: Map[String, ColRec],
      len: Long = -1L, mt: Long = -1L)

  /** The manifest entry for `rel`, but ONLY if the live file's byte length
    * matches the length recorded at harvest — a mismatch means the file was
    * rewritten in place after the harvest, so its stats (and row count) are
    * for bytes that no longer exist. Callers treat None exactly like an
    * unlisted file: keep it / disqualify the metadata fold. */
  def entryFor(manifest: Map[String, FileRec], rel: String,
      liveLen: Long): Option[FileRec] =
    manifest.get(rel).filter(rec => rec.len < 0 || rec.len == liveLen)

  // ---- harvest ---------------------------------------------------------------

  /** Spark's InMemoryFileIndex visibility rule — a name this returns false
    * for is invisible to the scan, so it must not enter the manifest. */
  private def visible(n: String): Boolean =
    !n.startsWith(".") && (!n.startsWith("_") || n.contains("="))

  /** Manifest keys are table-root-RELATIVE paths, and both sides of the
    * lookup must relativize identically. Comparing raw URI strings is a
    * trap: the same local file renders as `file:/tmp/x` from makeQualified
    * and `file:///tmp/x` from FileIndex.inputFiles. Going through
    * `toUri.getPath` normalizes the authority away on both sides. */
  private[sources] def rootUriPath(fs: FileSystem, root: Path): String =
    fs.makeQualified(root).toUri.getPath

  private[sources] def relPath(rootUri: String, p: Path): String =
    p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")

  private def dataFiles(fs: FileSystem, root: Path): Seq[FileStatus] = {
    def walk(p: Path): Seq[FileStatus] =
      (try fs.listStatus(p).toSeq
       catch { case _: java.io.FileNotFoundException => Seq.empty })
        .filter(st => visible(st.getPath.getName))
        .flatMap(st => if (st.isDirectory) walk(st.getPath) else Seq(st))
    walk(root).filter(_.getPath.getName.endsWith(".parquet"))
  }

  /** Total bytes of the scan-visible parquet files under `root` — the
    * size-targeted compaction sizing input. */
  private[sources] def dataBytes(fs: FileSystem, root: Path): Long =
    dataFiles(fs, root).map(_.getLen).sum

  /** Comparable-domain tag of a parquet primitive column, or None when the
    * column is excluded from skipping (float/double/decimal/INT96/unsigned —
    * see the object doc for why each is out). */
  private def kindOf(pt: PrimitiveType): Option[String] = {
    // stats are only meaningful under the type-defined order; INT96 and
    // legacy-writer columns report UNDEFINED and drop out here
    if (pt.columnOrder().getColumnOrderName !=
        org.apache.parquet.schema.ColumnOrder.ColumnOrderName.TYPE_DEFINED_ORDER)
      return None
    import LogicalTypeAnnotation._
    val ann = pt.getLogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case PrimitiveTypeName.BOOLEAN => Some("bool")
      case PrimitiveTypeName.INT32 => ann match {
        case null => Some("int")
        case _: DateLogicalTypeAnnotation => Some("date")
        case i: IntLogicalTypeAnnotation if i.isSigned => Some("int")
        case _ => None
      }
      case PrimitiveTypeName.INT64 => ann match {
        case null => Some("int")
        case i: IntLogicalTypeAnnotation if i.isSigned => Some("int")
        case t: TimestampLogicalTypeAnnotation
            if t.getUnit != TimeUnit.NANOS =>
          Some(if (t.isAdjustedToUTC) "tsutc" else "tsntz")
        case _ => None
      }
      case PrimitiveTypeName.BINARY => ann match {
        case _: StringLogicalTypeAnnotation => Some("string")
        case _ => None
      }
      case _ => None
    }
  }

  /** Normalize one stats bound into its comparable domain: timestamps to
    * micros, integers/dates/bools to Long, strings to UTF-8 bytes. */
  private def bound(v: AnyRef, pt: PrimitiveType, kind: String): Any = kind match {
    case "string" => v.asInstanceOf[Binary].getBytes
    case "bool" => if (v.asInstanceOf[java.lang.Boolean]) 1L else 0L
    case "tsutc" | "tsntz" =>
      val raw = v.asInstanceOf[java.lang.Long].longValue()
      pt.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
            if t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
        case _ => raw
      }
    case _ => v match { // int / date over INT32 or INT64
      case i: java.lang.Integer => i.longValue()
      case l: java.lang.Long => l.longValue()
    }
  }

  /** Footer-only harvest of one file. Row groups fold per column: min/max
    * are exact only when EVERY group either has a non-null-value stat or is
    * provably all-null; null counts sum only when every group recorded one.
    * One group with unusable stats degrades the column to `unk` — kept, not
    * guessed. */
  private def harvestOne(conf: Configuration, file: Path, rel: String,
      len: Long): (String, FileRec) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks
      var rows = 0L
      // (kind, min, max, nulls, sawValue, exact, nullsKnown) per column path
      val acc = scala.collection.mutable.LinkedHashMap[String,
        (String, Any, Any, Long, Boolean, Boolean, Boolean)]()
      val it = blocks.iterator()
      while (it.hasNext) {
        val b = it.next()
        rows += b.getRowCount
        val cit = b.getColumns.iterator()
        while (cit.hasNext) {
          val cc = cit.next()
          if (cc.getPath.size() == 1) { // top-level primitives only
            val name = cc.getPath.toDotString
            kindOf(cc.getPrimitiveType).foreach { kind =>
              val st: Statistics[_] = cc.getStatistics
              val nullsSet = st != null && st.isNumNullsSet && st.getNumNulls >= 0
              val hasVal = st != null && st.hasNonNullValue
              val allNull = nullsSet && st.getNumNulls == b.getRowCount
              // exact iff this group's min/max story is fully known
              val groupExact = hasVal || allNull
              val (mn, mx) =
                if (hasVal) (bound(st.genericGetMin.asInstanceOf[AnyRef], cc.getPrimitiveType, kind),
                  bound(st.genericGetMax.asInstanceOf[AnyRef], cc.getPrimitiveType, kind))
                else (null, null)
              acc.get(name) match {
                case None =>
                  acc(name) = (kind, mn, mx, if (nullsSet) st.getNumNulls else 0L,
                    hasVal, groupExact, nullsSet)
                case Some((k0, mn0, mx0, n0, saw0, ex0, nk0)) =>
                  val mn1 = if (!hasVal) mn0 else if (!saw0) mn
                    else if (cmpDomain(kind, mn, mn0) < 0) mn else mn0
                  val mx1 = if (!hasVal) mx0 else if (!saw0) mx
                    else if (cmpDomain(kind, mx, mx0) > 0) mx else mx0
                  acc(name) = (k0, mn1, mx1, n0 + (if (nullsSet) st.getNumNulls else 0L),
                    saw0 || hasVal, ex0 && groupExact, nk0 && nullsSet)
              }
            }
          }
        }
      }
      val cols = acc.iterator.map { case (name, (kind, mn, mx, nulls, saw, exact, nullsKnown)) =>
        val mm = if (!exact) "unk" else if (saw) "ex" else "nul"
        name -> ColRec(kind, mm, if (mm == "ex") mn else null,
          if (mm == "ex") mx else null, if (nullsKnown) Some(nulls) else None)
      }.toMap
      (rel, FileRec(rows, cols, len))
    } finally reader.close()
  }

  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  private[sources] def cmpDomain(kind: String, a: Any, b: Any): Int = kind match {
    case "string" => cmpBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    case _ => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
  }

  /** Domain value -> a Column literal of Spark type `dt` — the inverse of
    * [[toDomain]], for injecting manifest bounds back into a plan as
    * pushable predicates (the merge-on-read mask-range derivation). None
    * when (kind, dt) is not a modeled pairing — callers must treat that as
    * "no bound derivable", never guess. The string round-trip (manifest
    * stores UTF-8 text) preserves byte order because UTF8String comparison
    * IS unsigned byte order. */
  private[sources] def litOfDomain(kind: String, dt: DataType,
      v: Any): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.lit
    (kind, dt) match {
      case ("int", ByteType) => Some(lit(v.asInstanceOf[Long].toByte))
      case ("int", ShortType) => Some(lit(v.asInstanceOf[Long].toShort))
      case ("int", IntegerType) => Some(lit(v.asInstanceOf[Long].toInt))
      case ("int", LongType) => Some(lit(v.asInstanceOf[Long]))
      case ("date", DateType) =>
        Some(lit(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Long])))
      case ("tsutc", TimestampType) =>
        val m = v.asInstanceOf[Long]
        Some(lit(java.time.Instant.ofEpochSecond(
          Math.floorDiv(m, 1000000L), Math.floorMod(m, 1000000L) * 1000L)))
      case ("tsntz", TimestampNTZType) =>
        val m = v.asInstanceOf[Long]
        Some(lit(java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(m, 1000000L), (Math.floorMod(m, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)))
      case ("string", StringType) =>
        Some(lit(new String(v.asInstanceOf[Array[Byte]], "UTF-8")))
      case ("bool", BooleanType) => Some(lit(v.asInstanceOf[Long] == 1L))
      case _ => None
    }
  }

  /** Hadoop Configuration is not Serializable but IS a Writable — this
    * wrapper ships the full conf (credentials, fs impls) to executors for
    * the distributed harvest, where a fresh `new Configuration()` would
    * silently drop cluster-specific settings. */
  private final class SerConf(@transient var conf: Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject(); conf = new Configuration(false); conf.readFields(in)
    }
  }

  /** Past this many files the manifest shards (one JSON per hash bucket of
    * the file's top-level partition directory, root index listing the shard
    * names) — one monolithic JSON per era dies at the 10⁵–10⁶ files a
    * 100 TB era holds: a multi-hundred-MB parse per cold planning pass, and
    * a full rewrite per append. Sharded, an append to one partition
    * rewrites (and re-parses) only that partition's shard; Iceberg's
    * manifest-list split, re-expressed. */
  private[sources] val ShardThreshold = 64

  /** Shard count for `n` files: ~64 files per shard, capped — stable for a
    * given file count, recorded in the root index (a growth that crosses a
    * shard-count boundary rewrites all shards once; appends inside a
    * boundary touch only their own shard). */
  private[sources] def shardCount(n: Int): Int =
    math.min(512, math.max(2, (n + ShardThreshold - 1) / ShardThreshold))

  /** Shard index of a manifest key: hash of the file's top-level directory
    * segment, so all files of one derived partition land in ONE shard
    * (`String.hashCode` is specified and stable across JVMs). */
  private[sources] def shardOf(rel: String, n: Int): Int = {
    val slash = rel.indexOf('/')
    val seg = if (slash < 0) "" else rel.substring(0, slash)
    Math.floorMod(seg.hashCode, n)
  }

  private def shardName(k: Int): String = f"_file_stats.g$k%03d.json"

  /** Render a record group as the `{"v":1,"files":{...}}` body (the
    * monolithic manifest AND each shard use the same layout, so one parser
    * serves both). Keys are sorted so identical content renders identical
    * bytes — [[write]] skips rewriting shards whose bytes did not change,
    * which is what keeps an untouched partition's shard fingerprint (and
    * its parse cache entry) stable across appends elsewhere. */
  private def renderFiles(recs: Seq[(String, FileRec)]): Array[Byte] = {
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("v", 1): Unit
    val fnode = node.putObject("files")
    recs.sortBy(_._1).foreach { case (rel, rec) =>
      val f = fnode.putObject(rel)
      f.put("rows", rec.rows): Unit
      f.put("len", rec.len): Unit
      if (rec.mt >= 0) f.put("mt", rec.mt): Unit
      val cnode = f.putObject("cols")
      // cols sorted too: a rec REUSED from a parsed shard (scala Map order)
      // must render byte-identically to its original harvest (LinkedHashMap
      // order), or the unchanged-shard check would spuriously rewrite
      rec.cols.toSeq.sortBy(_._1).foreach { case (name, c) =>
        val cn = cnode.putObject(name)
        cn.put("k", c.kind); cn.put("mm", c.mm): Unit
        if (c.mm == "ex") c.kind match {
          case "string" =>
            cn.put("min", new String(c.min.asInstanceOf[Array[Byte]], "UTF-8"))
            cn.put("max", new String(c.max.asInstanceOf[Array[Byte]], "UTF-8")): Unit
          case _ =>
            cn.put("min", c.min.asInstanceOf[Long])
            cn.put("max", c.max.asInstanceOf[Long]): Unit
        }
        c.nulls.foreach(n => cn.put("nulls", n): Unit)
        c.ndv.foreach(n => cn.put("ndv", n): Unit)
      }
    }
    node.toString.getBytes("UTF-8")
  }

  /** Temp-file + rename commit of `bytes` at `root/name` — readers see the
    * old file or the new one, never a torn one. */
  private def commitFile(fs: FileSystem, root: Path, name: String,
      bytes: Array[Byte]): Unit = {
    val tmp = new Path(root, s".$name.tmp-${System.nanoTime()}")
    val out = fs.create(tmp, true)
    out.write(bytes)
    out.close()
    val dst = new Path(root, name)
    if (!fs.rename(tmp, dst)) {
      fs.delete(dst, false)
      require(fs.rename(tmp, dst), s"stats manifest commit rename failed: $dst")
    }
  }

  private def readFully(fs: FileSystem, f: Path): Array[Byte] = {
    val in = fs.open(f)
    try in.readAllBytes() finally in.close()
  }

  /** Harvest footer stats for every data file under `dir` and commit the
    * manifest: monolithic `_file_stats.json` up to [[ShardThreshold]] files,
    * sharded (`_file_stats.gNNN.json` per partition-hash bucket + the root
    * file as a tiny shard index) beyond it. Incremental on re-runs: a file
    * whose (length, mtime) matches its existing manifest entry reuses that
    * entry without re-opening the footer, and a shard whose rendered bytes
    * are unchanged is not rewritten — so appending one partition re-harvests
    * and re-commits only that partition's files and shard. Re-run after
    * every append: a file the manifest misses is merely never skipped, so a
    * crash between data and stats commit degrades performance, not answers
    * (shards land before the root index; a torn run leaves either the old
    * root — pointing at old-or-harmlessly-updated shards — or the new one).
    * Small harvests run on the driver; past 64 new files the footer reads
    * fan out over executors (each is one metadata fetch — at 100 TB this is
    * a short metadata-only job, not a data scan). */
  def write(spark: SparkSession, dir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val rootUri = rootUriPath(fs, root)
    val files = dataFiles(fs, root)
    val prior = stats(spark, dir).getOrElse(Map.empty)
    val (reused, toHarvest) = files.partition { f =>
      val rel = relPath(rootUri, f.getPath)
      prior.get(rel).exists(r =>
        r.len == f.getLen && r.mt >= 0 && r.mt == f.getModificationTime)
    }
    val rels = toHarvest.map(f =>
      (f.getPath.toString, relPath(rootUri, f.getPath), f.getLen,
        f.getModificationTime))
    val harvested: Seq[(String, FileRec)] =
      if (rels.size <= 64)
        rels.map { case (abs, rel, len, mt) =>
          val (r, rec) = harvestOne(conf, new Path(abs), rel, len)
          (r, rec.copy(mt = mt))
        }
      else {
        val sc = spark.sparkContext
        val ser = new SerConf(conf)
        sc.parallelize(rels, math.min(rels.size, sc.defaultParallelism))
          .map { case (abs, rel, len, mt) =>
            val (r, rec) = harvestOne(ser.conf, new Path(abs), rel, len)
            (r, rec.copy(mt = mt))
          }
          .collect().toSeq
      }
    val recs = reused.map { f =>
      val rel = relPath(rootUri, f.getPath)
      rel -> prior(rel)
    } ++ harvested
    commitManifest(fs, root, recs)
  }

  /** Commit `recs` as the table's manifest — monolithic or sharded by
    * [[ShardThreshold]], unchanged shards left untouched (see [[write]]). */
  private def commitManifest(fs: FileSystem, root: Path,
      recs: Seq[(String, FileRec)]): Unit = {
    if (recs.size <= ShardThreshold) {
      commitFile(fs, root, StatsFile, renderFiles(recs))
    } else {
      val n = shardCount(recs.size)
      val byShard = recs.groupBy { case (rel, _) => shardOf(rel, n) }
      val names = (0 until n).flatMap { k =>
        byShard.get(k).map { group =>
          val name = shardName(k)
          val bytes = renderFiles(group)
          val dst = new Path(root, name)
          val unchanged =
            try fs.getFileStatus(dst).getLen == bytes.length &&
              java.util.Arrays.equals(readFully(fs, dst), bytes)
            catch { case _: java.io.FileNotFoundException => false }
          if (!unchanged) commitFile(fs, root, name, bytes)
          name
        }
      }
      val mapper = new ObjectMapper()
      val idx = mapper.createObjectNode()
      idx.put("v", 2): Unit
      val arr = idx.putArray("shards")
      names.foreach(arr.add)
      commitFile(fs, root, StatsFile, idx.toString.getBytes("UTF-8"))
      // post-commit GC: shard files of a previous, larger shard layout
      ls(fs, root).map(_.getPath.getName)
        .filter(nm => nm.startsWith("_file_stats.g") && nm.endsWith(".json") &&
          !names.contains(nm))
        .foreach(nm => fs.delete(new Path(root, nm), false): Unit)
    }
    val qRoot = fs.makeQualified(root).toString
    statsCache.invalidate(qRoot)
    shardCache.invalidate(qRoot)
  }

  private def ls(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  // ---- ANALYZE: approximate per-file NDV (Iceberg's Puffin-NDV analog) -------

  /** One DATA pass computing an approximate distinct count per (file,
    * column) and folding it into the manifest — the explicitly-priced
    * maintenance operation Iceberg runs as `ANALYZE TABLE` into Puffin
    * blobs; footer harvests ([[write]]) stay metadata-only. One
    * `groupBy(input_file_name)` with an `approx_count_distinct` per column:
    * map-side partial HLLs, one short shuffle, never a collect of data.
    * Columns default to every manifest-modeled column; unknown names are
    * ignored. Files unlisted in the manifest (appended after the last
    * [[write]]) are skipped — re-run [[write]] first. NDV is advisory
    * metadata for [[columnsMeta]]; no skipping rule ever consults it. */
  def analyze(spark: SparkSession, dir: String, cols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.{approx_count_distinct, col, input_file_name}
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val rootUri = rootUriPath(fs, root)
    val manifest = stats(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"no stats manifest under $dir — run FileStats.write first"))
    val modeled = manifest.valuesIterator.flatMap(_.cols.keys).toSet
    val df = spark.read.parquet(dir)
    val targets =
      (if (cols.isEmpty) df.columns.toSeq else cols)
        .filter(modeled.contains)
    if (targets.isEmpty) return
    val agg = df.groupBy(input_file_name().as("_f"))
      .agg(approx_count_distinct(col(targets.head)).as(targets.head),
        targets.tail.map(c => approx_count_distinct(col(c)).as(c)): _*)
      .collect()
    val ndvByRel: Map[String, Map[String, Long]] = agg.map { r =>
      val rel = relPath(rootUri, new Path(r.getString(0)))
      rel -> targets.zipWithIndex.map { case (c, i) => c -> r.getLong(i + 1) }.toMap
    }.toMap
    val recs = manifest.toSeq.map { case (rel, rec) =>
      ndvByRel.get(rel) match {
        case None => rel -> rec
        case Some(nd) => rel -> rec.copy(cols = rec.cols.map { case (c, cr) =>
          c -> nd.get(c).fold(cr)(v => cr.copy(ndv = Some(v)))
        })
      }
    }
    commitManifest(fs, root, recs)
  }

  /** Column-level metadata rows for one stats-carrying directory:
    * `(column, kind, ndv_lo, ndv_hi, nulls, min, max)` folded from the
    * manifest alone — no data scan. Per-file NDVs are not additive, so the
    * fold reports HONEST BOUNDS: `ndv_lo = max(file ndv)` (the biggest
    * single file is a lower bound) and `ndv_hi = sum(file ndv)` (distinct
    * sets can at most union), both null unless EVERY listed file carries an
    * analyzed count for the column. `nulls` is the exact total when every
    * file recorded one; `min`/`max` render as strings (dates as ISO days,
    * timestamps as epoch micros) when every file's bounds are known. */
  def columnsMeta(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val recs = stats(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"no stats manifest under $dir — run FileStats.write first")).values.toSeq
    val names = recs.flatMap(_.cols.keys).distinct.sorted
    val rows = names.map { c =>
      val cols = recs.map(_.cols.get(c))
      val all = cols.flatten
      val everywhere = all.size == recs.size
      val kind = all.head.kind
      val ndvs = all.flatMap(_.ndv)
      val (lo, hi) =
        if (everywhere && ndvs.size == all.size && ndvs.nonEmpty)
          (Some(ndvs.max), Some(ndvs.sum))
        else (None, None)
      val nulls =
        if (everywhere && all.forall(_.nulls.isDefined))
          Some(all.flatMap(_.nulls).sum)
        else None
      val (mn, mx) =
        if (everywhere && all.forall(cr => cr.mm == "ex" || cr.mm == "nul") &&
            all.exists(_.mm == "ex")) {
          val ex = all.filter(_.mm == "ex")
          (Some(render(kind, ex.map(_.min).minBy(identity)(domainOrdering(kind)))),
            Some(render(kind, ex.map(_.max).maxBy(identity)(domainOrdering(kind)))))
        } else (None, None)
      (c, kind, lo, hi, nulls, mn, mx)
    }
    val spark2 = spark
    import spark2.implicits._
    rows.toDF("column", "kind", "ndv_lo", "ndv_hi", "nulls", "min", "max")
  }

  private def domainOrdering(kind: String): Ordering[Any] =
    (a: Any, b: Any) => cmpDomain(kind, a, b)

  private def render(kind: String, v: Any): String = kind match {
    case "string" => new String(v.asInstanceOf[Array[Byte]], "UTF-8")
    case "date" => java.time.LocalDate.ofEpochDay(v.asInstanceOf[Long]).toString
    case "bool" => (v.asInstanceOf[Long] == 1L).toString
    case _ => v.asInstanceOf[Long].toString // int / epoch-micros timestamps
  }

  // ---- manifest read (fingerprint-cached) ---------------------------------

  // Bounded: a long-lived session planning over many scratch tables must not
  // grow the cache monotonically. The cross-JVM staleness window of the
  // fingerprint ([[MetaCache]]) does not arise under this library's write
  // discipline: a rewrite changes the file set or the stats, so the length
  // moves. The per-FILE `len` check in [[entryFor]] independently stops a
  // stale parse from mis-pruning any rewritten data file. An entry holds a
  // monolithic manifest's parse (Right) or a sharded root index's shard
  // names (Left); None is absent or unparseable.
  private[graft] val statsCache =
    new MetaCache[Option[Either[Seq[String], Map[String, FileRec]]]](64)

  // Per-shard parse cache. The point of sharding for the READER: after an
  // append to one partition, only that partition's shard re-parses — the
  // others hit here (one cheap getFileStatus each to validate the
  // fingerprint). Under the table root's own key it also holds the merge
  // of all shards, fingerprinted by the root index and every shard, so an
  // unchanged sharded manifest is not re-merged (O(files)) on each lookup.
  private[graft] val shardCache = new MetaCache[Map[String, FileRec]](1024)

  /** The parsed manifest for the table at `dir`, keyed by path relative to
    * the table root; None when absent or unparseable (a torn manifest reads
    * as "no stats", never as wrong stats). A sharded manifest (root index
    * `{"v":2,"shards":[...]}`) merges its shards, each parse cached by the
    * shard file's own fingerprint. A shard mid-rewrite reads as its old or
    * new bytes (shards commit by rename) — either way the per-file `len`
    * check in [[entryFor]] keeps a mixed view from mis-pruning; at worst it
    * under-skips, the same stance as a stale manifest. */
  def stats(spark: SparkSession, dir: String): Option[Map[String, FileRec]] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val f = new Path(root, StatsFile)
    val qRoot = fs.makeQualified(root).toString
    val rootFp = MetaCache.fingerprint(fs, f)
    val index = statsCache.get(qRoot, rootFp) {
      if (rootFp == "absent") None
      else try {
        val rootN = new ObjectMapper().readTree(readFully(fs, f))
        rootN.get("v").asInt() match {
          case 1 => Some(Right(parseFiles(rootN)))
          case 2 =>
            val shards = rootN.get("shards")
            Some(Left((0 until shards.size()).map(shards.get(_).asText())))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    index.flatMap {
      case Right(files) => Some(files)
      case Left(names) =>
        val shards = names.map { name =>
          val sp = new Path(root, name)
          (fs.makeQualified(sp).toString, MetaCache.fingerprint(fs, sp), sp)
        }
        try Some(shardCache.get(qRoot, s"$rootFp|${shards.map(_._2).mkString(",")}") {
          shards.iterator.map { case (key, fp, sp) =>
            shardCache.get(key, fp)(
              parseFiles(new ObjectMapper().readTree(readFully(fs, sp))))
          }.reduceOption(_ ++ _).getOrElse(Map.empty[String, FileRec])
        })
        catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  private def parseFiles(rootN: com.fasterxml.jackson.databind.JsonNode): Map[String, FileRec] = {
    require(rootN.get("v").asInt() == 1, "unknown stats manifest version")
    val files = rootN.get("files")
    val b = Map.newBuilder[String, FileRec]
    val it = files.fields()
    while (it.hasNext) {
      val e = it.next()
      val f = e.getValue
      val cb = Map.newBuilder[String, ColRec]
      val cit = f.get("cols").fields()
      while (cit.hasNext) {
        val ce = cit.next()
        val c = ce.getValue
        val kind = c.get("k").asText()
        val mm = c.get("mm").asText()
        val (mn, mx) =
          if (mm != "ex") (null, null)
          else if (kind == "string")
            (c.get("min").asText().getBytes("UTF-8"), c.get("max").asText().getBytes("UTF-8"))
          else (c.get("min").asLong(): java.lang.Long, c.get("max").asLong(): java.lang.Long)
        val nulls = Option(c.get("nulls")).map(_.asLong())
        val ndv = Option(c.get("ndv")).map(_.asLong())
        cb += ce.getKey -> ColRec(kind, mm,
          if (mn == null) null else (mn match { case l: java.lang.Long => l.longValue(); case o => o }),
          if (mx == null) null else (mx match { case l: java.lang.Long => l.longValue(); case o => o }),
          nulls, ndv)
      }
      b += e.getKey -> FileRec(f.get("rows").asLong(), cb.result(),
        Option(f.get("len")).map(_.asLong()).getOrElse(-1L),
        Option(f.get("mt")).map(_.asLong()).getOrElse(-1L))
    }
    b.result()
  }

  // ---- skipping evaluation ---------------------------------------------------

  /** Comparable-domain kind a Spark type maps to (mirror of [[kindOf]]);
    * None -> the type never participates in skipping. */
  private[sources] def kindOfSpark(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("int")
    case DateType => Some("date")
    case TimestampType => Some("tsutc")
    case TimestampNTZType => Some("tsntz")
    case StringType => Some("string")
    case BooleanType => Some("bool")
    case _ => None
  }

  /** Spark-internal literal value -> domain value for `kind`. */
  private[sources] def toDomain(v: Any, dt: DataType): Option[Any] = dt match {
    case ByteType => Some(v.asInstanceOf[Byte].toLong)
    case ShortType => Some(v.asInstanceOf[Short].toLong)
    case IntegerType | DateType => Some(v.asInstanceOf[Int].toLong)
    case LongType | TimestampType | TimestampNTZType => Some(v.asInstanceOf[Long])
    case StringType =>
      Some(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
    case BooleanType => Some(if (v.asInstanceOf[Boolean]) 1L else 0L)
    case _ => None
  }

  /** May a row of a file with stats `c` satisfy `<col> <op> <v>`? Sound in
    * one direction only: `false` is a proof, `true` is a shrug. */
  private[sources] def cmpMay(c: ColRec, kind: String, op: String, v: Any): Boolean =
    if (c.kind != kind) true
    else c.mm match {
      case "nul" => false // zero non-null values: no comparison can hold
      case "unk" => true
      case "ex" =>
        val lo = cmpDomain(kind, c.min, v) // min vs v
        val hi = cmpDomain(kind, c.max, v) // max vs v
        op match {
          case "eq" => lo <= 0 && hi >= 0
          case "gt" => hi > 0
          case "ge" => hi >= 0
          case "lt" => lo < 0
          case "le" => lo <= 0
        }
    }

  private[sources] def isNullMay(c: ColRec): Boolean =
    c.nulls match {
      case Some(n) => n > 0
      case None => true // null count unknown -> keep
    }

  private[sources] def isNotNullMay(c: ColRec, rows: Long): Boolean =
    c.mm match {
      case "nul" => false
      case "ex" => true
      case "unk" => !c.nulls.contains(rows)
    }

  /** The smallest byte string strictly greater than every string with
    * prefix `p`, when one exists (all-0xFF prefixes have none). */
  private[sources] def nextPrefix(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && (p(i) & 0xff) == 0xff) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(p, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  private[sources] def startsWithMay(c: ColRec, p: Array[Byte]): Boolean =
    if (c.kind != "string") true
    else c.mm match {
      case "nul" => false
      case "unk" => true
      case "ex" =>
        // strings with prefix p live in [p, nextPrefix(p)): overlap check
        val mx = c.max.asInstanceOf[Array[Byte]]
        val mn = c.min.asInstanceOf[Array[Byte]]
        cmpBytes(mx, p) >= 0 && nextPrefix(p).forall(np => cmpBytes(mn, np) < 0)
    }
}

/** [[org.apache.spark.sql.execution.datasources.FileIndex]] that delegates
  * listing (including physical-planning partition pruning) to `base` and
  * then drops every file outside `kept` — the carrier
  * [[StatsFileSkipping]] swaps into a scan, so skipped files never become
  * tasks. Empty partitions vanish entirely; `sizeInBytes` reflects only the
  * surviving bytes, so downstream join-side estimates (broadcast decisions)
  * see the pruned scan, not the raw table.
  *
  * `kept` holds scheme-less URI paths (`Path.toUri.getPath`), NOT raw URI
  * strings: the same local file renders as `file:/x` from a FileStatus and
  * `file:///x` from `inputFiles`, so string-keyed membership over raw URIs
  * silently empties the scan. */
final case class StatsPrunedFileIndex(
    base: org.apache.spark.sql.execution.datasources.FileIndex,
    kept: Set[String])
  extends org.apache.spark.sql.execution.datasources.FileIndex {

  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.execution.datasources.PartitionDirectory

  private def keep(p: Path): Boolean = kept(p.toUri.getPath)

  override def rootPaths: Seq[Path] = base.rootPaths

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    base.listFiles(partitionFilters, dataFilters)
      .map(pd => pd.copy(files = pd.files.filter(f => keep(f.getPath))))
      .filter(_.files.nonEmpty)

  override def inputFiles: Array[String] =
    base.inputFiles.filter(s => keep(new Path(s)))

  override def refresh(): Unit = base.refresh()

  override lazy val sizeInBytes: Long =
    base.listFiles(Nil, Nil).iterator.flatMap(_.files)
      .filter(f => keep(f.getPath)).map(_.getLen).sum

  override def partitionSchema: StructType = base.partitionSchema
}

/** Plan-time file skipping from the `_file_stats.json` manifest — the
  * scan-planning half of [[FileStats]] (see that doc for the scale argument
  * and the soundness stance). [[GraftSqlExtensions]] injects it into the
  * same pre-CBO optimizer batch as [[HiddenPartitionPruning]], right after
  * it: that rule turns source-column predicates into partition-directory
  * pruning; this one removes individual FILES inside the surviving
  * directories whose footer-harvested min/max/null-count prove no matching
  * row exists. Files the manifest does not list (appended after the last
  * stats write) and conjunct shapes the evaluator does not model keep their
  * files — the filter still runs over every surviving row, so skipping is
  * an optimization, never a semantics change.
  *
  * The rewrite is idempotent: a pass that
  * keeps every currently-listed file returns the plan unchanged, a pass
  * that proves the scan empty folds the whole Filter to an empty
  * [[LocalRelation]], and a pruning pass strictly shrinks the file set. */
object StatsFileSkipping
  extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {

  import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, Cast, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Not, Or => COr, StartsWith}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
  import FileStats.FileRec

  private type Check = FileRec => Boolean

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, rel: LogicalRelation) =>
      rel.relation match {
        case hfs: HadoopFsRelation if hfs.location.rootPaths.size == 1 =>
          val spark = SparkSession.active
          val root = hfs.location.rootPaths.head
          FileStats.stats(spark, root.toString) match {
            case Some(manifest) =>
              val checks = splitAnd(cond).flatMap(compile)
              if (checks.isEmpty) f
              else {
                val rootUri = FileStats.rootUriPath(
                  root.getFileSystem(spark.sessionState.newHadoopConf()), root)
                // scheme-less URI paths throughout (see StatsPrunedFileIndex);
                // the live LISTING (not inputFiles) so each file's byte length
                // rides along for entryFor's rewritten-in-place check
                val files = hfs.location.listFiles(Nil, Nil)
                  .flatMap(_.files.map(st => (st.getPath.toUri.getPath, st.getLen)))
                val kept = files.filter { case (uriPath, liveLen) =>
                  FileStats.entryFor(manifest,
                      uriPath.stripPrefix(rootUri).stripPrefix("/"), liveLen) match {
                    case Some(rec) => rec.rows > 0 && checks.forall(_(rec))
                    case None => true // unlisted or rewritten: never skip on a guess
                  }
                }.map(_._1)
                if (kept.length == files.length) f
                else if (kept.isEmpty)
                  LocalRelation(rel.output, Nil, isStreaming = false)
                else Filter(cond, rel.copy(relation = hfs.copy(
                  location = StatsPrunedFileIndex(hfs.location, kept.toSet))(spark)))
              }
            case None => f
          }
        case _ => f
      }
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case CAnd(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** Integral byte width, or 0 for a non-integral type. */
  private def intWidth(dt: DataType): Int = dt match {
    case ByteType => 1
    case ShortType => 2
    case IntegerType => 4
    case LongType => 8
    case _ => 0
  }

  /** The (name, effective type) of a bare column reference, looking through
    * the integral UP-casts type coercion inserts (`int_col > 5L` analyzes to
    * `Cast(int_col AS BIGINT) > 5L`; a widening cast is order- and
    * equality-preserving and both sides live in the long domain, so the
    * stats remain exact under it). The widening precondition is load-bearing
    * (mirroring `UnwrapCastInBinaryComparison`): an explicit NARROWING cast
    * (`CAST(bigint_col AS INT) = 5`) wraps on overflow in non-ANSI mode, so
    * a file whose pre-cast values wrap onto the literal would be "provably"
    * skipped while its rows actually satisfy the predicate — deriving
    * through it is unsound, not merely imprecise. Any other wrapping
    * derives nothing. */
  private def attrOf(e: Expression): Option[(String, DataType)] = e match {
    case a: AttributeReference => Some((a.name, a.dataType))
    case c: Cast => c.child match {
      case a: AttributeReference if intWidth(a.dataType) > 0 &&
          intWidth(c.dataType) >= intWidth(a.dataType) =>
        Some((a.name, c.dataType))
      case _ => None
    }
    case _ => None
  }

  /** Column absent from the manifest -> keep the file. */
  private def colCheck(name: String)(g: FileStats.ColRec => Boolean): Check =
    rec => rec.cols.get(name).forall(g)

  private def cmpCheck(name: String, dt: DataType, op: String, l: Literal): Option[Check] =
    if (l.value == null) Some(_ => false) // `col <op> NULL` matches no row
    else for {
      kind <- FileStats.kindOfSpark(dt)
      v <- FileStats.toDomain(l.value, l.dataType)
    } yield colCheck(name)(c => FileStats.cmpMay(c, kind, op, v))

  private def compile(e: Expression): Option[Check] = e match {
    case EqualTo(x, l: Literal) => attrOf(x).flatMap { case (n, dt) => cmpCheck(n, dt, "eq", l) }
    case EqualTo(l: Literal, x) => attrOf(x).flatMap { case (n, dt) => cmpCheck(n, dt, "eq", l) }
    case GreaterThan(x, l: Literal) => attrOf(x).flatMap { case (n, dt) => cmpCheck(n, dt, "gt", l) }
    case GreaterThan(l: Literal, x) => attrOf(x).flatMap { case (n, dt) => cmpCheck(n, dt, "lt", l) }
    case GreaterThanOrEqual(x, l: Literal) => attrOf(x).flatMap { case (n, dt) => cmpCheck(n, dt, "ge", l) }
    case GreaterThanOrEqual(l: Literal, x) => attrOf(x).flatMap { case (n, dt) => cmpCheck(n, dt, "le", l) }
    case LessThan(x, l: Literal) => attrOf(x).flatMap { case (n, dt) => cmpCheck(n, dt, "lt", l) }
    case LessThan(l: Literal, x) => attrOf(x).flatMap { case (n, dt) => cmpCheck(n, dt, "gt", l) }
    case LessThanOrEqual(x, l: Literal) => attrOf(x).flatMap { case (n, dt) => cmpCheck(n, dt, "le", l) }
    case LessThanOrEqual(l: Literal, x) => attrOf(x).flatMap { case (n, dt) => cmpCheck(n, dt, "ge", l) }
    case EqualNullSafe(x, l: Literal) => nullSafe(x, l)
    case EqualNullSafe(l: Literal, x) => nullSafe(x, l)
    case In(x, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      attrOf(x).flatMap { case (n, dt) =>
        val nonNull = vs.collect { case l: Literal if l.value != null => l }
        if (nonNull.isEmpty) Some((_: FileRec) => false) // IN (NULL,...) matches no row
        else {
          val member = nonNull.map(cmpCheck(n, dt, "eq", _))
          if (member.exists(_.isEmpty)) None
          else Some((rec: FileRec) => member.flatten.exists(_(rec)))
        }
      }
    case InSet(x, hset) =>
      attrOf(x).flatMap { case (n, dt) =>
        FileStats.kindOfSpark(dt).flatMap { kind =>
          val nonNull = hset.iterator.filter(_ != null).toSeq
          val vals = nonNull.flatMap(v => FileStats.toDomain(v, dt))
          if (vals.size != nonNull.size) None // a value we cannot model
          else if (vals.isEmpty) Some((_: FileRec) => false)
          else Some(colCheck(n)(c => vals.exists(v => FileStats.cmpMay(c, kind, "eq", v))))
        }
      }
    case IsNull(x) => attrOf(x).map { case (n, _) =>
      (rec: FileRec) => rec.cols.get(n).forall(FileStats.isNullMay)
    }
    case IsNotNull(x) => attrOf(x).map { case (n, _) =>
      (rec: FileRec) => rec.cols.get(n).forall(c => FileStats.isNotNullMay(c, rec.rows))
    }
    case StartsWith(x, l: Literal) if l.value != null =>
      attrOf(x).collect { case (n, StringType) =>
        val p = l.value.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
        colCheck(n)(c => FileStats.startsWithMay(c, p))
      }
    // a disjunction may match iff either branch may — but only when BOTH
    // branches are provable; one unmodeled branch makes the whole OR
    // unmodeled (it alone could admit the row)
    case COr(l, r) =>
      for { cl <- compile(l); cr <- compile(r) }
        yield (rec: FileRec) => cl(rec) || cr(rec)
    // `col != v`: only a file whose every non-null value IS v (min==max==v)
    // or that holds no non-null value at all can prove no row passes —
    // NULLs never satisfy != either, so they don't block the skip
    case Not(EqualTo(x, l: Literal)) => notEqual(x, l)
    case Not(EqualTo(l: Literal, x)) => notEqual(x, l)
    case _ => None
  }

  private def notEqual(x: Expression, l: Literal): Option[Check] =
    attrOf(x).flatMap { case (n, dt) =>
      if (l.value == null) Some((_: FileRec) => false) // `col != NULL`: no row
      else for {
        kind <- FileStats.kindOfSpark(dt)
        v <- FileStats.toDomain(l.value, l.dataType)
      } yield colCheck(n)(c =>
        if (c.kind != kind) true
        else c.mm match {
          case "nul" => false
          case "unk" => true
          case "ex" => !(domEq(c.min, v, kind) && domEq(c.max, v, kind))
        })
    }

  private def domEq(a: Any, b: Any, kind: String): Boolean = kind match {
    case "string" => java.util.Arrays.equals(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    case _ => a.asInstanceOf[Long] == b.asInstanceOf[Long]
  }

  private def nullSafe(x: Expression, l: Literal): Option[Check] =
    attrOf(x).flatMap { case (n, dt) =>
      if (l.value == null) // `col <=> NULL` is IS NULL
        Some((rec: FileRec) => rec.cols.get(n).forall(FileStats.isNullMay))
      else cmpCheck(n, dt, "eq", l)
    }
}

/** Metadata COUNT pushdown — Iceberg's "count(*) from manifests" applied to
  * the stats layer: an ungrouped, unfiltered `count(*)`/`count(1)` over a
  * stats-carrying parquet table folds to a [[LocalRelation]] holding the
  * manifest row-count sum. At 100 TB a bare count is a pure metadata
  * question; scheduling a task per file to learn it is the anti-pattern
  * this rule removes.
  *
  * Soundness guards (each one independently keeps the scan):
  *   - EVERY file the relation currently lists must appear in the manifest
  *     — a file appended after the last stats write makes the manifest an
  *     undercount, so coverage is checked against the live listing, and
  *     the sum is taken over the LISTED files only (a manifest entry whose
  *     file was deleted must not overcount either);
  *   - any Filter between the aggregate and the relation disqualifies
  *     (count-under-predicate is [[StatsFileSkipping]]'s job at file
  *     granularity, not this rule's);
  *   - only `count(1)`-shaped aggregates (no DISTINCT, no FILTER clause,
  *     no other functions) qualify — a Project in between is fine, it is
  *     row-preserving. */
object StatsCountPushdown
  extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{Alias, Literal, NamedExpression}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate if agg.groupingExpressions.isEmpty &&
        agg.aggregateExpressions.nonEmpty &&
        agg.aggregateExpressions.forall(isCountStar) =>
      relationOf(agg.child) match {
        case Some(hfs) if hfs.location.rootPaths.size == 1 =>
          val spark = SparkSession.active
          val root = hfs.location.rootPaths.head
          FileStats.stats(spark, root.toString) match {
            case Some(manifest) =>
              val rootUri = FileStats.rootUriPath(
                root.getFileSystem(spark.sessionState.newHadoopConf()), root)
              // live listing (with byte lengths): an entry whose file was
              // rewritten in place must disqualify the fold, same as unlisted
              val recs = hfs.location.listFiles(Nil, Nil).flatMap(_.files.map(st =>
                FileStats.entryFor(manifest,
                  FileStats.relPath(rootUri, st.getPath), st.getLen)))
              if (recs.forall(_.isDefined)) {
                val n = recs.map(_.get.rows).sum
                LocalRelation(agg.output.map(_.toAttribute),
                  Seq(InternalRow(agg.aggregateExpressions.map(_ => n): _*)),
                  isStreaming = false)
              } else agg // a listed file the manifest misses: count for real
            case None => agg
          }
        case _ => agg
      }
  }

  /** The relation under the aggregate, looking through row-preserving
    * Projects only. A Filter (or anything else) disqualifies. */
  private def relationOf(p: LogicalPlan): Option[HadoopFsRelation] = p match {
    case Project(_, child) => relationOf(child)
    case rel: LogicalRelation if !rel.isStreaming => rel.relation match {
      case hfs: HadoopFsRelation => Some(hfs)
      case _ => None
    }
    case _ => None
  }

  private def isCountStar(e: NamedExpression): Boolean = e match {
    case Alias(ae: AggregateExpression, _) =>
      !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
        case Count(Seq(Literal(v, _))) => v != null // count(1)/count(lit)
        case _ => false
      })
    case _ => false
  }
}
