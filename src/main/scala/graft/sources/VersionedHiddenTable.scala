package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import HiddenPartitioning.Transform

/** Publish-time optimistic-concurrency conflict (Iceberg's
  * `CommitFailedException`): the staged snapshot was computed against a
  * base version that is no longer the latest — another committer (thread OR
  * process) published in between. [[VersionedHiddenTable.append]] and
  * [[VersionedHiddenTable.merge]] catch this and rebase mechanically;
  * operations whose effect is bound to the snapshot they probed
  * (copy-on-write DML, compaction, rollback, spec evolution) surface it to
  * the caller, who re-runs against the new state. */
final class CommitConflictException(val tableDir: String,
    val expectedBase: Long, val actualLatest: Long)
  extends RuntimeException(
    s"concurrent commit on $tableDir: staged against base v=$expectedBase " +
      s"but v=$actualLatest has published since — rebase or re-run")

/** Snapshot-versioned, hidden-partitioned table — the two facilities (a
  * WAP/time-travel snapshot protocol and [[HiddenPartitioning]]'s spec'd
  * layout/pruning) composed the way a real Iceberg table is BOTH at once:
  * immutable era data directories, each with its own partition spec and
  * pruned under it, referenced by tiny per-snapshot manifests that publish
  * atomically.
  *
  * Layout (cf. Iceberg metadata/manifest split — snapshots reference data
  * files, they never copy them):
  * {{{
  *   table/
  *     data/era-<k>/              immutable once some snapshot references it
  *       _partition_spec.json     the era's own spec (written FIRST — its
  *                                overwrite=false create is the era CLAIM)
  *       <derived partition dirs>
  *     data/del-<k>/              equality-delete file (merge-on-read DML):
  *                                deleted tuples (or, for MERGE, just keys);
  *                                applied by readers to the eras its
  *                                snapshot entry covers
  *     v=<n>/_snapshot.json       {"op":..., "eras":[...],
  *                                 "dels":[{dir,over[,cols]},...]}
  *     v=<n>/_batch-<id>          optional replay-idempotency marker
  *     refs/<name>.json           immutable tag: {"version":v} (vacuum pin)
  *     _staging/<token>/          staged snapshot manifests (WAP)
  * }}}
  *
  * Commit discipline: era DATA lands first — an era no snapshot references
  * is invisible, so a crash mid-write leaves garbage, never a torn table.
  * The snapshot manifest is staged under `_staging` and published by ONE
  * atomic rename into `v=<n>` (the commit), with the version id allocated
  * under a lock so concurrent publishes cannot collide; same-JVM append
  * commits additionally linearize under a per-table commit lock (base re-resolution
  * inside it), so concurrent WAP writers never drop each other's eras.
  * Readers resolve the requested (or latest) snapshot and union exactly its
  * listed eras; since era directories are immutable and snapshots never
  * change after publish, time travel is exact under concurrent appends,
  * spec evolution AND compaction — and each snapshot answers in ITS OWN
  * canonical schema (the add-only fold of its eras' schemas), so time
  * travel is schema-exact too.
  *
  * The CURRENT spec of a snapshot is the spec of its highest-numbered era —
  * evolution appends an (initially empty) era carrying the new spec, and
  * compaction's rewritten era carries the current spec, so the invariant
  * holds across both.
  *
  * Scale note: one era per append batch keeps this implementation's commit
  * unit a directory; a production table references individual FILES in the
  * manifest instead, so appends don't multiply listable units — [[compact]]
  * is the corrective here, folding the era history back to one directory
  * per spec, exactly like Iceberg's `rewrite_data_files`.
  */
object VersionedHiddenTable {

  private val SnapshotFile = "_snapshot.json"
  private val publishLock = new Object
  // serializes a JVM's append COMMITS (base re-resolution -> stage -> audit
  // -> publish) PER TABLE, so concurrent appends to one table linearize
  // instead of losing each other's eras while a slow WAP audit on one table
  // never blocks commits to any other; era data writes stay outside it and
  // run fully parallel. Keyed by qualified table path; the map is append-only
  // and tiny (one Object per table this JVM ever commits to).
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def commitLockFor(spark: SparkSession, tableDir: String): Object = {
    val (fs, root) = fsFor(spark, tableDir)
    commitLocks.computeIfAbsent(fs.makeQualified(root).toString, _ => new Object)
  }
  private val stageSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** One merge-on-read delete file: `dir` holds the mask under `data/`,
    * `over` names the eras it applies to — exactly the eras that existed
    * when the delete was issued, so rows APPENDED later that happen to
    * match are untouched (Iceberg's sequence-number scoping, spelled as an
    * era set). `kind` selects the flavor, mirroring Iceberg v2's two delete
    * file types:
    *   - `"eq"` (equality): the file holds deleted tuples; `cols` is its
    *     equality-column set (Iceberg's `equality_ids`) — empty = the full
    *     tuple (predicate-delete semantics), non-empty = key columns only,
    *     the form [[merge]] writes so a CDC batch never has to SCAN the
    *     target for pre-images.
    *   - `"pos"` (positional): the file holds physical row addresses
    *     ([[GFile]] = fully-qualified data-file path, [[GPos]] = row
    *     ordinal within it) — the flavor for tables with no usable key or
    *     rows too wide to copy into a mask ([[deletePositional]] /
    *     [[updatePositional]]). */
  private[sources] final case class Del(dir: String, over: Set[String],
      cols: Seq[String] = Nil, kind: String = "eq")

  /** Address columns a positional delete masks by (reserved names). */
  private[sources] val GFile = "_g_file"
  private[sources] val GPos = "_g_pos"

  private def fsFor(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def ls(fs: FileSystem, dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  def versions(spark: SparkSession, tableDir: String): Seq[Long] = {
    val (fs, root) = fsFor(spark, tableDir)
    ls(fs, root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v=") &&
        fs.exists(new Path(st.getPath, SnapshotFile)))
      .map(_.getPath.getName.stripPrefix("v=").toLong).sorted
  }

  private def eraPath(tableDir: String, era: String) = s"$tableDir/data/$era"

  /** Era names (`era-<k>`) listed by snapshot `v`. */
  private def snapshotEras(spark: SparkSession, tableDir: String, v: Long): Seq[String] =
    snapshot(spark, tableDir, v)._1

  /** (eras, equality-delete files) listed by snapshot `v`. Pre-merge-on-read
    * snapshots carry no `dels` field and read as delete-free.
    * (`private[sources]`: [[TableService]] reads fragmentation off it.) */
  private[sources] def snapshot(spark: SparkSession, tableDir: String,
      v: Long): (Seq[String], Seq[Del]) = {
    val (fs, _) = fsFor(spark, tableDir)
    val f = new Path(s"$tableDir/v=$v", SnapshotFile)
    val in = fs.open(f)
    val bytes = try in.readAllBytes() finally in.close()
    val node = new ObjectMapper().readTree(bytes)
    val eras = node.get("eras")
    val dels = Option(node.get("dels")).map { ds =>
      (0 until ds.size()).map { i =>
        val d = ds.get(i)
        val over = d.get("over")
        val cols = Option(d.get("cols")).map(cs =>
          (0 until cs.size()).map(cs.get(_).asText())).getOrElse(Seq.empty)
        val kind = Option(d.get("kind")).map(_.asText()).getOrElse("eq")
        Del(d.get("dir").asText(),
          (0 until over.size()).map(over.get(_).asText()).toSet, cols, kind)
      }
    }.getOrElse(Seq.empty)
    ((0 until eras.size()).map(eras.get(_).asText()), dels)
  }

  /** The operation that produced snapshot `v` — Iceberg's snapshot-summary
    * `operation` field. Pre-op-tagging snapshots read as "append" (the
    * conservative default: [[changes]] diffs them for real rather than
    * assuming content preservation). */
  private[sources] def snapshotOp(spark: SparkSession, tableDir: String,
      v: Long): String = {
    val (fs, _) = fsFor(spark, tableDir)
    val f = new Path(s"$tableDir/v=$v", SnapshotFile)
    val in = fs.open(f)
    val bytes = try in.readAllBytes() finally in.close()
    Option(new ObjectMapper().readTree(bytes).get("op"))
      .map(_.asText()).getOrElse("append")
  }

  // a published snapshot manifest is immutable, so its branch field
  // memoizes permanently — without this, every main-lineage resolution
  // would re-read one manifest per retained version at PLAN time
  // (cap-cleared like delBytesCache; a vacuumed version simply stops being
  // asked about)
  private val branchFieldCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()

  /** The branch a snapshot was committed to — None = the MAIN lineage.
    * Branch snapshots share the global `v=<n>` id space (publish allocation
    * never collides) but are invisible to main reads, main DML bases, and
    * the main changelog. */
  private[sources] def snapshotBranch(spark: SparkSession, tableDir: String,
      v: Long): Option[String] = {
    val (fs, _) = fsFor(spark, tableDir)
    val f = new Path(s"$tableDir/v=$v", SnapshotFile)
    val key = fs.makeQualified(f).toString
    val hit = branchFieldCache.get(key)
    if (hit != null) hit
    else {
      val in = fs.open(f)
      val bytes = try in.readAllBytes() finally in.close()
      val res = Option(new ObjectMapper().readTree(bytes).get("branch"))
        .map(_.asText())
      if (branchFieldCache.size >= 65536) branchFieldCache.clear()
      branchFieldCache.put(key, res)
      res
    }
  }

  /** Data bytes of the LIVE latest main snapshot: its era directories plus
    * its delete masks — NOT the whole `data/` tree, which accumulates every
    * era ever written (one op=overwrite era per pipeline run, plus retired
    * masks) and would over-count a dimension-sized table off its broadcast
    * hint after enough runs. This is the size a planner should price a read
    * of "the table" at. */
  def liveDataBytes(spark: SparkSession, tableDir: String): Long = {
    val (fs, _) = fsFor(spark, tableDir)
    val vs = mainVersions(spark, tableDir)
    require(vs.nonEmpty, s"no snapshots under $tableDir")
    val (eras, dels) = snapshot(spark, tableDir, vs.max)
    (eras.map(e => FileStats.dataBytes(fs, new Path(eraPath(tableDir, e)))) ++
      dels.map(d => FileStats.dataBytes(fs, new Path(s"$tableDir/data/${d.dir}")))).sum
  }

  /** Retained MAIN-lineage versions (what every unqualified read/DML/CDC
    * operation means by "the table"). */
  def mainVersions(spark: SparkSession, tableDir: String): Seq[Long] =
    versions(spark, tableDir)
      .filter(v => snapshotBranch(spark, tableDir, v).isEmpty)

  private def mainLatest(spark: SparkSession, tableDir: String): Long = {
    val vs = mainVersions(spark, tableDir)
    require(vs.nonEmpty, s"no main-lineage snapshots under $tableDir")
    vs.max
  }

  /** Next unused era number — scans `data/` (NOT just the latest snapshot:
    * compaction and unpublished staged appends may already hold higher
    * numbers whose reuse would corrupt an immutable era). */
  private def nextEraId(spark: SparkSession, tableDir: String): Int = {
    val (fs, _) = fsFor(spark, tableDir)
    val used = ls(fs, new Path(s"$tableDir/data"))
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("era-") => n.stripPrefix("era-").toInt }
    if (used.isEmpty) 0 else used.max + 1
  }

  /** Next unused delete-file number — same scan discipline as [[nextEraId]]. */
  private def nextDelId(spark: SparkSession, tableDir: String): Int = {
    val (fs, _) = fsFor(spark, tableDir)
    val used = ls(fs, new Path(s"$tableDir/data"))
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("del-") => n.stripPrefix("del-").toInt }
    if (used.isEmpty) 0 else used.max + 1
  }

  // in-flight delete-directory claims of this JVM — same arbitration story
  // as [[HiddenPartitioning.claimSpecFile]]: the `_claim` marker's
  // create-if-absent is the cross-process claim (atomic where the
  // filesystem makes it so), the set arbitrates same-JVM racers, so two
  // concurrent merges never write into one del directory
  private val delClaims = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Claim a fresh `del-<k>` directory (marker file created before any
    * data) and return its name. The `_claim` marker is invisible to scans
    * (underscore-prefixed, no '='), to [[FileStats]], and to the GC's
    * reference counting — but its mtime marks write START for the vacuum
    * grace window. */
  private def claimDelDir(spark: SparkSession, tableDir: String): String = {
    val (fs, _) = fsFor(spark, tableDir)
    var id = nextDelId(spark, tableDir)
    var attempts = 0
    while (attempts < 64) {
      attempts += 1
      val dir = new Path(s"$tableDir/data/del-$id")
      val marker = new Path(dir, "_claim")
      val key = fs.makeQualified(marker).toString
      if (delClaims.add(key)) {
        try {
          if (!fs.exists(dir) && !fs.exists(marker)) {
            try {
              val out = fs.create(marker, false)
              out.close()
              return s"del-$id"
            } catch { case _: java.io.IOException if fs.exists(marker) => () }
          }
        } finally delClaims.remove(key)
      }
      id += 1
    }
    throw new IllegalStateException(s"could not claim a delete-file id under $tableDir")
  }

  /** Write `rows` as equality-delete file `del-<k>` (claimed atomically)
    * with its per-file stats manifest — the stats are what lets readers
    * derive the mask's key range and skip provably-unaffected era files
    * ([[maskBounds]]). */
  private def writeDel(spark: SparkSession, tableDir: String,
      rows: DataFrame): String = {
    val del = claimDelDir(spark, tableDir)
    val p = s"$tableDir/data/$del"
    rows.write.mode("append").parquet(p) // append: the dir holds the claim marker
    FileStats.write(spark, p)
    del
  }

  /** Write one new era directory: spec file first, data after. Returns the
    * era name. Invisible until a snapshot referencing it publishes. The era
    * id is CLAIMED atomically — same-JVM writers arbitrate through a claim
    * set, cross-process writers through create-if-absent where the
    * filesystem makes it atomic (see [[HiddenPartitioning.claimSpecFile]])
    * — so two concurrent writers never land in the same directory; the
    * loser steps to the next id.
    * (`private[graft]`: fault-injection tests build torn commit states.) */
  private[graft] def writeEra(spark: SparkSession, tableDir: String, df: DataFrame,
      transforms: Seq[Transform]): String = {
    var id = nextEraId(spark, tableDir)
    var attempts = 0
    while (!HiddenPartitioning.claimSpecFile(spark, eraPath(tableDir, s"era-$id"),
        transforms)) {
      attempts += 1
      require(attempts < 64, s"could not claim an era id under $tableDir")
      id += 1
    }
    val era = s"era-$id"
    val p = eraPath(tableDir, era)
    HiddenPartitioning.derive(df, transforms).write.mode("append")
      .partitionBy(transforms.map(_.partCol): _*).parquet(p)
    // per-file stats land with the era data, BEFORE any snapshot publishes a
    // reference to it — readers of a published snapshot always see the era's
    // complete stats manifest
    FileStats.write(spark, p)
    era
  }

  /** Union read over an explicit era list (the snapshot's or a staged
    * candidate's), each era pruned under its own spec by
    * [[HiddenPartitionPruning]] and then, merge-on-read style, anti-joined
    * against the equality-delete files covering it ([[applyDels]] — stats
    * bounded, so provably-unaffected eras and rows skip the join). The
    * delete side broadcasts while under [[deleteBroadcastMax]] — equality
    * deletes are keyed slices by construction — and falls back to a shuffle
    * anti join past it; a mask that LIVES past it is what the copy-on-write
    * [[delete]] (or a [[compact]] right after) is for. */
  private def readEras(spark: SparkSession, tableDir: String, eras: Seq[String],
      dels: Seq[Del] = Nil): DataFrame = {
    // build each era's frame ONCE: the canonical fold reads schemas off the
    // already-planned frames instead of re-listing every era's footers
    // (planning cost matters — this runs per query over k eras)
    val frames = eras
      .filter(e => HiddenPartitioning.eraHasData(spark, eraPath(tableDir, e)))
      .sortBy(_.stripPrefix("era-").toInt)
      .map(e => e -> HiddenPartitioning.readEra(spark, eraPath(tableDir, e)))
    require(frames.nonEmpty, s"no readable era among $eras under $tableDir")
    val canonical = frames.foldLeft(new org.apache.spark.sql.types.StructType()) {
      case (acc, (e, df)) => foldSchema(acc, df.schema, s"era '$e' of $tableDir")
    }
    frames
      .map { case (e, df) => maskEra(spark, tableDir, e, df, dels, canonical) }
      .reduce(_.union(_)) // every frame conformed: same columns, same order
  }

  /** One era's VISIBLE rows from an already-planned raw era frame: the
    * POSITIONAL masks apply first, on the raw read (they address physical
    * rows, so the frame is tagged with its `_metadata` file/row address),
    * then the frame conforms to the snapshot's canonical schema, then the
    * EQUALITY masks apply on the conformed view — which is what gives
    * post-evolution equality deletes their null-matching semantics.
    * `keepPos` keeps the address columns on the output (the changelog's
    * claim tracking joins mixed-flavor masks against one frame). */
  private def maskEra(spark: SparkSession, tableDir: String, e: String,
      raw: DataFrame, dels: Seq[Del],
      canonical: org.apache.spark.sql.types.StructType,
      keepPos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val pos = dels.filter(d => d.kind == "pos" && d.over.contains(e))
    val needTag = keepPos || pos.nonEmpty
    if (needTag) require(
      !canonical.fieldNames.contains(GFile) && !canonical.fieldNames.contains(GPos),
      s"'$GFile'/'$GPos' are reserved for positional-delete addressing")
    val tagged = if (needTag)
      raw.withColumn(GFile, col("_metadata.file_path"))
        .withColumn(GPos, col("_metadata.row_index"))
    else raw
    val masked = applyPosDels(spark, tableDir, e, tagged, pos)
    val conformed = conform(masked, canonical,
      extras = if (keepPos) Seq(GFile, GPos) else Nil)
    applyDels(spark, tableDir, e, conformed, dels)
  }

  // a positional delete file is immutable once written, so its touched-file
  // list memoizes permanently (cap-cleared like delBytesCache)
  private val touchedPathsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Seq[String]]]()

  /** The distinct data-file paths a positional delete touches — METADATA
    * scale by construction (at most one entry per masked data file, the
    * same order as a stats manifest), so the plan-time collect is bounded;
    * None past the cap means "too broad to split", degrading to the plain
    * anti join, never to a guess. */
  private def touchedPaths(spark: SparkSession, delDir: String): Option[Seq[String]] = {
    val (fs, p) = fsFor(spark, delDir)
    val key = fs.makeQualified(p).toString
    val hit = touchedPathsCache.get(key)
    if (hit != null) hit
    else {
      import org.apache.spark.sql.functions.col
      val rows = HiddenPartitioning.readImmutableParquet(spark, delDir).select(col(GFile))
        .distinct().limit(1025).collect()
      val res = if (rows.length > 1024) None
        else Some(rows.map(_.getString(0)).toSeq.sorted)
      if (touchedPathsCache.size >= 4096) touchedPathsCache.clear()
      touchedPathsCache.put(key, res)
      res
    }
  }

  /** Fully-qualified era-directory prefix, the namespace every
    * `_metadata.file_path` of that era lives under. */
  private def qualifiedEraPrefix(spark: SparkSession, tableDir: String,
      e: String): String = {
    val (fs, p) = fsFor(spark, eraPath(tableDir, e))
    fs.makeQualified(p).toString + "/"
  }

  /** Apply era `e`'s covering POSITIONAL delete files to the
    * address-tagged `tagged` frame. Plan-time scoping comes from the
    * touched-file list instead of key-box stats: a mask naming no file of
    * this era skips outright, and inside a touched era the rows split so
    * only the touched FILES pay the (file,pos) anti join — the file-path
    * filter sits directly on the `_metadata.file_path` derivation, so rows
    * of untouched files never enter the join. The mask broadcasts under
    * the same ceiling as equality masks. */
  private def applyPosDels(spark: SparkSession, tableDir: String, e: String,
      tagged: DataFrame, posDels: Seq[Del]): DataFrame =
    posDels.foldLeft(tagged) { (acc, d) =>
      import org.apache.spark.sql.functions.{broadcast, col => fc, not}
      val delDir = s"$tableDir/data/${d.dir}"
      val eraPrefix = qualifiedEraPrefix(spark, tableDir, e)
      val mine = touchedPaths(spark, delDir).map(_.filter(_.startsWith(eraPrefix)))
      if (mine.exists(_.isEmpty)) acc // mask provably touches no file of this era
      else {
        val delDf = HiddenPartitioning.readImmutableParquet(spark, delDir).select(fc(GFile), fc(GPos))
        val keys = if (delBytes(spark, delDir) <= deleteBroadcastMax(spark))
          broadcast(delDf) else delDf
        def cond(left: DataFrame) =
          left(GFile) <=> keys(GFile) && left(GPos) <=> keys(GPos)
        mine match {
          case Some(ps) =>
            val hit = acc.filter(fc(GFile).isin(ps: _*))
            val miss = acc.filter(not(fc(GFile).isin(ps: _*)))
            miss.union(hit.join(keys, cond(hit), "left_anti"))
          case None => acc.join(keys, cond(acc), "left_anti")
        }
      }
    }

  /** A snapshot's CURRENT schema — the add-only fold of its data-holding
    * eras' schemas in era order (Iceberg's schema evolution, the ADD COLUMNS
    * subset: an era written after an evolution carries the new field; older
    * eras read it as null). Same-name fields must agree on type — type
    * evolution, renames and drops are deliberately unsupported (they need
    * field-id tracking, the part of the Iceberg spec this layer does not
    * re-implement; a rename here would silently fork a column). */
  private def canonicalSchema(spark: SparkSession, tableDir: String,
      eras: Seq[String]): org.apache.spark.sql.types.StructType = {
    val dataEras = eras
      .filter(e => HiddenPartitioning.eraHasData(spark, eraPath(tableDir, e)))
      .sortBy(_.stripPrefix("era-").toInt)
    require(dataEras.nonEmpty, s"no readable era among $eras under $tableDir")
    dataEras.foldLeft(new org.apache.spark.sql.types.StructType()) { (acc, e) =>
      foldSchema(acc,
        HiddenPartitioning.readEra(spark, eraPath(tableDir, e)).schema,
        s"era '$e' of $tableDir")
    }
  }

  /** One add-only fold step: append fields `next` has that `acc` lacks;
    * same-name fields must type-match. */
  private def foldSchema(acc: org.apache.spark.sql.types.StructType,
      next: org.apache.spark.sql.types.StructType,
      where: String): org.apache.spark.sql.types.StructType =
    next.foldLeft(acc) { (s, f) =>
      s.find(_.name == f.name) match {
        case Some(prev) =>
          require(prev.dataType == f.dataType,
            s"$where re-types column '${f.name}' " +
              s"(${prev.dataType} -> ${f.dataType}); type evolution is unsupported")
          s
        case None => s.add(f)
      }
    }

  /** Project `df` onto `canonical`: fields the frame lacks read as typed
    * nulls (the null backfill an added column owes pre-evolution rows),
    * fields present must type-match. `extras` appends pass-through columns
    * the frame already carries (the positional-address columns a changelog
    * claim-tracking read keeps). */
  private def conform(df: DataFrame,
      canonical: org.apache.spark.sql.types.StructType,
      extras: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val have = df.schema.map(f => f.name -> f.dataType).toMap
    df.select(canonical.fields.toSeq.map { f =>
      have.get(f.name) match {
        case Some(t) =>
          require(t == f.dataType,
            s"column '${f.name}' is $t here but ${f.dataType} canonically")
          col(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    } ++ extras.map(col): _*)
  }

  /** Remove from `base` every row that null-safe-equals a row of `del` on
    * `on`. Full-tuple equality (a delete file's own column set) is exactly
    * predicate-delete semantics: a predicate is a function of the row, so
    * all copies of a matching tuple match together — the anti join deletes
    * them all, duplicates included, and never touches a non-matching row.
    * Key-column equality is MERGE's replace-by-key contract. `hint` true
    * broadcasts the delete side (the common tiny-mask case); false leaves
    * the strategy to the planner — a mask past [[deleteBroadcastMax]]
    * shuffles instead of melting the driver. */
  private def antiJoinOn(base: DataFrame, del: DataFrame,
      on: Seq[String], hint: Boolean = true): DataFrame = {
    val keys = del.select(on.map(org.apache.spark.sql.functions.col): _*)
    val d = if (hint) org.apache.spark.sql.functions.broadcast(keys) else keys
    val cond = on.map(c => base(c) <=> d(c)).reduce(_ && _)
    base.join(d, cond, "left_anti")
  }

  /** Broadcast ceiling for equality-delete masks, in bytes (session conf
    * `graft.vht.deleteBroadcastMaxBytes`). Masks bigger than this fall back
    * to the planner's join choice (a shuffle anti join) instead of a forced
    * broadcast; [[compact]] is the documented cure for oversized masks. */
  private def deleteBroadcastMax(spark: SparkSession): Long =
    spark.conf.getOption("graft.vht.deleteBroadcastMaxBytes")
      .map(_.toLong).getOrElse(64L << 20)

  // delete directories are immutable once written, so their data-byte size
  // memoizes permanently (cap-cleared; re-listing is cheap to redo)
  private val delBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def delBytes(spark: SparkSession, delDir: String): Long = {
    val (fs, p) = fsFor(spark, delDir)
    val key = fs.makeQualified(p).toString
    val hit = delBytesCache.get(key)
    if (hit != null) hit.longValue()
    else {
      val bytes = FileStats.dataBytes(fs, p)
      if (delBytesCache.size >= 4096) delBytesCache.clear()
      delBytesCache.put(key, bytes)
      bytes
    }
  }

  /** One provable bound of a delete mask's equality column: every matching
    * base row is non-null and inside `[lo, hi]` on `col` (domain values for
    * manifest-side comparison, Column literals for plan-side injection). */
  private[sources] final case class MaskBound(col: String, kind: String,
      lo: Any, hi: Any, loLit: org.apache.spark.sql.Column,
      hiLit: org.apache.spark.sql.Column)

  /** The delete file's provable key box, derived from ITS OWN stats
    * manifest (landed by [[writeDel]]) — the plan-time answer to "which
    * rows can this mask possibly touch". A column qualifies only when
    * EVERY file's record is exact with ZERO nulls: then any base row
    * matching some delete tuple is non-null and inside `[lo, hi]` on that
    * column (null-safe equality can only pair a null with a null). Nil —
    * legacy del without a manifest, unmodeled type, nullable keys — means
    * "no bound derivable": callers fall back to the unbounded anti join,
    * the same degrade-don't-guess stance as [[StatsFileSkipping]]. */
  private def maskBounds(spark: SparkSession, delDir: String, on: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Seq[MaskBound] = {
    val manifest = FileStats.stats(spark, delDir).getOrElse(return Nil)
    val recs = manifest.values.filter(_.rows > 0).toSeq
    if (recs.isEmpty) return Nil
    on.flatMap { c =>
      for {
        f <- schema.find(_.name == c)
        kind <- FileStats.kindOfSpark(f.dataType)
        crs = recs.map(_.cols.get(c))
        if crs.forall(_.exists(cr =>
          cr.kind == kind && cr.mm == "ex" && cr.nulls.contains(0L)))
        all = crs.flatten
        lo = all.map(_.min).reduce((a, b) =>
          if (FileStats.cmpDomain(kind, a, b) <= 0) a else b)
        hi = all.map(_.max).reduce((a, b) =>
          if (FileStats.cmpDomain(kind, a, b) >= 0) a else b)
        loLit <- FileStats.litOfDomain(kind, f.dataType, lo)
        hiLit <- FileStats.litOfDomain(kind, f.dataType, hi)
      } yield MaskBound(c, kind, lo, hi, loLit, hiLit)
    }
  }

  /** Is this data file provably out of the mask's key box? ONE disjoint
    * bounded column suffices: non-null values live outside `[lo, hi]` (or
    * the file holds no non-null value at all), and null values can never
    * equal a zero-null mask key. */
  private def fileDisjoint(rec: FileStats.FileRec, bounds: Seq[MaskBound]): Boolean =
    bounds.exists(b =>
      rec.cols.get(b.col).exists(cr => cr.kind == b.kind && (cr.mm == "nul" ||
        (cr.mm == "ex" &&
          (FileStats.cmpDomain(b.kind, cr.max, b.lo) < 0 ||
            FileStats.cmpDomain(b.kind, cr.min, b.hi) > 0)))))

  /** Fraction of era `e`'s data files provably out of the mask's key box —
    * the plan-time cost model for [[applyDels]]: 1.0 skips the era's anti
    * join outright, a high fraction makes the hit/miss split profitable
    * (pruned files skip the join), a low fraction means the split would
    * only double-scan overlapping files for nothing. Eras are immutable
    * once published, so their stats manifests cannot lag the data; a
    * missing manifest reports 0.0 (no proof, keep the plain join). */
  private def disjointFileFraction(spark: SparkSession, tableDir: String,
      e: String, bounds: Seq[MaskBound]): Double =
    if (bounds.isEmpty) 0.0
    else FileStats.stats(spark, eraPath(tableDir, e)) match {
      case None => 0.0
      case Some(manifest) =>
        val recs = manifest.values.filter(_.rows > 0).toSeq
        if (recs.isEmpty) 1.0
        else recs.count(rec => fileDisjoint(rec, bounds)).toDouble / recs.size
    }

  /** One era's VISIBLE rows under a snapshot's delete set, conformed to the
    * snapshot's canonical schema (columns the era predates read as typed
    * nulls) and then anti-joined per delete file on the file's OWN equality
    * columns ([[Del.cols]], or for a full-tuple delete the columns it was
    * written with). Applying deletes on the CONFORMED frame gives Iceberg's
    * evolution semantics for free: a post-evolution full-tuple delete
    * matches a pre-evolution row exactly where its added-column values are
    * null — precisely how the deleted row READ when the delete was issued.
    * Deletion by ANY file wins, so application order is immaterial.
    * Copy-on-write rewrites ([[delete]]/[[update]]) and the [[changes]]
    * feed all diff VISIBLE content — folding the delete mask in here is
    * what keeps a rewrite from resurrecting masked rows. */
  private def visibleEra(spark: SparkSession, tableDir: String, e: String,
      dels: Seq[Del],
      canonical: org.apache.spark.sql.types.StructType,
      keepPos: Boolean = false): DataFrame =
    maskEra(spark, tableDir, e,
      HiddenPartitioning.readEra(spark, eraPath(tableDir, e)), dels, canonical,
      keepPos)

  /** Apply era `e`'s covering delete files to `base`, STATS-BOUNDED so the
    * masked read is change-priced on the read side too: each mask's key box
    * ([[maskBounds]]) first clears provably-disjoint eras outright
    * ([[disjointFileFraction]] == 1.0 — zero extra tasks), and inside an overlapping era
    * splits the rows so only the in-box slice pays the anti join. The hit
    * arm's range conjunction is PUSHABLE — [[StatsFileSkipping]] prunes era
    * files outside the box from the join's input at plan time — and the
    * miss arm carries its exact three-valued complement as modeled
    * (`<`, `>`, `IS NULL`) disjuncts, so files wholly inside a zero-null box
    * prune from the scan-only arm symmetrically. The split is COSTED, not
    * unconditional: files STRADDLING the box boundary scan in both arms, so
    * when the era's stats show the box excludes under half its files (a
    * broad mask over a compacted era — the s24/i11 shape) the plain single
    * anti join is kept. A mask with no derivable bounds degrades to the
    * unbounded join, never to a guess. */
  private def applyDels(spark: SparkSession, tableDir: String, e: String,
      base: DataFrame, dels: Seq[Del]): DataFrame =
    dels.filter(d => d.kind == "eq" && d.over.contains(e)).foldLeft(base) { (acc, d) =>
      import org.apache.spark.sql.functions.{col => fc}
      val delDir = s"$tableDir/data/${d.dir}"
      val delDf = HiddenPartitioning.readImmutableParquet(spark, delDir)
      val on = if (d.cols.nonEmpty) d.cols else delDf.columns.toSeq
      val bounds = maskBounds(spark, delDir, on, base.schema)
      val frac = disjointFileFraction(spark, tableDir, e, bounds)
      if (frac == 1.0) acc // mask provably can't touch this era
      else {
        val hint = delBytes(spark, delDir) <= deleteBroadcastMax(spark)
        if (frac < 0.5) antiJoinOn(acc, delDf, on, hint)
        else {
          val hitCond = bounds.map(b =>
            fc(b.col) >= b.loLit && fc(b.col) <= b.hiLit).reduce(_ && _)
          val missCond = bounds.map(b =>
            fc(b.col) < b.loLit || fc(b.col) > b.hiLit || fc(b.col).isNull)
            .reduce(_ || _)
          antiJoinOn(acc.filter(hitCond), delDf, on, hint)
            .union(acc.filter(missCond))
        }
      }
    }

  /** Stage a snapshot manifest; returns the staging token.
    * (`private[graft]`: fault-injection tests build torn commit states.) */
  private[graft] def stageSnapshot(spark: SparkSession, tableDir: String,
      eras: Seq[String], batchId: Option[String], op: String = "append",
      base: Option[Long] = None): String =
    stageSnapshotDels(spark, tableDir, eras, Nil, batchId, op, base)

  /** `base` is the version this commit was computed against (-1 for a
    * create): recorded in the staged manifest, re-validated by [[publish]]
    * — the optimistic-concurrency token that turns a cross-process lost
    * update into a loud [[CommitConflictException]]. None (legacy staging,
    * fault-injection tests) publishes unchecked. */
  private def stageSnapshotDels(spark: SparkSession, tableDir: String,
      eras: Seq[String], dels: Seq[Del], batchId: Option[String],
      op: String = "append", base: Option[Long] = None,
      branch: Option[String] = None): String = {
    val token = s"w${stageSeq.incrementAndGet()}-${System.nanoTime()}"
    val dir = new Path(s"$tableDir/_staging/$token")
    val (fs, _) = fsFor(spark, tableDir)
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("op", op): Unit
    base.foreach(b => node.put("base", b): Unit)
    branch.foreach(b => node.put("branch", b): Unit)
    val arr = node.putArray("eras")
    eras.foreach(arr.add)
    if (dels.nonEmpty) {
      val darr = node.putArray("dels")
      dels.foreach { d =>
        val o = darr.addObject()
        o.put("dir", d.dir): Unit
        if (d.kind != "eq") o.put("kind", d.kind): Unit
        val ov = o.putArray("over")
        d.over.toSeq.sorted.foreach(ov.add)
        if (d.cols.nonEmpty) {
          val cs = o.putArray("cols")
          d.cols.foreach(cs.add)
        }
      }
    }
    val out = fs.create(new Path(dir, SnapshotFile), false)
    out.write(node.toString.getBytes("UTF-8"))
    out.close()
    batchId.foreach { id =>
      require(!id.contains('/'), s"batch id must be a file-name-safe token: '$id'")
      fs.create(new Path(dir, s"_batch-$id"), true).close()
    }
    token
  }

  /** Atomic publish: allocate the next version id under the lock and rename
    * the staged manifest directory into `v=<n>` — marker and manifest ride
    * the same rename.
    *
    * The JVM-local lock serializes publishers in ONE process; across
    * processes the commit is guarded by verifying the manifest landed at
    * the TOP of `v=<n>` after the rename. Hadoop's local FS rename onto an
    * existing directory reports success but moves the source INSIDE it
    * (`v=<n>/<token>/_snapshot.json`) — without the check, two concurrent
    * publishers would both "succeed" and the loser's snapshot would be
    * invisible to [[versions]], silently dropping its append. On a nested
    * landing the rename is undone and the publish retried under the next
    * id. A staged manifest carrying a `base` version is additionally
    * OCC-VALIDATED: the publish only lands as `base + 1` — if another
    * committer took that id, the staged token is left intact and a
    * [[CommitConflictException]] surfaces, so a manifest computed against a
    * superseded snapshot can never silently drop the intervening commit's
    * content. (`private[graft]`: fault-injection tests drive torn and
    * conflicting commit interleavings.) */
  private[graft] def publish(spark: SparkSession, tableDir: String, token: String): Long =
    publishLock.synchronized {
      val (fs, _) = fsFor(spark, tableDir)
      val from = new Path(s"$tableDir/_staging/$token")
      require(fs.exists(from), s"no staged snapshot '$token' under $tableDir")
      val (baseOpt, branchOpt) = {
        val in = fs.open(new Path(from, SnapshotFile))
        val bytes = try in.readAllBytes() finally in.close()
        val node = new ObjectMapper().readTree(bytes)
        (Option(node.get("base")).map(_.asLong()),
          Option(node.get("branch")).map(_.asText()))
      }
      var v = versions(spark, tableDir).lastOption.fold(0L)(_ + 1)
      var attempts = 0
      while (attempts < 64) {
        attempts += 1
        // OCC: conflict iff a REAL snapshot (manifest present) newer than
        // the staged base exists ON THE STAGED LINEAGE — a main commit
        // validates against the main head, a branch commit against its
        // branch head (commits to other lineages are concurrent-but-
        // non-conflicting by construction: they share no head). Manifest-
        // less `v=<n>` debris is stepped over below without counting.
        baseOpt.foreach { b =>
          val latest = branchOpt match {
            case Some(br) => branchHead(spark, tableDir, br)
            case None => mainVersions(spark, tableDir).lastOption.getOrElse(-1L)
          }
          if (latest != b) throw new CommitConflictException(tableDir, b, latest)
        }
        val dst = new Path(s"$tableDir/v=$v")
        if (fs.exists(dst)) {
          // raced an external publisher that already took this id
          v += 1
        } else {
          preRenameHook(tableDir, v)
          require(fs.rename(from, dst),
            s"atomic snapshot publish rename failed for '$token'")
          // success requires BOTH facts: a manifest at the TOP of v=<n> AND
          // no nested `<token>` child. Checking the manifest alone would
          // mistake a loss for a win when a competing publisher fully landed
          // v=<n> (manifest included) inside the exists->rename window: our
          // rename then nests under the WINNER'S directory, whose manifest
          // passes the first check — returning v there would silently drop
          // this commit, the exact lost update OCC exists to make loud.
          val nested = new Path(dst, token)
          if (fs.exists(new Path(dst, SnapshotFile)) && !fs.exists(nested))
            return v
          // rename landed NESTED inside a concurrently-created v=<n>:
          // undo (move our staged dir back out) and retry under a fresh id
          // (a staged `base` then re-validates at the top of the loop and
          // surfaces the conflict)
          require(fs.rename(nested, from),
            s"could not undo nested publish of '$token' under v=$v")
          v += 1
        }
      }
      throw new IllegalStateException(
        s"publish of '$token' under $tableDir lost ${attempts} version races; giving up")
    }

  /** Fault-injection seam for the publish race window (tests only): runs
    * after the `v=<n>` existence probe and before the rename, so a spec can
    * land a competing snapshot exactly where a cross-process publisher
    * would — proving the nested-landing detection above. */
  private[graft] var preRenameHook: (String, Long) => Unit = (_, _) => ()

  private def abort(spark: SparkSession, tableDir: String, token: String): Unit = {
    val (fs, _) = fsFor(spark, tableDir)
    fs.delete(new Path(s"$tableDir/_staging/$token"), true): Unit
  }

  /** Create the table: era-0 under `transforms` (empty = unpartitioned),
    * snapshot v=0. */
  def create(spark: SparkSession, tableDir: String, df: DataFrame,
      transforms: Seq[Transform]): Long = {
    require(versions(spark, tableDir).isEmpty, s"table already exists: $tableDir")
    overwrite(spark, tableDir, df, transforms)
  }

  /** Full-content REPLACE with snapshot semantics — dbt's `table`
    * materialization on an Iceberg target (`CREATE OR REPLACE TABLE ... AS`):
    * `df` becomes the table's entire new content in one published
    * `op=overwrite` snapshot; every prior snapshot keeps reading its own
    * content (time travel across pipeline RUNS), and [[changes]] across the
    * overwrite step reports the NET row diff between runs — exactly the feed
    * an incremental downstream consumer folds forward instead of rebuilding.
    * Creates the table on first use (under `transforms`; an existing
    * table's current spec wins, like [[appendOrCreate]]). `batchId` rides
    * the publish rename as an `_batch-<id>` marker, as in [[append]].
    * Returns the published version. Unlike `op=replace` ([[compact]]), an
    * overwrite is NOT content-preserving — the changelog always diffs it
    * for real. */
  def overwrite(spark: SparkSession, tableDir: String, df: DataFrame,
      transforms: Seq[Transform] = Nil, batchId: Option[String] = None): Long = {
    val vs = mainVersions(spark, tableDir)
    val (spec, op, base) =
      if (vs.isEmpty) (transforms, "create", -1L)
      else (currentSpec(spark, tableDir, snapshot(spark, tableDir, vs.max)._1),
        "overwrite", vs.max)
    val era = writeEra(spark, tableDir, df, spec)
    publish(spark, tableDir,
      stageSnapshot(spark, tableDir, Seq(era), batchId, op, Some(base)))
  }

  /** Marker naming an era as SCHEMA-ONLY ([[evolveSchema]]): it carries the
    * widened schema in one empty unpartitioned file and must never win
    * [[currentSpec]] — the layout keeps deriving from the newest DATA era.
    * ('_'-prefixed without '=', so scans filter it like _SUCCESS.) */
  private val SchemaOnlyMarker = "_SCHEMA_ONLY"

  /** The current spec = the spec of the snapshot's highest-numbered era,
    * skipping schema-only evolution markers (whose unpartitioned empty era
    * would otherwise silently RESET a partitioned table's layout). */
  private def currentSpec(spark: SparkSession, tableDir: String,
      eras: Seq[String]): Seq[Transform] = {
    val (fs, _) = fsFor(spark, tableDir)
    val dataEras = eras.filterNot(e =>
      fs.exists(new Path(eraPath(tableDir, e), SchemaOnlyMarker)))
    val top = (if (dataEras.nonEmpty) dataEras else eras)
      .maxBy(_.stripPrefix("era-").toInt)
    HiddenPartitioning.spec(spark, eraPath(tableDir, top)).getOrElse(
      throw new IllegalStateException(s"era $top under $tableDir has no spec file"))
  }

  /** ADD-ONLY schema evolution as a PUBLISHED snapshot — the storage face
    * behind `ALTER TABLE … ADD COLUMNS`: the widened schema lands as one
    * schema-carrying EMPTY era (unpartitioned on purpose — an empty
    * partitioned write lands no files, so the evolution would vanish from
    * the canonical-schema fold), tagged [[SchemaOnlyMarker]] so the
    * table's partition spec keeps deriving from the newest DATA era.
    * Existing rows null-fill the new columns; older snapshots keep the
    * narrow schema; type conflicts and duplicates refuse loudly. Returns
    * the published version. */
  def evolveSchema(spark: SparkSession, tableDir: String,
      adds: Seq[org.apache.spark.sql.types.StructField]): Long = {
    require(adds.nonEmpty, "ADD COLUMNS needs at least one column")
    val vs = mainVersions(spark, tableDir)
    require(vs.nonEmpty, s"no snapshots under $tableDir")
    val (eras, dels) = snapshot(spark, tableDir, vs.max)
    val canonical = canonicalSchema(spark, tableDir, eras)
    val dup = adds.map(_.name)
      .filter(n => canonical.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(dup.isEmpty, s"column(s) already exist: ${dup.mkString(", ")}")
    val widened = org.apache.spark.sql.types.StructType(
      canonical.fields ++ adds.map(_.copy(nullable = true)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], widened)
      .repartition(1)
    val era = writeEra(spark, tableDir, empty, Nil)
    val (fs, _) = fsFor(spark, tableDir)
    fs.create(new Path(eraPath(tableDir, era), SchemaOnlyMarker), true).close()
    publish(spark, tableDir,
      stageSnapshotDels(spark, tableDir, eras :+ era, dels, None,
        "evolve-schema", Some(vs.max)))
  }

  /** WAP append under the snapshot's current spec: new era staged as data,
    * snapshot manifest staged, `audit` runs against the STAGED composite
    * read (exactly what readers would see), publish iff clean. Returns the
    * published version (Right) or the violations (Left — the staged
    * snapshot is aborted; the orphan era is unreferenced garbage for
    * [[vacuum]]). */
  def append(spark: SparkSession, tableDir: String, df: DataFrame,
      batchId: Option[String] = None)(
      audit: DataFrame => Seq[String] = _ => Nil): Either[Seq[String], Long] = {
    require(versions(spark, tableDir).nonEmpty,
      s"cannot append to a table that was never created: $tableDir")
    appendOrCreate(spark, tableDir, df, Nil, batchId)(audit)
  }

  /** [[append]] that also CREATES the table on first use — the entry point
    * for unattended writers (streaming sinks can't order a separate
    * `create` call ahead of their first micro-batch). An existing table
    * appends under its current spec and `transforms` is ignored; a fresh
    * table's first era is laid out under `transforms`. Same WAP contract as
    * [[append]]: the audit runs against the staged composite, a veto (or a
    * throw) publishes nothing. */
  def appendOrCreate(spark: SparkSession, tableDir: String, df: DataFrame,
      transforms: Seq[Transform], batchId: Option[String] = None)(
      audit: DataFrame => Seq[String] = _ => Nil): Either[Seq[String], Long] = {
    val vs0 = mainVersions(spark, tableDir)
    val spec =
      if (vs0.nonEmpty)
        currentSpec(spark, tableDir, snapshot(spark, tableDir, vs0.max)._1)
      else transforms // empty = an unpartitioned table
    // the DATA write runs outside any lock (an unreferenced era is
    // invisible), so concurrent appends overlap their expensive part fully
    val era = writeEra(spark, tableDir, df, spec)
    // the COMMIT re-resolves the base snapshot under the table's commit
    // lock: an append that published while our data was writing is carried
    // into our manifest — without this, two concurrent appends would both
    // stage off the same base and the second publish would silently drop
    // the first one's era. Same-JVM writers linearize under the lock; a
    // CROSS-PROCESS committer surfaces as a publish-time
    // [[CommitConflictException]], on which the append REBASES: re-resolve
    // the latest snapshot, restage with the same (already-written) era,
    // re-run the audit against the new composite, retry.
    commitLockFor(spark, tableDir).synchronized {
      var attempts = 0
      while (true) {
        attempts += 1
        val vs = mainVersions(spark, tableDir)
        val base = if (vs.isEmpty) -1L else vs.max
        val (eras, dels) =
          if (vs.isEmpty) (Nil, Nil) else snapshot(spark, tableDir, vs.max)
        // delete files carry forward UNCHANGED: the new era is outside every
        // del's `over` set, so re-appended tuples equal to deleted ones survive
        val staged = eras :+ era
        val token = stageSnapshotDels(spark, tableDir, staged, dels, batchId,
          "append", Some(base))
        val violations = try audit(readEras(spark, tableDir, staged, dels))
        catch { case e: Throwable => abort(spark, tableDir, token); throw e }
        if (violations.nonEmpty) { abort(spark, tableDir, token); return Left(violations) }
        try return Right(publish(spark, tableDir, token))
        catch {
          case c: CommitConflictException =>
            abort(spark, tableDir, token) // rebase: loop re-resolves the base
            if (attempts >= 16) throw c
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }

  /** Evolve the partition spec: publish a snapshot whose new highest era
    * carries `transforms` (data-less until the next [[append]] — readers
    * skip empty eras). Rows already written keep their original layout and
    * keep pruning under it. Returns the published version. */
  def evolveSpec(spark: SparkSession, tableDir: String,
      transforms: Seq[Transform]): Long = {
    require(transforms.nonEmpty, "declare at least one partition transform")
    val vs = mainVersions(spark, tableDir)
    require(vs.nonEmpty, s"cannot evolve a table that was never created: $tableDir")
    val (eras, dels) = snapshot(spark, tableDir, vs.max)
    val era = s"era-${nextEraId(spark, tableDir)}"
    HiddenPartitioning.writeSpecFile(spark, eraPath(tableDir, era), transforms)
    publish(spark, tableDir,
      stageSnapshotDels(spark, tableDir, eras :+ era, dels, None, "evolve",
        Some(vs.max)))
  }

  /** Latest (or time-travel) read: union of the snapshot's eras, source
    * columns only, each era pruned under its own spec, merge-on-read
    * deletes applied. */
  def read(spark: SparkSession, tableDir: String, version: Option[Long] = None): DataFrame = {
    val vs = versions(spark, tableDir)
    require(vs.nonEmpty, s"no snapshots under $tableDir")
    // unqualified latest = the MAIN head; explicit versions time-travel to
    // ANY retained snapshot, branch commits included
    val v = version.getOrElse(mainLatest(spark, tableDir))
    require(vs.contains(v), s"snapshot $v not retained (have ${vs.mkString(",")})")
    val (eras, dels) = snapshot(spark, tableDir, v)
    readEras(spark, tableDir, eras, dels)
  }

  /** Row-level DELETE with snapshot semantics — the Iceberg `DELETE FROM`
    * contract (the reference's actual engine takes it on these tables,
    * `dbt_project.yml:40-43`), copy-on-write mode: rewrite ONLY the eras
    * that can hold a matching row, publish a new snapshot, leave every
    * older snapshot reading the deleted rows (time travel, GDPR-erasure
    * workflows' audit trail until [[vacuum]]).
    *
    * The copy-on-write scope question — "which eras must be rewritten?" —
    * is answered by the stats layer for free: the per-era matching probe is
    * a `LIMIT 1` scan under [[HiddenPartitionPruning]] + [[StatsFileSkipping]],
    * so an era whose partition dirs and per-file min/max prove the predicate
    * can't match is cleared at PLAN time (zero tasks) and its directory is
    * carried into the new snapshot untouched. At 100 TB a keyed delete
    * (`WHERE user_id = X AND day = D`) rewrites one era's worth of matching
    * files' rows, not the table.
    *
    * DELETE semantics match SQL: rows where `predicate` is TRUE are removed;
    * FALSE and NULL survive. Rewritten eras are laid out under the CURRENT
    * spec (the same rule as [[compact]]'s rewrite — and what keeps the
    * "current spec = highest era" invariant: every rewrite takes a fresh,
    * highest era number carrying the current spec). An era whose every row
    * matches rewrites to a data-less era — readers skip it.
    *
    * Returns the published version, or the CURRENT version unchanged when no
    * row matches (Iceberg likewise publishes no snapshot for an empty
    * delete). Admin-serialized like [[compact]]/[[evolveSpec]]. */
  def delete(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val vs = mainVersions(spark, tableDir)
    require(vs.nonEmpty, s"no snapshots under $tableDir")
    val (eras, dels) = snapshot(spark, tableDir, vs.max)
    val spec = currentSpec(spark, tableDir, eras)
    val canonical = canonicalSchema(spark, tableDir, eras)
    val touched = eras.filter { e =>
      HiddenPartitioning.eraHasData(spark, eraPath(tableDir, e)) &&
        !visibleEra(spark, tableDir, e, dels, canonical).filter(predicate).isEmpty
    }
    if (touched.isEmpty) return vs.max
    val rewritten = touched.map { e =>
      writeEra(spark, tableDir,
        visibleEra(spark, tableDir, e, dels, canonical)
          .filter(not(coalesce(predicate, lit(false)))), spec)
    }
    val kept = eras.filterNot(touched.contains)
    // deletes whose covered eras were all rewritten are fully folded in;
    // the rest still guard their surviving eras (the rewritten eras carry
    // new names, so no del ever covers them)
    val keptDels = dels.filter(_.over.intersect(kept.toSet).nonEmpty)
    publish(spark, tableDir,
      stageSnapshotDels(spark, tableDir, kept ++ rewritten, keptDels, None,
        "delete", Some(vs.max)))
  }

  /** Rebase loop shared by the merge-on-read DML publishes: restage the
    * already-written delete file / era against the LATEST snapshot when the
    * publish detects a conflicting commit — legal under snapshot isolation
    * (the mask covers exactly the eras the operation probed; rows a
    * concurrent commit added are outside its `over` set and survive, the
    * same scoping an un-raced operation gives later appends). The one
    * un-rebasable case: a concurrent compaction/vacuum retired a COVERED
    * era, so the mask's scope no longer exists — that surfaces as an error
    * telling the caller to re-run, never as a silent partial delete. */
  private def publishMorRebasing(spark: SparkSession, tableDir: String,
      myEra: Option[String], myDel: Option[Del], op: String,
      batchId: Option[String] = None): Long = {
    var attempts = 0
    while (true) {
      attempts += 1
      val base = mainLatest(spark, tableDir)
      val (baseEras, baseDels) = snapshot(spark, tableDir, base)
      myDel.foreach { d =>
        val missing = d.over -- baseEras.toSet
        require(missing.isEmpty,
          s"cannot rebase $op on $tableDir: covered eras ${missing.mkString(",")} " +
            "were rewritten by a concurrent commit — re-run the operation")
      }
      val token = stageSnapshotDels(spark, tableDir, baseEras ++ myEra,
        baseDels ++ myDel, batchId, op, Some(base))
      try return publish(spark, tableDir, token)
      catch {
        case c: CommitConflictException =>
          abort(spark, tableDir, token) // rebase: loop re-resolves the base
          if (attempts >= 16) throw c
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Merge-on-read DELETE — the second Iceberg delete mode (equality-delete
    * files): instead of rewriting any data, the matching VISIBLE tuples are
    * written to a small `data/del-<k>/` file and the new snapshot lists it
    * as covering exactly the current eras. Readers anti-join covered eras
    * against their delete files ([[readEras]]); rows appended AFTER the
    * delete are outside its `over` set and survive even if tuple-equal —
    * Iceberg's sequence-number scoping. Write cost is one filtered scan of
    * the matching rows (at 100 TB: a keyed GDPR erasure writes kilobytes,
    * rewrites nothing); read cost is a broadcast anti join until a
    * [[compact]] folds the deletes into a clean era. Older snapshots never
    * list the new delete file, so time travel still reads the deleted rows.
    * Returns the published version, or the current version when nothing
    * matches. Optimistically concurrent: a conflicting commit triggers a
    * snapshot-isolation rebase ([[publishMorRebasing]]); only a concurrent
    * rewrite of a covered era refuses and asks for a re-run. */
  def deleteMergeOnRead(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column): Long = {
    val vs = mainVersions(spark, tableDir)
    require(vs.nonEmpty, s"no snapshots under $tableDir")
    val (eras, dels) = snapshot(spark, tableDir, vs.max)
    val matching = readEras(spark, tableDir, eras, dels).filter(predicate)
    if (matching.isEmpty) return vs.max
    val del = writeDel(spark, tableDir, matching)
    val covered = eras.filter(e =>
      HiddenPartitioning.eraHasData(spark, eraPath(tableDir, e))).toSet
    publishMorRebasing(spark, tableDir, None, Some(Del(del, covered)), "delete")
  }

  /** Row-level UPDATE with snapshot semantics — the second half of the
    * Iceberg DML contract ([[delete]] is the first; Athena Iceberg takes
    * `UPDATE ... SET ... WHERE` on the reference's tables,
    * `dbt_project.yml:40-43`), copy-on-write mode: rewrite ONLY the eras
    * that can hold a matching row, applying each SET assignment to rows
    * where `predicate` is TRUE (FALSE and NULL rows pass through verbatim —
    * SQL UPDATE semantics), publish a new snapshot, leave every older
    * snapshot reading the pre-update values.
    *
    * Scope discipline is [[delete]]'s: the per-era matching probe is a
    * `LIMIT 1` scan under partition pruning + stats skipping, so eras that
    * provably can't match are carried into the new snapshot by REFERENCE.
    * Assignments are cast to the column's existing type — an update never
    * changes the table schema. Updating a column a partition transform
    * derives from is legal: the rewrite re-derives the layout, so moved
    * rows land in (and prune from) their new partition directories.
    *
    * Returns the published version, or the current version unchanged when
    * no row matches. Admin-serialized like [[delete]]. */
  def update(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(assignments.nonEmpty, "UPDATE needs at least one SET assignment")
    val vs = mainVersions(spark, tableDir)
    require(vs.nonEmpty, s"no snapshots under $tableDir")
    val (eras, dels) = snapshot(spark, tableDir, vs.max)
    val spec = currentSpec(spark, tableDir, eras)
    val canonical = canonicalSchema(spark, tableDir, eras)
    // SET-target validation is data-INdependent: a typo'd column name must
    // fail whether or not the predicate happens to match any row
    val unknown = assignments.keySet -- canonical.fieldNames.toSet
    require(unknown.isEmpty,
      s"SET targets not in the table: ${unknown.mkString(", ")}")
    val touched = eras.filter { e =>
      HiddenPartitioning.eraHasData(spark, eraPath(tableDir, e)) &&
        !visibleEra(spark, tableDir, e, dels, canonical).filter(predicate).isEmpty
    }
    if (touched.isEmpty) return vs.max
    val hit = coalesce(predicate, lit(false))
    val rewritten = touched.map { e =>
      val vis = visibleEra(spark, tableDir, e, dels, canonical)
      val updated = vis.select(vis.schema.fields.toSeq.map { f =>
        assignments.get(f.name) match {
          case Some(expr) =>
            when(hit, expr.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
      writeEra(spark, tableDir, updated, spec)
    }
    val kept = eras.filterNot(touched.contains)
    val keptDels = dels.filter(_.over.intersect(kept.toSet).nonEmpty)
    publish(spark, tableDir,
      stageSnapshotDels(spark, tableDir, kept ++ rewritten, keptDels, None,
        "update", Some(vs.max)))
  }

  /** Merge-on-read UPDATE — Iceberg's other UPDATE mode, and exactly one
    * equality-delete file plus one new era published in a SINGLE snapshot:
    * the matching visible tuples land in `data/del-<k>/` (masking their old
    * values in the covered eras) and their updated images land in a fresh
    * era that the delete's `over` set excludes, so readers see the new
    * values and ONLY the new values. No existing data file is rewritten —
    * at 100 TB a keyed correction writes kilobytes; the next [[compact]]
    * folds the mask in. Write cost is one scan of the matching rows: the
    * delete file doubles as the pre-image staging for the updated era.
    * Older snapshots never list either, so time travel reads pre-update
    * values. Returns the published version, or the current version when
    * nothing matches. Optimistically concurrent like [[deleteMergeOnRead]]
    * (snapshot-isolation rebase on conflict). */
  def updateMergeOnRead(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.col
    require(assignments.nonEmpty, "UPDATE needs at least one SET assignment")
    val vs = mainVersions(spark, tableDir)
    require(vs.nonEmpty, s"no snapshots under $tableDir")
    val (eras, dels) = snapshot(spark, tableDir, vs.max)
    val spec = currentSpec(spark, tableDir, eras)
    val matching = readEras(spark, tableDir, eras, dels).filter(predicate)
    val unknown = assignments.keySet -- matching.columns.toSet
    require(unknown.isEmpty,
      s"SET targets not in the table: ${unknown.mkString(", ")}")
    if (matching.isEmpty) return vs.max
    val del = writeDel(spark, tableDir, matching)
    val covered = eras.filter(e =>
      HiddenPartitioning.eraHasData(spark, eraPath(tableDir, e))).toSet
    // the updated images: re-read the just-written pre-image file (so the
    // table's data files are scanned exactly once) and apply every
    // assignment unconditionally — these rows all matched
    val pre = spark.read.parquet(s"$tableDir/data/$del")
    val updated = pre.select(pre.schema.fields.toSeq.map { f =>
      assignments.get(f.name)
        .map(_.cast(f.dataType).as(f.name)).getOrElse(col(f.name))
    }: _*)
    val era = writeEra(spark, tableDir, updated, spec)
    publishMorRebasing(spark, tableDir, Some(era), Some(Del(del, covered)), "update")
  }

  /** Positional merge-on-read DELETE — Iceberg v2's SECOND delete-file
    * flavor (data-file path + row ordinal), the one engines reach for when
    * the table has no usable equality key or its rows are too wide to copy
    * into a tuple mask: the matching VISIBLE rows' physical addresses land
    * in `data/del-<k>/` as ([[GFile]], [[GPos]]) pairs — two columns,
    * whatever the row width — and readers anti-join covered eras on the
    * address ([[applyPosDels]]: the mask's own touched-file list scopes the
    * join to the files it names, so untouched eras and files never pay).
    * Era immutability is what makes the address durable: a data file's
    * (path, ordinal) space never changes until a [[compact]] retires the
    * mask along with the layout. Rows appended after the delete live in
    * fresh files and share no address with the mask — the same
    * sequence-number scoping as the equality flavor, doubly guaranteed by
    * `over`. Time travel, empty-match behavior, and OCC rebase semantics
    * match [[deleteMergeOnRead]]; the one extra refusal is a concurrent
    * rewrite of a covered era (the rebase loop already refuses it —
    * positions into a retired era would be dangling). */
  def deletePositional(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.col
    val vs = mainVersions(spark, tableDir)
    require(vs.nonEmpty, s"no snapshots under $tableDir")
    val (eras, dels) = snapshot(spark, tableDir, vs.max)
    val canonical = canonicalSchema(spark, tableDir, eras)
    val dataEras = eras.filter(e =>
      HiddenPartitioning.eraHasData(spark, eraPath(tableDir, e)))
    val matching = dataEras
      .map(e => visibleEra(spark, tableDir, e, dels, canonical, keepPos = true)
        .filter(predicate).select(col(GFile), col(GPos)))
      .reduce(_.union(_))
    if (matching.isEmpty) return vs.max
    val del = writeDel(spark, tableDir, matching)
    publishMorRebasing(spark, tableDir, None,
      Some(Del(del, dataEras.toSet, Nil, "pos")), "delete")
  }

  /** Positional merge-on-read UPDATE — [[updateMergeOnRead]]'s flavor twin
    * for keyless/wide tables: ONE delete file plus ONE new era in a single
    * snapshot, where the delete file holds the matched rows' addresses AND
    * their full pre-images (the pre-image doubles as the staging for the
    * updated era, the same one-scan discipline as the equality flavor —
    * readers only ever select the two address columns from it). No data
    * file is rewritten; the next [[compact]] folds the mask in. */
  def updatePositional(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.col
    require(assignments.nonEmpty, "UPDATE needs at least one SET assignment")
    val vs = mainVersions(spark, tableDir)
    require(vs.nonEmpty, s"no snapshots under $tableDir")
    val (eras, dels) = snapshot(spark, tableDir, vs.max)
    val spec = currentSpec(spark, tableDir, eras)
    val canonical = canonicalSchema(spark, tableDir, eras)
    val unknown = assignments.keySet -- canonical.fieldNames.toSet
    require(unknown.isEmpty,
      s"SET targets not in the table: ${unknown.mkString(", ")}")
    val dataEras = eras.filter(e =>
      HiddenPartitioning.eraHasData(spark, eraPath(tableDir, e)))
    val matching = dataEras
      .map(e => visibleEra(spark, tableDir, e, dels, canonical, keepPos = true)
        .filter(predicate))
      .reduce(_.union(_))
    if (matching.isEmpty) return vs.max
    val del = writeDel(spark, tableDir, matching)
    val pre = spark.read.parquet(s"$tableDir/data/$del").drop(GFile, GPos)
    val updated = pre.select(pre.schema.fields.toSeq.map { f =>
      assignments.get(f.name)
        .map(_.cast(f.dataType).as(f.name)).getOrElse(col(f.name))
    }: _*)
    val era = writeEra(spark, tableDir, updated, spec)
    publishMorRebasing(spark, tableDir, Some(era),
      Some(Del(del, dataEras.toSet, Nil, "pos")), "update")
  }

  /** Storage-level MERGE — the upsert workhorse of incremental pipelines
    * (dbt's `incremental` materialization, Iceberg's `MERGE INTO`), executed
    * merge-on-read in ONE published snapshot: every target row whose key
    * appears in `source` is masked by an equality-delete file (covering the
    * eras existing now), and every source row NOT claimed by `deleteWhen`
    * lands in a fresh era — matched keys are replaced, unmatched keys
    * insert, `deleteWhen` rows delete and leave nothing. The multi-clause
    * conditional form stays a query-level concern (i9 builds it from
    * [[graft.pipeline.Incremental]]); this is the storage contract those
    * folds publish through.
    *
    * No data file is rewritten AND no target file is read: the delete file
    * is just the batch's distinct keys (Iceberg's `equality_ids` form —
    * [[Del.cols]]), so at 100 TB a CDC batch costs the batch write itself.
    * Readers pay one broadcast anti join per covered era until the next
    * [[compact]] folds the masks in. Duplicate keys in `source` are legal
    * and deterministic: one key mask, all their non-delete rows land.
    * Older snapshots never list either side — time travel reads the
    * pre-merge state. Returns the published version (a source with no
    * effect still publishes, like an empty MERGE in SQL engines it's a
    * no-op commit — callers batching CDC replay on [[publishedBatchIds]]
    * need the version to advance).
    *
    * Concurrency: the source batch is PERSISTED for the duration (the up-to
    * four consumptions — keys, upserts, their emptiness probes — cost one
    * materialization), and the commit is OPTIMISTIC: a concurrent committer
    * surfaces as a publish-time [[CommitConflictException]], on which the
    * merge REBASES mechanically — the already-written delete file and upsert
    * era are restaged against the new latest snapshot, with the key mask's
    * `over` set widened to the rebased snapshot's eras (my keys win over a
    * concurrently-merged row of the same key: the serialization order puts
    * this merge second). Two concurrent merges therefore both land, neither
    * losing rows — Iceberg's commit-retry semantics. */
  def merge(spark: SparkSession, tableDir: String, source: DataFrame,
      keys: Seq[String],
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      batchId: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    require(keys.nonEmpty, "MERGE needs at least one key column")
    val vs = mainVersions(spark, tableDir)
    require(vs.nonEmpty, s"no snapshots under $tableDir")
    val (eras, dels) = snapshot(spark, tableDir, vs.max)
    val spec = currentSpec(spark, tableDir, eras)
    val cols = readEras(spark, tableDir, eras, dels).columns // plan-only: schema
    require(source.columns.sorted.toSeq == cols.sorted.toSeq,
      s"MERGE source schema must match the table: ${source.columns.toSeq} vs ${cols.toSeq}")
    val missing = keys.filterNot(cols.contains)
    require(missing.isEmpty, s"MERGE keys not in the table: ${missing.mkString(", ")}")
    val src = source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val srcKeys = src.select(keys.map(col): _*).distinct()
      val upserts = deleteWhen.fold(src)(d =>
        src.filter(not(coalesce(d, lit(false)))))
        .select(cols.map(col).toSeq: _*) // column ORDER aligned
      val delOpt = if (srcKeys.isEmpty) None else Some(writeDel(spark, tableDir, srcKeys))
      val eraOpt = if (upserts.isEmpty) None else Some(writeEra(spark, tableDir, upserts, spec))
      var attempts = 0
      while (true) {
        attempts += 1
        val base = mainLatest(spark, tableDir)
        val (baseEras, baseDels) = snapshot(spark, tableDir, base)
        val newDels = baseDels ++ delOpt.map(d =>
          Del(d, baseEras.filter(e =>
            HiddenPartitioning.eraHasData(spark, eraPath(tableDir, e))).toSet, keys))
        val newEras = baseEras ++ eraOpt
        val token = stageSnapshotDels(spark, tableDir, newEras, newDels, batchId,
          "merge", Some(base))
        try return publish(spark, tableDir, token)
        catch {
          case c: CommitConflictException =>
            abort(spark, tableDir, token) // rebase: loop re-resolves the base
            if (attempts >= 16) throw c
        }
      }
      throw new IllegalStateException("unreachable")
    } finally src.unpersist(blocking = false): Unit
  }

  /** Changelog (CDC) scan — Iceberg's changelog reads / Delta's change data
    * feed: the NET row-level changes between snapshot `fromVersion`
    * (exclusive) and `toVersion` (inclusive; latest by default), as the
    * source columns plus `_change_type` ('insert' | 'delete') and
    * `_commit_version` (the snapshot that introduced the change).
    *
    * Era-aware, so cost is proportional to what CHANGED, never to the
    * table: consecutive snapshots share most era references by construction,
    * and only (a) eras present on one side of a step (appends, copy-on-write
    * rewrites), and (b) carried-over eras whose delete-file coverage
    * changed (merge-on-read DML, rollback) are scanned — an untouched era
    * contributes zero tasks. Within a step the two sides net through a
    * multiset EXCEPT ALL, so a copy-on-write rewrite reports exactly the
    * rows it changed (an UPDATE = its deletes + its inserts), not the whole
    * rewritten era. `op=replace` snapshots ([[compact]]) are
    * content-preserving relative to their immediate predecessor and
    * contribute nothing when that predecessor is retained; a GAPPED step
    * landing on a replace (retention dropped intermediate versions) always
    * diffs for real, since the vacuumed versions may have carried DML the
    * compaction then absorbed. Versions already [[vacuum]]ed collapse into
    * their successor's step; the net result over retained snapshots is
    * identical.
    *
    * This is the feed an incremental consumer needs: applying (from, to]'s
    * changes to a materialization of `from` reproduces `to` exactly — the
    * i11 registry query hash-gates that contract end to end.
    *
    * Plan-size bound: the feed unions one arm per retained step with REAL
    * changes — provably change-free steps (reference-identical manifests:
    * empty merges, self-rollbacks; adjacent compactions) are pruned at plan
    * time ([[isNoopStep]], spec-asserted over a 30-no-op history), so a
    * CDC replayer's mostly-empty batches cost nothing here. The remaining
    * arm count is bounded by the RETENTION policy, which is the documented
    * control: a year of hourly commits under `keepSnapshots`/`expireSnapshots`
    * retains what the policy says, and a consumer that has fallen further
    * behind than retention must rebuild from a snapshot read anyway. */
  /** May the retained-snapshot step a -> b be skipped without diffing?
    * True only on a PROOF of zero changes: reference-identical manifests,
    * or an op=replace between ADJACENT versions (content preservation only
    * holds relative to the immediate predecessor — when retention created a
    * gap, the collapsed step may carry real changes from the vacuumed
    * versions and must always diff). */
  private def isNoopStep(spark: SparkSession, tableDir: String,
      a: Long, b: Long): Boolean = {
    val (erasA, delsA) = snapshot(spark, tableDir, a)
    val (erasB, delsB) = snapshot(spark, tableDir, b)
    (erasA == erasB && delsA == delsB) ||
      (b == a + 1 && snapshotOp(spark, tableDir, b) == "replace")
  }

  def changes(spark: SparkSession, tableDir: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    // the feed is a MAIN-lineage contract: branch commits are invisible to
    // it until a fast-forward publishes their content as a main snapshot —
    // so both endpoints must be main versions and the step range skips any
    // interleaved branch snapshot ids
    val vs = mainVersions(spark, tableDir)
    require(vs.nonEmpty, s"no snapshots under $tableDir")
    val to = toVersion.getOrElse(vs.max)
    require(vs.contains(fromVersion),
      s"main snapshot $fromVersion not retained (have ${vs.mkString(",")})")
    require(vs.contains(to), s"main snapshot $to not retained (have ${vs.mkString(",")})")
    require(fromVersion <= to, s"empty change range: $fromVersion > $to")
    val range = vs.filter(v => v >= fromVersion && v <= to)
    // ONE output schema for the whole feed: the canonical fold over every
    // era any snapshot in the range references — under add-only schema
    // evolution this covers each step (a narrower step's rows null-fill),
    // and a post-rollback narrowing cannot drop an intermediate column
    val canonical = canonicalSchema(spark, tableDir,
      range.flatMap(v => snapshot(spark, tableDir, v)._1).distinct)
    val empty = conform(read(spark, tableDir, Some(to)).limit(0), canonical)
      .withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(0L))
    def hasData(e: String) =
      HiddenPartitioning.eraHasData(spark, eraPath(tableDir, e))
    // one step = one retained-snapshot pair a -> b. Two step shapes are
    // provably change-free and skipped at PLAN time (the long-history
    // hygiene that keeps a year of hourly commits from planning a
    // thousand-arm union): an ADJACENT op=replace step (compaction is
    // content-preserving relative to its immediate predecessor — adjacency
    // is load-bearing: a COLLAPSED step landing on a replace may have
    // absorbed real DML from vacuumed versions, so it must diff for real),
    // and a step whose manifests are reference-identical (an empty MERGE's
    // no-op commit, a rollback to the current state — same eras, same
    // delete files, zero possible diff).
    val steps = range.sliding(2).collect {
      case Seq(a, b) if !isNoopStep(spark, tableDir, a, b) =>
        val (erasA, delsA) = snapshot(spark, tableDir, a)
        val (erasB, delsB) = snapshot(spark, tableDir, b)
        val setA = erasA.toSet
        val setB = erasB.toSet
        // carried-over eras whose delete coverage changed: rows a fresh
        // delete file masks are deletes; rows a dropped one (rollback)
        // unmasks are inserts — broadcast semi joins of the era's visible
        // rows against ONLY the delta delete files, applied one file at a
        // time on the FILE's own equality columns with the already-claimed
        // rows anti-joined away between files, so a row matched by several
        // delta files still counts exactly once (multiset-exact, no shuffle)
        def coverageDelta(e: String, visUnder: Seq[Del], fresh: Seq[Del]) = {
          // STATS-BOUNDED like the read path's applyDels: a delta file whose
          // key box is provably disjoint from this era masks (or unmasks)
          // nothing here — dropped before any scan plans; an overlapping one
          // restricts its semi probe to the in-box slice when the era's
          // stats say the split pays (out-of-box files then feed NEITHER the
          // probe nor the claim tracking's join — a narrow CDC commit's
          // changelog read scans the mask's files, not the table).
          // Each file is PRICED ONCE — (frame, equality columns, key box,
          // disjoint fraction) feed both the liveness filter and the
          // hit/miss split, instead of re-deriving bounds + fraction (and
          // re-listing the delete dir) inside the fold per (era, file).
          // (del, dir, join columns, key box, disjoint fraction, touched
          // paths in THIS era for a positional mask). Positional masks
          // scope by their touched-file list instead of a key box: a mask
          // naming no file of this era is dropped before any scan plans.
          final case class PricedDel(dl: Del, delDir: String, on: Seq[String],
              bounds: Seq[MaskBound], frac: Double, mine: Option[Seq[String]])
          val eraPrefix = qualifiedEraPrefix(spark, tableDir, e)
          val priced = fresh.flatMap { dl =>
            val delDir = s"$tableDir/data/${dl.dir}"
            if (dl.kind == "pos") {
              val mine = touchedPaths(spark, delDir)
                .map(_.filter(_.startsWith(eraPrefix)))
              if (mine.exists(_.isEmpty)) None
              else Some(PricedDel(dl, delDir, Seq(GFile, GPos), Nil, 0.0, mine))
            } else {
              val on = if (dl.cols.nonEmpty) dl.cols
                else HiddenPartitioning.readImmutableParquet(spark, delDir).columns.toSeq
              val bounds = maskBounds(spark, delDir, on, canonical)
              val frac = disjointFileFraction(spark, tableDir, e, bounds)
              if (frac >= 1.0) None
              else Some(PricedDel(dl, delDir, on, bounds, frac, None))
            }
          }
          if (priced.isEmpty) None
          else {
            // a positional mask in the delta needs the visible frame tagged
            // with its physical address; the extra columns drop before the
            // claimed rows join the feed
            val needPos = priced.exists(_.dl.kind == "pos")
            val vis = visibleEra(spark, tableDir, e, visUnder, canonical,
              keepPos = needPos)
            val (_, parts) = priced.foldLeft((vis, Seq.empty[DataFrame])) {
              case ((remaining, acc), p) =>
                import org.apache.spark.sql.functions.{col => fc, not}
                val keys = HiddenPartitioning.readImmutableParquet(spark, p.delDir).select(p.on.map(col): _*)
                // same broadcast ceiling as the read path's applyDels
                val d = if (delBytes(spark, p.delDir) <= deleteBroadcastMax(spark))
                  broadcast(keys) else keys
                def cond(left: DataFrame) =
                  p.on.map(c => left(c) <=> d(c)).reduce(_ && _)
                (p.dl.kind, p.mine) match {
                  case ("pos", Some(ps)) =>
                    val hit = remaining.filter(fc(GFile).isin(ps: _*))
                    val miss = remaining.filter(not(fc(GFile).isin(ps: _*)))
                    (miss.union(hit.join(d, cond(hit), "left_anti")),
                      acc :+ hit.join(d, cond(hit), "left_semi"))
                  case ("eq", _) if p.frac >= 0.5 =>
                    val hit = remaining.filter(p.bounds.map(b =>
                      fc(b.col) >= b.loLit && fc(b.col) <= b.hiLit).reduce(_ && _))
                    val miss = remaining.filter(p.bounds.map(b =>
                      fc(b.col) < b.loLit || fc(b.col) > b.hiLit || fc(b.col).isNull)
                      .reduce(_ || _))
                    (miss.union(hit.join(d, cond(hit), "left_anti")),
                      acc :+ hit.join(d, cond(hit), "left_semi"))
                  case _ =>
                    (remaining.join(d, cond(remaining), "left_anti"),
                      acc :+ remaining.join(d, cond(remaining), "left_semi"))
                }
            }
            Some(parts.reduce(_.union(_)).drop(GFile, GPos))
          }
        }
        val shared = erasA.filter(e => setB.contains(e) && hasData(e))
        val masked = shared.flatMap { e =>
          val before = delsA.filter(_.over.contains(e)).map(_.dir).toSet
          coverageDelta(e, delsA,
            delsB.filter(d => d.over.contains(e) && !before.contains(d.dir)))
        }
        val unmasked = shared.flatMap { e =>
          val after = delsB.filter(_.over.contains(e)).map(_.dir).toSet
          coverageDelta(e, delsB,
            delsA.filter(d => d.over.contains(e) && !after.contains(d.dir)))
        }
        val gone = (erasA.filter(e => !setB.contains(e) && hasData(e))
          .map(e => visibleEra(spark, tableDir, e, delsA, canonical)) ++ masked)
          .reduceOption(_.union(_))
        val born = (erasB.filter(e => !setA.contains(e) && hasData(e))
          .map(e => visibleEra(spark, tableDir, e, delsB, canonical)) ++ unmasked)
          .reduceOption(_.union(_))
        def tag(df: DataFrame, t: String) = df
          .withColumn("_change_type", lit(t))
          .withColumn("_commit_version", lit(b))
        (b, gone, born, tag _)
    }.toSeq
    // One-sided steps (pure appends, pure deletes) need no aggregation at
    // all: their rows pass through tagged. Two-sided steps (CoW rewrites,
    // rollbacks) each need the signed multiset diff — r13 fused the
    // exceptAll PAIR into one +1/-1 aggregation per step (net > 0 ⇒ that
    // many inserts, net < 0 ⇒ that many deletes, equal multiplicity
    // vanishes); r14 (guide §2.4 again) fuses those per-step aggregations
    // into ONE global aggregation keyed by (_commit_version, row): the
    // grouping key gains the step id, so the per-step algebra is untouched
    // row for row, but a history with N diffing steps now plans ONE
    // Exchange + HashAggregate instead of N — on the registry histories
    // that is 4-5 aggregate stages collapsed into one, and the same bytes
    // shuffled through fewer stage barriers at any scale.
    val direct = steps.collect {
      case (_, Some(g), None, tag) => tag(g, "delete")
      case (_, None, Some(bn), tag) => tag(bn, "insert")
    }
    val twoSided = steps.collect { case (b, Some(g), Some(bn), _) =>
      bn.withColumn("_w", lit(1L)).withColumn("_commit_version", lit(b))
        .unionByName(g.withColumn("_w", lit(-1L)).withColumn("_commit_version", lit(b)))
    }
    val fused = twoSided.reduceOption(_.unionByName(_)).map { u =>
      import org.apache.spark.sql.functions.{explode, expr, when}
      val cols = u.columns.toSeq.filterNot(Set("_w", "_commit_version"))
      val net = u
        .groupBy((cols :+ "_commit_version").map(col): _*)
        .agg(org.apache.spark.sql.functions.sum(col("_w")).as("_net"))
        .filter(col("_net") =!= 0L)
      net.select(cols.map(col) ++ Seq(
          explode(expr("sequence(1L, abs(_net))")).as("_rep"),
          when(col("_net") > 0, lit("insert")).otherwise(lit("delete"))
            .as("_change_type"),
          col("_commit_version")): _*)
        .drop("_rep")
    }
    (empty +: (direct ++ fused.toSeq)).reduce(_.unionByName(_))
  }

  // ---- named refs (Iceberg's tags) -------------------------------------------

  private def refPath(tableDir: String, name: String): Path = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"ref name must be a file-name-safe token: '$name'")
    new Path(s"$tableDir/refs/$name.json")
  }

  /** Pin snapshot `version` under an immutable name — Iceberg's tag. A
    * tagged snapshot (and every era/delete file it references) SURVIVES
    * [[vacuum]] regardless of the keep-N window: tags are the retention
    * override an audit pin needs ("the table as shipped to training run X"
    * stays readable until someone deletes the tag, not until the next GC).
    * Re-tagging an existing name is refused — delete first; that's what
    * makes a tag trustworthy as an audit pin. */
  def tag(spark: SparkSession, tableDir: String, name: String, version: Long): Unit = {
    val vs = versions(spark, tableDir)
    require(vs.contains(version),
      s"snapshot $version not retained (have ${vs.mkString(",")})")
    val (fs, _) = fsFor(spark, tableDir)
    val p = refPath(tableDir, name)
    require(!fs.exists(p), s"tag '$name' already exists on $tableDir — delete it first")
    val out = fs.create(p, false)
    out.write(s"""{"version":$version}""".getBytes("UTF-8"))
    out.close()
  }

  /** Drop a tag (the snapshot it pinned becomes ordinary-retention again). */
  def dropTag(spark: SparkSession, tableDir: String, name: String): Unit = {
    val (fs, _) = fsFor(spark, tableDir)
    require(fs.delete(refPath(tableDir, name), false), s"no tag '$name' on $tableDir")
  }

  /** All tags: name -> pinned version. */
  def tags(spark: SparkSession, tableDir: String): Map[String, Long] = {
    val (fs, _) = fsFor(spark, tableDir)
    ls(fs, new Path(s"$tableDir/refs"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      .map { st =>
        val in = fs.open(st.getPath)
        val bytes = try in.readAllBytes() finally in.close()
        val v = new ObjectMapper().readTree(bytes).get("version").asLong()
        st.getPath.getName.stripSuffix(".json") -> v
      }.toMap
  }

  /** Iceberg's `$refs`: one row per tag (name, pinned version). */
  def tagsMeta(spark: SparkSession, tableDir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    tags(spark, tableDir).toSeq.sorted.toDF("name", "version")
  }

  /** The branch half of `$refs`: one row per live branch — name, fork
    * version, current head (== fork while the branch has no commits). */
  def branchesMeta(spark: SparkSession, tableDir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    branches(spark, tableDir).toSeq.sorted
      .map { case (n, from) => (n, from, branchHead(spark, tableDir, n)) }
      .toDF("name", "fork_version", "head_version")
  }

  /** Time travel by tag name. */
  def readTag(spark: SparkSession, tableDir: String, name: String): DataFrame = {
    val v = tags(spark, tableDir).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' on $tableDir"))
    read(spark, tableDir, Some(v))
  }

  // ---- named branches (Iceberg's branch refs, fast-forward-only) -------------

  private def branchPath(tableDir: String, name: String): Path = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"branch name must be a file-name-safe token: '$name'")
    new Path(s"$tableDir/branches/$name.json")
  }

  /** Create branch `name` forking from the CURRENT main head — Iceberg's
    * writable ref, the missing half of the WAP story: audits that need
    * several commits' worth of staged work publish them to a branch
    * ([[appendToBranch]]), validate the branch read, and land everything on
    * main atomically with ONE [[fastForward]]. Main never sees a branch
    * commit until then. The ref file records only the immutable fork point;
    * the branch HEAD is derived from the published branch snapshots
    * themselves, so a branch commit is exactly as atomic as any other
    * publish — there is no separate head pointer to tear. Returns the fork
    * version. */
  def createBranch(spark: SparkSession, tableDir: String, name: String): Long = {
    val from = mainLatest(spark, tableDir)
    val (fs, _) = fsFor(spark, tableDir)
    val p = branchPath(tableDir, name)
    require(!fs.exists(p), s"branch '$name' already exists on $tableDir")
    val out = fs.create(p, false)
    out.write(s"""{"from":$from}""".getBytes("UTF-8"))
    out.close()
    from
  }

  /** Live branches: name -> fork version. */
  def branches(spark: SparkSession, tableDir: String): Map[String, Long] = {
    val (fs, _) = fsFor(spark, tableDir)
    ls(fs, new Path(s"$tableDir/branches"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      .map { st =>
        val in = fs.open(st.getPath)
        val bytes = try in.readAllBytes() finally in.close()
        st.getPath.getName.stripSuffix(".json") ->
          new ObjectMapper().readTree(bytes).get("from").asLong()
      }.toMap
  }

  private def branchFrom(spark: SparkSession, tableDir: String, name: String): Long =
    branches(spark, tableDir).getOrElse(name,
      throw new IllegalArgumentException(s"no branch '$name' on $tableDir"))

  /** The branch's current head: its newest published commit, or the fork
    * version while it has none. */
  def branchHead(spark: SparkSession, tableDir: String, name: String): Long = {
    val from = branchFrom(spark, tableDir, name)
    (from +: versions(spark, tableDir)
      .filter(v => snapshotBranch(spark, tableDir, v).contains(name))).max
  }

  /** Read the branch head (time travel within a branch = explicit versions,
    * same as main). */
  def readBranch(spark: SparkSession, tableDir: String, name: String): DataFrame =
    read(spark, tableDir, Some(branchHead(spark, tableDir, name)))

  /** WAP append to a BRANCH: the same stage → audit → publish contract as
    * [[append]], but based on (and OCC-validated against) the branch head,
    * and invisible to every main-lineage surface until [[fastForward]].
    * Concurrent main commits never conflict with a branch commit — the
    * lineages share no head; two writers on ONE branch linearize exactly
    * like two main appenders (same-JVM lock + cross-process rebase). */
  def appendToBranch(spark: SparkSession, tableDir: String, name: String,
      df: DataFrame, batchId: Option[String] = None)(
      audit: DataFrame => Seq[String] = _ => Nil): Either[Seq[String], Long] = {
    val head0 = branchHead(spark, tableDir, name) // also validates existence
    val spec = currentSpec(spark, tableDir, snapshot(spark, tableDir, head0)._1)
    val era = writeEra(spark, tableDir, df, spec)
    commitLockFor(spark, tableDir).synchronized {
      var attempts = 0
      while (true) {
        attempts += 1
        val base = branchHead(spark, tableDir, name)
        val (eras, dels) = snapshot(spark, tableDir, base)
        val staged = eras :+ era
        val token = stageSnapshotDels(spark, tableDir, staged, dels, batchId,
          "append", Some(base), branch = Some(name))
        val violations = try audit(readEras(spark, tableDir, staged, dels))
        catch { case e: Throwable => abort(spark, tableDir, token); throw e }
        if (violations.nonEmpty) { abort(spark, tableDir, token); return Left(violations) }
        try return Right(publish(spark, tableDir, token))
        catch {
          case c: CommitConflictException =>
            abort(spark, tableDir, token) // rebase: loop re-resolves the head
            if (attempts >= 16) throw c
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }

  /** Fast-forward main to the branch head — Iceberg's `fastForward`
    * (fast-forward-ONLY, its own default: no merge semantics). Publishes
    * one main snapshot referencing exactly the branch head's eras and
    * delete files (nothing is copied), op = `fast-forward`, OCC-validated
    * against the main head: if main has moved past the branch's fork point,
    * the branch is DIVERGED and the publish surfaces
    * [[CommitConflictException]] — the caller re-forks and replays, never a
    * silent merge. The changelog reports the step as the net content
    * landing on main. Returns the published main version. */
  def fastForward(spark: SparkSession, tableDir: String, name: String): Long = {
    val head = branchHead(spark, tableDir, name)
    val from = branchFrom(spark, tableDir, name)
    val main = mainLatest(spark, tableDir)
    if (main != from) throw new CommitConflictException(tableDir, from, main)
    require(head != from, s"branch '$name' has no commits to fast-forward")
    val (eras, dels) = snapshot(spark, tableDir, head)
    publish(spark, tableDir,
      stageSnapshotDels(spark, tableDir, eras, dels, None, "fast-forward",
        Some(main)))
  }

  /** Drop a branch ref. Its snapshots lose their retention pin and age out
    * through the normal vacuum path; already-fast-forwarded content lives
    * on main and is unaffected. */
  def dropBranch(spark: SparkSession, tableDir: String, name: String): Unit = {
    val (fs, _) = fsFor(spark, tableDir)
    require(fs.delete(branchPath(tableDir, name), false),
      s"no branch '$name' on $tableDir")
  }

  /** Iceberg's `rollback_to_snapshot`: publish a NEW snapshot whose content
    * is exactly snapshot `toVersion`'s — the same era and delete-file
    * references, nothing copied. History stays append-only: the
    * rolled-back-over versions remain readable until [[vacuum]], and
    * [[changes]] across the rollback step reports the net content reversal
    * (what a downstream consumer must undo). Returns the published version. */
  def rollback(spark: SparkSession, tableDir: String, toVersion: Long): Long = {
    val vs = versions(spark, tableDir)
    require(vs.contains(toVersion),
      s"snapshot $toVersion not retained (have ${vs.mkString(",")})")
    val (eras, dels) = snapshot(spark, tableDir, toVersion)
    publish(spark, tableDir,
      stageSnapshotDels(spark, tableDir, eras, dels, None, "rollback",
        Some(mainLatest(spark, tableDir))))
  }

  /** Iceberg's `rewrite_data_files`: rewrite ALL rows of the latest
    * snapshot under its current spec into ONE fresh era and publish a
    * snapshot referencing only that era. Older snapshots still reference
    * the old eras — time travel is untouched until [[vacuum]] reclaims
    * them. Returns the published version.
    *
    * With `clusterBy`, the rewrite is Iceberg's rewrite-with-SORT-ORDER:
    * rows range-partition on the cluster keys into `ceil(bytes /
    * targetBytes)` write tasks (file count from the snapshot's ACTUAL
    * bytes — the over-128MB sizing a table service does), so inside every
    * derived partition directory each task's file covers a narrow,
    * pairwise-disjoint cluster-key span. That is exactly the layout
    * [[StatsFileSkipping]] monetizes: after a clustered compaction,
    * key-range predicates skip most files at plan time — the maintenance
    * operation that turns an append-ordered table into a skippable one
    * without changing a row. */
  def compact(spark: SparkSession, tableDir: String,
      clusterBy: Seq[String] = Nil, targetBytes: Long = 128L << 20): Long = {
    require(targetBytes > 0, "targetBytes must be positive")
    val vs = mainVersions(spark, tableDir)
    require(vs.nonEmpty, s"no snapshots under $tableDir")
    val (eras, dels) = snapshot(spark, tableDir, vs.max)
    val spec = currentSpec(spark, tableDir, eras)
    // the rewrite reads THROUGH the merge-on-read deletes, so the compacted
    // snapshot lists none — compaction is what retires equality-delete
    // files, exactly Iceberg's rewrite_data_files contract
    val rows = readEras(spark, tableDir, eras, dels)
    val shaped =
      if (clusterBy.isEmpty) rows
      else {
        val (fs, _) = fsFor(spark, tableDir)
        val total = eras.map(e =>
          FileStats.dataBytes(fs, new Path(eraPath(tableDir, e)))).sum
        val nFiles = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
        import org.apache.spark.sql.functions.col
        rows.repartitionByRange(nFiles, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.head, clusterBy.tail: _*)
      }
    val era = writeEra(spark, tableDir, shaped, spec)
    publish(spark, tableDir,
      stageSnapshot(spark, tableDir, Seq(era), None, "replace", Some(vs.max)))
  }

  /** Retire all but the newest `keep` snapshots — except snapshots pinned
    * by a [[tag]], which survive any keep window — then delete era
    * directories no retained snapshot references (and stale staged
    * candidates) — reference-counted GC, the only operation that destroys
    * data. Returns the dropped snapshot ids.
    *
    * ADMIN-SERIALIZED like Iceberg's `remove_orphan_files` — but the
    * `_staging` sweep is additionally AGE-THRESHOLDED: only staged tokens
    * older than `stagingGraceMs` die, so a vacuum mistakenly run while an
    * append is mid-WAP (staged minutes ago, audit still running) loses
    * nothing — the in-flight token is younger than any sane grace window,
    * and genuinely-orphaned tokens (crashed writers) age past it. An
    * orphaned era a surviving young token references stays too, because era
    * GC keeps everything any retained snapshot references and the token's
    * publish may still land. The SAME window guards PRE-STAGE data: an era
    * or delete directory a concurrent writer is still filling is referenced
    * by nothing yet, so never-referenced data directories younger than the
    * grace are spared as in-flight claims (expired committed data — dirs
    * de-referenced by this call's own snapshot drops — is reclaimed
    * regardless of age). Grace 0 restores the wholesale sweep. */
  def vacuum(spark: SparkSession, tableDir: String, keep: Int,
      stagingGraceMs: Long = 20L * 60 * 1000): Seq[Long] = {
    require(keep >= 1, "must retain at least the latest snapshot")
    val vs = versions(spark, tableDir)
    dropAndGc(spark, tableDir, vs.dropRight(keep), stagingGraceMs)
  }

  /** Age-based retention — Iceberg's `expire_snapshots(older_than)`:
    * retire snapshots older than the cutoff (age = the version directory's
    * filesystem timestamp; rename preserves the staged dir's mtime, so this
    * is STAGE time, seconds before the publish — immaterial at retention
    * horizons but stated precisely), always keeping the newest `keepLast`
    * and anything a [[tag]] pins, then
    * run the same reference-counted GC as [[vacuum]]. Age-based expiry is
    * the production retention shape — "time travel for 7 days" — where a
    * burst of commits must not evict history early the way a keep-N window
    * would. Returns the dropped snapshot ids. Admin-serialized. */
  def expireSnapshots(spark: SparkSession, tableDir: String,
      olderThanMs: Long, keepLast: Int = 1,
      stagingGraceMs: Long = 20L * 60 * 1000): Seq[Long] = {
    require(keepLast >= 1, "must retain at least the latest snapshot")
    val (fs, _) = fsFor(spark, tableDir)
    val cutoff = System.currentTimeMillis() - olderThanMs
    val vs = versions(spark, tableDir)
    val aged = vs.dropRight(keepLast).filter { v =>
      fs.getFileStatus(new Path(s"$tableDir/v=$v")).getModificationTime < cutoff
    }
    dropAndGc(spark, tableDir, aged, stagingGraceMs)
  }

  /** Shared retention tail: delete the selected snapshot manifests (tag
    * pins always survive), sweep aged staging tokens, then reclaim every
    * data/delete directory no retained snapshot or in-flight token
    * references. */
  private def dropAndGc(spark: SparkSession, tableDir: String,
      selected: Seq[Long], stagingGraceMs: Long): Seq[Long] = {
    val (fs, _) = fsFor(spark, tableDir)
    // pins: tagged snapshots, plus every snapshot of a LIVE branch and its
    // fork base — a branch is a promised future fast-forward, so retention
    // of the main lineage must not gut it (dropBranch releases the pins)
    val branchPins = branches(spark, tableDir).flatMap { case (name, from) =>
      from +: versions(spark, tableDir)
        .filter(v => snapshotBranch(spark, tableDir, v).contains(name))
    }.toSet
    val pinned = tags(spark, tableDir).values.toSet ++ branchPins
    val drop = selected.filterNot(pinned.contains)
    // provenance of the directories the drops de-reference: these held
    // COMMITTED data whose retention just expired — no writer is filling
    // them, so they are reclaimable regardless of age (unlike a
    // never-referenced directory, which may be a write in flight)
    val droppedRefs = drop.flatMap { v =>
      val (eras, dels) = snapshot(spark, tableDir, v)
      eras ++ dels.map(_.dir)
    }.toSet
    drop.foreach(v => fs.delete(new Path(s"$tableDir/v=$v"), true): Unit)
    // a staged-but-unpublished snapshot inside the grace window may still
    // publish — its eras must survive the GC below as if referenced
    val cutoff = System.currentTimeMillis() - stagingGraceMs
    val (stale, inFlight) = ls(fs, new Path(s"$tableDir/_staging"))
      .partition(_.getModificationTime < cutoff)
    stale.foreach(st => fs.delete(st.getPath, true): Unit)
    val stagedRefs = inFlight.flatMap { st =>
      try {
        val f = new Path(st.getPath, SnapshotFile)
        if (!fs.exists(f)) Nil
        else {
          val in = fs.open(f)
          val bytes = try in.readAllBytes() finally in.close()
          val node = new ObjectMapper().readTree(bytes)
          val eras = node.get("eras")
          val eraNames = (0 until eras.size()).map(eras.get(_).asText())
          val delNames = Option(node.get("dels")).toSeq.flatMap(ds =>
            (0 until ds.size()).map(ds.get(_).get("dir").asText()))
          eraNames ++ delNames
        }
      } catch { case scala.util.control.NonFatal(_) => Nil }
    }
    val referenced = versions(spark, tableDir)
      .flatMap { v =>
        val (eras, dels) = snapshot(spark, tableDir, v)
        eras ++ dels.map(_.dir)
      }.toSet ++ stagedRefs
    // an era/delete directory a concurrent writer is STILL FILLING is
    // unreferenced until its snapshot stages — the (deliberately unlocked)
    // data write would be gutted by a scheduled maintain running mid-write.
    // The same grace window that protects staged tokens protects pre-stage
    // data: a NEVER-referenced directory (no retained snapshot, no in-flight
    // token, not de-referenced by this call's own drops) whose own mtime OR
    // any direct child's mtime (the spec-file claim marks write START,
    // `_SUCCESS` marks END, partition dirs land in between) is younger than
    // the cutoff is treated as an in-flight claim and spared;
    // genuinely-orphaned directories (crashed or vetoed writers) age past
    // the window and die on a later pass. Grace 0 restores the wholesale
    // sweep. Directories in `droppedRefs` are expired committed data —
    // reclaimed regardless of age.
    def maybeInFlight(st: org.apache.hadoop.fs.FileStatus): Boolean =
      !droppedRefs.contains(st.getPath.getName) &&
        (st.getModificationTime >= cutoff ||
          ls(fs, st.getPath).exists(_.getModificationTime >= cutoff))
    ls(fs, new Path(s"$tableDir/data"))
      .filter(st => !referenced.contains(st.getPath.getName) && !maybeInFlight(st))
      .foreach(st => fs.delete(st.getPath, true): Unit)
    drop
  }

  /** [[graft.core.Tables.scratchOnce]] done-check: snapshot `minVersion` is
    * published and every data-holding era the LATEST snapshot references
    * carries a completed write (`_SUCCESS`) — a crash anywhere in a
    * create → evolve → append → compact build leaves this false, so the
    * artifact is rebuilt (builders delete the dir first; [[create]] refuses
    * a non-empty table). */
  def completedThrough(tableDir: String, minVersion: Long): Boolean = {
    val spark = SparkSession.active
    val vs = versions(spark, tableDir)
    vs.nonEmpty && vs.max >= minVersion && {
      val (fs, _) = fsFor(spark, tableDir)
      val (eras, dels) = snapshot(spark, tableDir, vs.max)
      eras.forall { era =>
        val p = eraPath(tableDir, era)
        !HiddenPartitioning.eraHasData(spark, p) ||
          fs.exists(new Path(p, "_SUCCESS"))
      } && dels.forall(d =>
        fs.exists(new Path(s"$tableDir/data/${d.dir}", "_SUCCESS")))
    }
  }

  /** Iceberg's `$files` for one snapshot (latest by default): one row per
    * data file of every era the snapshot references, with its partition
    * directory and EXACT row count — aggregated from the per-era stats
    * manifests, no data scan (see [[HiddenPartitioning.filesMeta]] for the
    * scale rationale; the s19 oracle gate proves the counts exact).
    * PHYSICAL view, like Iceberg's: rows masked by not-yet-compacted
    * merge-on-read delete files are still counted — [[compact]] reconciles. */
  def filesMeta(spark: SparkSession, tableDir: String,
      version: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val vs = versions(spark, tableDir)
    require(vs.nonEmpty, s"no snapshots under $tableDir")
    val v = version.getOrElse(mainLatest(spark, tableDir))
    require(vs.contains(v), s"snapshot $v not retained (have ${vs.mkString(",")})")
    val rows = snapshotEras(spark, tableDir, v)
      .filter(e => HiddenPartitioning.eraHasData(spark, eraPath(tableDir, e)))
      .flatMap { e =>
        val stats = FileStats.stats(spark, eraPath(tableDir, e)).getOrElse(
          throw new IllegalStateException(
            s"era '$e' of $tableDir has no readable ${FileStats.StatsFile}"))
        stats.toSeq.map { case (rel, rec) =>
          val slash = rel.lastIndexOf('/')
          val (part, file) =
            if (slash < 0) ("", rel) else (rel.substring(0, slash), rel.substring(slash + 1))
          (e, part, file, rec.rows)
        }
      }
    val spark2 = spark
    import spark2.implicits._
    rows.toDF("era", "partition", "file", "rows")
  }

  /** Iceberg's `$partitions` for one snapshot: file count and exact row
    * count per (era, partition directory), from manifests alone. */
  def partitionsMeta(spark: SparkSession, tableDir: String,
      version: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    filesMeta(spark, tableDir, version)
      .groupBy(col("era"), col("partition"))
      .agg(count(lit(1)).as("n_files"), sum(col("rows")).as("n_rows"))
  }

  /** Iceberg's `$snapshots`: one row per retained snapshot — version, the
    * era list it references, its batch-id markers, and the operation that
    * produced it (Iceberg's snapshot-summary `operation`). */
  def snapshotsMeta(spark: SparkSession, tableDir: String): org.apache.spark.sql.DataFrame = {
    val (fs, _) = fsFor(spark, tableDir)
    val rows = versions(spark, tableDir).map { v =>
      val batches = ls(fs, new Path(s"$tableDir/v=$v")).map(_.getPath.getName)
        .collect { case n if n.startsWith("_batch-") => n.stripPrefix("_batch-") }
      (v, snapshotEras(spark, tableDir, v), batches, snapshotOp(spark, tableDir, v),
        snapshot(spark, tableDir, v)._2.map(_.dir))
    }
    val spark2 = spark
    import spark2.implicits._
    rows.toDF("version", "eras", "batch_ids", "op", "dels")
  }

  /** Batch ids of all PUBLISHED snapshots — the replay-idempotency test for
    * [[append]] callers (the marker rides the publish rename, so there is
    * no window in which a published batch looks unpublished). */
  def publishedBatchIds(spark: SparkSession, tableDir: String): Set[String] = {
    val (fs, root) = fsFor(spark, tableDir)
    ls(fs, root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .flatMap(st => ls(fs, st.getPath))
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("_batch-") => n.stripPrefix("_batch-") }
      .toSet
  }
}
