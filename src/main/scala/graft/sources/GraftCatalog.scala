package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `graft` — a DataSource V2 [[TableCatalog]] over a warehouse directory of
  * [[VersionedHiddenTable]]s, the SQL face the TVFs
  * ([[GraftTableFunctions]]) cannot provide: three-part names, DML, and
  * time-travel syntax all resolving to the storage layer.
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/warehouse")
  *
  *   SELECT * FROM graft.db.events                       -- latest snapshot
  *   SELECT * FROM graft.db.events VERSION AS OF 2       -- time travel
  *   SELECT * FROM graft.db.events VERSION AS OF 'tag'   -- travel by tag
  *   INSERT INTO graft.db.events SELECT ...              -- WAP append
  *   INSERT OVERWRITE graft.db.events SELECT ...         -- overwrite snapshot
  *   DELETE FROM graft.db.events WHERE user_id < 10      -- copy-on-write DML
  * }}}
  *
  * Identifier mapping is mechanical: `graft.a.b.t` reads
  * `<warehouse>/a/b/t`. A table "exists" iff the directory holds published
  * snapshots; creation stays with the Scala API ([[VersionedHiddenTable.create]]
  * — an Iceberg-grade create needs data or a partition spec, neither of
  * which a bare `CREATE TABLE` column list carries here).
  *
  * READ path: the catalog hands the analyzer a [[GraftSqlTable]]; the
  * companion resolution rule [[GraftCatalogRewrite]] (injected at session
  * build by [[GraftSqlExtensions]]) splices the library's own read plan in at
  * ANALYSIS time — the same early-splice discipline as the TVFs — so the
  * whole optimizer pipeline (filter pushdown, [[HiddenPartitionPruning]],
  * [[StatsFileSkipping]]) treats a catalog read exactly like a Scala-API
  * read. No second read path exists to drift.
  *
  * WRITE path: DSv2's V1 write fallback ([[V1Write]]) hands the batch as a
  * DataFrame to [[VersionedHiddenTable.append]] (INSERT INTO) or
  * [[VersionedHiddenTable.overwrite]] (INSERT OVERWRITE — one op=overwrite
  * snapshot, the i12 run-over-run CDC contract). DELETE translates the SQL
  * predicate back to a Column and runs the copy-on-write
  * [[VersionedHiddenTable.delete]] — stats-scoped era rewrites, snapshot
  * history intact. */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  /** The warehouse root this catalog maps identifiers under (procedures
    * resolve their `table` argument against it). */
  private[sources] def warehouseDir: String = warehouse

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    GraftCatalog.instantiated = true
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' needs spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private[sources] def tableDir(ident: Identifier): String =
    (warehouse +: (ident.namespace() :+ ident.name()).toSeq).mkString("/")

  private def exists(ident: Identifier): Boolean =
    VersionedHiddenTable.versions(spark, tableDir(ident)).nonEmpty

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = (warehouse +: namespace.toSeq).mkString("/")
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(p).toSeq
      .filter(st => st.isDirectory &&
        VersionedHiddenTable.versions(spark, st.getPath.toString).nonEmpty)
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  /** `graft.db.t.branch_<name>` -> (table dir, branch name) — Iceberg's
    * branch-suffixed identifier spelling: the branch part parses as the
    * identifier's NAME with the table pushed into the namespace. */
  private def branchTarget(ident: Identifier): Option[(String, String)] =
    if (!ident.name.startsWith("branch_") || ident.namespace().isEmpty) None
    else {
      val b = ident.name.stripPrefix("branch_")
      val dir = (warehouse +: ident.namespace().toSeq).mkString("/")
      if (VersionedHiddenTable.versions(spark, dir).nonEmpty &&
        VersionedHiddenTable.branches(spark, dir).contains(b)) Some((dir, b))
      else None
    }

  override def loadTable(ident: Identifier): Table = {
    if (exists(ident))
      return new GraftSqlTable(tableDir(ident), ident.toString, None)
    // branch face (Iceberg's spelling): SELECT/INSERT on db.t.branch_<name>
    branchTarget(ident) match {
      case Some((dir, b)) =>
        new GraftSqlTable(dir, ident.toString, None, Some(b))
      case None => throw new NoSuchTableException(ident)
    }
  }

  /** `VERSION AS OF <v|'tag'|'branch'>`: an integer pins the snapshot id;
    * a string resolves as a tag first, then as a branch HEAD (a read-only
    * pin of the branch's current head — Iceberg's `VERSION AS OF 'audit'`
    * ref resolution order). */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    val v = version.toLongOption
      .orElse(VersionedHiddenTable.tags(spark, dir).get(version))
      .orElse(VersionedHiddenTable.branches(spark, dir).get(version)
        .map(_ => VersionedHiddenTable.branchHead(spark, dir, version)))
      .getOrElse(throw new IllegalArgumentException(
        s"$ident: '$version' is neither a snapshot version, a tag, nor a branch"))
    new GraftSqlTable(dir, ident.toString, Some(v))
  }

  /** `FOR SYSTEM_TIME AS OF <ts>` (micros since epoch): the newest snapshot
    * published at or before the timestamp — version-directory mtime is the
    * publish-time record, the same clock [[VersionedHiddenTable.expireSnapshots]]
    * retires by. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val tsMillis = timestamp / 1000L
    // timestamp travel resolves along the MAIN branch (Iceberg's contract):
    // a branch commit that is the newest snapshot before the timestamp must
    // not leak branch-only content into an unqualified table read
    val vs = VersionedHiddenTable.mainVersions(spark, dir).filter { v =>
      fs.getFileStatus(new Path(s"$dir/v=$v")).getModificationTime <= tsMillis
    }
    require(vs.nonEmpty,
      s"$ident holds no snapshot at or before timestamp $timestamp")
    new GraftSqlTable(dir, ident.toString, Some(vs.max))
  }

  /** `CREATE TABLE` / `CREATE TABLE ... AS SELECT`, with `PARTITIONED BY`
    * mapped onto the hidden-partitioning transforms (days/months/years/
    * hours/bucket/truncate/identity — the Iceberg transform set). The
    * empty table is durable and readable (one schema-carrying empty file
    * under an unpartitioned first era; a declared spec lands as an
    * immediate evolution, so the first data append lays out under it) —
    * CTAS then arrives as the ordinary catalog write. Iceberg stages CTAS
    * as one atomic commit; here it is create + append — the create is
    * content-empty, so a failed CTAS leaves an empty table, never torn
    * data. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (exists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident.toString)
    val transforms = GraftCatalog.toHiddenTransforms(partitions)
    val dir = tableDir(ident)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema).repartition(1)
    VersionedHiddenTable.create(spark, dir, empty, Nil): Unit
    if (transforms.nonEmpty)
      VersionedHiddenTable.evolveSpec(spark, dir, transforms): Unit
    new GraftSqlTable(dir, ident.toString, None)
  }

  /** `ALTER TABLE … ADD COLUMNS (…)`: the one schema change the storage
    * layer's ADD-ONLY evolution contract admits — lands as an evolving
    * append of a schema-carrying EMPTY era (exactly how `CREATE TABLE`
    * records its schema), so the widened schema is a published snapshot:
    * time travel across the boundary works, older snapshots keep the
    * narrow schema, and narrower historical eras null-fill on read. Every
    * other change (drop/rename/retype/reorder/nested) refuses loudly —
    * those would break the null-fill fold that makes old eras readable. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    val adds = changes.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          s"graft catalog: only top-level ADD COLUMNS is supported, got " +
            s"nested ${a.fieldNames().mkString(".")}")
        require(a.isNullable,
          s"graft catalog: added column ${a.fieldNames().head} must be " +
            "nullable (existing rows have no value for it)")
        require(a.position() == null,
          "graft catalog: ADD COLUMNS positions (FIRST/AFTER) are not " +
            "supported — columns append at the end (add-only evolution)")
        org.apache.spark.sql.types.StructField(
          a.fieldNames().head, a.dataType(), nullable = true)
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER TABLE change $other — schema " +
          "evolution is ADD-ONLY (ALTER TABLE … ADD COLUMNS, or an " +
          "evolving append with a widened batch)")
    }
    VersionedHiddenTable.evolveSchema(spark, dir, adds): Unit
    new GraftSqlTable(dir, ident.toString, None)
  }

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  override def dropTable(ident: Identifier): Boolean = {
    if (!exists(ident)) return false
    val p = new Path(tableDir(ident))
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!exists(oldIdent)) throw new NoSuchTableException(oldIdent)
    val (from, to) = (new Path(tableDir(oldIdent)), new Path(tableDir(newIdent)))
    val fs = from.getFileSystem(spark.sessionState.newHadoopConf())
    require(!fs.exists(to), s"rename target already exists: $newIdent")
    require(fs.rename(from, to), s"rename $oldIdent -> $newIdent failed")
  }
}

object GraftCatalog {
  /** Set the first time ANY GraftCatalog initializes in this JVM — the
    * O(1) license for [[GraftCatalogRewrite]] to traverse plans at all. */
  @volatile private[sources] var instantiated = false

  /** `PARTITIONED BY` -> hidden-partitioning transforms (the Iceberg set).
    * Unsupported shapes refuse loudly at CREATE time, never at write time. */
  private[sources] def toHiddenTransforms(parts: Array[Transform])
      : Seq[HiddenPartitioning.Transform] =
    parts.toSeq.map { t =>
      // the concrete transform case classes are private[sql]; the PUBLIC
      // contract is (name, references, arguments) — match on that
      def field: String = t.references().head.fieldNames().mkString(".")
      def intArg: Int = t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value().asInstanceOf[Number].intValue()
      }.getOrElse(throw new IllegalArgumentException(
        s"transform '${t.name()}' needs a literal int argument: $t"))
      t.name() match {
        case "identity" => HiddenPartitioning.IdentityT(field)
        case "days" => HiddenPartitioning.DayT(field)
        case "months" => HiddenPartitioning.MonthT(field)
        case "years" => HiddenPartitioning.YearT(field)
        case "hours" => HiddenPartitioning.HourT(field)
        case "bucket" => HiddenPartitioning.BucketT(intArg, field)
        case "truncate" => HiddenPartitioning.TruncateT(intArg, field)
        case other => throw new UnsupportedOperationException(
          s"graft catalog: unsupported partition transform '$other' " +
            "(supported: identity, days, months, years, hours, bucket, truncate)")
      }
    }

  /** Session-local enablement: point `spark.sql.catalog.<name>` at this
    * class. The catalog conf is read lazily at the name's first SQL
    * reference, so runtime registration works on an existing session; the
    * read-path resolution rewrite comes with every [[graft.Graft.session]]
    * (its [[GraftSqlExtensions]]). Returns the catalog name for
    * convenience. */
  def register(spark: SparkSession, name: String, warehouse: String): String = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
    name
  }
}

/** One resolved catalog table — possibly version-pinned (`VERSION AS OF`),
  * possibly a BRANCH face (`db.t.branch_<name>`: reads resolve the branch
  * head at plan time; INSERT INTO appends to the branch, invisible to main
  * until fast-forward). Reads never reach [[newScanBuilder]] —
  * [[GraftCatalogRewrite]] splices the library plan at analysis time — but
  * the DSv2 write and delete faces are real. */
class GraftSqlTable(val dir: String, ident: String, val pinned: Option[Long],
    val branch: Option[String] = None)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  /** Spark's Table.version (a cache-invalidation token): the pinned
    * snapshot, the branch HEAD (moves with branch commits), or latest. */
  override def version(): String = pinned.map(_.toString)
    .orElse(branch.map(b =>
      s"$b@${VersionedHiddenTable.branchHead(spark, dir, b)}"))
    .getOrElse("latest")

  private def spark: SparkSession = SparkSession.active

  override def name(): String =
    pinned.fold(ident)(v => s"$ident@v$v")

  /** The snapshot a READ of this face means right now. */
  private def readVersion: Option[Long] = pinned.orElse(
    branch.map(b => VersionedHiddenTable.branchHead(spark, dir, b)))

  override lazy val schema: StructType =
    readPlanSchemaCache

  // one plan-only read per TABLE instance: analysis may probe schema() many
  // times per statement
  private lazy val readPlanSchemaCache: StructType =
    VersionedHiddenTable.read(spark, dir, readVersion).schema

  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ)
    if (pinned.isEmpty) {
      caps.add(TableCapability.V1_BATCH_WRITE): Unit
      caps.add(TableCapability.OVERWRITE_BY_FILTER): Unit
      caps.add(TableCapability.TRUNCATE): Unit
    }
    caps
  }

  /** The library read plan this table stands for (analysis-time splice).
    * A branch face re-resolves the branch HEAD here, per statement — a
    * branch read always sees the branch's latest commit. */
  private[graft] def readPlan(spark: SparkSession)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    VersionedHiddenTable.read(spark, dir, readVersion).queryExecution.analyzed
  }

  /** Reads are spliced away at analysis time ([[GraftCatalogRewrite]]), but
    * DML targets legitimately pass through V2 scan pushdown without ever
    * EXECUTING the scan (DELETE plans against the relation's filters only) —
    * so the builder is schema-only and refusal waits until something
    * actually tries to run it. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.Scan {
          override def readSchema(): StructType = schema
          override def toBatch: org.apache.spark.sql.connector.read.Batch =
            throw new IllegalStateException(
              s"graft catalog read of $ident reached physical execution — " +
                "the GraftCatalogRewrite resolution rule is not installed; " +
                "build the session with graft.Graft.session (or " +
                "spark.sql.extensions=graft.sources.GraftSqlExtensions)")
        }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinned.isEmpty,
      s"cannot write to a version-pinned read of $ident")
    new WriteBuilder with SupportsOverwrite {
      private var overwrite = false
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        require(filters.isEmpty || filters.forall(
          _ == org.apache.spark.sql.sources.AlwaysTrue),
          s"graft catalog supports only full INSERT OVERWRITE, got ${filters.toSeq}")
        overwrite = true
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                overwriteMode: Boolean): Unit = {
              val s = data.sparkSession
              branch match {
                case Some(b) =>
                  // branch writes are WAP appends on the branch lineage —
                  // invisible to every main surface until fastForward
                  require(!(overwrite || overwriteMode),
                    s"INSERT OVERWRITE on branch face $ident is not " +
                      "supported — append to the branch, or overwrite main " +
                      "and fast-forward")
                  VersionedHiddenTable.appendToBranch(s, dir, b, data)() match {
                    case Right(_) => ()
                    case Left(violations) => throw new IllegalStateException(
                      s"WAP audit vetoed INSERT INTO $ident: ${violations.mkString("; ")}")
                  }
                case None =>
                  if (overwrite || overwriteMode)
                    VersionedHiddenTable.overwrite(s, dir, data): Unit
                  else
                    VersionedHiddenTable.append(s, dir, data)() match {
                      case Right(_) => ()
                      case Left(violations) => throw new IllegalStateException(
                        s"WAP audit vetoed INSERT INTO $ident: ${violations.mkString("; ")}")
                    }
              }
            }
          }
      }
    }
  }

  /** `DELETE FROM`: translate the pushed filters back to a Column and run
    * the copy-on-write delete — era-scoped rewrites, history intact. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftSqlTable.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(pinned.isEmpty, s"cannot DELETE from a version-pinned read of $ident")
    require(branch.isEmpty, s"cannot DELETE from branch face $ident — " +
      "branch DML is append-only until fast-forward")
    import org.apache.spark.sql.functions.lit
    val cond = filters.toSeq.flatMap(GraftSqlTable.filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    VersionedHiddenTable.delete(spark, dir, cond): Unit
  }
}

object GraftSqlTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  /** Best-effort V1 Filter -> Column translation; None marks the filter
    * untranslatable, which [[GraftSqlTable.canDeleteWhere]] surfaces so
    * Spark falls back to an analysis error instead of a wrong delete. */
  private[sources] def filterToColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
    case Not(c) => filterToColumn(c).map(!_)
    case AlwaysTrue => Some(lit(true))
    case AlwaysFalse => Some(lit(false))
    case _ => None
  }
}
