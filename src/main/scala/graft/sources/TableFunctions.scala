package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** SQL-addressable table and metadata-table faces — the table-valued
  * functions a SQL-only user (the persona `Graft.openCorpus` exists for)
  * reaches graft-written tables through, the spelling Iceberg provides as
  * `tbl$files` / `tbl$partitions` / `tbl$snapshots` (Spark identifiers
  * cannot carry `$`, so the idiomatic Spark form is a TVF over the table
  * path — same shape as the built-in `range(...)`):
  *
  * {{{
  *   SELECT * FROM graft_table('/data/events')             -- latest snapshot
  *   SELECT * FROM graft_table('/data/events', 0)          -- time travel
  *   SELECT * FROM graft_table('/data/events', 'audit-v1') -- travel by tag
  *   SELECT * FROM graft_tags('/data/events')               -- $refs
  *   SELECT * FROM graft_files('/data/events')              -- $files
  *   SELECT * FROM graft_partitions('/data/events')         -- $partitions
  *   SELECT * FROM graft_snapshots('/data/events')          -- $snapshots
  *   SELECT * FROM graft_changes('/data/events', 2)         -- CDC (v2, latest]
  *   SELECT * FROM graft_changes('/data/events', 2, 5)      -- CDC (v2, v5]
  * }}}
  *
  * `graft_table` auto-detects the storage flavor: a snapshot-versioned
  * directory ([[VersionedHiddenTable]]) reads its latest (or requested)
  * snapshot; a hidden-partitioned directory ([[HiddenPartitioning]]) reads
  * its era union; anything else reads as plain parquet. The metadata
  * functions answer from the stats manifests alone — no data scan
  * (MetaTableSpec asserts it on the SQL spelling too).
  *
  * Each builder runs at ANALYSIS time and returns the analyzed plan of the
  * equivalent Scala-API frame, so every SQL query sees the metadata as of
  * its own analysis — registering a view once and serving stale metadata
  * forever is exactly what this avoids.
  *
  * Injected at session build by [[GraftSqlExtensions]].
  */
object GraftTableFunctions {

  private def str(fn: String, args: Seq[Expression], i: Int): String =
    args(i) match {
      case Literal(v, StringType) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be a string literal table path, got $other")
    }

  private def longArg(fn: String, args: Seq[Expression], i: Int): Long =
    args(i) match {
      case Literal(v: Int, IntegerType) => v.toLong
      case Literal(v: Long, LongType) => v
      case other => throw new IllegalArgumentException(
        s"$fn: snapshot version must be an integer literal, got $other")
    }

  /** Optional trailing snapshot-version argument (int or long literal). */
  private def versionArg(fn: String, args: Seq[Expression]): Option[Long] =
    if (args.length < 2) None else Some(longArg(fn, args, 1))

  private def arity(fn: String, args: Seq[Expression], lo: Int, hi: Int): Unit =
    require(args.length >= lo && args.length <= hi,
      s"$fn takes $lo to $hi arguments, got ${args.length}")

  private def versioned(spark: SparkSession, dir: String): Boolean =
    VersionedHiddenTable.versions(spark, dir).nonEmpty

  private def plan(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  private[graft] val fns: Seq[(String, Seq[Expression] => LogicalPlan)] = Seq(
    "graft_table" -> { args =>
      arity("graft_table", args, 1, 2)
      val spark = SparkSession.active
      val dir = str("graft_table", args, 0)
      // second arg: a snapshot version (integer) or a TAG name (string)
      val v =
        if (args.length < 2) None
        else args(1) match {
          case Literal(t, StringType) if t != null =>
            Some(VersionedHiddenTable.tags(spark, dir).getOrElse(t.toString,
              throw new IllegalArgumentException(
                s"graft_table: no tag '$t' on $dir")))
          case _ => versionArg("graft_table", args)
        }
      if (versioned(spark, dir)) plan(VersionedHiddenTable.read(spark, dir, v))
      else {
        require(v.isEmpty,
          s"graft_table: '$dir' is not snapshot-versioned; time travel unavailable")
        if (HiddenPartitioning.exists(dir))
          plan(HiddenPartitioning.read(spark, dir))
        else plan(spark.read.parquet(dir))
      }
    },
    "graft_files" -> { args =>
      arity("graft_files", args, 1, 2)
      val spark = SparkSession.active
      val dir = str("graft_files", args, 0)
      val v = versionArg("graft_files", args)
      if (versioned(spark, dir)) plan(VersionedHiddenTable.filesMeta(spark, dir, v))
      else {
        require(v.isEmpty,
          s"graft_files: '$dir' is not snapshot-versioned; time travel unavailable")
        plan(HiddenPartitioning.filesMeta(spark, dir))
      }
    },
    "graft_partitions" -> { args =>
      arity("graft_partitions", args, 1, 2)
      val spark = SparkSession.active
      val dir = str("graft_partitions", args, 0)
      val v = versionArg("graft_partitions", args)
      if (versioned(spark, dir))
        plan(VersionedHiddenTable.partitionsMeta(spark, dir, v))
      else {
        require(v.isEmpty,
          s"graft_partitions: '$dir' is not snapshot-versioned; time travel unavailable")
        plan(HiddenPartitioning.partitionsMeta(spark, dir))
      }
    },
    "graft_snapshots" -> { args =>
      arity("graft_snapshots", args, 1, 1)
      val spark = SparkSession.active
      val dir = str("graft_snapshots", args, 0)
      require(versioned(spark, dir),
        s"graft_snapshots: '$dir' holds no published snapshots")
      plan(VersionedHiddenTable.snapshotsMeta(spark, dir))
    },
    // tags ($refs): name -> pinned snapshot version
    "graft_tags" -> { args =>
      arity("graft_tags", args, 1, 1)
      val spark = SparkSession.active
      val dir = str("graft_tags", args, 0)
      require(versioned(spark, dir),
        s"graft_tags: '$dir' holds no published snapshots")
      plan(VersionedHiddenTable.tagsMeta(spark, dir))
    },
    // branches ($refs, the writable half): name -> fork + head versions
    "graft_branches" -> { args =>
      arity("graft_branches", args, 1, 1)
      val spark = SparkSession.active
      val dir = str("graft_branches", args, 0)
      require(versioned(spark, dir),
        s"graft_branches: '$dir' holds no published snapshots")
      plan(VersionedHiddenTable.branchesMeta(spark, dir))
    },
    // changelog (CDC) scan over (from, to]: the SQL face of
    // VersionedHiddenTable.changes — source columns plus _change_type and
    // _commit_version, era-aware (priced by what changed, not by the table)
    "graft_changes" -> { args =>
      arity("graft_changes", args, 2, 3)
      val spark = SparkSession.active
      val dir = str("graft_changes", args, 0)
      require(versioned(spark, dir),
        s"graft_changes: '$dir' holds no published snapshots")
      val from = longArg("graft_changes", args, 1)
      val to = if (args.length < 3) None else Some(longArg("graft_changes", args, 2))
      plan(VersionedHiddenTable.changes(spark, dir, from, to))
    },
    // column-level stats (null counts, min/max, post-ANALYZE NDV bounds)
    // for ONE stats-carrying directory — a flat table, an era dir, or a
    // mart's v=<n>; manifests only, no data scan
    "graft_columns" -> { args =>
      arity("graft_columns", args, 1, 1)
      plan(FileStats.columnsMeta(SparkSession.active,
        str("graft_columns", args, 0)))
    })
}
