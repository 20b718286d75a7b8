package graft

import org.apache.spark.sql.SparkSession

/** The library's front door and its one session factory: every main, spec
  * and harness builds its session through [[session]], so the engine is
  * wired one way everywhere. The wiring itself is
  * [[graft.sources.GraftSqlExtensions]], installed at session build — the
  * native functions and table functions, the SQL catalog rewrite, the
  * pruning/skipping/count rules and the vector-fold rewrite, and the as-of
  * and band join strategies. Sessions derived with `newSession()` inherit it.
  *
  * A SQL-first user then calls [[openCorpus]] to expose the corpus tables
  * as views and works entirely through `spark.sql(...)`; a DataFrame user
  * reaches the same operators through [[SparkEntry.queries]] or the
  * operator packs directly. On a cluster, set
  * `spark.sql.extensions=graft.sources.GraftSqlExtensions` instead of
  * calling [[session]] — everything else is identical.
  */
object Graft {

  /** Build (or reuse) a `local[cores]` session with `cores` shuffle
    * partitions (instead of Spark's legacy 200), UTC session time (the
    * oracle-compare convention), no UI, and the graft extension.
    *
    * Timestamps are written as INT64 micros, not Spark's legacy INT96:
    * INT96 is deprecated in the parquet spec, carries NO usable min/max
    * stats (undefined column order), and every lakehouse table format
    * forbids it — with micros, [[graft.sources.StatsFileSkipping]] can
    * prune files on timestamp predicates. Values read back identically
    * either way.
    *
    * Extensions apply only when a session is constructed. When
    * `getOrCreate` hands back a session (or builds one on a running
    * SparkContext) that was configured without the extension, this throws
    * rather than return a session missing the engine's rules. */
  def session(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.extensions", "graft.sources.GraftSqlExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    if (!spark.sessionState.optimizer.preCBORules
        .contains(graft.sources.HiddenPartitionPruning))
      throw new IllegalStateException(
        "the active Spark session was built without " +
          "spark.sql.extensions=graft.sources.GraftSqlExtensions; stop it " +
          "(or its SparkContext) and call Graft.session again")
    spark
  }

  /** Register every corpus table under its logical name so `spark.sql`
    * works against the data directory directly. */
  def openCorpus(spark: SparkSession, sfDir: String): Unit =
    graft.core.Tables.registerAll(spark, sfDir)
}
