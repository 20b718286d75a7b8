package graft.pipeline

import java.util.concurrent.{ConcurrentHashMap, Executors, LinkedBlockingQueue, TimeUnit}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.StructType
import graft.sources.{FileStats, JoinAdvisor, VersionedHiddenTable}

/** One pipeline model — the Spark equivalent of a dbt model: a named,
  * dependency-declaring `DataFrame` transformation.
  *
  * The reference engine (danolen/dbt-lakehouse-aws) is exactly a DAG scheduler
  * over CTAS statements (SURVEY.md §3.1); `Model` + [[DagRunner]] is that
  * engine re-expressed in Scala. `build` receives a resolver for upstream
  * models/sources, mirroring dbt's `ref()`/`source()`.
  */
trait Model {
  def name: String
  def deps: Seq[String]
  def build(spark: SparkSession, in: String => DataFrame): DataFrame
}

/** Convenience constructor for inline models. */
object Model {
  def apply(n: String, d: Seq[String])(
      f: (SparkSession, String => DataFrame) => DataFrame): Model = new Model {
    val name = n
    val deps = d
    def build(spark: SparkSession, in: String => DataFrame): DataFrame = f(spark, in)
  }
}

/** How [[DagRunner]] persists each model: every mode answers how to write
  * model `n` and how to read its current materialization, and a selected
  * model is written, then read back through the same read an unselected
  * dependency gets — dbt's `ref()` against the warehouse table. */
sealed trait Materialization {
  /** Where model `n`'s materialization lives, as a missing-model error names it. */
  private[pipeline] def where(n: String): String
  /** Whether model `n` has a complete materialization to read. */
  private[pipeline] def exists(spark: SparkSession, n: String): Boolean
  private[pipeline] def write(spark: SparkSession, n: String, df: DataFrame): Unit
  private[pipeline] def read(spark: SparkSession, n: String): DataFrame
  /** Model `n` read back just after `runAs` wrote a frame of `schema` to it. */
  private[pipeline] def readWritten(spark: SparkSession, n: String, schema: StructType): DataFrame =
    read(spark, n)
}

object Materialization {
  /** dbt's `materialized='table'` pipeline-breaker semantics to bare parquet
    * paths `dir/<model>`: every model optimizes in isolation, intermediates
    * inspectable. A model counts as materialized once its write committed
    * (the `_SUCCESS` marker), so a crashed write is not read. */
  final case class ParquetDir(dir: String) extends Materialization {
    private[pipeline] def where(n: String) = s"$dir/$n"
    private[pipeline] def exists(spark: SparkSession, n: String) = {
      val marker = new Path(where(n), "_SUCCESS")
      marker.getFileSystem(spark.sessionState.newHadoopConf()).exists(marker)
    }
    private[pipeline] def write(spark: SparkSession, n: String, df: DataFrame) = {
      df.write.mode("overwrite").parquet(where(n))
      // every materialized model carries per-file stats: bare counts fold
      // to metadata and key predicates skip files on mart reads, the same
      // storage contract the registry's s18-s21 tables get
      FileStats.write(spark, where(n))
    }
    // stats-advised read: dimension-sized models return hinted broadcast, so
    // downstream mart joins take the advised strategy automatically (the j13
    // ladder's byte rung; content unchanged — the golden digests gate that)
    private[pipeline] def read(spark: SparkSession, n: String) =
      JoinAdvisor.autoHinted(spark, where(n), spark.read.parquet(where(n)))
    // the written schema, every field nullable as parquet stores it, spares
    // the read its schema-inference job
    override private[pipeline] def readWritten(spark: SparkSession, n: String,
        schema: StructType) =
      JoinAdvisor.autoHinted(spark, where(n),
        spark.read.schema(GraftSqlBridge.asNullable(schema)).parquet(where(n)))
  }

  /** Catalog tables via `saveAsTable` into the reference's three schemas
    * (`dbt_project.yml:38-51`: source / stage / main), so downstream users
    * address models as `spark.table("main.mart_...")` exactly as the
    * reference's Athena/Iceberg consumers do. */
  final case class Catalog(schemaOf: String => String = Materialization.layerSchema)
    extends Materialization {
    private def id(n: String) = TableIdentifier(n, Some(schemaOf(n)))
    private def location(spark: SparkSession, n: String) =
      spark.sessionState.catalog.getTableMetadata(id(n)).location.toString
    private[pipeline] def where(n: String) = s"table ${schemaOf(n)}.$n"
    private[pipeline] def exists(spark: SparkSession, n: String) =
      spark.sessionState.catalog.tableExists(id(n))
    private[pipeline] def write(spark: SparkSession, n: String, df: DataFrame) = {
      spark.sql(s"CREATE DATABASE IF NOT EXISTS ${schemaOf(n)}")
      df.write.mode("overwrite").format("parquet").saveAsTable(s"${schemaOf(n)}.$n")
      FileStats.write(spark, location(spark, n))
    }
    private[pipeline] def read(spark: SparkSession, n: String) =
      JoinAdvisor.autoHinted(spark, location(spark, n),
        spark.table(s"${schemaOf(n)}.$n"))
  }

  /** The FULL table contract for every materialized model: each lands as an
    * `op=overwrite` snapshot of a [[graft.sources.VersionedHiddenTable]]
    * under `root/<schema>/<model>/` — time travel across pipeline runs,
    * `changes()` CDC between runs (the incremental-consumer feed: fold a
    * run's net diff forward instead of rebuilding downstream), DML and
    * scheduled maintenance via [[graft.sources.TableService]], SQL access
    * via the `graft_table` TVF. A model reads as its latest snapshot.
    * `transformsOf` gives a model its hidden partition spec on FIRST
    * creation (default unpartitioned — right for the reference's
    * serving-scale marts). Path-addressed, not catalogued: a composite
    * multi-era read cannot be a single-LOCATION catalog table. */
  final case class VersionedHiddenDir(root: String,
      transformsOf: String => Seq[graft.sources.HiddenPartitioning.Transform] =
        _ => Nil,
      schemaOf: String => String = Materialization.layerSchema)
    extends Materialization {
    private[pipeline] def where(n: String) = s"$root/${schemaOf(n)}/$n"
    private[pipeline] def exists(spark: SparkSession, n: String) =
      VersionedHiddenTable.mainVersions(spark, where(n)).nonEmpty
    // one op=overwrite snapshot per run: prior runs stay readable (time
    // travel), changes() nets the run-over-run diff for incremental
    // consumers, stats manifests land with every era
    private[pipeline] def write(spark: SparkSession, n: String, df: DataFrame) =
      VersionedHiddenTable.overwrite(spark, where(n), df, transformsOf(n)): Unit
    // price the hint at the LIVE snapshot's bytes — data/ accumulates one
    // retired era per run, so measuring the whole tree would cost a
    // dimension-sized model its broadcast after enough runs
    private[pipeline] def read(spark: SparkSession, n: String) =
      JoinAdvisor.autoHintedBytes(VersionedHiddenTable.read(spark, where(n)),
        VersionedHiddenTable.liveDataBytes(spark, where(n)))
  }

  /** Reference layer mapping: `src_*` → source, `mart_*` → main (the
    * reference keeps marts in `models/main/`), everything else → stage. */
  val layerSchema: String => String = n =>
    if (n.startsWith("src_")) "source"
    else if (n.startsWith("mart_")) "main"
    else "stage"
}

/** Topologically sorts and executes a model DAG.
  *
  * Ordering follows TRUE dependencies, not layer names — the reference has a
  * mart→stage back-edge (`mart_sgp_factors` feeds stage models,
  * models/stage/projections/preseason/hitting/stg_proj_preseason_hitting_sgp_oc.sql:39-41)
  * so a layer-ordered runner would deadlock (SURVEY.md §7.4).
  */
final class DagRunner(models: Seq[Model]) {

  private val byName: Map[String, Model] = models.map(m => m.name -> m).toMap
  require(byName.size == models.size, "duplicate model names")

  /** Dependency-closure topological order (deterministic: insertion DFS). */
  lazy val topoOrder: Seq[String] = {
    val visiting = mutable.LinkedHashSet[String]()
    val done = mutable.LinkedHashSet[String]()
    def visit(n: String): Unit = {
      if (!done.contains(n) && byName.contains(n)) {
        require(!visiting.contains(n), s"dependency cycle at $n: ${visiting.mkString(" -> ")}")
        visiting += n
        byName(n).deps.foreach(visit)
        visiting -= n
        done += n
      }
    }
    models.map(_.name).foreach(visit)
    done.toSeq
  }

  private val parentsOf: Map[String, Seq[String]] =
    models.map(m => m.name -> m.deps.filter(byName.contains)).toMap

  private lazy val childrenOf: Map[String, Seq[String]] =
    parentsOf.toSeq.flatMap { case (n, ps) => ps.map(_ -> n) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  /** Transitive closure of `n` along `edges` (excluding `n`): its upstream
    * closure along [[parentsOf]], its downstream one along [[childrenOf]]. */
  private def closure(n: String, edges: Map[String, Seq[String]]): Set[String] = {
    val seen = mutable.Set[String]()
    def walk(m: String): Unit =
      edges.getOrElse(m, Nil).foreach(c => if (seen.add(c)) walk(c))
    walk(n)
    seen.toSet
  }

  /** dbt-style node selection (the `--select` face the reference operates
    * by, `app/app.py:448`): each selector is a model name or `*` glob,
    * optionally wrapped in the graph operators `+name` (the model plus its
    * upstream closure) and `name+` (plus its downstream dependents; both
    * may combine as `+name+`). Selectors union. A selector matching nothing
    * fails fast — a typo must break the run, not silently build nothing.
    * Returns the selected set in topological order. */
  def selectNodes(selectors: Seq[String]): Seq[String] = {
    require(selectors.nonEmpty, "empty selector list")
    val names = models.map(_.name)
    val picked = selectors.flatMap { raw =>
      val up = raw.startsWith("+")
      val down = raw.length > 1 && raw.endsWith("+")
      val pat = raw.stripPrefix("+").stripSuffix("+")
      require(pat.nonEmpty, s"selector '$raw' names no model")
      val rx = pat.split("\\*", -1)
        .map(java.util.regex.Pattern.quote).mkString(".*")
      val base = names.filter(_.matches(rx))
      require(base.nonEmpty, s"selector '$raw' matches no model")
      base.flatMap(b => Set(b) ++
        (if (up) closure(b, parentsOf) else Set.empty) ++
        (if (down) closure(b, childrenOf) else Set.empty))
    }.toSet
    topoOrder.filter(picked)
  }

  /** Builds the models matched by `select` (all of them when empty) under
    * the given materialization mode; returns the selected models' frames,
    * each read back from its materialization.
    *
    * dbt semantics: `ref()` reads the materialized table. A selected
    * model's unselected in-graph dependencies are not rebuilt; they resolve
    * to their current materialization in `mat`, and nothing further
    * upstream is touched. Each must already exist — checked for all of
    * them before anything is written, so a missing one fails the run
    * naming the model and where it was looked for. `+model` pulls the
    * ancestors INTO the selection, rebuilding the full lineage — the
    * reference's `dbt build --select` workflow.
    *
    * Independent models build side by side, as under dbt's `threads`. A
    * selected model is ready once every selected in-graph parent has been
    * written and read back. The calling thread calls each ready model's
    * `build` — in topological order among the ready ones, and never on any
    * other thread, so a caller may keep thread-confined state (a span
    * stack, say) across `build` calls. The write and the read-back then run
    * on a pool of `spark.sparkContext.defaultParallelism` threads (the
    * session's cores), each carrying the Spark local properties the calling
    * thread had when it handed the model over.
    *
    * Every write runs with code generation off on its writer thread only
    * ([[GraftSqlBridge.interpreted]]): compiling a model's generated code
    * costs more than it saves on this DAG. Over the fixture feeds copied up
    * to 10000 times (an 832 MB corpus, the largest model reading 861 MB), a
    * compiled build never beat an interpreted one by more than the noise
    * (SCALE.md). A session
    * that sets `spark.sql.codegen.factoryMode` or
    * `spark.sql.codegen.wholeStage` itself keeps its setting, and so
    * compiles every model.
    *
    * A model whose build, write or read-back throws fails; its dependents
    * are skipped and never built, while independent models still launch
    * and finish. Once nothing is in flight, `runAs` throws an
    * `IllegalStateException` naming the failed models and the skipped ones,
    * with the first failure as its cause. A fatal error from a `build`
    * launches nothing more and is rethrown once the writes in flight
    * finish; an interrupt of the calling thread interrupts them, and is
    * rethrown once they have stopped. */
  def runAs(spark: SparkSession, mat: Materialization,
      select: Seq[String] = Nil): Map[String, DataFrame] = {
    val selected = if (select.isEmpty) topoOrder else selectNodes(select)
    val inputs = selected.flatMap(parentsOf).distinct.filterNot(selected.contains)
    val missing = inputs.filterNot(mat.exists(spark, _))
    if (missing.nonEmpty)
      throw new IllegalStateException(missing.map(d => s"$d (looked for ${mat.where(d)})")
        .mkString("unselected dependencies have no materialization: ", ", ",
          "; build them first or select their lineage with +model"))
    val built = new ConcurrentHashMap[String, DataFrame]()
    inputs.foreach(d => built.put(d, mat.read(spark, d)))
    def resolve(n: String): DataFrame = Option(built.get(n))
      .getOrElse(throw new NoSuchElementException(s"unknown ref/source: $n"))
    val rank = selected.zipWithIndex.toMap
    // per selected model, how many of its selected parents are not yet written
    val waiting = mutable.Map(selected.map(n => n -> parentsOf(n).count(rank.contains)): _*)
    val ready = mutable.TreeSet(selected.filter(waiting(_) == 0): _*)(Ordering.by(rank))
    val finished = new LinkedBlockingQueue[(String, Option[Throwable])]()
    val failed = mutable.LinkedHashMap[String, Throwable]()
    var inFlight = 0
    val pool = Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism,
      (r: Runnable) => { val t = new Thread(r, "graft-dag-writer"); t.setDaemon(true); t })
    try {
      while (ready.nonEmpty || inFlight > 0) {
        ready.foreach { n =>
          try {
            val df = byName(n).build(spark, resolve)
            // the body hands back its own error; `e` is set only if the
            // capture around it throws, so every launch reports to `finished`
            SQLExecution.withThreadLocalCaptured(castToImpl(spark), pool) {
              try {
                GraftSqlBridge.interpreted(spark)(mat.write(spark, n, df))
                built.put(n, mat.readWritten(spark, n, df.schema))
                None
              } catch { case e: Throwable => Some(e) }
            }.whenComplete((r, e) => finished.put(n -> Option(e).orElse(r)))
            inFlight += 1
          } catch { case NonFatal(e) => failed(n) = e }
        }
        ready.clear()
        if (inFlight > 0) {
          val (n, error) = finished.take()
          inFlight -= 1
          error match {
            case Some(e) => failed(n) = e
            case None => childrenOf.getOrElse(n, Nil).filter(rank.contains).foreach { c =>
              waiting(c) -= 1
              if (waiting(c) == 0) ready += c
            }
          }
        }
      }
    } catch {
      // the caller was interrupted: cut the writes in flight short
      case e: InterruptedException => pool.shutdownNow(); throw e
    } finally {
      // on any exit, wait out the writes in flight (a fatal error from a
      // build leaves the loop with some running), so no commit is still
      // part-way when runAs returns or throws
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
    if (failed.nonEmpty) {
      val skipped = selected.filterNot(n => built.containsKey(n) || failed.contains(n))
      val why = failed.map { case (n, e) =>
        s"$n (${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")})"
      }
      val error = new IllegalStateException(why.mkString("models failed: ", ", ", "") +
        (if (skipped.isEmpty) "" else skipped.mkString("; skipped, downstream of a failure: ", ", ", "")),
        failed.head._2)
      failed.values.tail.foreach(error.addSuppressed)
      throw error
    }
    selected.map(n => n -> built.get(n)).toMap
  }
}
