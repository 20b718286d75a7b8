package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.{Checks, DagRunner, Materialization, Model, Pipeline}

/** One `dbt build` of the 40 reference models through the program's public
  * `Pipeline.models` + `DagRunner.runAs`, timed from outside.
  *
  * Each model is wrapped so the benchmark sees when `runAs` calls its
  * `build`. A model's span runs from its own `build` call to the next
  * model's (or to `runAs` returning), so it holds the build, the write and
  * whatever `runAs` does after the write (stats, advisor read-back,
  * publish). */
final class Pass(val span: Span, val models: Seq[(Span, Span)],
    val deps: Map[String, Seq[String]], val out: Map[String, DataFrame])

object Dag {

  /** Builds the models `select` names (dbt `--select` syntax; all 40 when
    * empty) under one pass span. */
  def build(run: Run, feeds: String, mat: Materialization, label: String,
      select: Seq[String] = Nil): Pass = {
    val t = run.tracer
    val spans = mutable.ArrayBuffer[(Span, Span)]()
    var openModel: Option[Span] = None
    val models = Pipeline.models(feeds).map { m =>
      new Model {
        val name = m.name
        val deps = m.deps
        def build(spark: SparkSession, in: String => DataFrame): DataFrame = {
          openModel.foreach(t.closeSpan)
          val ms = t.openSpan(name, "model")
          openModel = Some(ms)
          val bs = t.openSpan("build", "build")
          try m.build(spark, in) finally { t.closeSpan(bs); spans += ((ms, bs)) }
        }
      }: Model
    }
    val runner = new DagRunner(models)
    val planned = if (select.isEmpty) models.size else runner.selectNodes(select).size
    run.attempted += planned
    val passSpan = t.openSpan(label, "pass")
    val out =
      try runner.runAs(run.spark, mat, select)
      catch { case e: Throwable =>
        // the model in flight and every model after it did not build
        val done = math.max(0, spans.size - 1)
        run.failed += planned - done - 1
        run.fail(s"$label at model ${done + 1}", String.valueOf(e.getMessage))
        Map.empty[String, DataFrame]
      } finally {
        openModel.foreach(t.closeSpan)
        t.closeSpan(passSpan)
      }
    new Pass(passSpan, spans.toSeq, models.map(m => m.name -> m.deps).toMap, out)
  }

  /** The `pipeline.*` per-layer metrics of the traced passes of a run. */
  def layerMetrics(run: Run, passes: Seq[Pass]): Unit = {
    val t = run.tracer
    val cs = passes.flatMap(p => t.counters(t.subtree(p.span)))
    val modelSec = passes.flatMap(_.models).map(_._1.seconds).sum
    val buildSec = passes.flatMap(_.models).map(_._2.seconds).sum
    val writeSec = cs.map(_.writeNs).sum / 1e9
    val passSec = passes.map(_.span.seconds).sum
    val cores = run.spark.sparkContext.defaultParallelism
    val L = run.layer
    L("pipeline.pass_s") = passSec
    L("pipeline.build_s") = buildSec
    L("pipeline.write_s") = writeSec
    L("pipeline.post_write_s") = modelSec - buildSec - writeSec
    L("pipeline.models") = passes.map(_.models.size).sum.toDouble
    L("pipeline.jobs") = cs.map(_.jobs).sum.toDouble
    L("pipeline.tasks") = cs.map(_.tasks).sum.toDouble
    L("pipeline.catalyst_s") = cs.map(_.catalystMs).sum / 1e3
    L("pipeline.executor_cpu_s") = cs.map(_.executorCpuNs).sum / 1e9
    L("pipeline.sched_delay_s") = cs.map(_.schedDelayMs).sum / 1e3
    L("pipeline.input_bytes") = cs.map(_.inputBytes).sum.toDouble
    L("pipeline.output_bytes") = cs.map(_.outputBytes).sum.toDouble
    L("pipeline.shuffle_bytes") = cs.map(_.shuffleBytes).sum.toDouble
    L("pipeline.spill_bytes") = cs.map(_.spillBytes).sum.toDouble
    L("pipeline.idle_core_frac") =
      if (passSec <= 0) 0.0
      else 1.0 - cs.map(_.executorRunMs).sum / 1e3 / (cores * passSec)
    L("pipeline.critical_path_s") = passes.map(criticalPath).sum
  }

  /** Longest dependency chain of model span times: the pass time a
    * scheduler running independent models side by side could reach. */
  def criticalPath(p: Pass): Double = {
    val sec = p.models.map { case (m, _) => m.name -> m.seconds }.toMap
    val memo = mutable.HashMap[String, Double]()
    def finish(n: String): Double = memo.getOrElse(n, {
      val v = sec.getOrElse(n, 0.0) +
        p.deps.getOrElse(n, Nil).filter(sec.contains).map(finish).foldLeft(0.0)(math.max)
      memo(n) = v
      v
    })
    sec.keys.map(finish).foldLeft(0.0)(math.max)
  }

  /** At fixture seed 0 every model's content digest must equal the
    * program's golden digest. */
  def checkGoldens(run: Run, read: String => DataFrame): Unit = {
    val golden = Goldens.load()
    golden.toSeq.sortBy(_._1).foreach { case (n, want) =>
      run.check(s"golden digest $n")(Checks.contentDigest(read(n)) == want)
    }
  }
}
