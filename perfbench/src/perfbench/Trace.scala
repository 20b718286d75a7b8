package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work the Spark listeners attributed to one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var executorCpuNs = 0L
  var executorRunMs = 0L
  var schedDelayMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var catalystMs = 0L
  var writeNs = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  /** Wall time during which at least one job of the span ran. */
  def jobWallMs: Long = {
    var covered = 0L
    var reach = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    covered
  }
}

final case class Span(id: Int, name: String, kind: String, parent: Int,
    start: Long, var end: Long = -1L) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans at each call boundary the benchmark makes into the program:
  * pass, model or request, build. Span times are taken in every
  * run. With `enabled`, each span's id is also set as a Spark local property
  * so a `SparkListener` and a `QueryExecutionListener` can attribute jobs,
  * tasks, Catalyst phases and writes to it, and the listener bus is drained
  * when a span closes. Spans stay in memory and are written out at the end
  * of the run. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Prop = "perfbench.span"
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()
  private val counters = mutable.HashMap[Int, Counters]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val jobStart = mutable.HashMap[Int, (Int, Long)]()
  @volatile private var current = -1
  /** Client-thread time spent in tracing work: drains and bookkeeping. */
  var overheadNs = 0L

  private def countersOf(span: Int): Counters =
    counters.synchronized(counters.getOrElseUpdate(span, new Counters))

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(-1)

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val s = spanOf(e.properties)
        counters.synchronized {
          jobStart(e.jobId) = (s, e.time)
          e.stageIds.foreach(stageSpan(_) = s)
        }
        countersOf(s).synchronized(countersOf(s).jobs += 1)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        counters.synchronized(jobStart.remove(e.jobId)).foreach { case (s, t0) =>
          val c = countersOf(s)
          c.synchronized(c.jobIntervals += ((t0, e.time)))
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val s = spanOf(e.properties)
        if (s >= 0) counters.synchronized(stageSpan(e.stageInfo.stageId) = s)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = counters.synchronized(stageSpan.getOrElse(e.stageId, -1))
        val m = e.taskMetrics
        val c = countersOf(s)
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.executorCpuNs += m.executorCpuTime
            c.executorRunMs += m.executorRunTime
            c.inputBytes += m.inputMetrics.bytesRead
            c.outputBytes += m.outputMetrics.bytesWritten
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime -
              e.taskInfo.gettingResultTime)
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe, durationNs)
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
        record(qe, 0L)
    })
  }

  private val WriteCommand =
    "InsertInto|SaveInto|CreateDataSourceTableAsSelect|AppendData|Overwrite|WriteFiles".r

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val c = countersOf(current)
    val phases = qe.tracker.phases.values.map(_.durationMs).sum
    val isWrite = WriteCommand.findFirstIn(qe.logical.getClass.getSimpleName).isDefined
    c.synchronized {
      c.catalystMs += phases
      if (isWrite) c.writeNs += durationNs
    }
  }

  def openSpan(name: String, kind: String): Span = {
    val t0 = System.nanoTime()
    val s = Span(spans.size, name, kind, open.headOption.map(_.id).getOrElse(-1), t0)
    spans += s
    open.push(s)
    if (enabled) {
      sc.setLocalProperty(Prop, s.id.toString)
      current = s.id
    }
    overheadNs += System.nanoTime() - t0
    s
  }

  /** Closes `s`. The drain is tracing work, so it stays out of the span's
    * own time and is counted in [[overheadNs]] instead. */
  def closeSpan(s: Span): Unit = {
    val t0 = System.nanoTime()
    s.end = t0
    if (enabled) org.apache.spark.ListenerDrain.drain(sc)
    require(open.top eq s, s"span ${s.name} closed out of order")
    open.pop()
    if (enabled) {
      val up = open.headOption.map(_.id).getOrElse(-1)
      sc.setLocalProperty(Prop, if (up >= 0) up.toString else null)
      current = up
    }
    overheadNs += System.nanoTime() - t0
  }

  /** Counters of a span and every span below it. */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).toSeq.flatMap(walk)
    walk(root)
  }

  def counters(ss: Seq[Span]): Seq[Counters] =
    counters.synchronized(ss.flatMap(s => counters.get(s.id)).toSeq)

  /** Spans as JSON lines: id, parent, name, kind, start/end in ns relative
    * to the first span, and the counters attributed to the span itself. */
  def write(path: java.nio.file.Path): Unit = {
    val base = spans.headOption.map(_.start).getOrElse(0L)
    val lines = spans.map { s =>
      val o = Json.mapper.createObjectNode()
        .put("id", s.id).put("parent", s.parent).put("name", s.name).put("kind", s.kind)
        .put("start_ns", s.start - base).put("end_ns", s.end - base)
      counters.synchronized(counters.get(s.id)).foreach(c => c.synchronized {
        o.put("jobs", c.jobs).put("tasks", c.tasks).put("executor_cpu_ns", c.executorCpuNs)
          .put("catalyst_ms", c.catalystMs).put("write_ns", c.writeNs)
      })
      Json.mapper.writeValueAsString(o)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
