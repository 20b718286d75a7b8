package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

object Json {
  val mapper = new ObjectMapper()
}

/** One benchmark run: options, operation accounting and the metrics it
  * reports. `attempted`/`failed` count every model build, request, table
  * operation and correctness check; a failure also marks the run incorrect,
  * so a broken operation can never read as a fast one. */
final class Run(val spark: SparkSession, val seed: Int,
    val seconds: Double, val work: Path, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()

  def fail(what: String, why: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += s"$what: ${why.take(300)}"
    System.err.println(s"perfbench: FAILED $what: $why")
  }

  /** Runs one counted operation; `None` when it threw. */
  def op[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable => fail(what, String.valueOf(e.getMessage)); None }
  }

  /** One counted correctness check. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch { case e: Throwable =>
      fail(what, String.valueOf(e.getMessage)); return
    }
    if (!passed) fail(what, "output mismatch")
  }

  def path(rel: String): String = work.resolve(rel).toString
}

final case class FsOps(read: Long, write: Long, list: Long, dataFiles: Long) {
  def -(o: FsOps): FsOps =
    FsOps(read - o.read, write - o.write, list - o.list, dataFiles - o.dataFiles)
  def +(o: FsOps): FsOps =
    FsOps(read + o.read, write + o.write, list + o.list, dataFiles + o.dataFiles)
  def report(run: Run): Unit = {
    run.layer("sources.fs_read_ops") = read.toDouble
    run.layer("sources.fs_write_ops") = write.toDouble
    run.layer("sources.fs_list_ops") = list.toDouble
    run.layer("pipeline.files_written") = dataFiles.toDouble
  }
}

/** JVM- and filesystem-wide counters read before and after the measured
  * window. */
object Sys {
  /** Seconds since the JVM started. */
  def sinceStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** GC milliseconds spent in [[liveHeapBytes]]'s own collections. */
  var forcedGcMs = 0L

  /** Heap in use after a full collection: the live data the program holds
    * at this point. Unlike a raw peak it does not depend on when the
    * collector chose to run. Call it outside timed windows. */
  def liveHeapBytes(): Long = {
    val g0 = gcMs
    System.gc()
    forcedGcMs += gcMs - g0
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getUsage.getUsed).sum
  }

  /** Filesystem calls so far (traced runs count them). */
  def fsOps: FsOps = CountingFileSystem.snapshot

  /** Bytes of every regular file under `dir`. */
  def bytesUnder(dir: String, keep: Path => Boolean = _ => true): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(p => Files.isRegularFile(p) && keep(p)).map(Files.size).sum
    finally s.close()
  }
}

object Stats {
  /** Nearest-rank median (the lower middle of an even count); 0 when empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply((xs.size - 1) / 2)
}

/** The golden content digests the program's own test suite pins the 40
  * models to (fixture seed 0), read from the checkout so the benchmark and
  * the suite can never disagree on what correct means. */
object Goldens {
  val Spec = "src/test/scala/graft/pipeline/PipelineSpec.scala"
  def load(): Map[String, String] = {
    val text = new String(Files.readAllBytes(Paths.get(Spec)), "UTF-8")
    val start = text.indexOf("private val golden = Map(")
    require(start >= 0, s"no golden map in $Spec")
    val body = text.substring(start, text.indexOf(")", start))
    val m = "\"([a-z0-9_]+)\" -> \"([0-9a-f]{32})\"".r
      .findAllMatchIn(body).map(x => x.group(1) -> x.group(2)).toMap
    require(m.size == 40, s"expected 40 golden digests in $Spec, found ${m.size}")
    m
  }
}

/** Entry point, started by `perfbench/run.py`:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <result file> <span file>`. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, resultS, spansS) = args
    val cores = Runtime.getRuntime.availableProcessors
    val work = Paths.get(workS).toAbsolutePath
    Files.createDirectories(work)
    val trace = traceS == "1"
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.sources.GraftSqlExtensions")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, seedS.toInt, secondsS.toDouble, work,
      new Tracer(spark, trace))
    try workload match {
      case "dag_serve" => DagServe.run(run)
      case "dag_snapshots" => DagSnapshots.run(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch { case e: Throwable =>
      run.attempted += 1
      run.fail("workload", e.toString)
      e.printStackTrace()
    }
    run.layer("trace.overhead_s") = run.tracer.overheadNs / 1e9
    run.layer("trace.spans") = run.tracer.spans.size.toDouble
    run.tracer.write(Paths.get(spansS))
    val res = Json.mapper.createObjectNode()
      .put("correct", run.failed == 0)
      .put("attempted", math.max(1L, run.attempted))
      .put("failed", run.failed)
    val errors = res.putArray("errors")
    run.errors.foreach(errors.add)
    val metrics = res.putObject("metrics")
    (run.e2e ++ run.layer).foreach { case (k, v) => metrics.put(k, v) }
    Files.write(Paths.get(resultS), (Json.mapper.writeValueAsString(res) + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
