package perfbench

import scala.collection.mutable
import org.apache.spark.sql.Row
import graft.pipeline.{FixtureGen, Materialization}
import graft.sources.{TableService, VersionedHiddenTable => VHT}

/** `dag_snapshots`: the Iceberg side of the reference, in a fresh process.
  *
  * Drop 0 (fixture seed s) builds all 40 models as the first snapshot of 40
  * versioned tables under one fresh table root. Drop 1 (fixture seed s+1) is
  * the in-season daily refresh, `dbt build --select +mart_sgp_factors
  * mart_sgp_percentiles`: it rebuilds the 6 standings-fed tables as a second
  * snapshot. Downstream consumers then, in rounds for `--seconds`, take the
  * run-over-run `changes()` of the two refreshed marts, read them at the
  * latest and the previous snapshot, and read the two rankings marts. The
  * end-to-end latency is that of the fold-forward step over both refreshed
  * marts. One `TableService.maintain` pass over all 40 tables then retires
  * the previous snapshots (keep 1). The write side of the daily cycle, the
  * two drops and the maintain pass, is the end-to-end build time. */
object DagSnapshots {

  val Refresh = Seq("+mart_sgp_factors", "mart_sgp_percentiles")
  val Refreshed = Seq("mart_sgp_factors", "mart_sgp_percentiles")
  val Rankings = Seq("mart_preseason_overall_rankings_oc", "mart_preseason_overall_rankings_50s")
  private val Meta = Seq("_change_type", "_commit_version")
  private val WarmupRounds = 3

  def run(r: Run): Unit = {
    val spark = r.spark
    val root = r.path("tables")
    def tableDir(model: String) = s"$root/${Materialization.layerSchema(model)}/$model"
    def feeds(d: Int): String = {
      val dir = r.path(s"feeds$d")
      FixtureGen.generate(dir, noiseSeed = r.seed + d)
      dir
    }
    val feeds0 = feeds(0)
    val feeds1 = feeds(1)
    r.e2e("setup_s") = Sys.sinceStart

    val gc0 = Sys.gcMs
    val fs0 = Sys.fsOps
    val full = Dag.build(r, feeds0, Materialization.VersionedHiddenDir(root), "drop0")
    val fs1 = Sys.fsOps
    val tables = full.models.map(m => tableDir(m._1.name))
    val liveAfterDrop0 = if (r.tracer.enabled) Sys.liveHeapBytes() else 0L
    // correctness of the first snapshot, outside every timed window
    val gcChecks = Sys.gcMs
    if (r.seed == 0 && full.out.nonEmpty) Dag.checkGoldens(r, n => VHT.read(spark, tableDir(n)))
    val gcSkip = Sys.gcMs - gcChecks
    val fs2 = Sys.fsOps
    val refresh = Dag.build(r, feeds1, Materialization.VersionedHiddenDir(root), "drop1", Refresh)

    val steps = mutable.ArrayBuffer[Double]()
    val byKind = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    val firstRows = mutable.HashMap[(String, String), Array[Row]]()
    var timed = false
    def request(kind: String, what: String, mart: String)(body: => Array[Row]): Unit = {
      val s = r.tracer.openSpan(s"$what $mart", "request")
      val res = try r.op(s"$what $mart")(body) finally r.tracer.closeSpan(s)
      if (timed) byKind(kind) += s.seconds
      res.foreach(rows => if (!firstRows.contains((mart, what))) firstRows((mart, what)) = rows)
    }
    // a consumer's fold-forward step over the refreshed marts (each one's
    // changes, then its latest and its previous snapshot) is the
    // interaction timed end to end; the rankings reads count per layer
    def round(): Unit = {
      val i0 = System.nanoTime()
      Refreshed.foreach { m =>
        request("changes", "changes", m)(VHT.changes(spark, tableDir(m), 0L).collect())
        request("read", "latest", m)(VHT.read(spark, tableDir(m)).collect())
        request("read", "previous", m)(VHT.read(spark, tableDir(m), Some(0L)).collect())
      }
      if (timed) steps += (System.nanoTime() - i0) / 1e6
      Rankings.foreach(m => request("read", "latest", m)(VHT.read(spark, tableDir(m)).collect()))
    }
    if (refresh.out.nonEmpty) {
      // untimed rounds warm the consumer plans and the JIT, as in a
      // long-running consumer; they count as set-up
      val w0 = System.nanoTime()
      (1 to WarmupRounds).foreach(_ => round())
      r.e2e("setup_s") += (System.nanoTime() - w0) / 1e9
      timed = true
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < r.seconds) round()
    }
    val reports = tables.flatMap { dir =>
      val s = r.tracer.openSpan(dir.substring(root.length + 1), "maintain")
      try r.op(s"maintain $dir")(TableService.maintain(spark, dir,
        TableService.Policy(keepSnapshots = 1, stagingGraceMs = 0L)))
      finally { r.tracer.closeSpan(s); byKind("maintain") += s.seconds }
    }
    val fs3 = Sys.fsOps
    val liveHeap = if (r.tracer.enabled) math.max(liveAfterDrop0, Sys.liveHeapBytes()) else 0L
    val gcSec = (Sys.gcMs - gc0 - gcSkip - Sys.forcedGcMs) / 1e3

    r.e2e("build_s") = full.span.seconds + refresh.span.seconds + byKind("maintain")
    r.e2e("request_p50_ms") = Stats.median(steps.toSeq)
    val onDisk = Sys.bytesUnder(root)
    val live = tables.flatMap(d => r.op(s"liveDataBytes $d")(VHT.liveDataBytes(spark, d))).sum
    r.e2e("storage_amp") = onDisk.toDouble / math.max(1L, live)

    if (r.tracer.enabled) {
      Dag.layerMetrics(r, Seq(full, refresh))
      val L = r.layer
      // the app session is dag_serve's; none of it runs here
      Seq("board", "pick", "percentiles", "rankings").foreach(k => L(s"pipeline.serve.$k.p50_ms") = 0.0)
      Seq("requests", "catalyst_ms_per_req", "driver_ms_per_req", "jobs_per_req")
        .foreach(k => L(s"pipeline.serve.$k") = 0.0)
      L("sources.changes_s") = byKind("changes")
      L("sources.read_s") = byKind("read")
      L("sources.maintain_s") = byKind("maintain")
      L("sources.compactions") = reports.count(_.compacted).toDouble
      L("sources.snapshots_dropped") = reports.map(_.droppedSnapshots.size).sum.toDouble
      L("sources.live_eras") = reports.map(_.liveEras).sum.toDouble
      L("sources.bytes_on_disk") = onDisk.toDouble
      L("sources.live_bytes") = live.toDouble
      // builds and table operations only; the golden checks are left out
      (fs1 - fs0 + (fs3 - fs2)).report(r)
      L("spark.gc_s") = gcSec
      L("spark.heap_live_mb") = liveHeap / 1048576.0
    }

    // the refresh folds forward exactly: previous − deletes + inserts = latest
    Refreshed.foreach { m =>
      r.check(s"fold(previous, changes) = latest on $m") {
        val latest = firstRows((m, "latest"))
        val ch = firstRows((m, "changes"))
        val cols = latest.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil)
          .filterNot(Meta.contains)
        def key(row: Row): String =
          cols.map(c => String.valueOf(row.get(row.fieldIndex(c)))).mkString("\u0001")
        def bag(rows: Seq[Row]) = rows.groupBy(key).view.mapValues(_.size).toMap
        def of(t: String) = ch.toSeq.filter(_.getAs[String]("_change_type") == t)
        val prev = bag(firstRows((m, "previous")).toSeq)
        val dels = bag(of("delete"))
        val ins = bag(of("insert"))
        val folded = (prev.keySet ++ ins.keySet).map { k =>
          k -> (prev.getOrElse(k, 0) - dels.getOrElse(k, 0) + ins.getOrElse(k, 0))
        }.filter(_._2 != 0).toMap
        ch.nonEmpty && latest.nonEmpty &&
          dels.forall { case (k, n) => prev.getOrElse(k, 0) >= n } &&
          folded == bag(latest.toSeq)
      }
    }
  }
}
