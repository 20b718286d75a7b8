package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.pipeline.{FixtureGen, LeagueFormat, Materialization, Pipeline}

/** `dag_serve`: the reference's daily cycle in a fresh process. One build of
  * the 40 models over a fresh `FixtureGen` drop (`noiseSeed` = seed) into
  * parquet directories, then draft-day app traffic (one closed-loop client
  * thread) over the fresh marts for `--seconds`. The end-to-end latency is
  * that of a draft pick: the pick request and the board refresh after it.
  *
  * The traffic follows the reference app's read paths (`app/app.py`, as
  * SURVEY.md §2.8, §3.2-3.3 and §4 cite them). Two app sessions run, one per
  * league format (the format switch, app.py:360-371), and the client serves
  * them in turn. A session opens with one rankings pull (app.py:419-430),
  * which the app caches per format in `st.session_state` (app.py:377, :437)
  * and pulls again only on an explicit refresh (app.py:391-403), and one
  * latest-year percentiles pull (app.py:868-887), for which no refresh rate
  * is cited, so neither pull repeats. Its mock draft starts at pick one with
  * no player drafted. Each pick is a pick request (the mock-draft pick
  * model, app.py:744-786) and a board refresh (the drafted flag,
  * app.py:567-569, plus a seed-chosen filter battery, app.py:596-625). The
  * session never touches the versioned-table layer. */
object DagServe {

  private final case class Req(kind: String, ms: Double, span: Span, timed: Boolean)
  private val WarmupPicks = 6

  def run(r: Run): Unit = {
    val spark = r.spark
    val feeds = r.path("feeds")
    FixtureGen.generate(feeds, noiseSeed = r.seed)
    r.e2e("setup_s") = Sys.sinceStart

    val gc0 = Sys.gcMs
    val fs0 = Sys.fsOps
    val martRoot = r.path("marts")
    val pass = Dag.build(r, feeds, Materialization.ParquetDir(martRoot), "dag")
    r.e2e("build_s") = pass.span.seconds
    val fs1 = Sys.fsOps
    val liveAfterBuild = if (r.tracer.enabled) Sys.liveHeapBytes() else 0L

    val reqs = mutable.ArrayBuffer[Req]()
    val picks = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    if (pass.out.nonEmpty) r.e2e("setup_s") += serve(r, pass.out, reqs, picks)
    val live = if (r.tracer.enabled) math.max(liveAfterBuild, Sys.liveHeapBytes()) else 0L
    val gcSec = (Sys.gcMs - gc0 - Sys.forcedGcMs) / 1e3

    // a draft pick (pick request, then the board refresh) is the
    // interaction the user waits on; the session-opening pulls are per
    // layer. The two sessions' picks differ in cost, so each session gets
    // its own median and the metric is their mean: a median over both would
    // sit on the gap between them
    r.e2e("request_p50_ms") =
      if (picks.isEmpty) 0.0 else picks.values.map(ps => Stats.median(ps.toSeq)).sum / picks.size
    // parquet part files are the data; stats manifests, markers and
    // checksums are what the materialization adds on top
    val data = Sys.bytesUnder(martRoot, _.getFileName.toString.startsWith("part-"))
    r.e2e("storage_amp") = Sys.bytesUnder(martRoot).toDouble / math.max(1L, data)

    if (r.tracer.enabled) {
      Dag.layerMetrics(r, Seq(pass))
      val L = r.layer
      // the pulls run once per session, as it opens; picks and board
      // refreshes are those of the timed window
      val timed = reqs.filter(_.timed)
      Seq("board", "pick", "percentiles", "rankings").foreach { k =>
        L(s"pipeline.serve.$k.p50_ms") = Stats.median(reqs.filter(_.kind == k).map(_.ms).toSeq)
      }
      val per = timed.map { q => (q, r.tracer.counters(r.tracer.subtree(q.span))) }
      val n = math.max(1, timed.size).toDouble
      L("pipeline.serve.requests") = timed.size.toDouble
      L("pipeline.serve.catalyst_ms_per_req") = per.map(_._2.map(_.catalystMs).sum).sum / n
      L("pipeline.serve.jobs_per_req") = per.map(_._2.map(_.jobs).sum).sum / n
      L("pipeline.serve.driver_ms_per_req") =
        per.map { case (q, cs) => q.ms - cs.map(_.jobWallMs).sum }.sum / n
      (fs1 - fs0).report(r)
      L("spark.gc_s") = gcSec
      L("spark.heap_live_mb") = live / 1048576.0
      // the app session never touches the versioned-table layer
      Seq("changes_s", "read_s", "maintain_s", "compactions", "snapshots_dropped",
        "live_eras", "bytes_on_disk", "live_bytes").foreach(k => L(s"sources.$k") = 0.0)
    }

    if (pass.out.nonEmpty && r.seed == 0) Dag.checkGoldens(r, pass.out)
  }

  /** One league format's app session: its rankings mart, its mock draft
    * and the user's filter battery, chosen by the seed. */
  private final class Room(val format: LeagueFormat, val mart: DataFrame,
      rng: scala.util.Random) {
    val positions: Seq[String] = rng.shuffle(Seq("C", "1B", "2B", "3B", "SS", "OF")).take(2)
    val nameSearch: String = Seq("a", "e", "i", "o")(rng.nextInt(4))
    var drafted: Set[String] = Set.empty
  }

  /** The app traffic: closed loop, one request at a time, the two sessions
    * taking turns. Each session opens with its rankings and percentiles
    * pulls; untimed picks in each then warm the request plans and the JIT,
    * as in the app's long-running server. The timed picks run for
    * `--seconds`. Returns the seconds before the timed window. */
  private def serve(r: Run, out: Map[String, DataFrame],
      reqs: mutable.ArrayBuffer[Req],
      picks: mutable.Map[String, mutable.ArrayBuffer[Double]]): Double = {
    val spark = r.spark
    val pct = out("mart_sgp_percentiles")
    val rng = new scala.util.Random(r.seed)
    var timed = false

    def request[A](kind: String)(body: => A): Option[A] = {
      val s = r.tracer.openSpan(kind, "request")
      val res = try r.op(kind)(body) finally r.tracer.closeSpan(s)
      reqs += Req(kind, s.seconds * 1e3, s, timed)
      res
    }

    def open(format: LeagueFormat): Room = {
      val room = new Room(format, out(s"mart_preseason_overall_rankings_${format.key}"), rng)
      request("rankings")(Pipeline.servingRankings(room.mart).collect()).foreach { rows =>
        r.check("rankings: contiguous ranks")(rows.nonEmpty &&
          rows.map(_.getAs[Number]("rank").intValue).toSeq == (1 to rows.length))
      }
      request("percentiles")(Pipeline.servingPercentiles(spark, pct, format).collect())
        .foreach(rows => r.check("percentiles: ten categories")(
          rows.map(_.getString(0)).toSet.size == 10))
      room
    }

    def pickCycle(room: Room, pick: Int): Unit = {
      val i0 = System.nanoTime()
      val picked = request("pick") {
        val undrafted = Pipeline.withDraftedFlag(room.mart, room.drafted).filter(!col("drafted"))
        val probs = Pipeline.draftPickProbabilities(undrafted, room.drafted.size + 1)
        Pipeline.sampleDraftPick(probs, r.seed * 100003L + pick).select("id").collect()
      }
      picked.foreach { rows =>
        // every listed player is gone: the next mock draft starts
        if (rows.isEmpty) room.drafted = Set.empty
        else {
          val id = rows.head.getString(0)
          r.check("pick: an undrafted player")(!room.drafted.contains(id))
          room.drafted += id
        }
      }
      val shown = request("board") {
        Pipeline.filterRankings(Pipeline.withDraftedFlag(room.mart, room.drafted),
          positions = room.positions, nameSearch = Some(room.nameSearch),
          draftedOnly = Some(false))
          .select("id", "name", "pos", "drafted").collect()
      }
      shown.foreach(rows => r.check("board: rows match the filters")(rows.forall { row =>
        !row.getBoolean(3) && !room.drafted.contains(row.getString(0)) &&
          room.positions.exists(p => String.valueOf(row.get(2)).contains(p)) &&
          row.getString(1) != null && row.getString(1).toLowerCase.contains(room.nameSearch)
      }))
      if (timed) picks.getOrElseUpdate(room.format.key, mutable.ArrayBuffer()) +=
        (System.nanoTime() - i0) / 1e6
    }

    val warm0 = System.nanoTime()
    val rooms = LeagueFormat.all.map(open)
    for (k <- 1 to WarmupPicks; room <- rooms) pickCycle(room, -k)
    val warmup = (System.nanoTime() - warm0) / 1e9
    timed = true
    val t0 = System.nanoTime()
    var pick = 0
    while ((System.nanoTime() - t0) / 1e9 < r.seconds) {
      pick += 1
      pickCycle(rooms(pick % rooms.size), pick)
    }
    warmup
  }
}
