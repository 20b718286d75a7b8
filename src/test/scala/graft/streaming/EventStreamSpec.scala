package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Drives the streaming path with MemoryStream micro-batches: watermarked
  * window agg parity with the batch plan, and gap-based sessionization. */
class EventStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ev(id: Long, minute: Int, user: Long, typ: String, v: Double) =
    EventStream.Event(id, new Timestamp(1700000000000L + minute * 60000L), user, typ, v)

  test("streaming windowed agg equals the batch plan on the same data") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[EventStream.Event]
    val events = (0 until 40).map(i => ev(i, i / 2, i % 3, if (i % 2 == 0) "click" else "view", i * 1.5))
    input.addData(events)

    val q = EventStream.startWindowed(
      input.toDF().withColumn("props", lit("{}")), "win_stream")
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("win_stream")
      .select("win_start", "event_type", "n", "total")
    val batch = EventStream.windowedCounts(
      events.toDF().withColumn("props", lit("{}")))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0,
      "streaming (AvailableNow) result must equal the batch plan result")
  }

  test("streaming sliding-window agg equals the batch plan on the same data (st3 twin)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[EventStream.Event]
    val events = (0 until 60).map(i =>
      ev(i, i / 3, i % 4, if (i % 2 == 0) "click" else "view", i * 0.5))
    input.addData(events)

    val q = EventStream.slidingCounts(
        input.toDF().withColumn("props", lit("{}")), watermark = true)
      .writeStream.format("memory").queryName("slide_stream")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("slide_stream")
      .select("win_start", "event_type", "n", "total")
    val batch = EventStream.slidingCounts(
      events.toDF().withColumn("props", lit("{}")))
    assert(streamed.count() > 0)
    // every event must appear in exactly two hop windows
    val totalN = batch.agg(sum("n")).head.getLong(0)
    assert(totalN == events.size * 2, s"hop fan-out must be 2: $totalN")
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0,
      "streaming (AvailableNow) sliding agg must equal the batch plan result")
  }

  test("streaming CDC apply equals the batch state after every micro-batch drains") {
    // the i5 aggregation runs as a streaming aggregation in complete mode:
    // per-key max_by accumulators live in the state store and each
    // micro-batch folds in — the streaming face of the CDC apply. Ops
    // arrive across THREE batches with interleaved patches and tombstones;
    // the final table must equal the batch plan over the union of all ops.
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[EventStream.Event]
    val types = Seq("click", "view", "purchase", "error", "signup")
    val events = (0 until 60).map(i => ev(i, i, i % 5, types(i % types.length), i * 2.5))
    // queue all data BEFORE start: AvailableNow terminates once drained
    events.grouped(20).foreach(batch => input.addData(batch))

    val q = EventStream.cdcState(input.toDF())
      .writeStream.format("memory").queryName("cdc_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("cdc_stream")
    val batch = EventStream.cdcState(events.toDF())
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0,
      "streaming CDC state must equal the batch aggregation over the full log")
  }

  test("file-source streaming ingest of parquet drops equals the batch read") {
    // stage the events table as a "file drop" directory, stream it in
    val dir = java.nio.file.Files.createTempDirectory("graft-drops").toString
    val batch = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
    batch.write.mode("overwrite").parquet(dir)
    val streamed = EventStream.fromFileSource(spark, dir)
    assert(streamed.isStreaming, "file source must produce a streaming frame")
    val q = EventStream.startWindowed(streamed, "win_files")
    q.processAllAvailable()
    q.stop()
    val got = spark.table("win_files").select("win_start", "event_type", "n", "total")
    val want = EventStream.windowedCounts(spark.read.parquet(dir))
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "streamed file drops must aggregate identically to the batch read")
  }

  test("bounded backfill: maxFilesPerTrigger splits the backlog into batches, result unchanged") {
    // The ops contract for catching up on a large landed backlog WITHOUT
    // sizing executors to the whole pile: AvailableNow + maxFilesPerTrigger
    // must process the backlog in bounded batches (one file each here), then
    // stop — and converge to the same state as one giant batch would.
    val dir = java.nio.file.Files.createTempDirectory("graft-backfill").toString
    val batch = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
    // land the backlog as several distinct files
    batch.repartition(5).write.mode("overwrite").parquet(dir)
    val nFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(nFiles >= 3, s"backlog should span several files, got $nFiles")
    val streamed = spark.readStream
      .schema(EventStream.eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    // NO watermark: the backlog files are not in event-time order, so a
    // watermarked agg would (correctly) drop whole late files — the
    // watermark-vs-backfill interaction is exactly why replays run
    // unwatermarked (or with the watermark held back to the backlog's start)
    val q = EventStream.windowedCounts(streamed, watermark = false).writeStream
      .format("memory")
      .queryName("win_backfill")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(nBatches >= 3,
      s"bounded backfill should take one batch per file, saw $nBatches data batches")
    // update mode re-emits a key's row each batch it changes; the final state
    // is the emission with the LARGEST cumulative count (n strictly grows per
    // update, so max_by is tie-free — no reliance on sink row order)
    val got = spark.table("win_backfill")
      .groupBy("win_start", "event_type").agg(
        max_by(struct(col("n"), col("total")), col("n")).as("s"))
      .select(col("win_start"), col("event_type"), col("s.n").as("n"),
        col("s.total").as("total"))
    val want = EventStream.windowedCounts(spark.read.parquet(dir))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "bounded backfill must converge to the one-batch result")
  }

  test("stream-static enrichment equals the batch join; unseen users pass through null") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // profile from a batch history covering users 0 and 1 only; the stream
    // also carries user 2, which must survive with null features
    val history = (0 until 20).map(i => ev(i, i, i % 2, "view", i * 2.0)).toDF()
    val profile = EventStream.userProfile(history)
    val input = MemoryStream[EventStream.Event]
    val live = (100 until 130).map(i => ev(i, i - 100, i % 3, "click", 1.0))
    input.addData(live)
    val q = EventStream.enrichedEvents(input.toDF(), profile).writeStream
      .format("memory").queryName("enriched_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("enriched_stream")
      .select("event_id", "user_id", "n_events", "lifetime_value")
    val batch = EventStream.enrichedEvents(live.toDF(), profile)
      .select("event_id", "user_id", "n_events", "lifetime_value")
    assert(streamed.count() === 30L)
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0,
      "stream-static join must equal the batch join")
    // user 2 has no profile: null features, rows NOT dropped
    val u2 = streamed.filter(col("user_id") === 2)
    assert(u2.count() === 10L && u2.filter(col("n_events").isNull).count() === 10L,
      "unseen users must pass through with null features")
  }

  test("Misra-Gries UDAF runs as a streaming aggregation (complete mode)") {
    // The typed Aggregator surface (§2.10) must compose with the streaming
    // runtime (§2.9): the sketch's partial buffers become streaming state,
    // merged across micro-batches. Complete mode re-emits the global sketch;
    // the final emission must satisfy the same MG guarantee as the batch run.
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[EventStream.Event]
    // skewed types: 'hot' dominates, long tail of t<i>
    val events = (0 until 300).map(i =>
      ev(i, i % 50, i % 7, if (i % 3 != 2) "hot" else s"t${i % 20}", 1.0))
    input.addData(events)
    val sketch = graft.functions.FreqSketchAggregator.freqSketch(5)
    val q = input.toDF()
      .groupBy()
      .agg(sketch(col("event_type")).as("mg"), count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("mg_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val row = spark.table("mg_stream").head()
    val est = row.getMap[String, Long](0)
    val n = row.getLong(1)
    assert(n === 300L)
    // MG guarantee: true count <= estimate + n/(k+1); 'hot' has 200 > n/6
    val trueCounts = events.groupBy(_.event_type).view.mapValues(_.size.toLong).toMap
    assert(est.contains("hot"), s"dominant key must survive the sketch: $est")
    est.foreach { case (key, e) =>
      val t = trueCounts.getOrElse(key, 0L)
      assert(e <= t && t <= e + n / 6,
        s"MG bound violated for $key: est=$e true=$t")
    }
  }

  test("stream-stream interval join equals the batch plan on the same data") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[EventStream.Event]
    // user 1: views at minutes 0 and 8, clicks at 5 and 30 — click@5 pairs
    // with view@0 only; click@30 is beyond 10 min of both views.
    // user 2: view@2, click@7 pairs; user 3: click with no view.
    val events = Seq(
      ev(10, 0, 1, "view", 1), ev(11, 8, 1, "view", 1),
      ev(12, 5, 1, "click", 2), ev(13, 30, 1, "click", 2),
      ev(20, 2, 2, "view", 1), ev(21, 7, 2, "click", 2),
      ev(30, 3, 3, "click", 2),
      ev(99, 600, 9, "error", 0)) // watermark pusher
    input.addData(events)
    val q = EventStream.attributedClicks(
      input.toDF().withColumn("props", lit("{}")), stream = true)
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("attrib")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    val batch = EventStream.attributedClicks(
      events.toDF().withColumn("props", lit("{}")), stream = false)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(batch == Set((12L, 10L), (21L, 20L)),
      s"hand-checked attribution pairs (view@8 is after click@5), got $batch")
    assert(streamed == batch, "stream-stream join must equal the batch twin")
  }

  test("left-outer stream-stream join emits unmatched clicks after the watermark", graft.Slow) {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[EventStream.Event]
    // same topology as the inner-join test: clicks 12 and 21 match a view;
    // clicks 13 (user 1, views too old) and 30 (user 3, no views) do not.
    val events = Seq(
      ev(10, 0, 1, "view", 1), ev(11, 8, 1, "view", 1),
      ev(12, 5, 1, "click", 2), ev(13, 30, 1, "click", 2),
      ev(20, 2, 2, "view", 1), ev(21, 7, 2, "click", 2),
      ev(30, 3, 3, "click", 2))
    // null emission for a click needs the VIEW watermark to pass the click's
    // whole match interval, and it surfaces a batch AFTER the watermark
    // advances — so the batches must be fed incrementally (a single
    // AvailableNow pass would fold every addData block into one batch and
    // the watermark would never advance mid-run).
    val q = EventStream.attributedClicksOuter(
      input.toDF().withColumn("props", lit("{}")), stream = true)
      .writeStream.format("memory").queryName("attrib_outer")
      .outputMode("append")
      .start()
    input.addData(events)
    q.processAllAvailable()
    // the query watermark is the MIN over both sides' watermark nodes, and
    // each node only sees rows that survive its own filter — so the pushers
    // must be a far-future VIEW and CLICK (an 'error' row advances nothing)
    input.addData(Seq(ev(96, 600, 8, "view", 0), ev(97, 600, 9, "click", 0)))
    q.processAllAvailable() // wm := 590 → clicks @3 and @30 provably unmatched
    input.addData(Seq(ev(98, 620, 8, "view", 0), ev(99, 620, 9, "click", 0)))
    q.processAllAvailable() // the batch after the advance emits their null rows
    q.stop()
    // restrict to the scenario's clicks: the far-future pusher clicks may or
    // may not have null-emitted yet depending on when the final watermark
    // lands, and they aren't part of the hand-checked topology
    val rows = spark.table("attrib_outer").filter(col("click_id") < 90).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    val batch = EventStream.attributedClicksOuter(
      events.toDF().withColumn("props", lit("{}")), stream = false)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(batch == Set((12L, 10L), (21L, 20L), (13L, -1L), (30L, -1L)),
      s"hand-checked outer attribution, got $batch")
    assert(rows == batch,
      s"streaming outer join must equal the batch left join, got $rows")
  }

  test("streaming merge sink: folded upserts equal latest-per-key over the log (i1 twin)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[EventStream.Event]
    val tbl = java.nio.file.Files.createTempDirectory("graft-upsert-tbl").toString
    val cp = java.nio.file.Files.createTempDirectory("graft-upsert-cp").toString
    // slice A: users 1 and 2; slice B: user 1 advances, user 3 appears.
    // The final table is the same whether the runtime folds the slices as
    // one micro-batch or two — that indifference is the upsert contract.
    input.addData(Seq(ev(10, 0, 1, "a", 1), ev(11, 1, 2, "a", 2)))
    input.addData(Seq(ev(12, 5, 1, "b", 3), ev(13, 6, 3, "a", 4)))
    val q1 = EventStream.startUpsertToParquet(
      input.toDF().withColumn("props", lit("{}")), tbl, cp)
    q1.processAllAvailable()
    q1.stop()
    val got = EventStream.readAuditedTable(spark, tbl)
      .select("user_id", "event_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got === Set((1L, 12L, "b"), (2L, 11L, "a"), (3L, 13L, "a")),
      s"merged table must hold the latest event per user, got $got")
  }

  test("checkpoint restart: a resumed query processes only new data, state stays correct") {
    // The durability contract a 100 TB deployment leans on: stop the
    // query, keep the checkpoint, start a NEW query over the same source —
    // the resumed run must skip everything already committed (batch ids
    // continue, no re-merge of old slices) and fold only the new arrivals,
    // leaving exactly the state a never-stopped run would have built.
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[EventStream.Event]
    val tbl = java.nio.file.Files.createTempDirectory("graft-restart-tbl").toString
    val cp = java.nio.file.Files.createTempDirectory("graft-restart-cp").toString
    input.addData(Seq(ev(20, 0, 1, "a", 1), ev(21, 1, 2, "a", 2)))
    val run1 = EventStream.startUpsertToParquet(
      input.toDF().withColumn("props", lit("{}")), tbl, cp)
    run1.processAllAvailable(); run1.stop()
    val vht = graft.sources.VersionedHiddenTable
    val versionsAfterRun1 = vht.versions(sp, tbl)

    // data arriving while the query is DOWN
    input.addData(Seq(ev(22, 5, 1, "b", 3), ev(23, 6, 3, "a", 4)))
    val run2 = EventStream.startUpsertToParquet(
      input.toDF().withColumn("props", lit("{}")), tbl, cp)
    run2.processAllAvailable(); run2.stop()

    val newVersions = vht.versions(sp, tbl).diff(versionsAfterRun1)
    assert(newVersions.nonEmpty, "the resumed run must commit new versions")
    assert(newVersions.forall(v => v > versionsAfterRun1.max),
      s"batch ids must CONTINUE from the checkpoint, got $newVersions after $versionsAfterRun1")
    val got = EventStream.readAuditedTable(spark, tbl)
      .select("user_id", "event_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got === Set((1L, 22L, "b"), (2L, 21L, "a"), (3L, 23L, "a")),
      s"state after restart must equal the never-stopped run, got $got")
    // every snapshot carries its batch marker (it rode the overwrite's
    // publish rename), so a re-offered batch is skipped, never re-merged
    assert(vht.publishedBatchIds(sp, tbl).size == vht.versions(sp, tbl).size)
  }

  test("streaming SCD2 sink: folded history equals the batch rebuild (i3 twin)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[EventStream.Event]
    // user 1 changes type a -> b -> b (the repeat must merge); user 2 stays c
    val log = Seq(ev(10, 0, 1, "a", 1), ev(11, 5, 1, "b", 1),
      ev(12, 9, 1, "b", 1), ev(13, 2, 2, "c", 1))
    input.addData(log.take(2))
    input.addData(log.drop(2))
    val tbl = java.nio.file.Files.createTempDirectory("graft-scd2-tbl").toString
    val cp = java.nio.file.Files.createTempDirectory("graft-scd2-cp").toString
    val q = EventStream.startScd2ToParquet(
      input.toDF().withColumn("props", lit("{}")), tbl, cp)
    q.processAllAvailable()
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_type"),
          expr("unix_micros(valid_from)").as("f"),
          expr("unix_micros(valid_to)").as("t"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    val streamed = canon(EventStream.readAuditedTable(spark, tbl))
    val rebuilt = canon(graft.pipeline.Incremental.scd2Rebuild(
      log.toDF().withColumn("props", lit("{}"))
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id")),
      Seq("user_id"), "event_type", "ts", "event_id"))
    assert(streamed === rebuilt,
      s"streamed history must equal the batch rebuild:\n$streamed\n$rebuilt")
    assert(rebuilt.map(x => (x._1, x._2, x._4)).contains((1L, "b", -1L)),
      "user 1 must end open on 'b' with the repeat merged")
  }

  test("streaming dedup within watermark + foreachBatch parquet sink (d1 twin)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[EventStream.Event]
    // event 1 duplicated inside a batch, event 2 duplicated ACROSS batches
    // (both within the watermark window)
    input.addData(Seq(ev(1, 0, 1, "a", 1), ev(2, 1, 1, "a", 2), ev(1, 0, 1, "a", 1)))
    input.addData(Seq(ev(2, 1, 1, "a", 2), ev(3, 2, 2, "b", 3)))
    val outDir = java.nio.file.Files.createTempDirectory("graft-dedup-out").toString
    val cp = java.nio.file.Files.createTempDirectory("graft-dedup-cp").toString
    val q = EventStream.startDedupToParquet(
      input.toDF().withColumn("props", lit("{}")), outDir, cp)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.option("recursiveFileLookup", "true").parquet(outDir)
    val ids = got.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L),
      s"each event_id must land exactly once across all batches, got $ids")
  }

  test("stateful sessionizer agrees with the batch session_window aggregation (t3 twin)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // whole-minute timestamps so the sessionizer's second-granularity state
    // and session_window's microsecond bounds describe identical sessions
    val fixture = Seq(
      ev(1, 0, 1, "a", 1), ev(2, 5, 1, "a", 2), ev(3, 10, 1, "a", 3),
      ev(4, 70, 1, "a", 4),                       // 60-min gap -> new session
      ev(5, 0, 2, "b", 5), ev(6, 29, 2, "b", 6),  // 29-min gap -> same session
      ev(7, 61, 2, "b", 7))                       // 32-min gap -> new session
    val input = MemoryStream[EventStream.Event]
    input.addData(fixture)
    input.addData(Seq(ev(99, 600, 9, "c", 0))) // closes every session via timeout
    val q = EventStream.sessionize(input.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("sess_parity")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_parity").as[EventStream.SessionOut].collect()
      .filter(_.user_id != 9)
      .map(s => (s.user_id, s.session_start, s.session_end, s.n_events, s.total_value))
      .toSet
    val batch = graft.queries.TemporalOps.sessionAgg(
      fixture.toDF().withColumn("props", lit("{}")))
      .collect().map { r =>
        // t3 shape -> sessionizer shape: end_us = lastSeen + gap, in micros
        (r.getLong(0), r.getLong(1) / 1000000L,
          r.getLong(2) / 1000000L - 1800L, r.getLong(3), r.getDouble(4))
      }.toSet
    assert(batch.size == 4, s"hand fixture spans 4 sessions, got $batch")
    assert(streamed == batch,
      s"stateful and session_window sessions must agree:\nstream=$streamed\nbatch=$batch")
  }

  test("native session_window aggregation also runs on a stream with watermark") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val fixture = Seq(
      ev(1, 0, 1, "a", 1), ev(2, 5, 1, "a", 2), ev(3, 10, 1, "a", 3),
      ev(4, 70, 1, "a", 4), ev(5, 0, 2, "b", 5))
    val input = MemoryStream[EventStream.Event]
    val q = graft.queries.TemporalOps.sessionAgg(
      input.toDF().withColumn("props", lit("{}"))
        .withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("sess_native")
      .outputMode("append").start()
    input.addData(fixture)
    q.processAllAvailable()
    // append mode only emits sessions the watermark has CLOSED — push it
    input.addData(Seq(ev(98, 600, 9, "c", 0)))
    q.processAllAvailable()
    input.addData(Seq(ev(99, 620, 9, "c", 0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_native").filter(col("user_id") < 9)
      .select("user_id", "sess_start_us", "n_events", "total").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = graft.queries.TemporalOps.sessionAgg(
      fixture.toDF().withColumn("props", lit("{}")))
      .select("user_id", "sess_start_us", "n_events", "total").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(batch.size == 3, s"fixture spans 3 sessions, got $batch")
    assert(streamed == batch,
      s"streamed session_window must equal the batch plan:\n$streamed\nvs\n$batch")
  }

  test("quality scoring transform runs unchanged on a document stream (d6 twin)") {
    // The curation projections are row-local, so the batch definition IS the
    // streaming definition — stream the documents table as parquet drops
    // through TextOps.qualityFeatures and compare to the batch run.
    val dir = java.nio.file.Files.createTempDirectory("graft-doc-drops").toString
    val batchDocs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    batchDocs.write.mode("overwrite").parquet(dir)
    val streamedDocs = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val q = graft.queries.TextOps.qualityFeatures(streamedDocs)
      .writeStream.format("memory").queryName("doc_quality")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("doc_quality")
    val want = graft.queries.TextOps.qualityFeatures(spark.read.parquet(dir))
    assert(got.count() == batchDocs.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "streamed quality features must equal the batch plan result")
  }

  test("sessionization closes sessions at the inactivity gap") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[EventStream.Event]
    // user 1: events at minute 0,5,10 then a 60-min gap then 70 -> 2 sessions
    // user 2: single event at minute 0 -> 1 session (closed by watermark advance)
    input.addData(Seq(ev(1, 0, 1, "a", 1), ev(2, 5, 1, "a", 2), ev(3, 10, 1, "a", 3),
      ev(4, 0, 2, "b", 5)))
    input.addData(Seq(ev(5, 70, 1, "a", 4)))
    // far-future event pushes the watermark past every timeout
    input.addData(Seq(ev(99, 600, 3, "c", 0)))

    val out = EventStream.sessionize(input.toDS(), gapSeconds = 1800)
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()

    val sessions = spark.table("sessions").as[EventStream.SessionOut].collect()
      .groupBy(_.user_id)
    val u1 = sessions.getOrElse(1L, Array.empty).sortBy(_.session_start)
    assert(u1.length >= 1, s"user 1 should close at least the first session, got ${u1.toSeq}")
    assert(u1.head.n_events == 3 && u1.head.total_value == 6.0,
      s"first session should hold 3 events totalling 6.0: ${u1.head}")
    val u2 = sessions.getOrElse(2L, Array.empty)
    assert(u2.length == 1 && u2.head.n_events == 1)
  }

  test("dynamic-gap session_window aggregation runs on a stream and equals batch (t16 twin)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[EventStream.Event]
    val events = Seq(
      ev(1, 0, 1, "click", 1), ev(2, 5, 1, "view", 2),   // merge: click 10m gap covers 5m
      ev(3, 60, 1, "view", 3),                           // own session (gap from prev view = 30m < 55m)
      ev(4, 0, 2, "view", 5), ev(5, 25, 2, "view", 6),   // merge under the 30m view gap
      ev(99, 600, 3, "click", 0))                        // watermark pusher
    input.addData(events)
    def sessions(df: org.apache.spark.sql.DataFrame, stream: Boolean) = {
      val base = if (stream) df.withWatermark("ts", "10 minutes") else df
      base.groupBy(col("user_id"),
          session_window(col("ts"),
            when(col("event_type") === "click", "10 minutes")
              .otherwise("30 minutes")).as("sw"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), expr("unix_micros(sw.start)").as("s"),
          expr("unix_micros(sw.end)").as("e"), col("n"))
    }
    val q = sessions(input.toDF().withColumn("props", lit("{}")), stream = true)
      .writeStream.format("memory").queryName("dyn_sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("dyn_sessions")
    val batch = sessions(events.toDF().withColumn("props", lit("{}")), stream = false)
    assert(streamed.count() > 0)
    // append mode only emits watermark-closed sessions; every emitted one
    // must exist identically in the batch result
    assert(streamed.exceptAll(batch).count() === 0,
      "streamed dynamic-gap sessions must be a subset of the batch sessions")
    // the fixture's watermark pusher closes everything before minute 600-10
    assert(streamed.count() === batch.filter(col("user_id") =!= 3).count())
  }

  test("stream-stream LEFT SEMI interval join equals the batch semi join") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[EventStream.Event]
    val events = (0 until 60).map(i =>
      ev(i, i / 2, i % 4, if (i % 3 == 0) "click" else "view", i * 0.5))
    input.addData(events)
    val q = EventStream.attributedClicksSemi(
      input.toDF().withColumn("props", lit("{}")), stream = true)
      .writeStream.format("memory").queryName("semi_clicks")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("semi_clicks")
    val batch = EventStream.attributedClicksSemi(
      events.toDF().withColumn("props", lit("{}")), stream = false)
    assert(streamed.count() > 0)
    // semi join: one row per qualifying click, never multiplied
    assert(streamed.groupBy("click_id").count().filter(col("count") > 1).count() === 0)
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0)
  }

  test("transformWithState MapState counts: multi-batch streaming fold equals batch (st7 twin)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[EventStream.Event]
    val batch1 = (0 until 24).map(i => ev(i, i, i % 3, if (i % 2 == 0) "click" else "view", 1.0))
    val batch2 = (24 until 40).map(i => ev(i, i, i % 5, "purchase", 2.0))
    input.addData(batch1); input.addData(batch2)
    val q = EventStream.typeCounts(input.toDF().withColumn("props", lit("{}")))
      .toDF().writeStream.format("memory").queryName("tws_type_counts")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    // last emission per (user, type) is the folded count
    val streamed = spark.table("tws_type_counts")
      .groupBy("user_id", "event_type").agg(max("n").as("n"))
    val want = (batch1 ++ batch2).toDF()
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("n"))
    assert(streamed.exceptAll(want).count() == 0 && want.exceptAll(streamed).count() == 0,
      "MapState streaming fold must equal the batch GROUP BY")
  }

  test("transformWithState sessionizer with event-time timers matches flatMapGroupsWithState") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // same fixture as the sessionize test: user 1 closes one session at the
    // 60-min gap, user 2's single event closes via the TIMER once the
    // far-future event advances the watermark past lastSeen+gap
    def feed(input: MemoryStream[EventStream.Event]): Unit = {
      input.addData(Seq(ev(1, 0, 1, "a", 1), ev(2, 5, 1, "a", 2), ev(3, 10, 1, "a", 3),
        ev(4, 0, 2, "b", 5)))
      input.addData(Seq(ev(5, 70, 1, "a", 4)))
      input.addData(Seq(ev(99, 600, 3, "c", 0)))
    }
    def runQ(name: String, out: org.apache.spark.sql.Dataset[EventStream.SessionOut]): Unit = {
      val q = out.toDF().writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
    }
    val in1 = MemoryStream[EventStream.Event]; feed(in1)
    runQ("tws_sessions", EventStream.sessionizeTws(in1.toDS(), gapSeconds = 1800))
    val in2 = MemoryStream[EventStream.Event]; feed(in2)
    runQ("fmgws_sessions", EventStream.sessionize(in2.toDS(), gapSeconds = 1800))

    val tws = spark.table("tws_sessions")
    val fm = spark.table("fmgws_sessions")
    // both APIs emit the same CLOSED sessions (gap-closed ones always; the
    // timer-closed tail sessions match GroupState's timeout-closed ones)
    assert(tws.count() > 0)
    assert(tws.exceptAll(fm).count() == 0 && fm.exceptAll(tws).count() == 0,
      s"timer sessionizer must equal the GroupState one:\ntws=${tws.collect().toSeq}\nfm=${fm.collect().toSeq}")
  }

  test("transformWithState profile: multi-batch streaming fold equals the batch run (st6 twin)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[EventStream.Event]
    val batch1 = (0 until 20).map(i => ev(i, i, i % 3, "click", i * 1.25))
    val batch2 = (20 until 35).map(i => ev(i, i, i % 4, "view", i * 0.5))
    input.addData(batch1)
    input.addData(batch2)

    val out = EventStream.statefulProfile(
      input.toDF().withColumn("props", lit("{}")))
    val q = out.toDF().writeStream.format("memory").queryName("twscale_profiles")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()

    // update mode re-emits a key's profile each batch it appears in — the
    // LAST emission per key is the folded state
    val streamed = spark.table("twscale_profiles")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("n_events").desc)))
      .filter(col("rn") === 1).drop("rn")
    val want = EventStream.statefulProfile(
      (batch1 ++ batch2).toDF().withColumn("props", lit("{}"))).toDF()
    assert(streamed.count() === want.count())
    assert(streamed.exceptAll(want).count() == 0 && want.exceptAll(streamed).count() == 0,
      "streaming transformWithState fold must equal the batch-mode run")
  }

  test("audited streaming sink: bad batches quarantine, good batches publish, replay idempotent") {
    // the quarantine dir as a bare path and as a `file:` URI: the sink must
    // land the batch and its violation report under either form
    Seq[String => String](identity, p => s"file:$p").foreach { quarantineArg =>
      val sp = spark
      import sp.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft-wapstream").toString
      val (in, tbl, quar) = (s"$root/in", s"$root/table", s"$root/quarantine")
      def land(n: Int, typ: String, base: Long): Unit =
        (1 to n).map(i => (base + i,
            new Timestamp(1700000000000L + i * 1000L), i.toLong, typ, i * 1.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("append").parquet(in)
      land(10, "view", 0)    // good
      land(5, "error", 100)  // audit-failing
      land(7, "click", 200)  // good
      def audit(df: org.apache.spark.sql.DataFrame): Seq[String] = {
        val bad = df.filter(col("event_type") === "error").count()
        if (bad > 0) Seq(s"$bad error-type rows") else Nil
      }
      def run(): Unit = {
        val stream = sp.readStream.schema(EventStream.eventSchema)
          .option("maxFilesPerTrigger", "1").parquet(in)
        val q = EventStream.startAuditedAppend(stream, tbl, quarantineArg(quar),
          s"$root/ckpt")(audit)
        q.processAllAvailable(); q.stop()
      }
      run()
      // the table = union of PUBLISHED segments: exactly the good rows, and
      // no error row is ever visible to a reader
      val table = EventStream.readAuditedTable(sp, tbl)
      assert(table.count() === 17)
      assert(table.filter(col("event_type") === "error").count() === 0,
        "an unaudited/failed row must never be readable")
      // the failed batch is quarantined WITH its violation report
      val qDirs = new java.io.File(quar).listFiles().filter(_.isDirectory)
      assert(qDirs.length == 1, s"exactly one quarantined batch: ${qDirs.toSeq}")
      assert(sp.read.parquet(qDirs.head.getPath).count() === 5)
      val report = java.nio.file.Files.readString(
        java.nio.file.Paths.get(qDirs.head.getPath, "_violations.txt"))
      assert(report == "5 error-type rows", s"violation report: $report")
      // the batch-id marker lives INSIDE each published snapshot (it rode the
      // publish rename) — marker and commit are atomic, so there is no crash
      // window in which a published batch could be re-offered and re-published
      val segs = new java.io.File(tbl).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("v="))
      assert(segs.nonEmpty && segs.forall(
          _.listFiles().exists(_.getName.startsWith("_batch-"))),
        "every published snapshot must carry its batch-id marker")
      assert(!new java.io.File(s"$tbl/_published_batches").exists(),
        "no separate post-publish marker dir — that design had a crash window")
      // the sink's storage face is the versioned hidden-partitioned table:
      // every published era is day-partitioned by ts, hidden from the reader
      assert(EventStream.readAuditedTable(sp, tbl).columns.toSet ==
        EventStream.eventSchema.fieldNames.toSet,
        "derived partition columns must stay hidden from the stream's readers")
      // replay idempotency: a restarted query with one NEW file appends only
      // the new rows — published batches are never re-published
      val vht = graft.sources.VersionedHiddenTable
      val vsBefore = vht.versions(sp, tbl).size
      land(3, "view", 300)
      run()
      assert(EventStream.readAuditedTable(sp, tbl).count() === 20)
      assert(vht.versions(sp, tbl).size == vsBefore + 1,
        "exactly one new snapshot for the one new file")
      // pre-append snapshots still time-travel (the good rows before the late file)
      assert(vht.read(sp, tbl, Some(vht.versions(sp, tbl).max - 1)).count() === 17)
    }
  }

  test("CDC merge sink: per-batch MERGE snapshots fold to the last-writer-wins fixpoint") {
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cdcsink").toString
    val (in, tbl) = (s"$root/in", s"$root/table")
    // three time-ordered CDC chunks over users 1-4:
    //   chunk 0: u1 view, u2 view, u3 view        (creates the table)
    //   chunk 1: u1 click (update), u2 error (delete), u4 purchase (insert),
    //            u4 view then u4 click SAME batch (newest-in-batch wins)
    //   chunk 2: u2 view (re-insert after the delete)
    def land(rows: Seq[(Long, Int, Long, String, Double)]): Unit =
      rows.map { case (id, m, u, t, v) =>
        (id, new Timestamp(1700000000000L + m * 60000L), u, t, v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(in)
    land(Seq((1L, 0, 1L, "view", 1.0), (2L, 1, 2L, "view", 2.0), (3L, 2, 3L, "view", 3.0)))
    land(Seq((4L, 10, 1L, "click", 10.0), (5L, 11, 2L, "error", 0.0),
      (6L, 12, 4L, "view", 4.0), (7L, 13, 4L, "click", 40.0)))
    land(Seq((8L, 20, 2L, "view", 20.0)))
    def run(): Unit = {
      val q = EventStream.startCdcMergeToTable(
        sp.readStream.schema(EventStream.eventSchema)
          .option("maxFilesPerTrigger", "1").parquet(in), tbl, s"$root/ckpt")
      q.processAllAvailable(); q.stop()
    }
    run()
    val vht = graft.sources.VersionedHiddenTable
    def state(v: Option[Long] = None): Map[Long, (Long, String, Double)] =
      vht.read(sp, tbl, v).collect()
        .map(r => r.getAs[Long]("user_id") -> ((r.getAs[Long]("event_id"),
          r.getAs[String]("event_type"), r.getAs[Double]("value")))).toMap
    // final = last-writer-wins per user, deletes applied, re-insert visible
    assert(state() == Map(
      1L -> ((4L, "click", 10.0)), 3L -> ((3L, "view", 3.0)),
      4L -> ((7L, "click", 40.0)), 2L -> ((8L, "view", 20.0))))
    // each batch is one atomic snapshot; time travel reconstructs mid-stream
    assert(vht.versions(sp, tbl) == Seq(0L, 1L, 2L))
    assert(state(Some(0L)) == Map(1L -> ((1L, "view", 1.0)),
      2L -> ((2L, "view", 2.0)), 3L -> ((3L, "view", 3.0))))
    assert(state(Some(1L)) == Map(1L -> ((4L, "click", 10.0)),
      3L -> ((3L, "view", 3.0)), 4L -> ((7L, "click", 40.0))),
      "v1: u1 updated, u2 deleted, u4's newest-in-batch image inserted")
    // exactly-once: a FRESH checkpoint re-offers every batch; published
    // batch ids skip them all — same snapshots, same state
    org.apache.hadoop.fs.FileSystem.get(sp.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(s"$root/ckpt"), true): Unit
    run()
    assert(vht.versions(sp, tbl) == Seq(0L, 1L, 2L),
      "replayed batches must not publish duplicate snapshots")
    assert(state() == Map(
      1L -> ((4L, "click", 10.0)), 3L -> ((3L, "view", 3.0)),
      4L -> ((7L, "click", 40.0)), 2L -> ((8L, "view", 20.0))))
    // a genuinely new batch still lands
    land(Seq((9L, 30, 3L, "error", 0.0)))
    run()
    assert(state().keySet == Set(1L, 2L, 4L), "the late tombstone deletes u3")
    assert(vht.versions(sp, tbl).size == 4)
  }

  test("crash window 1: staged-but-unpublished batch re-publishes exactly once on restart") {
    // Fault injection for the window between the marker write and the
    // publish rename: the JVM dies with a fully-staged candidate (marker
    // inside it) and no v= directory. The filesystem state below is exactly
    // that snapshot. The contract: the batch counts as UNpublished (the
    // marker only counts after it rides the rename), so the restarted query
    // re-processes it and publishes exactly once — the orphaned candidate
    // never surfaces to a reader and never double-counts.
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-crashwin1").toString
    val (in, tbl) = (s"$root/in", s"$root/table")
    val rows = (1 to 6).map(i => (i.toLong,
      new Timestamp(1700000000000L + i * 1000L), i.toLong, "view", i * 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(in)

    val vht = graft.sources.VersionedHiddenTable
    val doomed = rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // the exact crash snapshot: era data fully written, snapshot manifest
    // staged WITH its batch marker, publish rename never ran
    val era = vht.writeEra(sp, tbl, doomed,
      Seq(graft.sources.HiddenPartitioning.DayT("ts")))
    val token = vht.stageSnapshot(sp, tbl, Seq(era), Some("0"))
    assert(vht.publishedBatchIds(sp, tbl).isEmpty,
      "a staged batch must NOT read as published — that would drop it forever")
    assert(vht.versions(sp, tbl).isEmpty)

    // restart from a checkpoint that never saw batch 0
    val stream = sp.readStream.schema(EventStream.eventSchema).parquet(in)
    val q = EventStream.startAuditedAppend(stream, tbl, s"$root/quar",
      s"$root/ckpt")(_ => Nil)
    q.processAllAvailable(); q.stop()

    assert(vht.versions(sp, tbl) == Seq(0L),
      s"exactly one published snapshot, got ${vht.versions(sp, tbl)}")
    assert(vht.publishedBatchIds(sp, tbl) == Set("0"))
    assert(EventStream.readAuditedTable(sp, tbl).count() === 6,
      "the re-published batch must appear exactly once — no torn/double rows")
    // the orphaned candidate (staged manifest AND its era) is still on
    // disk, still invisible, and reclaimable by vacuum
    assert(new java.io.File(s"$tbl/_staging/$token").isDirectory)
    assert(new java.io.File(s"$tbl/data").listFiles().count(_.isDirectory) == 2,
      "the orphan era and the re-published era coexist")
    // grace 0 = the admin asserts no writer is in flight; the default grace
    // window would (correctly) spare this seconds-old staged candidate
    vht.vacuum(sp, tbl, keep = 1, stagingGraceMs = 0L)
    assert(new java.io.File(s"$tbl/data").listFiles().count(_.isDirectory) == 1,
      "vacuum reclaims the orphan era")
    assert(EventStream.readAuditedTable(sp, tbl).count() === 6)
  }

  test("crash window 2: published batch whose checkpoint commit was lost is skipped on restart") {
    // Fault injection for the window between the publish rename and the
    // checkpoint commit: the segment IS published (marker rode the rename)
    // but the streaming runtime never recorded batch 0 as done, so a
    // restart re-offers the same batch id with the same data. The
    // publishedBatchIds guard must skip it — re-running the write would
    // append the rows twice.
    // a real crash restarts in a fresh JVM, where Spark's checkpoint
    // metadata cache is empty — disable it so the in-process restart is
    // faithful (with it on, the deleted commit file trips the
    // concurrent-queries guard instead of a replay)
    val sp = spark.newSession()
    sp.conf.set("spark.sql.streaming.metadataCache.enabled", "false")
    import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-crashwin2").toString
    val (in, tbl) = (s"$root/in", s"$root/table")
    (1 to 5).map(i => (i.toLong,
      new Timestamp(1700000000000L + i * 1000L), i.toLong, "click", i * 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(in)
    def run(): Unit = {
      val stream = sp.readStream.schema(EventStream.eventSchema).parquet(in)
      val q = EventStream.startAuditedAppend(stream, tbl, s"$root/quar",
        s"$root/ckpt")(_ => Nil)
      q.processAllAvailable(); q.stop()
    }
    run()
    val vht = graft.sources.VersionedHiddenTable
    assert(vht.versions(sp, tbl) == Seq(0L))
    assert(EventStream.readAuditedTable(sp, tbl).count() === 5)

    // the crash: offsets/0 exists (the batch was planned), commits/0 never
    // landed (the JVM died right after the publish rename)
    val commit = new java.io.File(s"$root/ckpt/commits/0")
    assert(commit.isFile, "precondition: the first run committed batch 0")
    assert(commit.delete())
    // the local FS keeps a checksum shadow; a lost commit loses both
    new java.io.File(s"$root/ckpt/commits/.0.crc").delete(): Unit

    run() // re-offers batch 0 with identical content
    assert(vht.versions(sp, tbl) == Seq(0L),
      s"a replayed published batch must not mint a new version: ${vht.versions(sp, tbl)}")
    assert(vht.publishedBatchIds(sp, tbl) == Set("0"))
    assert(EventStream.readAuditedTable(sp, tbl).count() === 5,
      "a replayed published batch must not duplicate rows")
  }
}
