package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming path over the `events` stream (SURVEY.md §2.9 notes
  * the reference has no streaming — this is the beyond-parity scale surface,
  * §7.5): watermarked tumbling-window aggregation and stateful
  * sessionization. The windowed aggregation is the SAME logical plan as the
  * batch query `st1_tumbling_window_agg` — one definition, two runtimes.
  *
  * Scale notes: state is keyed by (window, event_type) / (user_id), bounded
  * by the watermark, and distributed by the state-store partitioning —
  * nothing here concentrates on the driver.
  */
object EventStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The shared transform: 5-minute tumbling windows per event type. Works
    * identically on a batch frame or a streaming frame (same Catalyst plan,
    * incrementalized by the streaming runner when the input streams). */
  def windowedCounts(events: DataFrame, watermark: Boolean = false): DataFrame = {
    val in = if (watermark) events.withWatermark("ts", "10 minutes") else events
    in.groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // decimal accumulation (the slidingCounts discipline): a raw double
        // sum merges partials in partition order and can flip a rounding
        // boundary run-to-run
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))
  }

  /** Sliding (hopping) windows: 10-minute windows every 5 minutes, so each
    * event lands in exactly two windows. Spark plans this as one Expand
    * (each row emitted once per containing window) feeding the SAME
    * partial+final aggregate as the tumbling case — state per (window,
    * type) key, watermark-evicted when streaming. Shared batch/stream
    * transform, same discipline as [[windowedCounts]]. */
  def slidingCounts(events: DataFrame, watermark: Boolean = false): DataFrame = {
    val in = if (watermark) events.withWatermark("ts", "10 minutes") else events
    in.groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))
  }

  /** File-source streaming ingest of an events directory (parquet drops),
    * mirroring the reference's manual-file-drop refresh as a live stream. */
  def fromFileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** [[fromFileSource]] capped at one file per micro-batch — deterministic
    * replay of a chunked CDC drop directory (each chunk file becomes its own
    * batch, in modification-time order). */
  def fromFileSourceChunked(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

  /** Start the windowed aggregation into an in-memory sink (tests/serving).
    * COMPLETE mode: the memory sink replaces the table each trigger, so a
    * window spanning several micro-batches appears once with its final
    * counts — Update mode would APPEND each batch's revision and a reader
    * summing the table would double-count (state is unbounded by the
    * watermark in complete mode; fine for the bounded corpora this serves). */
  def startWindowed(events: DataFrame, queryName: String): StreamingQuery =
    windowedCounts(events, watermark = true).writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()

  // ---- stream-stream interval join -------------------------------------------

  /** Watermarked stream-stream interval join: each click pairs with the same
    * user's views at most 10 minutes older (the streaming face of the t2
    * range join / attribution). Both sides carry a watermark AND the join
    * carries a time-range constraint — together they let the state store
    * evict view rows older than (click watermark − 10 min), so join state is
    * bounded no matter how long the streams run. Works identically on batch
    * frames (same plan, no watermark needed) — the parity test runs both. */
  def attributedClicks(events: DataFrame, stream: Boolean = true,
      joinType: String = "inner"): DataFrame = {
    def wm(df: DataFrame, tsCol: String) =
      if (stream) df.withWatermark(tsCol, "10 minutes") else df
    val clicks = wm(events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts")), "click_ts")
    val views = wm(events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts")), "view_ts")
    clicks.join(views,
        col("user_id") === col("v_user") &&
          col("view_ts") <= col("click_ts") &&
          col("view_ts") >= col("click_ts") - expr("INTERVAL 10 MINUTES"),
        joinType)
      .select(col("click_id"), col("user_id"),
        expr("unix_micros(click_ts)").as("click_us"),
        col("view_id"), expr("unix_micros(view_ts)").as("view_us"))
  }

  /** Left-outer variant: clicks with NO qualifying view still emit, with null
    * view columns — but only once the view-side watermark has passed the end
    * of the click's match interval, i.e. when the runtime can PROVE no late
    * view can ever match. That proof is what makes streaming outer joins
    * need both the watermark and the time-range constraint; the null rows
    * surface one micro-batch after the watermark passes. Batch twin: the
    * same plan with `stream = false` is a plain left join. */
  def attributedClicksOuter(events: DataFrame, stream: Boolean = true): DataFrame =
    attributedClicks(events, stream, joinType = "left_outer")

  /** Left-semi variant: each click emits AT MOST ONCE — "was any view within
    * the window?" as an existence test, no row multiplication and no view
    * columns to carry. Same watermark + time-range state bounds as the inner
    * join; the state store still only keeps views inside the eviction
    * horizon. */
  def attributedClicksSemi(events: DataFrame, stream: Boolean = true): DataFrame = {
    def wm(df: DataFrame, tsCol: String) =
      if (stream) df.withWatermark(tsCol, "10 minutes") else df
    val clicks = wm(events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts")), "click_ts")
    val views = wm(events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts")), "view_ts")
    clicks.join(views,
        col("user_id") === col("v_user") &&
          col("view_ts") <= col("click_ts") &&
          col("view_ts") >= col("click_ts") - expr("INTERVAL 10 MINUTES"),
        "left_semi")
      .select(col("click_id"), col("user_id"),
        expr("unix_micros(click_ts)").as("click_us"))
  }

  /** Per-(user, event_type) running counts in a typed `MapState` — the
    * keyed-submap face of the transformWithState API (ValueState: st6;
    * timers: SessionProcessor; MapState: here). The map is stored as
    * individual (groupKey, mapKey) entries in RocksDB, so a user's submap
    * never materializes whole except through the iterator — which is why a
    * MapState beats a ValueState[Map[...]] once submaps grow: point
    * updates touch one entry, not a reserialized blob. */
  case class TypeCount(user_id: Long, event_type: String, n: Long)

  class TypeCountsProcessor
      extends StatefulProcessor[Long, Event, TypeCount] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[TypeCount] = {
      rows.foreach { e =>
        val prev = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, prev + 1)
      }
      counts.iterator().map { case (t, n) => TypeCount(key, t, n) }
    }
  }

  /** Run [[TypeCountsProcessor]] over an event frame (batch or stream). */
  def typeCounts(events: DataFrame): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    forceStateStoreCoordinator(events.sparkSession)
    events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  // ---- stream-static enrichment ----------------------------------------------

  /** Stream-static join: enrich each live event with a BATCH-computed
    * per-user profile (the feature-table pattern — profiles refresh on a
    * batch cadence, the stream reads the latest). Stream-static joins need
    * no watermark on the static side and keep no join state: each
    * micro-batch plans a fresh join against the static frame. Left join so
    * never-seen users pass through with null features rather than vanishing
    * from the stream.
    *
    * `broadcastProfile` is the scale dial: true (default) pins the
    * executor-local hash-lookup plan for profiles known to fit in memory —
    * the common serving case; set false for corpus-scale profiles, where a
    * forced broadcast would OOM and the planner must pick a shuffled join
    * of each micro-batch instead. */
  def enrichedEvents(events: DataFrame, profile: DataFrame,
                     broadcastProfile: Boolean = true): DataFrame = {
    val p = if (broadcastProfile) broadcast(profile) else profile
    events.join(p, Seq("user_id"), "left")
  }

  /** Batch-mode transformWithState still loads its state store through the
    * StateStoreCoordinator RPC endpoint, which only materializes with the
    * query manager's lazy coordinator (normally forced by the first streaming
    * query). Touch it so a pure-batch session works too; the lazy val makes
    * this idempotent. The member is `private[sql]`, hence the name-based
    * reflection — if a Spark upgrade renames it, fail with a pointer here
    * rather than an anonymous NoSuchMethodException.
    */
  private def forceStateStoreCoordinator(spark: SparkSession): Unit = {
    val mgr = spark.streams
    try mgr.getClass.getMethod("stateStoreCoordinator").invoke(mgr)
    catch {
      case e: NoSuchMethodException => throw new IllegalStateException(
        "StreamingQueryManager.stateStoreCoordinator is gone — this Spark " +
          "version renamed the private[sql] member EventStream relies on to " +
          "run transformWithState in batch mode; update " +
          "forceStateStoreCoordinator (EventStream.scala) or force the " +
          "coordinator by starting any trivial streaming query first.", e)
    }
  }

  /** The batch side of [[enrichedEvents]]: per-user lifetime aggregates from
    * the events history — the simplest real feature table. */
  def userProfile(history: DataFrame): DataFrame =
    history.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("lifetime_value"),
        max(col("ts")).as("last_seen"))

  // ---- CDC apply (shared by i5 and its streaming face) -----------------------

  /** Last-writer-wins CDC state from an event log read as a change feed:
    * 'error' is a DELETE tombstone, each other op patches its column with
    * the latest value (max_by under a FILTER). One hash aggregate — the SAME
    * plan runs as a streaming aggregation in update/complete mode, where
    * Spark keeps the per-key max_by accumulators as store state and each
    * micro-batch folds in (EventStreamSpec proves stream == batch).
    * Registry face: i5_cdc_apply (DuckDB-oracle-checked). */
  def cdcState(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(
        expr("max_by(event_type, ts)").as("last_op"),
        expr("max_by(value, ts) FILTER (WHERE event_type = 'click')").as("click_value"),
        expr("max_by(value, ts) FILTER (WHERE event_type = 'view')").as("view_value"),
        expr("max_by(value, ts) FILTER (WHERE event_type = 'purchase')").as("purchase_value"),
        unix_timestamp(max(col("ts"))).as("last_ts_sec"),
        count(lit(1)).as("n_ops"))

  // ---- streaming exact dedup (the streaming face of d1) ----------------------

  /** Key-based exact dedup with WATERMARK-BOUNDED state:
    * `dropDuplicatesWithinWatermark` drops a key's state once the watermark
    * passes it, so the state store holds only the last watermark-window of
    * keys — the property that makes streaming dedup viable at corpus scale
    * (a plain `dropDuplicates` would accumulate every key forever). */
  def dedupEvents(events: DataFrame, keys: Seq[String] = Seq("event_id")): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(keys)

  /** `foreachBatch` sink: lands each deduped micro-batch as parquet under a
    * batch-id path — idempotent on retry (the batch overwrites its own dir),
    * the standard pattern for sinks the streaming runtime lacks natively. */
  def startDedupToParquet(events: DataFrame, outDir: String,
      checkpoint: String): StreamingQuery =
    dedupEvents(events).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .trigger(Trigger.AvailableNow())
      .start()

  // ---- streaming merge sink (the streaming face of i1) -----------------------

  /** `foreachBatch` merge sink: each micro-batch upserts into a
    * [[graft.sources.VersionedHiddenTable]] via
    * [[graft.pipeline.Incremental.upsert]] — the streaming face of the dbt
    * incremental materialization. The folded state publishes as one
    * `op=overwrite` snapshot ([[graft.sources.VersionedHiddenTable.overwrite]],
    * one atomic manifest rename), so a concurrent [[readAuditedTable]] reader
    * never observes a half-written state and a crash leaves the previous
    * snapshot as the latest. The batch id rides that rename as an
    * `_batch-<id>` marker, which makes replays idempotent: a batch re-offered
    * after a crash between publish and checkpoint commit is skipped, never
    * re-merged. */
  def startUpsertToParquet(events: DataFrame, tableDir: String,
      checkpoint: String, keys: Seq[String] = Seq("user_id")): StreamingQuery =
    events.withWatermark("ts", "10 minutes").writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val vht = graft.sources.VersionedHiddenTable
        if (!vht.publishedBatchIds(spark, tableDir).contains(batchId.toString)) {
          val base =
            if (vht.versions(spark, tableDir).isEmpty) batch.limit(0)
            else vht.read(spark, tableDir)
          val merged = graft.pipeline.Incremental
            .upsert(base, batch.toDF(), keys, "ts", "event_id")
          vht.overwrite(spark, tableDir, merged,
            batchId = Some(batchId.toString)): Unit
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** `foreachBatch` SCD2 sink: each micro-batch folds into a versioned SCD2
    * history table via [[graft.pipeline.Incremental.scd2Apply]] — the
    * streaming face of the dbt snapshot. Same storage and replay protocol as
    * [[startUpsertToParquet]] (one overwrite snapshot per batch, its batch
    * marker riding the publish); `IncrementalSpec` proves the per-batch fold
    * converges to the batch rebuild, so the stream's history equals what a
    * backfill computes.
    */
  def startScd2ToParquet(events: DataFrame, tableDir: String,
      checkpoint: String, attr: String = "event_type"): StreamingQuery =
    events.withWatermark("ts", "10 minutes").writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val vht = graft.sources.VersionedHiddenTable
        if (!vht.publishedBatchIds(spark, tableDir).contains(batchId.toString)) {
          val changes = batch.toDF().select(col("user_id"), col(attr), col("ts"),
            col("event_id"))
          val history =
            if (vht.versions(spark, tableDir).isEmpty)
              graft.pipeline.Incremental.scd2Rebuild(changes.limit(0),
                Seq("user_id"), attr, "ts", "event_id")
            else vht.read(spark, tableDir)
          val next = graft.pipeline.Incremental
            .scd2Apply(history, changes, Seq("user_id"), attr, "ts", "event_id")
          vht.overwrite(spark, tableDir, next,
            batchId = Some(batchId.toString)): Unit
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Quality-gated streaming ingestion — the WAP cycle on the streaming
    * path, stored as a [[graft.sources.VersionedHiddenTable]] (the full
    * snapshot × hidden-partitioning composition is the sink's storage face,
    * not a side demo): each micro-batch lands COMPLETELY as an invisible
    * era directory day-partitioned by `ts`, the audit runs against the
    * staged composite read (exactly what readers would see post-commit), a
    * passing batch publishes the next snapshot (one atomic manifest
    * rename), and a failing batch is quarantined under
    * `quarantineDir/batch=<id>` with its violations in `_violations.txt`
    * while the stream keeps going — bad data pauses NOTHING and readers can
    * never observe an unaudited row. Replays are idempotent: the batch id
    * rides the snapshot's publish rename as an `_batch-<id>` marker —
    * marker and commit are the same filesystem operation, and a restarted
    * query re-offering a batch skips it iff the publish actually committed
    * ([[graft.sources.VersionedHiddenTable.publishedBatchIds]]). A marker
    * written after the rename would leave a crash window where a published
    * batch re-publishes on restart (duplicate rows); quarantine rewrites
    * are already idempotent — the batch overwrites its own dir.
    *
    * Read contract: unlike the upsert/SCD2 sinks (where the latest version
    * IS the table), each era here is an APPEND SEGMENT — the latest
    * snapshot references them all ([[readAuditedTable]]), per-batch cost
    * stays batch-sized, and a `ts` predicate prunes day directories inside
    * every era. Old snapshots time-travel; `compact`/`vacuum` bound the
    * era/snapshot history (the 100 TB operational loop). */
  def startAuditedAppend(events: DataFrame, tableDir: String,
      quarantineDir: String, checkpoint: String)(
      audit: DataFrame => Seq[String]): StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val vht = graft.sources.VersionedHiddenTable
        if (!vht.publishedBatchIds(batch.sparkSession, tableDir)
            .contains(batchId.toString)) {
          vht.appendOrCreate(batch.sparkSession, tableDir, batch.toDF(),
            Seq(graft.sources.HiddenPartitioning.DayT("ts")),
            batchId = Some(batchId.toString))(audit) match {
            case Left(violations) =>
              val dir = s"$quarantineDir/batch=$batchId"
              batch.write.mode("overwrite").parquet(dir)
              // through the path's Hadoop FileSystem, like the parquet write:
              // java.nio would resolve a `file:`/`hdfs:` URI as a local path
              val report = new org.apache.hadoop.fs.Path(dir, "_violations.txt")
              val out = report.getFileSystem(
                batch.sparkSession.sessionState.newHadoopConf()).create(report, true)
              try out.write(violations.mkString("\n").getBytes("UTF-8"))
              finally out.close()
            case Right(_) => ()
          }
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()

  // ---- streaming CDC-apply sink (the streaming face of the storage MERGE) ----

  /** Streaming CDC apply through the storage-level MERGE: each micro-batch
    * collapses to its newest change per key (ts, then event_id — the
    * [[cdcState]] total order), then publishes ONE
    * [[graft.sources.VersionedHiddenTable.merge]] snapshot — matched keys
    * replaced by their newest image, new keys inserted, keys whose newest
    * change is an 'error' tombstone deleted. Merge-on-read: a batch costs
    * the batch itself plus a broadcast key semi-join, the table is never
    * rewritten on the hot path (the scheduled
    * [[graft.sources.VersionedHiddenTable.compact]] is the rewrite — the
    * 100 TB operational split). Exactly-once by the marker-rides-the-publish
    * protocol ([[startAuditedAppend]]): a batch re-offered after a crash
    * between publish and checkpoint commit is skipped iff its publish
    * actually committed. Every batch is one atomic snapshot — readers never
    * observe half a CDC batch, and time travel reconstructs the keyed table
    * as of ANY applied batch (st8 hash-gates a mid-stream snapshot against
    * a from-scratch recompute). The first batch creates the table
    * (tombstones dropped — an empty table has nothing to delete from);
    * later batches merge. */
  def startCdcMergeToTable(events: DataFrame, tableDir: String,
      checkpoint: String, keys: Seq[String] = Seq("user_id")): StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val vht = graft.sources.VersionedHiddenTable
        if (!vht.publishedBatchIds(spark, tableDir).contains(batchId.toString)) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(keys.map(col): _*)
            .orderBy(col("ts").desc, col("event_id").desc)
          val newest = batch.toDF()
            .withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1).drop("_rn")
          val tomb = col("event_type") === "error"
          if (vht.versions(spark, tableDir).isEmpty)
            vht.appendOrCreate(spark, tableDir, newest.filter(!tomb),
              Seq(graft.sources.HiddenPartitioning.DayT("ts")),
              batchId = Some(batchId.toString))(_ => Nil): Unit
          else
            vht.merge(spark, tableDir, newest, keys,
              deleteWhen = Some(tomb), batchId = Some(batchId.toString)): Unit
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** The latest snapshot of any sink table above (audited append, upsert,
    * SCD2, CDC merge): its composite read (every published era, source
    * columns only). An in-flight batch is an unreferenced era — invisible
    * until its snapshot's atomic publish rename. Registers
    * [[graft.sources.HiddenPartitioning]]'s pruning rule so a raw `ts`
    * predicate prunes day directories in every era. */
  def readAuditedTable(spark: SparkSession, tableDir: String): DataFrame = {
    graft.sources.HiddenPartitioning.register(spark)
    graft.sources.VersionedHiddenTable.read(spark, tableDir)
  }

  // ---- stateful sessionization (flatMapGroupsWithState) ---------------------

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(start: Long, lastSeen: Long, nEvents: Long, total: Double)
  case class SessionOut(user_id: Long, session_start: Long, session_end: Long,
      n_events: Long, total_value: Double)

  /** Per-user sessions closed after `gapSeconds` of inactivity — custom state
    * the built-in windows can't express (KeyValueGroupedDataset +
    * flatMapGroupsWithState with event-time timeout). */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.start / 1000, s.lastSeen / 1000,
              s.nEvents, s.total))
          } else {
            // (ts, event_id) sort — ts alone leaves tied rows in shuffle
            // order and the double total would fold nondeterministically;
            // state keeps MILLISECOND timestamps (truncating to seconds
            // before the gap compare would merge sessions the native
            // session_window twin splits on sub-second feeds); emitted
            // bounds stay epoch seconds
            val events = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            events.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastSeen <= gapSeconds * 1000 =>
                  cur = Some(s.copy(lastSeen = t, nEvents = s.nEvents + 1,
                    total = s.total + e.value))
                case Some(s) =>
                  closed ::= SessionOut(userId, s.start / 1000, s.lastSeen / 1000,
                    s.nEvents, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastSeen + gapSeconds * 1000)
            }
            closed.reverseIterator
          }
      }
  }

  // ---- arbitrary typed state (transformWithState, Spark 4 API) ---------------

  case class UserProfileState(n_events: Long, total_scaled: Long, last_seen: Long)
  case class UserProfileOut(user_id: Long, n_events: Long, total_value: Double,
      last_seen_s: Long)

  /** Per-user running profile kept in a typed `ValueState` — the Spark 4
    * `transformWithState` face of the feature table `userProfile` computes in
    * batch. Money is accumulated as a 1e4-scaled long so the fold is
    * order-insensitive (double addition is not): any arrival order of the
    * same events yields the bit-identical profile, which is what lets the
    * multi-batch streaming fold equal the one-shot batch aggregate.
    *
    * State is one fixed-width row per user in the RocksDB state store —
    * at 10^9 users that is executor-partitioned, never driver-resident, and
    * a production deployment would add a `TTLConfig` to age out dormant keys
    * (the tested contract here keeps TTL off so batch == stream exactly).
    */
  class ProfileProcessor
      extends StatefulProcessor[Long, Event, UserProfileOut] {
    @transient private var profile: ValueState[UserProfileState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      profile = getHandle.getValueState[UserProfileState](
        "profile", org.apache.spark.sql.Encoders.product[UserProfileState],
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserProfileOut] = {
      var st =
        if (profile.exists()) profile.get()
        else UserProfileState(0L, 0L, Long.MinValue)
      rows.foreach { e =>
        // decimal(18,4) HALF_UP scaling, matching the batch face
        // userProfile exactly: math.round rounds toward +infinity, which
        // differs from the decimal cast on negative midpoints (-0.00005)
        val scaled = java.math.BigDecimal.valueOf(e.value)
          .setScale(4, java.math.RoundingMode.HALF_UP)
          .movePointRight(4).longValueExact()
        st = UserProfileState(
          st.n_events + 1,
          st.total_scaled + scaled,
          math.max(st.last_seen, e.ts.getTime / 1000))
      }
      profile.update(st)
      Iterator.single(
        UserProfileOut(key, st.n_events, st.total_scaled / 10000.0, st.last_seen))
    }
  }

  /** Sessionization on the transformWithState API: the same 30-min
    * inactivity semantics as [[sessionize]] (flatMapGroupsWithState) and the
    * native `session_window` aggregation, expressed with a typed ValueState
    * + an EVENT-TIME TIMER — `registerTimer` arms expiry at lastSeen+gap,
    * `handleExpiredTimer` closes the session when the watermark passes it.
    * EventStreamSpec pins all three implementations to one answer; this one
    * exists because real pipelines outgrow the session shape (the timer +
    * typed-state toolkit is the general form: TTLs, delayed emission,
    * per-key alarms). State: one fixed-width row + at most one armed timer
    * per key, watermark-bounded — the RocksDB store scales it horizontally.
    */
  class SessionProcessor(gapSeconds: Long)
      extends StatefulProcessor[Long, Event, SessionOut] {
    @transient private var sess: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessionState](
        "session", org.apache.spark.sql.Encoders.product[SessionState],
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val events = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var closed = List.empty[SessionOut]
      var cur = if (sess.exists()) Some(sess.get()) else None
      events.foreach { e =>
        val t = e.ts.getTime // millis — same gap discipline as sessionize
        cur match {
          case Some(st) if t - st.lastSeen <= gapSeconds * 1000 =>
            cur = Some(st.copy(lastSeen = t, nEvents = st.nEvents + 1,
              total = st.total + e.value))
          case Some(st) =>
            closed ::= SessionOut(key, st.start / 1000, st.lastSeen / 1000,
              st.nEvents, st.total)
            cur = Some(SessionState(t, t, 1, e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur.foreach { st =>
        sess.update(st)
        // re-arm THE timer at the new expiry (delete any stale one — the
        // API keeps every registered timer, unlike GroupState's single
        // timeout)
        getHandle.listTimers().foreach(ts => getHandle.deleteTimer(ts))
        getHandle.registerTimer(st.lastSeen + gapSeconds * 1000)
      }
      closed.reverseIterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessionOut] =
      if (sess.exists()) {
        val st = sess.get()
        sess.clear()
        Iterator.single(SessionOut(key, st.start / 1000, st.lastSeen / 1000,
          st.nEvents, st.total))
      } else Iterator.empty
  }

  /** [[SessionProcessor]] on a watermarked stream (event-time timers need a
    * watermark to fire). */
  def sessionizeTws(events: Dataset[Event], gapSeconds: Long = 1800): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapSeconds),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Run [[ProfileProcessor]] over an event frame (batch or stream). In batch
    * mode every key's rows arrive in one `handleInputRows` call from empty
    * state — so the same processor object IS the batch aggregate; streamed,
    * the state store carries the fold across micro-batches. */
  def statefulProfile(events: DataFrame): Dataset[UserProfileOut] = {
    import events.sparkSession.implicits._
    forceStateStoreCoordinator(events.sparkSession)
    events
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new ProfileProcessor,
        TimeMode.None(), OutputMode.Update())
  }
}
