package graft.streaming

import graft.operators.{Dedup, Events, Sampling, Similarity}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import scala.collection.immutable.ArraySeq

/** Structured Streaming surface (SURVEY.md §7.3 M3 stretch goal — the
  * reference is strictly batch, §2.2, so this is pure extension).
  *
  * The aggregations mirror graft.operators.Events: the same logical
  * window computations run identically over `readStream` with a
  * watermark bounding state. State stores are per-key and partitioned
  * by the grouping key, so at 100 TB/day the stateful operators scale
  * horizontally; the watermark is what keeps total state bounded.
  */
object StreamingOps {

  /** Schema of a normalized events ingest directory (ts already at
    * micro precision — what graft.Tables.events produces). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based streaming source over an events ingest DIRECTORY (the
    * file-stream source tails a directory, appending files become new
    * micro-batches — the production shape for a landing zone). Stage
    * single-file fixtures into a directory first; see
    * [[stageEventsDir]]. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventsSchema).parquet(dir)

  /** Materialize the batch events table into a streaming ingest dir
    * (test/fixture helper — the testdata tables are single files). */
  def stageEventsDir(spark: SparkSession, sfDir: String, outDir: String): String = {
    graft.Tables.events(spark, sfDir).write.mode("overwrite").parquet(outDir)
    outDir
  }

  /** Tumbling 10-minute event-time counts with a 30-minute watermark —
    * late data beyond the watermark is dropped, state is pruned. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))

  /** Event-time session windows (30-minute gap) via the built-in
    * session_window — the streaming twin of Events.sessionize. */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Custom stateful operator: per-user running totals via
    * mapGroupsWithState — the escape hatch for state machines the
    * built-in windows can't express. Update-mode output; state is one
    * small case class per user. */
  def runningTotals(spark: SparkSession, events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { e => n += 1; tot += e.value }
          val next = UserRunning(userId, n, tot)
          state.update(next)
          next
      }
  }

  final case class PathEvent(user_id: Long, event_id: Long,
                             ts: java.sql.Timestamp, event_type: String)
  final case class PathState(e1: String, t1: Long, e2: String, t2: Long,
                             n: Int, late: Int = 0)
  final case class PathHit(path: String)

  /** Incremental within-session path extraction — the ingestion-time
    * twin of the batch `ev_paths` trigram stage: per-user state holds
    * the last TWO (event_type, epoch-second) steps (constant-size
    * state per user — the smallest stateful-streaming footprint in
    * this registry), and each arriving event emits the completed
    * 3-step path iff both gaps close within `Events.SessionGapS`. Within a batch,
    * rows sort by (ts, event_id) per user — the same total order the
    * batch window uses — so on the staged single-ingest fixture the
    * emitted path multiset is IDENTICAL to the batch lag-window's
    * triples and the downstream rollup shares ev_paths' oracle
    * verbatim.
    *
    * Cross-batch disorder is DROPPED, not silently absorbed: an event
    * whose epoch-second precedes the newest already-processed event
    * for its user (state's `t1` is that max — batch-internal sorting
    * makes processed ts non-decreasing) arrived in the wrong batch,
    * and threading it into the trigram state would emit paths the
    * batch window never produces while still claiming ev_paths'
    * oracle. A production feed either orders per-user ingestion
    * (Kafka key = user) or routes the dropped stragglers to a
    * dead-letter count; equal timestamps pass (the batch order breaks
    * such ties by event_id, which the state does not carry — the
    * staged fixtures never tie cross-batch).
    *
    * The drop rule's blast radius is BOUNDED: with a plain max-seen
    * gate, one corrupted FUTURE timestamp (a ms-vs-s unit bug lands
    * in year 56000) would ratchet t1 forever and silently blackhole
    * every later real event for that user. A single event older than
    * `t1 − resetS` is NOT enough evidence to tell a poisoned t1 from
    * a genuinely old replayed record (an archival backfill) — and
    * resetting on one would let that one stale record destroy the
    * user's live in-progress chain. So the state counts beyond-resetS
    * arrivals (t0 < t1 − resetS) with a counter that any in-order
    * arrival (t0 ≥ t1) resets to 0; mid-range stragglers
    * (t1 − resetS ≤ t0 < t1) drop without touching the counter in
    * either direction — they are consistent with a healthy t1, so
    * they are neither poison evidence nor proof of health.
    * "Consecutive" therefore means: `resetAfter` beyond-resetS
    * arrivals with no intervening IN-ORDER arrival (mid-range drops
    * may interleave). When the counter trips, t1 itself is garbage
    * and the state resets to restart chains from the current event —
    * loss bounded by resetAfter − 1 droppable events, never a
    * permanent blackhole.
    *
    * Residual bound, stated explicitly: a poisoned t1 LESS than
    * resetS in the future (clock skew of hours/days, not a unit bug)
    * makes all real traffic mid-range — dropped but never counted as
    * reset evidence — until wall-clock catches up to t1. That loss
    * window is bounded by resetS of event time BY CONSTRUCTION
    * (every event after t1 is in-order again), which is the explicit
    * trade: resetS is the maximum blackhole a sub-resetS skew can
    * cost, in exchange for archival backfills older than resetS
    * never being mistaken for poison one record at a time. Size
    * resetS to the worst clock skew the feed can ship, not to the
    * oldest replay it can carry. */
  def pathHits(spark: SparkSession, events: Dataset[PathEvent]): Dataset[PathHit] = {
    import spark.implicits._
    val resetS = 7L * 86400L
    val resetAfter = 3
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[PathState, PathHit](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[PathEvent], state: GroupState[PathState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(PathState("", 0L, "", 0L, 0))
          val out = Seq.newBuilder[PathHit]
          sorted.foreach { e =>
            val t0 = Math.floorDiv(e.ts.getTime, 1000L)
            // st.n == 0 guards the fresh-state case — t1's 0 sentinel
            // is NOT a real max-seen ts, and comparing against it
            // would silently drop a new user's entire history when
            // epoch-seconds are negative (pre-1970 backfills)
            if (st.n == 0 || t0 >= st.t1) {
              if (st.n >= 2 && st.t1 - st.t2 <= Events.SessionGapS &&
                  t0 - st.t1 <= Events.SessionGapS)
                out += PathHit(s"${st.e2}>${st.e1}>${e.event_type}")
              st = PathState(e.event_type, t0, st.e1, st.t1, math.min(st.n + 1, 2))
            } else if (t0 < st.t1 - resetS) {
              if (st.late + 1 >= resetAfter) {
                // sustained regression: t1 is garbage — restart here
                st = PathState(e.event_type, t0, "", 0L, 1)
              } else st = st.copy(late = st.late + 1)
            }
            // else: bounded cross-batch straggler — dropped, and not
            // counted toward the poison evidence (it is consistent
            // with a healthy t1)
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class RetentionState(firstDay: Long, emittedDays: Seq[Long])
  final case class RetentionCell(cohort_day_s: Long, offset_days: Long,
                                 user_id: Long)

  /** Incremental cohort retention — the ingestion-time twin of the
    * batch `ev_retention`: per-user state holds the first-seen event
    * day plus the set of already-emitted activity days (bounded by
    * active days per user, the same envelope a retention dashboard's
    * state store carries), and each batch emits only the NEW
    * (cohort, offset, user) cells. flatMapGroupsWithState because a
    * batch can surface many new activity days per user. First-seen
    * re-basing across batches is not retractable (no streaming API
    * retracts emitted rows); like every `ev_stream_*` twin the staged
    * single-ingest fixture makes the min exact, and a production
    * deployment orders per-user ingestion or re-bases downstream. */
  def retentionCells(spark: SparkSession,
                     events: Dataset[UserEvent]): Dataset[RetentionCell] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RetentionState, RetentionCell](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[RetentionState]) =>
          val days = rows.map(e =>
            Math.floorDiv(Math.floorDiv(e.ts.getTime, 1000L), 86400L)).toSeq
          val old = state.getOption
          val first = (days ++ old.map(_.firstDay)).min
          val seen = old.map(_.emittedDays.toSet).getOrElse(Set.empty[Long])
          val fresh = days.toSet -- seen
          state.update(RetentionState(first, (seen ++ fresh).toSeq))
          fresh.toSeq.sorted.iterator
            .map(d => RetentionCell(first * 86400L, d - first, userId))
      }
  }

  /** Per-user running totals as a [[org.apache.spark.sql.streaming.StatefulProcessor]]
    * — the transformWithState form of [[runningTotals]]. The new API's
    * state lives in named, individually-evictable stores (ValueState /
    * ListState / MapState with per-state TTL) instead of one opaque
    * case class, which is what makes long-running 100 TB/day state
    * machines operable: TTLConfig bounds each store independently, and
    * the required RocksDB provider spills state to disk instead of
    * capping it at executor heap. TTL is NONE here because a bounded
    * fixture must keep every user's state to its final row. */
  final class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserRunning] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[UserRunning] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserRunning]("running",
        org.apache.spark.sql.Encoders.product[UserRunning], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[UserEvent],
                                 timerValues: TimerValues): Iterator[UserRunning] = {
      val prev = if (state.exists()) state.get() else UserRunning(userId, 0L, 0.0)
      var n = prev.n_events
      var tot = prev.total_value
      rows.foreach { e => n += 1; tot += e.value }
      val next = UserRunning(userId, n, tot)
      state.update(next)
      Iterator.single(next)
    }
  }

  def runningTotalsTws(spark: SparkSession, events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Stream-stream join: purchases joined to the same user's clicks
    * within the preceding hour. Both sides are watermarked so the join
    * state (buffered unmatched rows) is pruned once the watermark
    * passes the time bound — without the range condition + watermarks
    * this state would grow forever. */
  def purchaseClickJoin(events: DataFrame): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "30 minutes")
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "30 minutes")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("p_ts"), col("c_ts"))
  }

  /** Streaming exact dedup: drop events whose key was already seen,
    * with state bounded by the watermark (dropDuplicatesWithinWatermark
    * — keys older than the watermark are pruned; exactly the shape of
    * a continuous training-data ingest dedup). */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
                     watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Staged ingest dirs, one per source sf dir: staging is a test-fixture
    * step (production events would already land in a directory), so it is
    * paid once per session, not per query run. */
  private val stagedDirs = new graft.Artifacts.Dirs[String]("graft-stream-events")

  private[graft] def stagedDir(s: SparkSession, dir: String): String =
    stagedDirs.stage(s, dir)(out => stageEventsDir(s, dir, out))

  /** Stage the streaming fixtures for `dir` without running any
    * stream, for a harness that stages outside its timed region
    * (perfbench's registry set-up); the queries themselves stage on
    * first build. The one-time fixture write is test scaffolding, not
    * operator cost. Each flag gates its dir's full batch parquet
    * write: `plain` for the shared events dir (all ev_stream_* except
    * dedup), `dedup` for the every-event-twice dir (only
    * ev_stream_dedup) — a harness running a few queries should not pay
    * the other fixtures' writes. */
  def preStage(s: SparkSession, dir: String,
               plain: Boolean = true, dedup: Boolean = true,
               docs: Boolean = false, probes: Boolean = false): Unit = {
    if (plain) stagedDir(s, dir)
    if (dedup) dupStagedDir(s, dir)
    if (docs) docsStagedDir(s, dir)
    if (probes) probesStagedDir(s, dir)
  }

  private val docsStagedDirs = new graft.Artifacts.Dirs[String]("graft-stream-documents")

  private def docsStagedDir(s: SparkSession, dir: String): String =
    docsStagedDirs.stage(s, dir) { out =>
      // four files so a maxFilesPerTrigger=2 reader (the streaming
      // compliance verdicts) arrives in REAL multiple micro-batches
      graft.Tables.documents(s, dir).repartition(4).write.mode("overwrite").parquet(out)
    }

  /** Incremental corpus ingestion monitor (`tx_stream_quality`): a
    * REAL `readStream` over the documents table — the landing-zone
    * shape of continuous corpus collection — through the SAME
    * map-side quality + Gopher signal columns the batch pipeline uses
    * ([[graft.operators.TextAnalysis.withQualityScore]] /
    * `withGopherSignals`, so streaming and batch thresholds cannot
    * diverge), aggregated per source in Complete mode to a memory
    * sink. Oracle-shared with a batch GROUP BY: the streamed rollup
    * must hash-match what DuckDB computes over the same parquet.
    * (No distinct-aggregate here — streaming aggregation doesn't
    * support it; the dedup-rate column stays batch-only in
    * `pipe_datacard`.) State is one row per source — bounded by the
    * source domain, not the stream. */
  def docQualityViaStream(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val staged = docsStagedDir(s, dir)
    val docsStream = s.readStream
      .schema(graft.Tables.documents(s, dir).schema)
      .parquet(staged)
    val enriched = TextAnalysis.withGopherSignals(
        TextAnalysis.withQualityScore(docsStream))
      .select(col("source"), col("quality"), col("gopher_keep"), col("n_tokens"))
    val agg = enriched.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      round(avg(col("quality")), 4).as("mean_quality"),
      sum(col("gopher_keep")).as("n_keep"))
    runToMemory(agg, "tx_stream_quality_q", OutputMode.Complete)
      .orderBy(col("source"))
  }

  /** Streaming media ingestion monitor (`mm_stream_meta`) — the
    * landing-zone deployment of the REAL codec chain: documents
    * arrive as a `readStream`, each row is encoded into its genuine
    * container bytes and parsed straight back by [[graft.operators.MediaCodec]]
    * (the SAME typed maps the batch path runs —
    * [[graft.operators.Multimodal.mediaFromDocs]] → `decodeAll`, so
    * streaming and batch decode facts cannot diverge), and the
    * per-(kind, format) rollup aggregates parsed byte volumes and
    * content checksums in Complete mode to a memory sink — the
    * media-lake ingestion dashboard. Decode is map-side and TOTAL
    * (UnknownMedia, never an abort), which is exactly what an
    * unbounded ingestion stream needs; state is one row per
    * (kind, format) — bounded by the format domain, not the stream.
    * Oracle-shared with a batch GROUP BY over the mm_media_meta
    * closed forms: the streamed rollup must hash-match what DuckDB
    * rebuilds from `documents` without ever seeing the bytes. */
  def mediaMetaViaStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val staged = docsStagedDir(s, dir)
    val docsStream = s.readStream
      .schema(graft.Tables.documents(s, dir).schema)
      .parquet(staged)
    val decoded = graft.operators.Multimodal.decodeAll(
      graft.operators.Multimodal.mediaFromDocs(docsStream),
      withSha = false) // the rollup never reads the sha column
    val agg = decoded.groupBy(col("kind"), col("format")).agg(
      count(lit(1)).as("n_media"),
      sum(col("n_bytes")).as("total_bytes"),
      sum(col("data_sum")).as("total_data_sum"),
      sum(col("data_wsum")).as("total_data_wsum"))
    runToMemory(agg, "mm_stream_meta_q", OutputMode.Complete)
      .orderBy(col("kind"), col("format"))
  }

  private[graft] val wetExportDirs = new graft.Artifacts.Dirs[String]("graft-stream-wet")

  /** Run epoch boundary, applied by [[graft.SparkEntry.run]] before each
    * snk_stream_wet run (the dd_clusters clearLabelCache rule): a run
    * must pay the stream + shard write, not a cached read-back of the
    * first run's lake. */
  def clearWetExportCache(): Unit = wetExportDirs.forget()

  /** Streaming WET export (`snk_stream_wet`) — the crawl container's
    * write side deployed INCREMENTALLY: documents arrive as a
    * `readStream` (the landing-zone fixture stage) and every
    * micro-batch appends its own per-record-gzip `.warc.gz` shards
    * through the SAME encode→gzip→write body as the batch sink
    * ([[graft.sources.Warc.writeWetLake]] inside `foreachBatch`,
    * batch-id-prefixed shard names so batches never collide) —
    * continuous corpus interchange export. Stateless Append: every
    * doc is exported exactly once no matter how the stream batches,
    * so the parsed-back union is batching-invariant and the query
    * shares `src_warc`'s closed-form oracle end-to-end (stream →
    * encode → gzip → write → scan → parse must reproduce
    * `documents` exactly). */
  def wetExportViaStream(s: SparkSession, dir: String): DataFrame = {
    val out = wetExportDirs.stage(s, dir) { o =>
      val staged = docsStagedDir(s, dir)
      val q = s.readStream
        .schema(graft.Tables.documents(s, dir).schema)
        .parquet(staged)
        .writeStream
        .outputMode(OutputMode.Append)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.sources.Warc.writeWetLake(
            batch.select(col("doc_id"), col("text")), o,
            nShards = 4, prefix = f"wet-b$batchId%03d")
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    graft.sources.Warc.docsFromWarcFiles(s, out)
  }

  /** A binaryFile file-source stream over a lake directory with the
    * format's FIXED schema passed explicitly — the format derives its
    * schema from nothing in the data, so spelling it out beats the
    * session-global `schemaInference` toggle the r18 code used (a
    * concurrently-defined stream could observe the mutated conf — r19
    * advice). `maxFilesPerTrigger=2` forces real multiple
    * micro-batches over every staged multi-shard lake. */
  private def binaryFileStream(s: SparkSession, lake: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    s.readStream.format("binaryFile").schema(schema)
      .option("maxFilesPerTrigger", "2")
      .load(lake)
  }

  /** Streaming crawl ingest (`src_stream_warc`) — the
    * INGESTION-TIME twin of [[graft.sources.Warc.srcWarcDocs]]:
    * `.warc.gz` shards arrive as a file-source `readStream` over the
    * lake (binaryFile format — new shards appear, their documents
    * append), and each micro-batch parses its shards map-side through
    * the SAME record walk as the batch ingest
    * ([[graft.sources.Warc.docRowsFromShardBytes]] — batch and
    * streaming parse cannot diverge; digest quarantine and
    * record-type filtering included). Stateless Append: every shard
    * parses exactly once whatever the batching —
    * `maxFilesPerTrigger=2` forces MULTIPLE micro-batches over the
    * fixture lake, so incremental arrival is actually executed, not
    * simulated — and the accumulated documents share `src_warc`'s
    * closed-form oracle end-to-end (scan → gunzip → parse must
    * reproduce `documents` exactly, now continuously). */
  def warcIngestViaStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lake = graft.sources.Warc.wetLakeDir(s, dir)
    val docs = graft.sources.Warc.docRowsFromShardBytes(
      binaryFileStream(s, lake).select(col("content")).as[Array[Byte]])
    runToMemory(docs, "src_stream_warc_q", OutputMode.Append)
      .select(col("doc_id"), col("uri"),
        length(col("text")).cast("long").as("n_chars"), col("text"))
      .orderBy(col("doc_id"))
  }

  /** Streaming WAT extraction (`src_stream_wat`) — the INGESTION-TIME
    * twin of [[graft.sources.Warc.srcWarcWat]], completing the crawl
    * family's batch/stream symmetry (documents, fetch and now
    * metadata all have both deployments): RAW `response` shards
    * arrive as a file-source `readStream`, each micro-batch walks
    * envelopes map-side through the batch extraction's OWN body
    * ([[graft.sources.Warc.watRowsFromShardBytes]] — the shared-walk
    * rule, status filter/coding chain/charset decode included, the
    * content measured then dropped). Stateless Append, multiple
    * micro-batches forced and pinned; the accumulated rows share the
    * batch WAT's closed-form oracle — the crawl-audit stream costs
    * shard-grain work per batch and keeps no state. */
  def watViaStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lake = graft.sources.Warc.rawLakeDir(s, dir)
    val wat = graft.sources.Warc.watRowsFromShardBytes(
      binaryFileStream(s, lake).select(col("content")).as[Array[Byte]])
    runToMemory(wat, "src_stream_wat_q", OutputMode.Append)
      .orderBy(col("doc_id"), col("status"))
  }

  /** `src_stream_robots` — the 20th real streaming execution: the
    * COMPLIANCE plane at ingestion time, completing the crawl
    * family's batch/stream symmetry (documents, point lookups,
    * metadata, and now the rules). Robots captures arrive as a
    * binaryFile readStream over the staged four-shard lake
    * (`maxFilesPerTrigger=2` → real multiple micro-batches) and each
    * micro-batch parses map-side through the batch ingest's OWN walk
    * ([[graft.sources.Robots.robotsRowsFromShardBytes]] — envelope
    * decode, §2.3.1 status routing, host-key normalization and the
    * RFC grammar shared, so the deployments cannot diverge).
    * Stateless Append — no watermark state; this is the RAW
    * capture-grain feed (one row per directive per capture, stamped
    * with its `WARC-Date`): a live crawler's directive log accretes
    * exactly this way, one robots fetch at a time, and the
    * latest-capture-wins RESOLUTION is the batch view
    * (`robotsFromWarcFiles`) layered on top — global state no Append
    * stream can carry. Own closed-form oracle: the batch table's
    * rows plus exactly the planted older captures. */
  def robotsViaStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lake = graft.sources.Robots.robotsLakeDir(s, dir)
    val rules = graft.sources.Robots.robotsRowsFromShardBytes(
      binaryFileStream(s, lake).select(col("content")).as[Array[Byte]])
      // resolution bookkeeping; the feed shows the date as written
      .drop("fetched_ord", "capture_fp")
    runToMemory(rules, "src_stream_robots_q", OutputMode.Append)
      .orderBy(col("host"), col("user_agent"), col("directive"), col("value"),
        col("fetched_at"))
  }

  /** Streaming compliance verdicts (`pipe_stream_robots_filter`) —
    * the 21st real streaming execution, closing the crawl family's
    * last batch/stream asymmetry: documents arrive as a parquet
    * `readStream` in real multiple micro-batches
    * (`maxFilesPerTrigger=2` over the four-file staging) and each doc
    * gets its RFC 9309 verdict from a stateless STREAM-STATIC join
    * against the per-host rule-set artifact — the directive lake is
    * parsed, latest-capture- and redirect-resolved, group-selected
    * and LIKE-compiled ONCE batch-side
    * ([[graft.sources.Robots.ruleSets]]), then each micro-batch's
    * match is a broadcast join plus a SCALAR evaluation
    * ([[graft.sources.Robots.verdictOverRuleSet]] — the
    * `ann_stream_serve` shape: static artifact, incremental
    * traffic). This is how an ingestion-time crawler actually gates:
    * the rules table is a per-worker in-memory map (broadcast), the
    * verdict per URL is pure compute, no state, no watermark. At
    * crawl scale the same plan holds per rules-shard: a 10⁸-host
    * artifact partitions on host and the stream side shuffles to it —
    * the documented both-sides-on-host degradation of the batch
    * join. Result contract is `pipe_robots_filter`'s exactly;
    * SourcesSpec gates streamed ≡ batch row-for-row and the shared
    * oracle hashes both. */
  def robotsVerdictsViaStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lake = graft.sources.Robots.robotsLakeDir(s, dir)
    // resolve + pre-aggregate ONCE; localCheckpoint so micro-batches
    // re-read a materialized artifact, never the robots-lake parse
    val ruleSets = graft.sources.Robots.ruleSets(
      graft.sources.Robots.robotsFromWarcFiles(s, lake),
      graft.sources.Robots.fixtureUa).localCheckpoint()
    val staged = docsStagedDir(s, dir)
    val docsStream = s.readStream
      .schema(graft.Tables.documents(s, dir).schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(staged)
    val verdicts = graft.sources.Robots.complianceAgainstRuleSets(
      graft.sources.Robots.corpusProjection(docsStream),
      broadcast(ruleSets))
    runToMemory(verdicts, "pipe_stream_robots_filter_q", OutputMode.Append)
      .orderBy($"doc_id")
  }

  private val fetchReqDirs = new graft.Artifacts.Dirs[String]("graft-stream-req")
  private val fetchStreamDirs = new graft.Artifacts.Dirs[String]("graft-stream-fetch")

  /** Run epoch boundary, applied by [[graft.SparkEntry.run]] before each
    * src_stream_fetch run (the snk_stream_wet rule): a run must pay the
    * request stream + range reads, not a cached read-back of the first
    * run's output. */
  def clearFetchStreamCache(): Unit = fetchStreamDirs.forget()

  /** The staged request stream: doc_id point-lookup requests (the
    * fixture predicate `doc_id % 13 == 0`) written as FOUR parquet
    * files so `maxFilesPerTrigger=2` forces real multi-batch arrival.
    * Test scaffolding — production requests arrive from a queue. */
  private[graft] def fetchRequestsDir(s: SparkSession, dir: String): String =
    fetchReqDirs.stage(s, dir) { out =>
      graft.Tables.documents(s, dir).select(col("doc_id"))
        .filter(col("doc_id") % 13 === 0)
        .repartition(4)
        .write.mode("overwrite").parquet(out)
    }

  /** Streaming cdx-served fetch (`src_stream_fetch`) — the crawl's
    * ONLINE point-lookup loop closed: doc_id requests arrive as a
    * STREAM, each micro-batch left-semi joins the PERSISTED cdx
    * artifact (stream-static — the index was built once, batch-side:
    * [[graft.sources.Warc.cdxIndexDir]]) down to its requested
    * members and range-reads ONLY those through the SAME
    * [[graft.sources.Warc.fetchByCdx]] body as the batch verbs, so
    * online and batch lookups cannot diverge. Stateless Append with
    * per-batch-id overwrite directories (a replayed batch fully
    * replaces its own output), so every request resolves exactly once whatever the
    * batching, and the accumulated result shares the batch fetch's
    * closed-form oracle: `documents` under the request predicate. At
    * 100 TB this is the serving loop: the artifact is pruned per
    * batch, the lake contributes only Σ length(hits) bytes, and no
    * state grows with the stream. */
  def fetchViaStream(s: SparkSession, dir: String): DataFrame = {
    val outDir = fetchStreamDirs.stage(s, dir)(runFetchStream(s, dir, _))
    s.read.parquet(outDir)
      .select(col("doc_id"), col("uri"), col("n_chars"), col("text"))
      .orderBy(col("doc_id"))
  }

  /** The online fetch loop's STREAM RUN, shared by `src_stream_fetch`
    * and its retention twin `src_stream_fetch_gc` (each under its own
    * session cache, so the gc verb never mutates the directory the
    * plain query serves): drains the staged request stream through
    * per-batch cdx-pruned range reads into a batch-dir layout under
    * the empty root `out`. The gc twin narrows the trigger to one
    * file per micro-batch so the staged four-file request stream
    * leaves MULTIPLE below-floor batch directories — a fold that
    * moves real data, not a vacuous one. */
  private def runFetchStream(s: SparkSession, dir: String, out: String,
                             filesPerTrigger: Int = 2): Unit = {
    val lake = graft.sources.Warc.wetLakeDir(s, dir)
    val idxDir = graft.sources.Warc.cdxIndexDir(s, dir)
    val staged = fetchRequestsDir(s, dir)
    val q = s.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(staged)
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ss = batch.sparkSession
        val idx = ss.read.parquet(idxDir)
          .join(batch.select(col("doc_id")), Seq("doc_id"), "left_semi")
        graft.sources.Warc.fetchByCdx(ss, lake, idx)
          .write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      lastNumBatches = q.recentProgress.count(_.numInputRows > 0)
    } finally q.stop()
  }

  /** Retention COMPACTION over a per-batch-id (`batch_id=N`)
    * output root (r17 verdict #6 — the online loop's output side,
    * the pipe_ivf_gc precedent at the serving-output layer): a
    * foreachBatch sink accumulates one `batch_id=N` directory per
    * micro-batch FOREVER, so at 100 TB the serving read degrades
    * into millions of tiny directories. This verb folds every batch
    * directory below the keep floor (the newest `keepLast` real
    * batch ids stay) into ONE directory, re-published under the
    * HIGHEST FOLDED id — ids only grow, so the name can never
    * collide with a future batch, and a later fold naturally
    * re-folds the previous compaction. Serving is ROW-IDENTICAL
    * across the fold (spec-gated), a fold that would move nothing is
    * a no-op (idempotence: a second call with the same floor does
    * not rewrite), and the fold writes one file. Single-writer
    * maintenance op, CRASH-SAFE (r19, closing the r18 scope note): the
    * publish sequence is write-staging →
    * stamp a `_FOLD_TARGET_<id>` marker inside the staging dir →
    * delete-folded → rename-staging. The marker is the commit point:
    * a staging dir WITHOUT it is an aborted write (sources intact —
    * discard and redo); a staging dir WITH it holds the COMPLETE
    * fold of every batch id ≤ target (ids only grow, so the fold
    * always covered exactly the dirs at or below its own max), so
    * the next call finishes the interrupted publish — delete the
    * remaining folded sources, rename — instead of destroying the
    * only copy. The marker's leading underscore keeps it invisible
    * to parquet readers after the rename. A multi-writer version
    * would swing a manifest like `pipe_ivf_reserve` — still out of
    * scope for a single-owner sink directory. */
  def compactBatchDirs(s: SparkSession, outDir: String, keepLast: Int): Unit = {
    require(keepLast >= 1, s"keepLast must keep at least the newest batch, got $keepLast")
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = org.apache.hadoop.fs.FileSystem.newInstance(
      root.toUri, s.sparkContext.hadoopConfiguration)
    try {
      val tmp = new org.apache.hadoop.fs.Path(root, ".compact-tmp")
      recoverAbortedFold(fs, root, tmp)
      val dirs = fs.listStatus(root).filter(_.isDirectory).flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("batch_id=")) Some((n.stripPrefix("batch_id=").toLong, st.getPath))
        else None
      }
      if (dirs.isEmpty) return
      val floor = dirs.map(_._1).max - keepLast + 1
      val fold = dirs.filter(_._1 < floor).sortBy(_._1)
      // no-op unless the fold MOVES something: a single below-floor
      // directory is already as compact as a fold would make it
      if (fold.length < 2) return
      val targetId = fold.map(_._1).max
      val target = new org.apache.hadoop.fs.Path(root, s"batch_id=$targetId")
      s.read.parquet(ArraySeq.unsafeWrapArray(fold.map(_._2.toString)): _*)
        .repartition(1)
        .write.mode("overwrite").parquet(tmp.toString)
      // commit point: from here the fold in tmp is the authoritative
      // copy and a crash completes forward (recoverAbortedFold)
      fs.create(new org.apache.hadoop.fs.Path(tmp, s"_FOLD_TARGET_$targetId"), true).close()
      fold.foreach { case (_, p) => fs.delete(p, true) }
      require(fs.rename(tmp, target), s"could not publish the fold at $target")
    } finally fs.close()
  }

  /** Forward-recovery of an interrupted [[compactBatchDirs]] publish:
    * a marked staging dir means the deletes/rename never finished —
    * finish them (the staged fold is the only complete copy of its
    * rows); an unmarked one means the write itself aborted — the
    * sources are intact, the partial staging is garbage. */
  private def recoverAbortedFold(fs: org.apache.hadoop.fs.FileSystem,
                                 root: org.apache.hadoop.fs.Path,
                                 tmp: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(tmp)) return
    val marker = fs.listStatus(tmp).map(_.getPath.getName)
      .find(_.startsWith("_FOLD_TARGET_"))
    marker match {
      case Some(m) =>
        val targetId = m.stripPrefix("_FOLD_TARGET_").toLong
        fs.listStatus(root).filter(_.isDirectory).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith("batch_id=") && n.stripPrefix("batch_id=").toLong <= targetId)
            fs.delete(st.getPath, true)
        }
        require(fs.rename(tmp, new org.apache.hadoop.fs.Path(root, s"batch_id=$targetId")),
          s"could not complete the interrupted fold publish at batch_id=$targetId")
      case None =>
        fs.delete(tmp, true)
    }
  }

  private[graft] val fetchGcDirs = new graft.Artifacts.Dirs[String]("graft-stream-fetch-gc")

  /** Run epoch boundary, applied by [[graft.SparkEntry.run]] before each
    * src_stream_fetch_gc run (the src_stream_fetch rule): each run pays
    * the stream AND the fold, never a cached read-back. */
  def clearFetchGcCache(): Unit = fetchGcDirs.forget()

  /** `src_stream_fetch_gc`: the online point-lookup loop WITH its
    * retention verb — the stream runs exactly as `src_stream_fetch`
    * (own output root, own cache), then [[compactBatchDirs]] folds
    * everything below the newest batch into one directory, and
    * serving reads the compacted layout. Shares the batch fetch's
    * closed-form oracle: the fold must be row-invisible. */
  def fetchStreamGc(s: SparkSession, dir: String): DataFrame = {
    val outDir = fetchGcDirs.stage(s, dir) { out =>
      runFetchStream(s, dir, out, filesPerTrigger = 1)
      compactBatchDirs(s, out, keepLast = 1)
    }
    s.read.parquet(outDir)
      .select(col("doc_id"), col("uri"), col("n_chars"), col("text"))
      .orderBy(col("doc_id"))
  }

  /** Streaming DSIR scoring (`tx_stream_dsir`) — the ingestion-time
    * deployment of [[graft.operators.TextAnalysis.dsir]]: new
    * documents arrive as a STREAM and are scored against a FROZEN
    * hashed-unigram LM artifact built batch-side before the stream
    * starts (the [[graft.operators.TextAnalysis.dsirLlrTable]] shared
    * builder — batch and streaming weights cannot diverge). Scoring is
    * the one-pass [[graft.functions.DsirLlr]] kernel: tokenize +
    * md5-bucket + table lookup per document, NO explode, NO join, NO
    * aggregation — stateless Append mode, which is exactly why
    * map-side per-doc scoring is the shape that survives an unbounded
    * ingestion stream (the batch form's explode + broadcast-join +
    * groupBy would accumulate per-doc aggregation state forever).
    * Tokens unseen at LM-build time fall back to the pure-smoothing
    * ratio, the streaming analog of add-α backoff. Oracle-shared with
    * `tx_dsir`'s DuckDB SQL: the streamed scores hash-match the batch
    * computation end-to-end. */
  def dsirViaStream(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val staged = docsStagedDir(s, dir)
    val table = TextAnalysis.dsirLlrTable(s, dir)
    val hb = conv(substring(md5(col("doc_id").cast("string")), 1, 3), 16, 10)
      .cast("long")
    val scored = s.readStream
      .schema(graft.Tables.documents(s, dir).schema)
      .parquet(staged)
      .withColumn("hb", hb).filter(col("hb") < Sampling.HeldOutFrom)
      .select(col("doc_id"),
        graft.functions.TextFunctions.dsirLlr(lower(col("text")), table).as("r"))
      .select(col("doc_id"), col("r.n_tokens").as("n_tokens"),
        (floor(col("r.llr") * 10000.0) / 10000.0).as("dsir_weight"))
      .filter(col("n_tokens") > 0L)
      .withColumn("keep", when(col("dsir_weight") > 0.0, 1L).otherwise(0L))
    runToMemory(scored, "tx_stream_dsir_q", OutputMode.Append)
      .orderBy(col("doc_id"))
  }

  /** Streaming incremental exact dedup (`ev_stream_incr_dedup`) — the
    * landing-zone deployment of
    * [[graft.operators.Dedup.incrementalDedup]]: new documents arrive
    * as a STREAM and must pass the never-seen-in-the-corpus check
    * before ingestion. Same plan discipline as the batch twin, via the
    * SHARED [[graft.operators.Dedup.historyBloomMightHit]] builder:
    * the history bloom filter is built once, batch-side, before the
    * stream starts; bloom-NEGATIVE rows are routed past the join
    * entirely (map-side, per micro-batch); only bloom-positive rows
    * (true dups + fpp stragglers) probe the stream-static LEFT ANTI
    * join, which keeps the result exact. Append mode and stateless —
    * no watermark state to size; collapsing duplicates WITHIN the
    * stream is the stateful concern [[dedupViaStream]] owns
    * (dropDuplicatesWithinWatermark). Batch/history split is
    * [[graft.operators.Dedup.incrementalDedup]]'s md5-bucket rule, so
    * the DuckDB oracle hash-checks the streamed survivors end-to-end.
    */
  def incrDedupViaStream(s: SparkSession, dir: String,
                         historyBuckets: Long = Sampling.HistoryBelow): DataFrame = {
    val staged = docsStagedDir(s, dir)
    val hb = conv(substring(md5(col("doc_id").cast("string")), 1, 3), 16, 10)
      .cast("long")
    val history = graft.Tables.documents(s, dir)
      .withColumn("hb", hb).filter(col("hb") < historyBuckets)
      .select(sha2(col("text"), 256).as("digest"))
    val batch = s.readStream
      .schema(graft.Tables.documents(s, dir).schema)
      .parquet(staged)
      .withColumn("hb", hb).filter(col("hb") >= historyBuckets)
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
    val survivors =
      graft.operators.Dedup.historyBloomMightHit(s, history, col("digest")) match {
        case None        => batch // empty history: everything is new
        case Some(might) =>
          batch.filter(!might).unionByName(
            batch.filter(might).join(history, Seq("digest"), "left_anti"))
      }
    runToMemory(survivors, "ev_stream_incr_dedup_q", OutputMode.Append)
      .orderBy(col("doc_id"))
  }

  /** Streaming incremental ExactSubstr (`dd_stream_spans`) — the
    * ingestion-time twin of `dd_spans_incremental`, completing the
    * ExactSubstr family's batch → incremental → streaming triple: a
    * documents stream tokenizes, window-explodes and STREAM-STATIC
    * inner-joins the history's distinct gram index per micro-batch
    * (stateless — the corpus-sized work, identical join shape to the
    * batch form); island merge then rolls up the SINK rows, which are
    * bounded by marked positions (the duplicated fraction of the
    * batch), mirroring how the retention/paths twins aggregate
    * post-sink. Shares `dd_spans_incremental`'s oracle verbatim. */
  def spansViaStream(s: SparkSession, dir: String): DataFrame = {
    val staged = docsStagedDir(s, dir)
    val hb = conv(substring(md5(col("doc_id").cast("string")), 1, 3), 16, 10)
      .cast("long")
    val tf = graft.functions.TextFunctions
    val historyGrams = graft.Tables.documents(s, dir)
      .withColumn("hb", hb).filter(col("hb") < Sampling.HistoryBelow)
      .select(explode_outer(tf.tokenNgrams(lower(col("text")), Dedup.SpanN)).as("gram"))
      .filter(col("gram").isNotNull).distinct()
    val batch = s.readStream
      .schema(graft.Tables.documents(s, dir).schema)
      .parquet(staged)
      .withColumn("hb", hb).filter(col("hb") >= Sampling.HistoryBelow)
      .select(col("doc_id"), tf.tokenNgrams(lower(col("text")), Dedup.SpanN).as("grams"))
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"),
        posexplode_outer(col("grams")).as(Seq("pos", "gram")))
      .filter(col("gram").isNotNull)
    val marked = batch.join(historyGrams, Seq("gram"))
      .select(col("doc_id"), col("n_grams"), col("pos"))
    val mem = runToMemory(marked, "dd_stream_spans_q", OutputMode.Append)
    val w = org.apache.spark.sql.expressions.Window
    val byPos = w.partitionBy(col("doc_id")).orderBy(col("pos"))
    mem
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byPos) <= Dedup.SpanN, 0L).otherwise(1L))
      .withColumn("island", sum(col("brk")).over(byPos.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("start_tok"),
        (max(col("pos")) + (Dedup.SpanN - 1)).cast("long").as("end_tok"),
        count(lit(1)).as("n_windows"),
        (first(col("n_grams")) + (Dedup.SpanN - 1)).cast("long").as("doc_tokens"))
      .select(col("doc_id"), col("start_tok"), col("end_tok"),
        col("n_windows"), col("doc_tokens"))
      .orderBy(col("doc_id"), col("start_tok"))
  }

  /** Driver-visible streaming query (registry entry `ev_stream_tumbling`):
    * stages the sf events table into a fresh ingest directory, runs the
    * watermarked tumbling aggregation through a REAL
    * readStream→aggregate→memory-sink pass, and reshapes the result to
    * the `ev_tumbling` contract (epoch-second BIGINT window starts) so
    * the same DuckDB oracle hash-checks an end-to-end Structured
    * Streaming execution, not just its batch twin. Complete output mode:
    * with a bounded fixture the watermark never advances past the final
    * window, and complete mode emits every window exactly once drained. */
  def tumblingViaStream(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedDir(s, dir)
    val mem = runToMemory(tumblingCounts(eventsStream(s, staged)),
      "ev_stream_tumbling_q", OutputMode.Complete)
    mem.select(
        unix_timestamp(col("win_start")).as("win_start_s"),
        col("event_type"), col("n"), round(col("total"), 2).as("total"))
      .orderBy(col("win_start_s"), col("event_type"))
  }

  /** Driver-visible streaming sessionization (`ev_stream_session`): a
    * real readStream pass through the built-in `session_window` (30-min
    * gap), reshaped to epoch-second BIGINTs. Session-window semantics:
    * an event extends the session iff its event time is STRICTLY less
    * than lastEvent + gap, and the window end is lastEvent + gap — the
    * oracle mirrors both (diff >= 1800 starts a new session; end_s =
    * floor(epoch(max ts)) + 1800). */
  def sessionViaStream(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedDir(s, dir)
    val mem = runToMemory(sessionWindows(eventsStream(s, staged)),
      "ev_stream_session_q", OutputMode.Complete)
    mem.select(
        col("user_id"),
        unix_timestamp(col("session_start")).as("session_start_s"),
        unix_timestamp(col("session_end")).as("session_end_s"),
        col("n_events"), round(col("session_value"), 2).as("session_value"))
      .orderBy(col("user_id"), col("session_start_s"))
  }

  /** Driver-visible stream-stream join (`ev_stream_join`): purchases ⋈
    * clicks of the same user within the preceding hour, executed as a
    * REAL watermarked stream-stream inner join (both sides' buffered
    * state pruned by watermark + the range bound). Inner joins emit
    * matches as soon as both rows arrive, so draining a bounded fixture
    * yields the complete batch-equivalent result the oracle checks. */
  def joinViaStream(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedDir(s, dir)
    // The stream-stream join runs FOUR state stores per partition per
    // side-pair (keyToNumValues / keyWithIndexToValue × left/right — 32
    // store instances at 8 partitions), so its per-batch fixed cost is
    // 4× any single-operator stream's at the same partition count.
    // Measured on this fixture (probe, steady-state wall): 32 → 8.1 s,
    // 16 → 4.2, 8 → 3.6, 4 → 3.0, 2 → 2.7, 1 → 3.0 — the evidence for
    // runToMemory's floor of 2 state partitions.
    val mem = runToMemory(purchaseClickJoin(eventsStream(s, staged)),
      "ev_stream_join_q", OutputMode.Append)
    mem.select(
        col("user_id"), col("purchase_id"), col("click_id"),
        unix_timestamp(col("p_ts")).as("p_ts_s"),
        unix_timestamp(col("c_ts")).as("c_ts_s"))
      .orderBy(col("user_id"), col("purchase_id"), col("click_id"))
  }

  /** Driver-visible custom stateful operator (`ev_stream_running`): the
    * [[runningTotals]] mapGroupsWithState machine run as a real stream,
    * reduced to each user's FINAL totals (n_events is monotone per
    * user, so the final state is the max row even if the source splits
    * into several micro-batches). Oracle: plain per-user aggregation. */
  def runningViaStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val staged = stagedDir(s, dir)
    val stream = eventsStream(s, staged)
      .select($"user_id", $"ts", $"value").as[UserEvent]
    val mem = runToMemory(runningTotals(s, stream).toDF(),
      "ev_stream_running_q", OutputMode.Update)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"n_events".desc)
    mem.withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .select($"user_id", $"n_events",
        round($"total_value", 2).as("total_value"))
      .orderBy($"user_id")
  }

  /** Driver-visible incremental-retention run (`ev_stream_retention`):
    * [[retentionCells]] as a real stream into a memory sink; the final
    * per-cell distinct-user count is batch presentation over the
    * emitted cells (the `ev_stream_running` post-processing pattern —
    * the stateful first-seen/new-day logic is the streaming part).
    * Shares the batch `ev_retention` oracle verbatim. */
  def retentionViaStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val staged = stagedDir(s, dir)
    val stream = eventsStream(s, staged)
      .select($"user_id", $"ts", $"value").as[UserEvent]
    val mem = runToMemory(retentionCells(s, stream).toDF(),
      "ev_stream_retention_q", OutputMode.Update)
    mem.select($"cohort_day_s", $"offset_days", $"user_id").distinct()
      .groupBy($"cohort_day_s", $"offset_days")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"cohort_day_s", $"offset_days")
  }

  /** Driver-visible incremental path extraction (`ev_stream_paths`):
    * [[pathHits]] on the staged single-ingest fixture, rolled up to
    * the batch `ev_paths` contract (path, n, global top-10) so the
    * SAME oracle SQL hash-checks both deployments. */
  def pathsViaStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val staged = stagedDir(s, dir)
    val stream = eventsStream(s, staged)
      .select($"user_id", $"event_id", $"ts", $"event_type").as[PathEvent]
    val mem = runToMemory(pathHits(s, stream).toDF(),
      "ev_stream_paths_q", OutputMode.Update)
    mem.groupBy($"path").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"path")
      .limit(10)
  }

  /** Driver-visible transformWithState run (`ev_stream_tws`): the
    * [[RunningTotalsProcessor]] executed as a real stream on the
    * RocksDB state store (the provider the API requires — and the one
    * a 100 TB deployment wants anyway, since it spills state to disk).
    * Same final-row reduction and oracle contract as
    * `ev_stream_running`, so the two stateful APIs are checked against
    * the identical DuckDB aggregate. */
  def twsViaStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val staged = stagedDir(s, dir)
    val stream = eventsStream(s, staged)
      .select($"user_id", $"ts", $"value").as[UserEvent]
    val mem = runToMemory(runningTotalsTws(s, stream).toDF(),
      "ev_stream_tws_q", OutputMode.Update,
      extraConfs = Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"n_events".desc)
    mem.withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .select($"user_id", $"n_events",
        round($"total_value", 2).as("total_value"))
      .orderBy($"user_id")
  }

  /** Staged ANN probe-traffic dir: the embeddings table's bounded id
    * prefix written once per source dir — the ingest directory an
    * online query stream would land in. */
  private val probesStagedDirs = new graft.Artifacts.Dirs[String]("graft-stream-probes")

  private def probesStagedDir(s: SparkSession, dir: String): String =
    probesStagedDirs.stage(s, dir) { out =>
      graft.Tables.embeddings(s, dir).filter(col("vec_id") < Similarity.NumQueries)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("q"))
        .write.mode("overwrite").parquet(out)
    }

  /** Streaming ANN serving from the persisted IVF index
    * (`ann_stream_serve`) — the 14th real streaming execution: probe
    * vectors arrive as a `readStream` (the online-query-traffic
    * shape) and are served against the SAME `centroids/` + cid-
    * partitioned `lists/` artifact `pipe_ivf_serve` reads — via
    * [[graft.operators.Similarity.serveStreamScored]], so the batch
    * and streaming serves share the routing kernel, the scorer, and
    * the artifact layout and cannot drift. The stream-static join is
    * stateless Append (no watermark state to size: the artifact is
    * static, each probe's matches emit once); rank/top-k runs
    * post-sink over the bounded match set (`NumQueries` × `NProbe`
    * lists), the dd_stream_spans discipline. Result contract is
    * `pipe_ivf_serve`'s exactly — RecallSpec gates streamed ≡ batch
    * serve row-for-row, proving the artifact serves incremental
    * traffic, not just batch sweeps. */
  def annServeViaStream(s: SparkSession, dir: String): DataFrame = {
    val idx = Similarity.ivfIndexDir(s, dir)
    val staged = probesStagedDir(s, dir)
    val probeStream = s.readStream
      .schema(s.read.parquet(staged).schema)
      .parquet(staged)
    val scored = Similarity.serveStreamScored(s, idx, probeStream)
    val mem = runToMemory(scored, "ann_stream_serve_q", OutputMode.Append)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    mem.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= Similarity.TopK)
      .select(col("query_id"), col("vec_id"), col("cos_sim"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Staged dirs where every event appears TWICE — the dedup fixture. */
  private val dupStagedDirs = new graft.Artifacts.Dirs[String]("graft-dup-events")

  private def dupStagedDir(s: SparkSession, dir: String): String =
    dupStagedDirs.stage(s, dir) { out =>
      val ev = graft.Tables.events(s, dir)
      ev.union(ev).write.mode("overwrite").parquet(out)
    }

  /** Driver-visible streaming dedup (`ev_stream_dedup`): every event is
    * planted twice in the ingest dir; `dropDuplicatesWithinWatermark`
    * on event_id must reconstruct exactly the original table, which the
    * oracle checks via a per-type aggregate over the ORIGINAL events.
    * The wide watermark keeps every key's state alive for the bounded
    * fixture; in production the watermark is what bounds the key
    * store. */
  def dedupViaStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dupDir = dupStagedDir(s, dir)
    val deduped = runToMemory(
      streamingDedup(eventsStream(s, dupDir), Seq("event_id"), "10 days"),
      "ev_stream_dedup_q", OutputMode.Append)
    deduped.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total"))
      .orderBy($"event_type")
  }

  /** A stream's shuffle (and so state) partitions: one per
    * `advisoryBytes` of input, at least 2, at most `cap`. */
  private[graft] def shufflePartitionsFor(inputBytes: Long, advisoryBytes: Long,
                                          cap: Int): Int =
    math.min(cap.toLong, math.max(2L, (inputBytes - 1) / advisoryBytes + 1)).toInt

  /** The state partitions [[runToMemory]] runs `df` with: its file
    * sources' bytes over Spark's advisory partition size, between 2
    * and the session's shuffle partitions. */
  private[graft] def streamShufflePartitions(df: DataFrame): Int = {
    import org.apache.spark.sql.internal.SQLConf
    val conf = df.sparkSession.sessionState.conf
    shufflePartitionsFor(fileSourceBytes(df),
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
      conf.getConf(SQLConf.SHUFFLE_PARTITIONS))
  }

  /** Bytes of the files under a stream's file sources: every
    * file-format `StreamingRelation` in its analyzed plan, its path
    * globbed and summed recursively. Other sources count 0. */
  private[graft] def fileSourceBytes(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.datasources.FileFormat
    import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
    val hadoopConf = df.sparkSession.sparkContext.hadoopConfiguration
    df.queryExecution.analyzed.collect {
      case StreamingRelation(ds, _, _) if classOf[FileFormat].isAssignableFrom(ds.providingClass) =>
        // DataStreamReader.load(path) passes the path as an option
        ds.options.get("path").fold(0L) { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          val fs = path.getFileSystem(hadoopConf)
          Option(fs.globStatus(path)).fold(0L)(_.map(st => fs.getContentSummary(st.getPath).getLength).sum)
        }
    }.sum
  }

  /** Executed plan of the most recent [[runToMemory]] run (the last
    * micro-batch's physical plan) — written for EventsStreamingSpec's
    * plan-shape assertions, test-only by convention. */
  @volatile private[graft] var lastStreamPlan: String = ""

  /** The same micro-batch's plan as a tree, for specs that must read
    * node fields the printed plan truncates (a scan's root paths). */
  @volatile private[graft] var lastStreamExecutedPlan
      : Option[org.apache.spark.sql.execution.SparkPlan] = None

  /** Number of data-carrying micro-batches in the most recent
    * [[runToMemory]] run — written for specs that pin INCREMENTAL
    * arrival (the stream really processed the source in several
    * batches, not one). Test-only by convention. */
  @volatile private[graft] var lastNumBatches: Int = 0

  /** Drain a streaming DataFrame through the in-memory sink and return
    * the materialized table — the synchronous harness batch tests use.
    *
    * The query's `spark.sql.shuffle.partitions`, which becomes its
    * state-store count at first run, is derived from its input:
    * one partition per `spark.sql.adaptive.advisoryPartitionSizeInBytes`
    * of files under its file sources, at least 2 and at most the
    * session's shuffle partitions ([[shufflePartitionsFor]]). Every
    * state partition costs per-batch delta-file I/O across each
    * operator's stores, so the count tracks state volume, not core
    * count — measured on the stream-stream join at sf0.1: 32
    * partitions = 5.8 s, 8 partitions = 2.7 s for identical results.
    * At fixture size every stream gets the floor; at 100 TB the count
    * grows with the input up to the deployment's shuffle partitions.
    * Scoped set/restore; Verify/Bench/tests run queries sequentially
    * on the session. */
  def runToMemory(df: DataFrame, name: String,
                  outputMode: OutputMode = OutputMode.Append,
                  extraConfs: Map[String, String] = Map.empty): DataFrame = {
    val spark = df.sparkSession
    val confs =
      ("spark.sql.shuffle.partitions" -> streamShufflePartitions(df).toString) +: extraConfs.toSeq
    graft.GraftSession.withConfs(spark, confs: _*) {
      val q = df.writeStream
        .format("memory").queryName(name)
        .outputMode(outputMode)
        .start()
      try {
        q.processAllAvailable()
        // capture the last micro-batch's executed plan for plan-shape
        // specs: streaming frames have no queryExecution.executedPlan,
        // so the text comes from the public explain() printer and the
        // tree through StreamBridge (StreamExecution is private[sql])
        val buf = new java.io.ByteArrayOutputStream()
        Console.withOut(buf)(q.explain())
        lastStreamPlan = buf.toString("UTF-8")
        lastStreamExecutedPlan = org.apache.spark.sql.graft.StreamBridge.lastExecutedPlan(q)
        lastNumBatches = q.recentProgress.count(_.numInputRows > 0)
      } finally q.stop()
    }
    spark.table(name)
  }
}
