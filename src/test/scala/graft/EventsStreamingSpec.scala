package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming-batch equivalence: the same event-time logic must produce
  * the same aggregates whether it runs over readStream or a batch scan
  * (Spark's unified semantics — and our M3 design claim). */
class EventsStreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val streamDir: String = StreamingOps.stageEventsDir(
    spark, sfDir,
    tempDir("events-stream") + "/events")

  test("streaming tumbling counts == batch tumbling counts") {
    val streamed = StreamingOps.runToMemory(
      StreamingOps.tumblingCounts(StreamingOps.eventsStream(spark, streamDir)),
      // complete mode: append would (correctly) hold back windows the
      // watermark hasn't closed; for a full equality check emit all
      "tumbling_mem", OutputMode.Complete)
      .select(unix_timestamp($"win_start").as("win_start_s"), $"event_type", $"n")
      .orderBy($"win_start_s", $"event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val batch = operators.Events.tumbling(spark, sfDir)
      .select($"win_start_s", $"event_type", $"n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(streamed == batch)
  }

  test("streaming session windows cover every event exactly once") {
    val sessions = StreamingOps.runToMemory(
      StreamingOps.sessionWindows(StreamingOps.eventsStream(spark, streamDir)),
      "sessions_mem", OutputMode.Complete)
    val totalEvents = sessions.agg(sum($"n_events")).as[Long].head()
    val nEvents = Tables.events(spark, sfDir).count()
    assert(totalEvents == nEvents)
    // session bounds are consistent
    val bad = sessions.filter($"session_end" < $"session_start").count()
    assert(bad == 0)
  }

  test("checkpointed restart recovers exactly-once into the file sink") {
    // The reference's raison d'être is fault tolerance (retry/reassign,
    // coordinator.go). In the Spark engine that layer is checkpoint +
    // sink commit protocol — this pins the actual recovery path: kill a
    // query mid-stream, restart from the checkpoint, and the file sink
    // must hold every event exactly once (no loss from the killed run,
    // no duplicates from reprocessing).
    val base = tempDir("restart")
    val (ckpt, sink) = (s"$base/ckpt", s"$base/out")
    // 12 input files at 1 file per trigger => 12 micro-batches, so the
    // kill below genuinely lands mid-stream with work left to recover
    val manyFiles = s"$base/in"
    Tables.events(spark, sfDir).repartition(12).write.parquet(manyFiles)
    // 300 ms trigger cadence paces the 12 batches (~3.6 s end to end),
    // so stopping after the first committed batch reliably lands
    // mid-stream instead of racing a back-to-back batch train
    def start() = spark.readStream.schema(StreamingOps.eventsSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(manyFiles)
      .writeStream.format("parquet")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("300 milliseconds"))
      .option("checkpointLocation", ckpt).option("path", sink)
      .outputMode(OutputMode.Append).start()
    val q1 = start()
    // let at least one batch commit, then kill mid-stream
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (q1.recentProgress.length < 1 && System.nanoTime() < deadline)
      Thread.sleep(25)
    q1.stop()
    // the kill must be genuine: some input not yet processed
    val processed = spark.read.schema(StreamingOps.eventsSchema).parquet(sink).count()
    assert(processed < Tables.events(spark, sfDir).count(),
      s"kill landed after completion ($processed rows) — nothing left to recover")
    val q2 = start() // resume from checkpoint
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.schema(StreamingOps.eventsSchema).parquet(sink)
    val nEvents = Tables.events(spark, sfDir).count()
    assert(out.count() == nEvents, "event count after restart")
    assert(out.select($"event_id").distinct().count() == nEvents, "no duplicates")
  }

  test("mapGroupsWithState running totals match batch groupBy") {
    val events = Tables.events(spark, sfDir)
      .selectExpr("user_id", "ts", "value").as[StreamingOps.UserEvent]
    val got = StreamingOps.runningTotals(spark, events)
      .collect().map(r => r.user_id -> ((r.n_events, r.total_value))).toMap
    val expected = Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"value").as("t"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (u, (n, t)) =>
      assert(n == expected(u)._1, s"user $u count")
      assert(math.abs(t - expected(u)._2) < 1e-6, s"user $u total")
    }
  }

  test("transformWithState running totals (real stream, RocksDB) match batch groupBy") {
    // the sixth stateful API: same state machine as runningTotals but
    // on Spark 4's StatefulProcessor with named ValueState, executed
    // as a REAL stream on the RocksDB provider the API requires. The
    // provider conf is scoped per query and must be restored.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.get(providerKey, "default")
    val got = StreamingOps.twsViaStream(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(spark.conf.get(providerKey, "default") == before,
      "twsViaStream must restore the state-store provider conf")
    val expected = Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("t"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == expected)
  }

  test("initial-state warm start: batch snapshot + stream tail == full batch totals") {
    // the batch→streaming migration: totals over the FIRST half of
    // history come from a batch snapshot seeded via handleInitialState;
    // the stream processes only the second half — final per-user totals
    // must equal the full batch aggregate (for users the stream touches;
    // snapshot-only users hold state but emit nothing without input).
    import StreamingOps.{UserEvent, UserRunning}
    val all = Tables.events(spark, sfDir)
    val cutoff = all.agg(percentile_approx($"ts", lit(0.5), lit(1000)))
      .head().getTimestamp(0)
    val snapshot = all.filter($"ts" <= cutoff)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), sum($"value").as("total_value"))
      .as[UserRunning]
    val tailDir = tempDir("warm-tail") + "/events"
    all.filter($"ts" > cutoff).write.parquet(tailDir)
    val stream = StreamingOps.eventsStream(spark, tailDir)
      .select($"user_id", $"ts", $"value").as[UserEvent]
    val mem = StreamingOps.runToMemory(
      StreamingOps.runningTotalsWarmStart(spark, stream, snapshot).toDF(),
      "ev_warm_start_q", OutputMode.Update, statePartitions = Some(8),
      extraConfs = Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"n_events".desc)
    val got = mem.withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val streamedUsers = all.filter($"ts" > cutoff)
      .select($"user_id").distinct().collect().map(_.getLong(0)).toSet
    val expected = all.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"value").as("t"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      .filter { case (u, _) => streamedUsers(u) }
    assert(streamedUsers.nonEmpty && got.keySet == expected.keySet)
    got.foreach { case (u, (n, t)) =>
      assert(n == expected(u)._1, s"user $u count")
      assert(math.abs(t - expected(u)._2) < 1e-6, s"user $u total")
    }
  }

  test("streaming retention: cells accumulate across micro-batches, no re-emission") {
    // MemoryStream gives deterministic batch boundaries — the property
    // worth pinning beyond the oracle-shared single-ingest run: new
    // activity days emit exactly once, cohorts persist in state across
    // batches, and a user first seen in a LATER batch cohorts there.
    import StreamingOps.UserEvent
    def ev(u: Long, day: Long) =
      UserEvent(u, new java.sql.Timestamp(day * 86400000L + 3600000L), 1.0)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[UserEvent](spark)
    val q = StreamingOps.retentionCells(spark, input.toDS()).toDF()
      .writeStream.format("memory").queryName("ev_ret_two_q")
      .outputMode("update").start()
    try {
      input.addData(ev(1, 0), ev(1, 1), ev(2, 5))
      q.processAllAvailable()
      // day 1 for user 1 repeats: state must suppress the re-emission;
      // day 3 is new; user 3 cohorts at its own first-seen batch
      input.addData(ev(1, 3), ev(1, 1), ev(3, 7), ev(3, 9))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ev_ret_two_q")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == rows.distinct.length, "a cell was re-emitted")
    val d = 86400L
    assert(rows.toSet == Set(
      (0L, 0L, 1L), (0L, 1L, 1L), (0L, 3L, 1L),
      (5 * d, 0L, 2L),
      (7 * d, 0L, 3L), (7 * d, 2L, 3L)))
  }

  test("streaming paths: state carries the last two steps across micro-batches") {
    // a trigram STRADDLING the batch boundary must still emit (state
    // holds the last two steps), a gap > 30 min must break the chain,
    // and nothing is emitted twice
    import StreamingOps.PathEvent
    def ev(u: Long, id: Long, sec: Long, t: String) =
      PathEvent(u, id, new java.sql.Timestamp(sec * 1000L), t)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[PathEvent](spark)
    val q = StreamingOps.pathHits(spark, input.toDS()).toDF()
      .writeStream.format("memory").queryName("ev_paths_two_q")
      .outputMode("update").start()
    try {
      input.addData(ev(1, 1, 0, "view"), ev(1, 2, 60, "click"))
      q.processAllAvailable()
      // completes view>click>buy across the boundary; then a >30min
      // gap breaks, then a fresh in-gap trigram completes
      input.addData(ev(1, 3, 120, "buy"), ev(1, 4, 9000, "view"),
        ev(1, 5, 9060, "click"), ev(1, 6, 9120, "buy"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ev_paths_two_q").collect().map(_.getString(0)).toSeq
    // exactly two: the boundary-straddling trigram and the fresh
    // in-gap one; buy@120→view@9000 and click@60…view@9000 chains are
    // gap-broken (8880 s > 1800 s) so nothing else completes
    assert(got.sorted == Seq("view>click>buy", "view>click>buy"), s"got: $got")
  }

  test("variantExtract: three dirt classes null out; variant cross-type casts truncate/cast, not null") {
    // r11 advisory: the strict variant_get threw on a PRESENT but
    // uncastable value ({"k":"abc"}), so only two of the three dirty-row
    // classes actually honored the documented null-not-error contract.
    val dir = tempDir("variant-dirty")
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    Seq(
      (1L, ts(0), 1L, "view", 1.0, """{"k": 7}"""),        // clean
      (2L, ts(1), 1L, "view", 1.0, """{"k": "abc"}"""),    // present, uncastable
      (3L, ts(2), 1L, "view", 1.0, """not json at all"""), // malformed
      (4L, ts(3), 1L, "view", 1.0, """{"other": 1}"""),    // path absent
      // variant CROSS-TYPE casts — the residual class the JSON-string
      // oracle cannot express (documented at the oracle): a double
      // TRUNCATES toward zero and a bool casts to 1, they do NOT null
      (5L, ts(4), 1L, "view", 1.0, """{"k": 1.5}"""),
      (6L, ts(5), 1L, "view", 1.0, """{"k": true}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.Events.variantExtract(spark, dir).collect()
    assert(got.length == 1)
    val r = got.head
    // clean 7 + truncated 1 + bool 1 contribute; string/malformed/
    // absent null out instead of aborting the job
    assert(r.getAs[Long]("min_k") == 1L && r.getAs[Long]("max_k") == 7L &&
      r.getAs[Long]("sum_k") == 9L && r.getAs[Long]("n") == 6L)
    assert(r.getAs[Long]("n_miss") == 0L)
  }

  test("gapfill: empty events table yields an empty frame, oversized ranges a clear error") {
    // r10 advisory: min/max over an empty table aggregate to NULL —
    // getLong NPE'd — and a day range past cteRecursionLevelLimit
    // failed deep inside the recursion at execution instead of at
    // build. Both paths are now explicit.
    val dir = tempDir("gapfill-empty")
    Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val empty = graft.operators.Events.gapfill(spark, dir)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("event_type", "day", "n"))

    val wide = tempDir("gapfill-wide")
    def ts(day: Long) = new java.sql.Timestamp(day * 86400L * 1000L)
    Seq((1L, ts(0), 1L, "view", 1.0, "{}"), (2L, ts(500), 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$wide/events.parquet")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Events.gapfill(spark, wide)
    }
    assert(e.getMessage.contains("cteRecursionLevelLimit"),
      s"error must name the conf to raise: ${e.getMessage}")

    // r11 advisory boundary probe: a range of EXACTLY the limit must
    // run end-to-end — the require admits d1-d0+1 == limit, which is
    // only friendly if UnionLoopExec's final (empty) terminating
    // iteration does not itself count a level. Verified empirically
    // here: if a Spark upgrade changes the level accounting, this
    // test fails at the boundary instead of a user's job failing with
    // the raw recursion error past the friendly check.
    val edge = tempDir("gapfill-edge")
    Seq((1L, ts(100), 1L, "view", 1.0, "{}"), (2L, ts(104), 1L, "buy", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$edge/events.parquet")
    val prev = spark.conf.getOption("spark.sql.cteRecursionLevelLimit")
    try {
      spark.conf.set("spark.sql.cteRecursionLevelLimit", "5") // range is exactly 5 days
      val got = graft.operators.Events.gapfill(spark, edge).collect()
      assert(got.length == 10, // 2 types x 5 spine days
        s"exact-limit spine must execute fully, got ${got.length} rows")
      assert(got.map(_.getLong(1)).distinct.sorted.toSeq == (100L to 104L),
        "spine must cover every day in the range")
      spark.conf.set("spark.sql.cteRecursionLevelLimit", "4") // one short -> friendly error
      val e2 = intercept[IllegalArgumentException] {
        graft.operators.Events.gapfill(spark, edge)
      }
      assert(e2.getMessage.contains("cteRecursionLevelLimit"))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.cteRecursionLevelLimit", v)
      case None    => spark.conf.unset("spark.sql.cteRecursionLevelLimit")
    }
  }

  test("streaming paths: cross-batch out-of-order events are dropped, not threaded") {
    // r10 advisory: per-batch sorting only orders WITHIN a batch, so an
    // event arriving in a later batch with an earlier timestamp used to
    // thread into the trigram state and silently emit paths the batch
    // lag-window never produces. The operator now drops rows whose
    // epoch-second precedes the user's max-seen ts (state t1).
    import StreamingOps.PathEvent
    def ev(u: Long, id: Long, sec: Long, t: String) =
      PathEvent(u, id, new java.sql.Timestamp(sec * 1000L), t)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[PathEvent](spark)
    val q = StreamingOps.pathHits(spark, input.toDS()).toDF()
      .writeStream.format("memory").queryName("ev_paths_late_q")
      .outputMode("update").start()
    try {
      input.addData(ev(1, 1, 0, "view"), ev(1, 2, 60, "click"), ev(1, 3, 120, "buy"))
      q.processAllAvailable()
      // straggler: ts 30 < max-seen 120 — must be dropped entirely
      input.addData(ev(1, 4, 30, "stray"))
      q.processAllAvailable()
      // in-order successor: completes click>buy>buy off the UNCORRUPTED
      // state; had the stray threaded, state would read (stray@30,
      // buy@120) and this would emit buy>stray>buy instead
      input.addData(ev(1, 5, 180, "buy"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ev_paths_late_q").collect().map(_.getString(0)).toSeq
    assert(got.sorted == Seq("click>buy>buy", "view>click>buy"), s"got: $got")
  }

  test("streaming paths: a poisoned future timestamp cannot blackhole the stream") {
    // r11 self-review: with a plain max-seen gate, one corrupted FUTURE
    // timestamp (ms-vs-s unit bug) ratchets t1 forever and every later
    // real event is dropped — permanent silent data loss. resetAfter
    // (3) CONSECUTIVE events older than t1 − resetS are read as
    // evidence t1 is garbage; the state then resets so real traffic
    // resumes at bounded loss (the first resetAfter − 1 events).
    import StreamingOps.PathEvent
    def ev(u: Long, id: Long, sec: Long, t: String) =
      PathEvent(u, id, new java.sql.Timestamp(sec * 1000L), t)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[PathEvent](spark)
    val q = StreamingOps.pathHits(spark, input.toDS()).toDF()
      .writeStream.format("memory").queryName("ev_paths_poison_q")
      .outputMode("update").start()
    try {
      input.addData(ev(1, 1, 0, "view"), ev(1, 2, 60, "click"))
      q.processAllAvailable()
      // garbage: year-2033 epoch-seconds from a ms-vs-s bug; threads
      // in (it IS the max) but completes no trigram (gap >> gapS)
      input.addData(ev(1, 3, 2000000000L, "stray"))
      q.processAllAvailable()
      // real traffic resumes: all < 2e9 − resetS. The first two count
      // as poison evidence and drop; the third triggers the RESET
      // (old code dropped ALL of these forever); the two after it
      // complete the fresh chain
      input.addData(ev(1, 4, 9000, "search"), ev(1, 5, 9030, "filter"),
        ev(1, 6, 9060, "view"), ev(1, 7, 9120, "click"), ev(1, 8, 9180, "buy"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ev_paths_poison_q").collect().map(_.getString(0)).toSeq
    assert(got == Seq("view>click>buy"), s"got: $got")
  }

  test("streaming paths: one genuinely old replayed record does not destroy a live chain") {
    // the counter's other half: a single archival replay older than
    // t1 − resetS is indistinguishable from poison by itself, so it
    // must DROP (not reset) — the user's in-progress chain survives
    // and the next live event still completes its trigram
    import StreamingOps.PathEvent
    def ev(u: Long, id: Long, sec: Long, t: String) =
      PathEvent(u, id, new java.sql.Timestamp(sec * 1000L), t)
    val base = 100000000L
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[PathEvent](spark)
    val q = StreamingOps.pathHits(spark, input.toDS()).toDF()
      .writeStream.format("memory").queryName("ev_paths_replay_q")
      .outputMode("update").start()
    try {
      input.addData(ev(1, 1, base, "view"), ev(1, 2, base + 60, "click"))
      q.processAllAvailable()
      // 10-day-old archived record: beyond resetS, but isolated
      input.addData(ev(1, 3, base - 10L * 86400L, "archived"))
      q.processAllAvailable()
      // the live chain must still complete
      input.addData(ev(1, 4, base + 120, "buy"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ev_paths_replay_q").collect().map(_.getString(0)).toSeq
    assert(got == Seq("view>click>buy"), s"got: $got")
  }

  test("event-time timers close sessions by watermark, matching the batch rule") {
    // sessions with a successor event close inline; each user's OPEN
    // tail closes only when the watermark passes lastEvent + gap — the
    // deterministic expectation: tail emitted iff its expiry is within
    // the final watermark (max event time, delay 0).
    val stream = StreamingOps.eventsStream(spark, streamDir)
    val mem = StreamingOps.runToMemory(
      StreamingOps.sessionTimers(spark, stream).toDF(),
      "ev_timer_session_q", OutputMode.Append, statePartitions = Some(8),
      extraConfs = Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    val got = mem.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val sess = graft.operators.Events.sessionize(spark, sfDir)
      .select($"user_id", $"session_id", $"session_start_s",
        $"session_end_s", $"n_events").collect()
    val lastSession = sess.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).max).toMap
    val wmMs = Tables.events(spark, sfDir)
      .agg(max($"ts")).head().getTimestamp(0).getTime
    val expected = sess.filter { r =>
      val isTail = r.getLong(1) == lastSession(r.getLong(0))
      !isTail || (r.getLong(3) + 1800L + 1L) * 1000L <= wmMs
    }.map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == expected,
      s"got=${got.size} expected=${expected.size}; " +
        s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("foreachBatch sink: complete delivery, and batch replay is idempotent") {
    val out = tempDir("fb-out")
    val ckpt = tempDir("fb-ckpt")
    val stream = StreamingOps.eventsStream(spark, streamDir)
      .select($"event_id", $"event_type", $"value")
    StreamingOps.runForeachBatch(stream, out, ckpt)
    val written = spark.read.option("basePath", out).parquet(out)
    val total = Tables.events(spark, sfDir).count()
    assert(written.count() == total)
    assert(written.select($"event_id").distinct().count() == total)
    // the exactly-once contract: re-running a batch with the same id
    // (what checkpoint recovery does after a crash mid-batch) must
    // leave the sink unchanged — overwrite-by-batch_id makes it so
    // partition-column inference types batch_id as int
    val batchIds = written.select($"batch_id").distinct()
      .collect().map(_.getAs[Number](0).longValue)
    val replayId = batchIds.min
    // materialize before replaying: parquet overwrite refuses a path
    // that is simultaneously its own input
    val batchPath = s"$out/batch_id=$replayId"
    val materialized = spark.read.parquet(batchPath).collect().toSeq
    val replayRows = spark.createDataFrame(
      spark.sparkContext.parallelize(materialized),
      spark.read.parquet(batchPath).schema)
    StreamingOps.batchIdempotentWriter(out)(replayRows, replayId)
    val after = spark.read.option("basePath", out).parquet(out)
    assert(after.count() == total, "batch replay must not duplicate rows")
  }

  test("streaming dedup drops exact duplicate events within the watermark") {
    // stage a dir containing the events twice (simulated re-delivery)
    val dup = tempDir("events-dup") + "/events"
    val ev = Tables.events(spark, sfDir)
    ev.union(ev).write.mode("overwrite").parquet(dup)
    val deduped = StreamingOps.runToMemory(
      StreamingOps.streamingDedup(
        StreamingOps.eventsStream(spark, dup), Seq("event_id"), "10 days"),
      "dedup_mem")
    assert(deduped.count() == ev.count())
    assert(deduped.select("event_id").distinct().count() == ev.count())
  }

  test("streaming incremental dedup == batch anti-join of the same split") {
    val got = StreamingOps.incrDedupViaStream(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // independent batch reference: plain anti-join, no bloom routing
    val hb = conv(substring(md5($"doc_id".cast("string")), 1, 3), 16, 10)
      .cast("long")
    val docs = Tables.documents(spark, sfDir).withColumn("hb", hb)
    val hist = docs.filter($"hb" < 3277).select(sha2($"text", 256).as("digest"))
    val want = docs.filter($"hb" >= 3277)
      .select($"doc_id", sha2($"text", 256).as("digest"))
      .join(hist, Seq("digest"), "left_anti")
      .select($"doc_id", $"digest").orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == want)
    assert(got.nonEmpty, "split produced no batch survivors — fixture broke")
    // and no survivor's digest may exist in history (exactness: the
    // bloom's false positives must be scrubbed by the anti-join)
    val histSet = hist.collect().map(_.getString(0)).toSet
    assert(got.forall { case (_, d) => !histSet(d) })
  }

  test("streaming incremental dedup plan: bloom kernel routes map-side, anti-join is stream-static broadcast") {
    StreamingOps.incrDedupViaStream(spark, sfDir)
    val p = StreamingOps.lastStreamPlan
    assert(p.nonEmpty, "runToMemory captured no plan")
    // the micro-batch plan must carry the bloom short-circuit (the
    // codegen'd might_contain kernel on the stream side — bloom
    // negatives never reach the join) and resolve the history anti-join
    // as a broadcast stream-static join; any shuffle of the stream side
    // into a SortMergeJoin would re-pay the history at every batch
    assert(p.contains("might_contain"), s"bloom routing missing:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"history anti-join must be broadcast stream-static:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "stream side must not shuffle against the static history")
  }

  test("streaming DSIR scoring == batch DSIR on the same corpus (shared frozen LM)") {
    // the kernel path (tokenize + md5-bucket + table lookup, no
    // explode/join/aggregation) must reproduce the batch SQL path's
    // (explode + broadcast join + groupBy) weights EXACTLY: table
    // entries are computed with the same operand order the SQL join
    // uses, so per-token contributions are bit-equal doubles
    val streamed = StreamingOps.dsirViaStream(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val batch = graft.operators.TextAnalysis.dsir(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(streamed.nonEmpty, "fixture produced no scored candidates")
    assert(streamed == batch)
  }

  test("streaming DSIR plan is stateless and join-free (the unbounded-ingestion shape)") {
    StreamingOps.dsirViaStream(spark, sfDir)
    val p = StreamingOps.lastStreamPlan
    assert(p.nonEmpty, "runToMemory captured no plan")
    assert(p.contains("graft_dsir_llr"), s"kernel missing from micro-batch plan:\n$p")
    assert(!p.contains("Join"), "scoring must not join per micro-batch")
    assert(!p.contains("StateStore"),
      "per-doc scoring must carry no streaming state")
    assert(!p.contains("Exchange"),
      "map-side scoring must not shuffle the stream")
  }

  test("streaming spans plan: stateless stream-static broadcast join, result == batch twin") {
    val got = StreamingOps.spansViaStream(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val p = StreamingOps.lastStreamPlan
    assert(p.nonEmpty, "runToMemory captured no plan")
    // the gram-index join must be stream-STATIC broadcast (history
    // builds once, the stream never shuffles into a sort-merge join)
    // and the micro-batch must carry no streaming state
    assert(p.contains("BroadcastHashJoin"), s"gram join must broadcast:\n$p")
    assert(!p.contains("StateStore"), "marking must carry no streaming state")
    val batch = graft.operators.Dedup.incrementalSpans(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == batch.toSeq, "stream twin diverged from batch")
  }

  test("streaming ANN serve plan: stateless stream-static join against the artifact lists") {
    StreamingOps.annServeViaStream(spark, sfDir)
    val p = StreamingOps.lastStreamPlan
    assert(p.nonEmpty, "runToMemory captured no plan")
    info(p.linesIterator.filter(l => l.contains("Join") || l.contains("Scan") ||
      l.contains("StateStore") || l.contains("Partition")).mkString("\n"))
    // each micro-batch of probes joins the STATIC lists table — the
    // probe side is bounded (numQueries × nProbe rows), so the join
    // must resolve as a broadcast, never a shuffle of the artifact
    assert(p.contains("BroadcastHashJoin"), s"probe join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "the artifact lists must not shuffle per micro-batch")
    // stateless Append: the artifact is static, matches emit once —
    // an unbounded probe stream accumulates no state
    assert(!p.contains("StateStore"), "serving must carry no streaming state")
    // and the corpus side is the persisted index, not an embeddings
    // re-read — read off the scan's root paths, which the printed plan
    // truncates under a long temp dir
    val lists = new java.io.File(graft.operators.Similarity.ivfIndexDir(spark, sfDir), "lists")
    val roots = StreamingOps.lastStreamExecutedPlan.toSeq.flatMap(flattenPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .flatMap(_.relation.location.rootPaths.map(_.toUri.getPath))
    assert(roots.contains(lists.getAbsolutePath),
      s"the static side must scan the persisted lists artifact: $roots")
  }

  test("streaming incremental dedup: empty history passes everything through") {
    // historyBuckets=0 → history is empty → the bloom builder returns
    // None and the stream must pass through unjoined
    val got = StreamingOps.incrDedupViaStream(spark, sfDir, historyBuckets = 0L)
    assert(got.count() == Tables.documents(spark, sfDir).count())
  }

  test("stream-stream purchase-click join matches batch range join") {
    val streamed = StreamingOps.runToMemory(
      StreamingOps.purchaseClickJoin(StreamingOps.eventsStream(spark, streamDir)),
      "ssjoin_mem")
      .select($"purchase_id", $"click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables.events(spark, sfDir)
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"ts".as("pts"), $"event_id".as("pid"))
    val c = ev.filter($"event_type" === "click")
      .select($"user_id".as("cu"), $"ts".as("cts"), $"event_id".as("cid"))
    val batch = p.join(c, $"pu" === $"cu" && $"cts" <= $"pts" &&
        $"cts" >= $"pts" - expr("INTERVAL 1 HOUR"))
      .select($"pid", $"cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("typed cogroup combines two corpora per key") {
    val a = Seq(("w1", "1"), ("w1", "1"), ("w2", "1")).toDS()
    val b = Seq(("w1", "1"), ("w3", "1")).toDS()
    val diff = graft.mr.MapReduce.cogroup(spark, a, b) { (k, ls, rs) =>
      Iterator.single(k -> (ls.size.toLong - rs.size.toLong))
    }.collect().toMap
    assert(diff == Map("w1" -> 1L, "w2" -> 1L, "w3" -> -1L))
  }

  test("batch sessionization: gaps within sessions ≤ 30min, between sessions > 30min") {
    val sessions = operators.Events.sessionize(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    sessions.groupBy(_._1).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, _, prevEnd), (_, _, nextStart, _)) =>
          assert(nextStart - prevEnd > 1800L)
        case _ =>
      }
    }
  }
}
