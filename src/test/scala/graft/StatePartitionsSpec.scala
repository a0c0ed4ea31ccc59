package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A stream's state partitions are derived from its input (one per
  * advisory partition size of source files, at least 2, at most the
  * session's shuffle partitions), never set per query. */
class StatePartitionsSpec extends SparkSpec {
  private val advisory = 64L << 20

  test("state-partition rule: tiny input → 2, 10 advisory sizes → 10, a petabyte → the cap") {
    import StreamingOps.shufflePartitionsFor
    assert(shufflePartitionsFor(0L, advisory, 200) == 2)
    assert(shufflePartitionsFor(17000000L, advisory, 200) == 2)
    assert(shufflePartitionsFor(10 * advisory, advisory, 1000) == 10)
    assert(shufflePartitionsFor(10 * advisory + 1, advisory, 1000) == 11)
    assert(shufflePartitionsFor(1L << 50, advisory, 1000) == 1000)
    // a session with fewer shuffle partitions than the floor keeps its own
    assert(shufflePartitionsFor(0L, advisory, 1) == 1)
  }

  test("a stream's input bytes are the files under its file sources, not its static sides") {
    val dir = tempDir("state-parts") + "/events"
    Tables.events(spark, sfDir).repartition(3).write.parquet(dir)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    // data files only: Hadoop's local file system hides its .crc files
    val onDisk = try walk.filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("."))
      .mapToLong(java.nio.file.Files.size(_)).sum() finally walk.close()
    val stream = StreamingOps.eventsStream(spark, dir)
    assert(onDisk > 0 && StreamingOps.fileSourceBytes(stream) == onDisk)
    val withStatic = stream.join(Tables.events(spark, sfDir).select(col("event_id")), "event_id")
    assert(StreamingOps.fileSourceBytes(withStatic) == onDisk)
    assert(StreamingOps.fileSourceBytes(spark.readStream.format("rate").load()) == 0L)
  }

  test("ev_stream_tumbling's state operator runs 2 partitions at fixture size") {
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val parts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.name == "ev_stream_tumbling_q") ids.add(e.id)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (ids.contains(e.progress.id))
          e.progress.stateOperators.foreach(op => parts.add(op.numShufflePartitions))
      // the listener bus delivers a query's events in order, so its
      // progress is all in once it terminates
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (ids.contains(e.id)) done.countDown()
    }
    spark.streams.addListener(listener)
    try {
      StreamingOps.tumblingViaStream(spark, sfDir)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "ev_stream_tumbling_q never reported termination")
    } finally spark.streams.removeListener(listener)
    assert(!parts.isEmpty, "no state-operator progress reported")
    assert(parts.toArray.toSet == Set(2L), s"state partitions per progress: $parts")
  }
}
