package graft

import org.apache.spark.sql.SparkSession

/** Dev-only plan and timing probe (not part of the driver contract).
  * Every mode runs registry queries through `SparkEntry.queries` /
  * `SparkEntry.run`, or named engine functions; none builds a plan of
  * its own, so what it prints describes the code the registry runs. */
object Probe {
  private val usage =
    """usage: Probe <sfDir> <mode> [args]
      |  jobs <query>                       per-job wall time of one registry query
      |  streamprofile [provider]           per-batch progress of the stream-stream join,
      |                                     at the state partitions the registry runs
      |  plans <query>...                   formatted physical plans
      |  ivfserve                           IVF artifact build vs serve times""".stripMargin

  private val modes = Set("jobs", "streamprofile", "plans", "ivfserve")

  def main(args: Array[String]): Unit = {
    if (args.length < 2 || !modes(args(1))) {
      System.err.println(usage)
      sys.exit(2)
    }
    val dir = args(0)
    val cpus = GraftSession.threads
    val spark = GraftSession.build(s"local[$cpus]", cpus, "graft-probe")
    try args(1) match {
      case "jobs" => jobs(spark, dir, args.lift(2).getOrElse(
        sys.error("usage: Probe <dir> jobs <query>")))
      case "streamprofile" => streamProfile(spark, dir, args.lift(2))
      case "plans" => args.drop(2).foreach { q =>
        println(s"===== $q =====")
        SparkEntry.queries(q)(spark, dir).explain("formatted")
      }
      case "ivfserve" => ivfServe(spark, dir)
    } finally spark.stop()
  }

  /** Per-JOB wall-clock decomposition of one registry query: run the
    * query three times through the bench's noop sink, and for the
    * steady-state third repetition print every Spark job's duration,
    * stage and task counts. This answers "where do the seconds go" for
    * queries whose cost is many small jobs (iterative loops,
    * localCheckpoint materializations, eager scalar actions) that a
    * single explain() cannot show. */
  private def jobs(spark: SparkSession, dir: String, name: String): Unit = {
    // job id -> (start, ms, stages, tasks); the listener bus writes it
    val jobs = scala.collection.mutable.Map.empty[Int, (Long, Long, Int, Int)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs(js.jobId) = (js.time, 0L, js.stageInfos.size, js.stageInfos.map(_.numTasks).sum)
        }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.get(je.jobId).foreach { case (st, _, nst, ntk) =>
            jobs(je.jobId) = (st, je.time - st, nst, ntk)
          }
        }
    }
    (1 to 3).foreach { rep =>
      jobs.synchronized(jobs.clear())
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      SparkEntry.run(spark, name, dir)(_.write.format("noop").mode("overwrite").save())
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async: drain BEFORE removing the listener —
      // events queued at run end are never delivered to a removed
      // listener (tail jobs would report 0 ms)
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      val js = jobs.synchronized(jobs.toSeq).sortBy(_._1)
      val sum = js.map(_._2._2).sum / 1e3
      println(f"== $name rep $rep: wall $wall%.3f s, ${js.size} jobs, job-sum $sum%.3f s")
      if (rep == 3) js.foreach { case (id, (_, ms, nst, ntk)) =>
        println(f"  job $id%3d  ${ms / 1e3}%7.3f s  $nst%3d stages $ntk%5d tasks")
      }
    }
  }

  /** Per-micro-batch duration breakdown for the stream-stream join: run
    * purchaseClickJoin over the events dir the ev_stream_* queries stage
    * (owned by `graft.Artifacts`) through a memory-sink drain and print
    * every batch's StreamingQueryProgress JSON — the durationMs /
    * stateOperators fields say whether the seconds go to state commits,
    * offset-log I/O, or planning. The join runs the state partitions
    * `runToMemory` would give it; `provider` swaps the state store. */
  private def streamProfile(spark: SparkSession, dir: String, provider: Option[String]): Unit = {
    val staged = streaming.StreamingOps.stagedDir(spark, dir)
    (1 to 3).foreach { rep =>
      val joined = streaming.StreamingOps.purchaseClickJoin(
        streaming.StreamingOps.eventsStream(spark, staged))
      val confs = Seq("spark.sql.shuffle.partitions" ->
        streaming.StreamingOps.streamShufflePartitions(joined).toString) ++
        provider.map("spark.sql.streaming.stateStore.providerClass" -> _)
      GraftSession.withConfs(spark, confs: _*) {
        val t0 = System.nanoTime()
        val q = joined.writeStream.format("memory").queryName(s"probe_sjoin_$rep")
          .outputMode("append").start()
        try q.processAllAvailable() finally {
          val wall = (System.nanoTime() - t0) / 1e9
          println(f"== streamprofile rep $rep wall $wall%.3f s")
          q.recentProgress.foreach(p => println(p.json))
          q.stop()
        }
      }
    }
  }

  /** Measure the train-once/serve-many decoupling pipe_ivf_serve exists
    * to buy: one timed artifact build (training + corpus assignment +
    * parquet write) vs N timed serves off the artifact. The ratio is
    * the amortization argument in SCALING.md — at production list
    * counts the gap only widens (build scans the corpus; serve scans
    * `NProbe` partitions). */
  private def ivfServe(spark: SparkSession, dir: String): Unit = {
    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val (idx, buildSec) = time(operators.Similarity.ivfIndexDir(spark, dir))
    println(f"ivf_build_sec=$buildSec%.3f dir=$idx")
    (1 to 5).foreach { i =>
      // noop sink, same as Bench: count() would let Catalyst prune
      // computed columns / the final sort and time a cheaper plan
      // than the one the registry serves
      val (_, serveSec) = time(operators.Similarity.ivfServeTopK(spark, dir)
        .write.format("noop").mode("overwrite").save())
      println(f"ivf_serve_$i%d_sec=$serveSec%.3f")
    }
  }
}
