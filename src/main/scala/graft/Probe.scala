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
      |  streamprofile [partitions] [provider]
      |                                     per-batch progress of the stream-stream join
      |  plans <query>...                   formatted physical plans
      |  plansmd                            regenerate PLANS.md
      |  ivfserve                           IVF artifact build vs serve times""".stripMargin

  private val modes = Set("jobs", "streamprofile", "plans", "plansmd", "ivfserve")

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
      case "streamprofile" => streamProfile(spark, dir, args.lift(2).getOrElse("8"),
        args.lift(3))
      case "plans" => args.drop(2).foreach { q =>
        println(s"===== $q =====")
        SparkEntry.queries(q)(spark, dir).explain("formatted")
      }
      case "plansmd" => plansMd(spark, dir)
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
    * offset-log I/O, or planning. */
  private def streamProfile(spark: SparkSession, dir: String, parts: String,
                            provider: Option[String]): Unit = {
    val staged = streaming.StreamingOps.stagedDir(spark, dir)
    val confs = Seq("spark.sql.shuffle.partitions" -> parts) ++
      provider.map("spark.sql.streaming.stateStore.providerClass" -> _)
    (1 to 3).foreach { rep =>
      GraftSession.withConfs(spark, confs: _*) {
        val t0 = System.nanoTime()
        val q = streaming.StreamingOps.purchaseClickJoin(
            streaming.StreamingOps.eventsStream(spark, staged))
          .writeStream.format("memory").queryName(s"probe_sjoin_$rep")
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
    * nProbe partitions). */
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

  /** Regenerate PLANS.md. ann_ivf_topk is excluded: its
    * NearestCentroids kernel embeds the centroid vectors as literals,
    * which the plan printer dumps in full (~MBs). Its zero-corpus-
    * Exchange property is asserted in PlanSpec instead. dd_incremental
    * (bloom-filter literal), dd_semantic (centroid literals) and the PQ
    * pair ann_pq_topk/ann_ivf_pq (16×256 codebook literals) are
    * excluded for the same reason; their shapes are asserted in
    * PlanSpec/DedupSpec. */
  private def plansMd(spark: SparkSession, dir: String): Unit = {
    val queries = Seq("wc_wordcount", "q1_pricing", "q3_join_broadcast",
      "q5_star_join", "q8_window_topk", "q23_window_features",
      "q24_bloom_prune",
      "dd_minhash_lsh", "dd_clusters", "ann_lsh_topk",
      "tx_bigrams", "tx_pack", "tx_stratified", "ev_interval_join",
      "pipe_e2e", "tx_tfidf", "tx_repetition", "tx_contamination",
      "tx_lm_score", "dd_segments", "tx_mixture", "tx_compress",
      "tx_gopher", "tx_pii", "pipe_datacard", "mm_phash_dup",
      "dd_cdc", "dd_incremental_fuzzy", "tx_bm25",
      "tx_gopher_rep", "tx_quality_lr", "tx_source_cap", "tx_dsir",
      "pipe_select", "pipe_merge", "dd_spans", "tx_rrf",
      "dd_source_overlap", "ev_retention", "dd_span_stats", "tx_ccnet",
      "tx_rrf_ann", "dd_excise", "dd_source_overlap_mh", "ev_anomaly",
      "ev_rfm", "ev_paths", "pipe_curriculum", "dd_containment",
      "dd_lsh_containment", "q25_lateral", "ev_gapfill",
      "dd_spans_incremental",
      "ev_stickiness", "tx_lang_audit", "mm_resize", "dd_idx_containment",
      "pipe_index", "ev_variant", "mm_media_meta", "mm_frame_sample",
      // the binaryFile lake twin of mm_media_meta, and persisted-IVF
      // serving + append-grown serving (centroid literals are ≤ 16
      // cells here — safe for the printer, unlike ann_ivf_topk's corpus)
      "mm_files_meta", "pipe_ivf_serve", "pipe_ivf_append",
      "pipe_ivf_sq8_serve",
      // serving THROUGH the version manifest, and the retention-GC
      // lifecycle, which serves through the same manifest helper
      "pipe_ivf_reserve", "pipe_ivf_gc",
      // the crawl-container family — binaryFile scan, map-side
      // parse/decode/extract, one Exchange (the contractual sort);
      // revisit resolution adds the family's one real join
      "src_warc", "src_warc_html", "snk_wet_roundtrip", "src_warc_revisit",
      "src_warc_cdx", "src_warc_fetch", "src_warc_serve", "src_warc_wat",
      "pipe_crawl_e2e",
      // the compliance plane — directive parse + the corpus × rules
      // longest-match join; the bucket-sharded frontier twin (its two
      // bounded windows and the counts join-back must show, not a
      // single-host sort); the governance rollup
      "src_warc_robots", "pipe_robots_filter", "pipe_fetch_schedule",
      "pipe_fetch_schedule_sharded", "pipe_robots_audit",
      // the discovery walk and its freshness-ranked politeness
      // composition
      "src_sitemap_urls", "pipe_sitemap_schedule")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries (sf0.001)\n\n")
    sb.append("Generated by `sbt \"runMain graft.Probe <sfDir> plansmd\"`. What to\n")
    sb.append("look for: `PushedFilters`/`ReadSchema` at every parquet scan,\n")
    sb.append("`HashAggregate(partial_*)` before each `Exchange`, explicit\n")
    sb.append("`BroadcastHashJoin BuildRight` on dimension joins,\n")
    sb.append("`WindowGroupLimit` under ranking filters, and no\n")
    sb.append("`BroadcastNestedLoopJoin`/`CartesianProduct` anywhere.\n")
    sb.append("NOTE: these are STATIC plans — AQE exchange reuse (dd_spans,\n")
    sb.append("dd_source_overlap, tx_tfidf, tx_bm25) materializes only at\n")
    sb.append("runtime, so a shared subtree prints twice here; the\n")
    sb.append("single-scan/ReusedExchange property is pinned on EXECUTED\n")
    sb.append("plans in PlanSpec.\n")
    queries.foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $q\n\n```\n$formatted```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${queries.size} plans)")
  }
}
