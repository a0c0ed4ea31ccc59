package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only plan/skew probe (not part of the driver contract). */
object Probe {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.threads
    val spark = GraftSession.build(s"local[$cpus]", cpus, "graft-probe")
    import spark.implicits._
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    if (args.lift(1).contains("jobs")) {
      // Per-JOB wall-clock decomposition of one registry query (dev
      // probe for the r21 optimization pass): run the query three
      // times through the bench's noop sink, and for the steady-state
      // third repetition print every Spark job's duration, stage and
      // task counts. This answers "where do the seconds go" for
      // queries whose cost is many small jobs (iterative loops,
      // localCheckpoint materializations, eager scalar actions) that
      // a single explain() cannot show.
      val name = args.lift(2).getOrElse(
        sys.error("usage: Probe <dir> jobs <query>"))
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, Int)]
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          starts.put(js.jobId, js.time)
          jobs.put(js.jobId, (0L, js.stageInfos.size, js.stageInfos.map(_.numTasks).sum))
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val st = Option(starts.get(je.jobId)).getOrElse(je.time)
          val prev = Option(jobs.get(je.jobId)).getOrElse((0L, 0, 0))
          jobs.put(je.jobId, (je.time - st, prev._2, prev._3))
        }
      }
      (1 to 3).foreach { rep =>
        jobs.clear(); starts.clear()
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        SparkEntry.run(spark, name, dir)(_.write.format("noop").mode("overwrite").save())
        val wall = (System.nanoTime() - t0) / 1e9
        // listener bus is async: drain BEFORE removing the listener —
        // events queued at run end are never delivered to a removed
        // listener (r21 ADVICE: tail jobs reported 0 ms)
        Thread.sleep(300)
        spark.sparkContext.removeSparkListener(listener)
        import scala.jdk.CollectionConverters._
        val js = jobs.asScala.toSeq.sortBy(_._1)
        val sum = js.map(_._2._1).sum / 1e3
        println(f"== $name rep $rep: wall $wall%.3f s, ${js.size} jobs, job-sum $sum%.3f s")
        if (rep == 3) js.foreach { case (id, (ms, nst, ntk)) =>
          println(f"  job $id%3d  ${ms / 1e3}%7.3f s  $nst%3d stages $ntk%5d tasks")
        }
      }
      spark.stop()
      return
    }
    if (args.lift(1).contains("streamprofile")) {
      // Per-micro-batch duration breakdown for the stream-stream join
      // (dev probe, round 22): run purchaseClickJoin through the same
      // memory-sink drain the registry query uses and print every
      // batch's StreamingQueryProgress JSON — the durationMs /
      // stateOperators fields say whether the seconds go to state
      // commits, offset-log I/O, or planning.
      val staged = streaming.StreamingOps.stageEventsDir(spark, dir,
        java.nio.file.Files.createTempDirectory("probe-sjoin").toString + "/events")
      val parts = args.lift(2).getOrElse("8")
      args.lift(3).foreach(p => spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", p))
      (1 to 3).foreach { rep =>
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", parts)
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
          spark.conf.set("spark.sql.shuffle.partitions", prev)
        }
      }
      spark.stop()
      return
    }
    if (args.lift(1).contains("plans")) {
      args.drop(2).foreach { q =>
        println(s"===== $q =====")
        SparkEntry.queries(q)(spark, dir).explain("formatted")
      }
      spark.stop()
      return
    }
    if (args.lift(1).contains("ivfserve")) {
      // Measure the train-once/serve-many decoupling pipe_ivf_serve
      // exists to buy: one timed artifact build (training + corpus
      // assignment + parquet write) vs N timed serves off the
      // artifact. The ratio is the amortization argument in
      // SCALING.md — at production list counts the gap only widens
      // (build scans the corpus; serve scans nProbe partitions).
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
        // than the one the registry serves (review r13)
        val (_, serveSec) = time(operators.Similarity.ivfServeTopK(spark, dir)
          .write.format("noop").mode("overwrite").save())
        println(f"ivf_serve_$i%d_sec=$serveSec%.3f")
      }
      spark.stop()
      return
    }
    if (args.lift(1).contains("plansmd")) {
      // ann_ivf_topk is excluded: its NearestCentroids kernel embeds the
      // centroid vectors as literals, which the plan printer dumps in
      // full (~MBs). Its zero-corpus-Exchange property is asserted in
      // PlanSpec instead. dd_incremental (bloom-filter literal),
      // dd_semantic (centroid literals) and the PQ pair
      // ann_pq_topk/ann_ivf_pq (16×256 codebook literals) are excluded
      // for the same reason; their shapes are asserted in
      // PlanSpec/DedupSpec (ivf×pq: cid equi-join + broadcast probes +
      // WindowGroupLimit, pinned in PlanSpec).
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
        // r13: the binaryFile lake twin of mm_media_meta, and
        // persisted-IVF serving + append-grown serving (centroid
        // literals are ≤ 16 cells here — safe for the printer,
        // unlike ann_ivf_topk's corpus)
        "mm_files_meta", "pipe_ivf_serve", "pipe_ivf_append",
        "pipe_ivf_sq8_serve",
        // r14: serving THROUGH the version manifest (the lifecycle's
        // closing verb; same bounded centroid literals)
        "pipe_ivf_reserve",
        // r15: the retention-GC lifecycle — serves through the same
        // manifest helper, so its plan must match reserve's shape
        "pipe_ivf_gc",
        // r16: the crawl-container family — binaryFile scan, map-side
        // parse/decode/extract, one Exchange (the contractual sort);
        // revisit resolution adds the family's one real join
        "src_warc", "src_warc_html", "snk_wet_roundtrip", "src_warc_revisit",
        "src_warc_cdx", "src_warc_fetch", "src_warc_serve", "src_warc_wat",
        "pipe_crawl_e2e",
        // r18: the compliance plane — directive parse + the corpus ×
        // rules longest-match join
        "src_warc_robots", "pipe_robots_filter", "pipe_fetch_schedule",
        // r19: the bucket-sharded frontier twin — its two bounded
        // windows and the counts join-back must show, not a
        // single-host sort
        "pipe_fetch_schedule_sharded",
        // r19: the governance rollup — one corpus aggregation plus
        // two small joins, no window
        "pipe_robots_audit",
        // r20: the discovery walk (announcement × capture joins, the
        // one-level index hop) and its freshness-ranked politeness
        // composition — the redirect-resolution joins show in every
        // robots plan above as reads of the ONE materialized winner
        // table
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
      spark.stop()
      return
    }
    if (args.lift(1).contains("zipf")) {
      // Zipf-stress measurement for the window-skew guard's claim: the
      // banned `count over (partition by term)` df form vs the shipped
      // groupBy partial-agg + join re-attach, over a corpus where a
      // planted token (`zzhot`, appended to EVERY doc) guarantees one
      // term whose df equals the corpus size — the deterministic stop
      // word. Replicas are RE-KEYED (fresh doc_ids) so the (doc, term)
      // frame actually grows with the replication factor; both forms
      // consume the SAME cached tc frame, so the timed delta is exactly
      // the df step. The window form funnels the hot term's K·|docs|
      // rows into ONE WindowExec task (AQE splits join partitions, not
      // window partitions); the aggregate absorbs them map-side into
      // 8 partials.
      // The frame is OCCURRENCE-level (one row per token occurrence,
      // the dd_spans geometry) — a per-(doc,term) collapse would cap
      // the hot key at one row per doc and mute the skew the guard
      // exists to catch. 20 planted occurrences per doc ≈ 30% of all
      // rows under ONE key: the real boilerplate/license-header
      // profile.
      def time2(f: => Unit): Double =
        (1 to 2).map { _ =>
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }.min
      val docs0 = Tables.documents(spark, dir)
        .select($"doc_id", concat($"text", lit(" zzhot" * 20)).as("text")).cache()
      docs0.count()
      def repKeyed(k: Int) = (0 until k).map(i =>
          docs0.select(($"doc_id" + lit(i * 10000000L)).as("doc_id"), $"text"))
        .reduce(_ union _)
      println(f"${"scale"}%-6s ${"rows(occ)"}%10s ${"cnt_window"}%10s ${"cnt_agg"}%10s ${"ratio"}%7s  (sec, noop sink, min of 2)")
      Seq(1, 10, 40, 80).foreach { k =>
        val occ = repKeyed(k)
          .select($"doc_id", explode_outer(split(lower($"text"), "\\s+")).as("term"))
          .filter($"term".isNotNull && $"term" =!= "")
          .cache()
        val n = occ.count()
        val tWin = time2 {
          occ.withColumn("cnt", count(lit(1)).over(
              org.apache.spark.sql.expressions.Window.partitionBy($"term")))
            .write.format("noop").mode("overwrite").save()
        }
        val tAgg = time2 {
          occ.join(occ.groupBy($"term").agg(count(lit(1)).as("cnt")), Seq("term"))
            .write.format("noop").mode("overwrite").save()
        }
        println(f"x$k%-5d $n%10d $tWin%10.2f $tAgg%10.2f ${tWin / tAgg}%7.2f")
        occ.unpersist()
      }
      spark.stop()
      return
    }
    if (args.lift(1).contains("scale")) {
      // Empirical scaling curve: representative operators over the sf0.1
      // tables replicated in-memory 1×/4×/10× (union of the same rows —
      // representative for scans/aggregations/joins/windows, where cost
      // is driven by row count; dedup/ANN are excluded because verbatim
      // duplication distorts their candidate structure). Near-linear
      // growth here is the measurable half of the 100 TB argument; the
      // plan-shape specs are the structural half.
      def rep(df: org.apache.spark.sql.DataFrame, k: Int) =
        (1 to k).map(_ => df).reduce(_ union _)
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val li = Tables.lineitem(spark, dir).cache(); li.count()
      val ev = Tables.events(spark, dir).cache(); ev.count()
      val docs = Tables.documents(spark, dir).cache(); docs.count()
      // optional trailing args select a subset of benches by name, so
      // newly added rows can be measured without re-running the table
      val only = args.drop(2).toSet
      println(f"${"query"}%-16s ${"x1"}%8s ${"x4"}%8s ${"x10"}%8s  (sec, noop sink, min of 2)")
      def bench(name: String, run: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                base: org.apache.spark.sql.DataFrame): Unit = {
        if (only.nonEmpty && !only.contains(name)) return
        val ts = Seq(1, 4, 10).map { k =>
          val in = rep(base, k)
          (1 to 2).map(_ => time(
            run(in).write.format("noop").mode("overwrite").save())).min
        }
        println(f"$name%-16s ${ts(0)}%8.2f ${ts(1)}%8.2f ${ts(2)}%8.2f")
      }
      import org.apache.spark.sql.functions._
      bench("wordcount", d => operators.WordCount.wordCount(d), docs)
      bench("q1_pricing_agg", d => d
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(round(sum($"l_extendedprice"), 2), count(lit(1))), li)
      bench("fact_join", d => d.groupBy($"l_orderkey").agg(sum($"l_quantity").as("q"))
        .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
        .select(count(lit(1)).as("n")), li)
      bench("tx_stats_map", d => d.select(
        functions.TextFunctions.textStatsCounts($"text").as("c")), docs)
      bench("window_session", d => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"ts", $"event_id")
        d.select($"user_id", $"ts", $"event_id",
          lag($"ts", 1).over(w).as("prev"))
      }, ev)
      // round-5 operators (inline proxies over the replicated frame —
      // the registry forms read their own tables; replicated doc_ids
      // collapse into the same groups, which distorts semantics but
      // not the row-count-driven cost being measured)
      bench("repetition_map", d => {
        val bg = functions.TextFunctions.tokenBigrams(lower($"text"))
        d.select($"doc_id", bg.as("bg"))
          .select($"doc_id", size($"bg").as("nb"),
            size(array_distinct($"bg")).as("nd"))
      }, docs)
      bench("tfidf", d => {
        // r11 shape: df via groupBy(term) partial-agg + join re-attach
        // (the window-df formulation is the banned Zipfian straggler)
        val w = org.apache.spark.sql.expressions.Window
        val terms = d.select($"doc_id",
            array_remove(split(lower($"text"), "\\s+"), "").as("toks"))
          .select($"doc_id", size($"toks").cast("long").as("len"),
            explode_outer($"toks").as("term"))
          .filter($"term".isNotNull)
        val tc = terms.groupBy($"doc_id", $"term")
          .agg(count(lit(1)).as("c"), first($"len").as("len"))
        val dfreq = tc.groupBy($"term")
          .agg(count(lit(1)).as("df"),
            max($"c").as("_mc"), max($"len").as("_ml"), max($"doc_id").as("_md"))
          .filter($"_mc" >= 0L && $"_ml" >= 0L && $"_md" >= Long.MinValue)
          .select($"term", $"df")
        tc.join(dfreq, Seq("term"))
          .withColumn("rk", row_number().over(
            w.partitionBy($"doc_id").orderBy($"c".desc, $"term")))
          .filter($"rk" <= 3)
      }, docs)
      bench("contamination", d => {
        val grams = functions.TextFunctions.tokenNgrams(lower($"text"), 4)
        val hbCol = conv(substring(md5($"doc_id".cast("string")), 1, 3), 16, 10)
          .cast("long")
        val benchSet = docs.filter(hbCol >= 3891)
          .select(explode(grams).as("gram")).distinct()
        d.filter(hbCol < 3686).select($"doc_id", explode(grams).as("gram"))
          .join(benchSet, "gram")
          .groupBy($"doc_id").agg(count_distinct($"gram").as("n_hits"))
      }, docs)
      bench("segment_dedup", d => {
        val segs = d.select($"doc_id",
          posexplode(functions.TextFunctions.tokenSegments($"text", 8))
            .as(Seq("seg_idx", "seg")))
        val dup = segs.groupBy(md5($"seg").as("k"))
          .agg(count_distinct($"doc_id").as("nd")).filter($"nd" >= 2)
        segs.join(dup, md5($"seg") === $"k", "left")
          .groupBy($"doc_id").agg(count(lit(1)).as("n_segs"),
            sum(when($"nd".isNotNull, 1L).otherwise(0L)).as("n_dup"))
      }, docs)
      bench("mixture", d => {
        val per = d.select($"source",
            functions.TextFunctions.textStatsCounts($"text").getItem(1).as("nt"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tokens"))
        per.agg(collect_list(struct($"source", $"n_docs", $"n_tokens")).as("rows"),
            sum($"n_tokens").cast("double").as("t"),
            sum(pow($"n_tokens".cast("double"), 0.5)).as("z"))
          .select(explode($"rows").as("r"), $"t", $"z")
      }, docs)
      bench("compress_map", d => d.select($"doc_id",
        octet_length($"text").cast("long").as("nb"),
        functions.TextFunctions.deflateLen($"text").as("dl")), docs)
      bench("gopher_map", d => d.select($"doc_id",
        functions.TextFunctions.gopherCounts($"text").as("g")), docs)
      bench("pii_scrub", d => {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val url = "https?://[^ \\t\\n\\r]+"
        val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
        d.select($"doc_id", md5(
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            $"text", email, "<EMAIL>"), url, "<URL>"), ip, "<IP>"),
            "[0-9]{3,}", "<NUM>")).as("m"))
      }, docs)
      bench("bpe_encode", d => {
        val merges = functions.BpeTokenizer.train(
          Seq("the" -> 500L, "and" -> 300L, "parquet" -> 50L, "spark" -> 40L), 20)
        d.select($"doc_id",
          functions.BpeFunctions.bpeCount(lower($"text"), merges).as("n"))
      }, docs)
      bench("lm_score", d => {
        def bi(f: org.apache.spark.sql.DataFrame) = f.select($"doc_id",
          explode(functions.TextFunctions.tokenBigrams(lower($"text"))).as("bigram"))
        val lm = bi(docs).groupBy($"bigram").agg(count(lit(1)).as("bc"))
          .orderBy($"bc".desc, $"bigram").limit(100000)
        val uni = docs.select(
            explode(functions.TextFunctions.tokenNgrams(lower($"text"), 1)).as("prefix"))
          .groupBy($"prefix").agg(count(lit(1)).as("uc"))
        bi(d).join(lm, Seq("bigram"), "left")
          .withColumn("prefix", substring_index($"bigram", " ", 1))
          .join(uni, "prefix")
          .groupBy($"doc_id").agg(count(lit(1)).as("n"),
            sum(log((coalesce($"bc", lit(0L)) + lit(1L)).cast("double") /
              ($"uc" + lit(1000L)).cast("double"))).as("s"))
      }, docs)
      // round-7 operators: the repetition battery and classifier are
      // pure per-row folds (composition forms run verbatim); the
      // source cap is one window shuffle keyed on source
      bench("rep_battery_map", d => operators.TextAnalysis
        .withRepetitionSignals(d).select($"doc_id", $"rep_keep"), docs)
      bench("classifier_map", d => {
        val f = operators.TextAnalysis.withGopherSignals(
          operators.TextAnalysis.withQualityScore(d))
        f.select($"doc_id",
          ($"len_score" * 1.5 + $"stop_ratio" * 3.0 - $"punct_ratio" * 4.0 +
            $"alpha_frac" - $"symbol_ratio" * 5.0).as("logit"))
      }, docs)
      bench("source_cap", d => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"source").orderBy($"quality".desc, $"doc_id")
        operators.TextAnalysis.withQualityScore(d)
          .select($"doc_id", $"source", $"quality")
          .withColumn("rk", row_number().over(w)).filter($"rk" <= 10)
      }, docs)
      // round-8: DSIR scoring's corpus-side cost is the map-side
      // kernel pass (tokenize + md5 + table lookup per token); the LM
      // artifact builds once outside the timed loop, as at 100 TB
      val dsirTable = operators.TextAnalysis.dsirLlrTable(spark, dir)
      bench("dsir_kernel_map", d => d.select($"doc_id",
        functions.TextFunctions.dsirLlr(lower($"text"), dsirTable).as("r")), docs)
      // round-8/9 families (the verdict's "measured, not prose" ask).
      // Inline proxies like the round-5 block: union-replication means
      // "the same corpus ingested k times" — replicated doc_ids join
      // the same gram groups (span marking unchanged, marked rows ×k)
      // and replicated event_ids collapse into the same user windows;
      // semantics distort, the row-count-driven cost being measured
      // does not.
      bench("span_pipeline", d => {
        // dd_spans/dd_span_stats shared shape: one gram Exchange, flag
        // agg + inner-join re-attach, per-doc island-merge windows
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"pos")
        val shuffled = d.select($"doc_id",
            functions.TextFunctions.tokenNgrams(lower($"text"), 4).as("grams"))
          .select($"doc_id", size($"grams").cast("long").as("n_grams"),
            posexplode_outer($"grams").as(Seq("pos", "gram")))
          .filter($"gram".isNotNull)
          .repartition($"gram")
        val crossDoc = shuffled.groupBy($"gram")
          .agg(min($"doc_id").as("dmin"), max($"doc_id").as("dmax"),
            max($"pos").as("_mp"), max($"n_grams").as("_mg"))
          .filter($"dmin" =!= $"dmax" && $"_mp" >= 0 && $"_mg" >= 0L)
          .select($"gram")
        shuffled.join(crossDoc, Seq("gram"))
          .withColumn("brk",
            when($"pos" - lag($"pos", 1).over(w) <= 4, 0L).otherwise(1L))
          .withColumn("island", sum($"brk").over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .groupBy($"doc_id", $"island")
          .agg(min($"pos").as("s"), max($"pos").as("e"), count(lit(1)).as("nw"))
      }, docs)
      bench("bm25_arm", d => {
        // tx_rrf's corpus-scaling side (the dense arm is the already-
        // probed ANN family; fusion is 2·candK·queries rows, constant).
        // r11 shape: query-term set prunes the exploded tokens BEFORE
        // the (doc, term) shuffle; df via groupBy + broadcast re-attach
        val w = org.apache.spark.sql.expressions.Window
        val qwords = Seq("join", "merge", "sort", "window", "agg",
          "scan", "column", "order")
        val qterms = qwords.zipWithIndex
          .map { case (t, i) => (i.toLong % 3, t) }.toDF("query_id", "term")
        val toks = d.select($"doc_id",
          functions.TextFunctions.tokenNgrams(lower($"text"), 1).as("toks"))
        val tf = toks
          .select($"doc_id", size($"toks").cast("double").as("dl"),
            explode_outer($"toks").as("term"))
          .filter($"term".isNotNull)
          .join(broadcast(qwords.toDF("term")), Seq("term"))
          .groupBy($"doc_id", $"term")
          .agg(count(lit(1)).cast("double").as("tf"), first($"dl").as("dl"))
        val dfreq = tf.groupBy($"term")
          .agg(count(lit(1)).cast("double").as("df"),
            max($"tf").as("_mt"), max($"dl").as("_md"), max($"doc_id").as("_mi"))
          .filter($"_mt" >= 0.0 && $"_md" >= 0.0 && $"_mi" >= Long.MinValue)
          .select($"term", $"df")
          .limit(qwords.size)
        tf.join(broadcast(dfreq), Seq("term"))
          .join(broadcast(qterms), Seq("term"))
          .withColumn("score", $"tf" / ($"tf" + 0.5 + $"dl" * 1.5 / 100.0) * $"df")
          .withColumn("rk", row_number().over(
            w.partitionBy($"query_id").orderBy($"score".desc, $"doc_id")))
          .filter($"rk" <= 20)
      }, docs)
      bench("ev_transitions", d => {
        val w = org.apache.spark.sql.expressions.Window
        val byUser = w.partitionBy($"user_id").orderBy($"ts", $"event_id")
        d.select($"user_id", $"event_type", $"ts", $"event_id")
          .withColumn("from_type", lag($"event_type", 1).over(byUser))
          .withColumn("from_s", lag(unix_timestamp($"ts"), 1).over(byUser))
          .filter($"from_type".isNotNull &&
            unix_timestamp($"ts") - $"from_s" <= 1800L)
          .groupBy($"from_type", $"event_type".as("to_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p_ppm", expr(
            "n * 1000000L div sum(n) over (partition by from_type)"))
      }, ev)
      bench("pipe_scd2", d => {
        val w = org.apache.spark.sql.expressions.Window
        val ord = w.partitionBy($"user_id").orderBy($"ts", $"event_id")
        d.select($"user_id", $"event_type", $"ts", $"event_id")
          .withColumn("prev_type", lag($"event_type", 1).over(ord))
          .filter($"prev_type".isNull || $"prev_type" =!= $"event_type")
          .withColumn("version", row_number().over(ord))
          .withColumn("valid_from_s", unix_timestamp($"ts"))
          .withColumn("valid_to_s",
            lead(unix_timestamp($"ts"), 1).over(ord) - 1L)
      }, ev)
      // round-10 families (same inline-proxy discipline; the
      // containment pair is excluded with the other dedup ops —
      // verbatim replication multiplies band-bucket membership and
      // measures a different candidate structure)
      bench("ev_anomaly", d => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy($"event_type")
        val ep = unix_timestamp($"ts")
        val b = d.select($"event_type", (ep - ep % 3600).as("bucket_s"))
          .groupBy($"event_type", $"bucket_s").agg(count(lit(1)).as("n"))
        val k = count(lit(1)).over(w).cast("double")
        val s1 = sum($"n").over(w).cast("double")
        val s2 = sum($"n" * $"n").over(w).cast("double")
        b.withColumn("mean", s1 / k)
          .withColumn("variance", (s2 - s1 * s1 / k) / k)
          .filter($"variance" > 0.0)
          .withColumn("z", ($"n".cast("double") - $"mean") / sqrt($"variance"))
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy($"event_type").orderBy($"z".desc, $"bucket_s")))
          .filter($"rk" <= 3)
      }, ev)
      bench("ev_rfm", d => {
        val sec = unix_timestamp($"ts")
        val maxTs = d.agg(max(sec)).head.getLong(0)
        d.groupBy($"user_id").agg(
          count(lit(1)).as("f"),
          sum(round($"value" * 100.0).cast("long")).as("m_cents"),
          expr(s"($maxTs - max(unix_timestamp(ts))) div 86400").as("r_days"))
      }, ev)
      bench("ev_paths", d => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"ts", $"event_id")
        val sec = unix_timestamp($"ts")
        d.select($"user_id", $"event_type", $"ts", $"event_id")
          .withColumn("t0", sec)
          .withColumn("e1", lag($"event_type", 1).over(w))
          .withColumn("t1", lag(sec, 1).over(w))
          .withColumn("e2", lag($"event_type", 2).over(w))
          .withColumn("t2", lag(sec, 2).over(w))
          .filter($"e2".isNotNull && $"t1" - $"t2" <= 1800L && $"t0" - $"t1" <= 1800L)
          .select(concat_ws(">", $"e2", $"e1", $"event_type").as("path"))
          .groupBy($"path").agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"path").limit(10)
      }, ev)
      bench("pipe_curriculum", d => {
        val logit = lit(-2.25) + $"len_score" * 1.5 + $"stop_ratio" * 3.0 -
          $"punct_ratio" * 4.0 + $"alpha_frac" * 1.0 - $"symbol_ratio" * 5.0
        val base = operators.TextAnalysis.withGopherSignals(
            operators.TextAnalysis.withQualityScore(d))
          .select($"doc_id", (floor(logit * 10000.0) / 10000.0).as("logit"))
          .withColumn("phase",
            when($"logit" > 0.3, 2L).when($"logit" > 0.0, 1L).otherwise(0L))
          .withColumn("shard", pmod($"doc_id", lit(8)).cast("long"))
        base.withColumn("seq", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"phase", $"shard").orderBy($"logit".desc, $"doc_id")).cast("long"))
      }, docs)
      // round-11 rows (the r10 verdict's missing Probe coverage)
      bench("ev_stickiness", d => {
        // coverage-explode shape: 7×|user-days| rows into plain
        // count-distinct aggs — no range join, no sliding distinct
        val day = expr("unix_timestamp(ts) div 86400")
        val ud = d.select($"user_id", day.as("day")).distinct()
        val dau = ud.groupBy($"day").agg(count(lit(1)).as("dau"))
        val wau = ud.select($"user_id",
            explode(sequence($"day", $"day" + 6L)).as("day"))
          .distinct().groupBy($"day").agg(count(lit(1)).as("wau"))
        dau.join(wau, Seq("day"))
          .select($"day", expr("dau * 1000000L div wau").as("s"))
      }, ev)
      bench("lang_audit", d => {
        // map-side detector pass; matrix partial-aggs to ≤|langs|² cells
        val counts = functions.TextFunctions.tokenSetCounts(lower($"text"), Seq(
          Seq("the", "and", "of", "to", "is", "in"),
          Seq("der", "die", "das", "und", "ist", "nicht"),
          Seq("el", "la", "de", "que", "y", "es"),
          Seq("le", "la", "de", "et", "est", "les")))
        val Seq(en, de, es, fr) = (1 to 4).map(i => $"cnts".getItem(i))
        val best = greatest(en, de, es, fr)
        d.select($"lang", counts.as("cnts"))
          .select($"lang".as("labeled_lang"),
            when(best === 0, "und").when(en === best, "en")
              .when(de === best, "de").when(es === best, "es")
              .otherwise("fr").as("pred_lang"))
          .groupBy($"labeled_lang", $"pred_lang").agg(count(lit(1)).as("n"))
          .withColumn("share_ppm", expr(
            "n * 1000000L div sum(n) over (partition by labeled_lang)"))
      }, docs)
      bench("mm_resize", d => {
        // typed mapPartitions pipeline over real container payloads
        // (encode → parse → NN-resample → re-encode), pure map-side
        val media = operators.Multimodal.mediaFromDocs(d)
        operators.Multimodal.resize(media, 24)
          .map(r => (r.media_id, r.kind, r.payload.length.toLong))
          .toDF("media_id", "kind", "kept_bytes")
      }, docs)
      // the PQ family's corpus-side cost is the map-side
      // encode + asymmetric-distance scan (row-count driven, so the
      // replication probe IS representative here, unlike the bucketed
      // ANN paths); codebooks train once on a bounded sample, outside
      // the timed loop, exactly as at 100 TB
      val embT = Tables.embeddings(spark, dir)
        .selectExpr("vec_id", "cast(embedding as array<double>) as embedding")
        .cache(); embT.count()
      val books = operators.Similarity.pqTrain(spark, embT)
      val q0 = embT.filter($"vec_id" === 0L)
        .select($"embedding").head.getSeq[Double](0)
      bench("pq_encode_score", d => d.select($"vec_id",
        functions.VectorFunctions.cosinePqAsym(typedLit(q0),
          functions.VectorFunctions.pqEncode($"embedding", books),
          books).as("s")), embT)
      spark.stop()
      return
    }
    val docs = Tables.documents(spark, dir)
    val sig = operators.Dedup.minhashSig(
      operators.Dedup.normText($"text"), 5, 16)
    val t0 = System.nanoTime()
    val signed = docs.select($"doc_id", sig.as("sig")).cache()
    println(s"n_docs=${signed.count()} sig_time=${(System.nanoTime()-t0)/1e9}")
    val bandHashes = array((0 until 4).map(b =>
      xxhash64(lit(b), slice($"sig", b * 4 + 1, 4))): _*)
    val banded = signed.select($"doc_id",
      posexplode(bandHashes).as(Seq("band", "bucket"))).cache()
    banded.groupBy($"band", $"bucket").count()
      .select(sum($"count" * ($"count" - 1) / 2).as("cand_pairs"),
        max($"count").as("max_bucket")).show()
    spark.stop()
  }
}
