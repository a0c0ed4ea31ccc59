package graft

import graft.operators.{Relational, WordCount}
import org.apache.spark.sql.functions.{col, lower}

/** Plan-shape assertions: the properties that matter at 100 TB must be
  * visible in the physical plan, not assumed — filter/projection
  * pushdown to the parquet scan, explicit broadcast of dimension
  * tables, map-side partial aggregation, and top-k without a global
  * sort. */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q2 pushes predicates and prunes columns at the parquet scan") {
    val p = plan(Relational.q2FilterProject(spark, sfDir))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_quantity,45.0"), p)
    // pruned read schema: none of the 7 untouched columns are read
    assert(!p.contains("l_extendedprice"), "scan should not read l_extendedprice")
    assert(!p.contains("l_returnflag"), "scan should not read l_returnflag")
  }

  test("q3 broadcasts the customer dimension") {
    val p = plan(Relational.q3JoinBroadcast(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("word count plans a map-side partial aggregate before the shuffle") {
    val p = plan(WordCount.wordCount(Tables.documents(spark, sfDir)))
    assert(p.contains("partial_count"), p)
  }

  test("word count tokenizes in one kernel pass; drop-empty Filter and partial_count stay") {
    import org.apache.spark.sql.catalyst.expressions.{RegExpReplace, StringSplit}
    import org.apache.spark.sql.execution.{FilterExec, GenerateExec}
    val df = WordCount.wordCount(Tables.documents(spark, sfDir))
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    val exprs = nodes.flatMap(_.expressions).flatMap(_.collect { case e => e })
    assert(!exprs.exists(e => e.isInstanceOf[RegExpReplace] || e.isInstanceOf[StringSplit]),
      df.queryExecution.executedPlan.toString)
    val gens = nodes.collect { case g: GenerateExec => g }
    assert(gens.size == 1 && gens.head.generator.children.head.isInstanceOf[graft.functions.WordTokens],
      df.queryExecution.executedPlan.toString)
    // the kernel runs once per row: no inferred Filter re-evaluates it
    assert(exprs.count(_.isInstanceOf[graft.functions.WordTokens]) == 1)
    assert(nodes.exists {
      case f: FilterExec => f.condition.references.exists(_.name == "word")
      case _ => false
    }, "the drop-empty filter on word must stay in the plan")
    assert(df.queryExecution.executedPlan.toString.contains("partial_count"))
  }

  test("global top-k compiles to TakeOrderedAndProject (no full sort)") {
    val p = plan(Relational.q15TopK(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("interval join plans as an equi-join, not a nested loop") {
    val p = plan(graft.operators.Events.intervalJoinSessions(spark, sfDir))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join") || p.contains("join"), p)
  }

  test("IVF centroid assignment is map-side: no Exchange keyed on vec_id") {
    // Round 1 assigned centroids via Window.partitionBy(vec_id), which
    // shuffled the whole corpus (embeddings included) to take an argmax
    // over 16 broadcast centroids. The NearestCentroids kernel makes
    // assignment embarrassingly parallel; the only remaining exchanges
    // key on the (tiny) query side, never the corpus row id.
    val p = plan(graft.operators.Similarity.ivfTopK(spark, sfDir))
    assert(!p.contains("hashpartitioning(vec_id"), p)
    assert(p.contains("BroadcastHashJoin"), p) // probes broadcast to the corpus
    // the IVF×SQ8 composition inherits the same probe plumbing — the
    // quantized corpus must not shuffle either
    val pq = plan(graft.operators.Similarity.ivfSq8TopK(spark, sfDir))
    assert(!pq.contains("hashpartitioning(vec_id"), pq)
    assert(pq.contains("BroadcastHashJoin"), pq)
  }

  test("bm25: query terms prune pre-shuffle, df on the reused exchange, no term window") {
    // r10 verdict: the old df window (`count over (partition by
    // term)`) ran over the WHOLE corpus tf frame before the query-term
    // join pruned it — a join can't push below a window — and a
    // stop-word term made one window partition O(|docs|) rows on one
    // unsplittable task. Now the broadcast term set prunes the
    // exploded tokens BEFORE the (doc, term) shuffle, and df is a
    // partial aggregate re-attached on the reused exchange.
    val df = graft.operators.TextAnalysis.bm25(spark, sfDir)
    df.collect() // AQE materializes exchange reuse only at runtime
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), "query-term join must broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus must not sort-merge against 8 query terms")
    assert(p.contains("WindowGroupLimit"), "top-k must prune map-side")
    assert(!p.contains("windowspecdefinition(term"),
      "term-partitioned df window is the Zipfian-skew straggler shape — must not come back")
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"df branch must reuse the tf exchange (one corpus scan):\n$p")
    // r22: the tokenized frame is localCheckpointed (one kernel pass
    // shared by the stats/tf/df consumers), so the kernel must appear
    // ZERO times in the query's own executed plan — every consumer
    // reads the materialized RDD scan instead. The exactly-once
    // property moved to the checkpoint build: assert it structurally
    // on an un-checkpointed reconstruction of the toks frame (same
    // expressions bm25 plans before the checkpoint cuts the lineage).
    assert("graft_token_ngrams".r.findAllIn(p).size == 0,
      "post-checkpoint plan must read the materialized tokens, not re-tokenize")
    assert(p.contains("Scan ExistingRDD"),
      "consumers must scan the checkpointed token frame")
    val toksPlan = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), graft.functions.TextFunctions.tokenNgrams(
        lower(col("text")), 1).as("toks"))
      .queryExecution.executedPlan.toString
    assert("graft_token_ngrams".r.findAllIn(toksPlan).size == 1,
      "the checkpointed build itself evaluates the tokenizer exactly once")
  }

  test("tfidf: df via partial-agg on the reused exchange — no term window, one scan") {
    // r10 verdict: the r9 window-df formulation (`count over (partition
    // by term)`) was the same unsplittable Zipfian-key WindowExec class
    // fixed in dd_spans — a stop-word's partition is O(|docs|) rows on
    // one task. The join-back formulation is fine ONLY with exchange
    // reuse; without it the df branch re-scans+re-tokenizes the corpus.
    val df = graft.operators.TextAnalysis.tfidf(spark, sfDir)
    df.collect() // AQE materializes exchange reuse only at runtime
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("windowspecdefinition(term"),
      "term-partitioned df window is the Zipfian-skew straggler shape — must not come back")
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"df branch must reuse the (doc, term) count exchange (one corpus scan):\n$p")
    assert(p.contains("WindowGroupLimit"), "per-doc top-k must prune map-side")
    assert("FileScan parquet".r.findAllIn(p).size == 1, "tfidf must stay single-scan")
    // exactly one corpus tokenization in the final (post-reuse) plan:
    // inner explode would re-inline split() into inferred Generate
    // guards (3 evals/row — the builtin twin of the graft_* Filter
    // guard in AllQueriesSpec, which only sees graft kernels)
    assert("split\\(lower\\(text".r.findAllIn(p).size == 1,
      "corpus must be scanned and tokenized exactly once")
  }

  test("dd_spans: one corpus shuffle reused by flag agg and semi-join; no gram window") {
    // Zipfian grams make `over (partition by gram)` an unsplittable
    // straggler (WindowExec sorts+buffers; AQE skew-split only handles
    // SMJ partitions). The marking must be: one explicit gram
    // Exchange, streamed HashAggregate flag side, left-semi re-attach
    // on the SAME exchange — so the corpus shuffles once and the hot
    // partition is skew-splittable on the probe side.
    val df = graft.operators.Dedup.duplicatedSpans(spark, sfDir)
    df.collect() // AQE materializes reuse only in the executed plan
    // executedPlan.toString appends the pre-reuse "== Initial Plan =="
    // section — count kernels in the final section only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("windowspecdefinition(gram"),
      "gram-partitioned window is the skew-straggler shape — must not come back")
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"flag agg and semi-join probe must share ONE gram exchange:\n$p")
    assert(p.contains("windowspecdefinition(doc_id"), "island merge must window per doc")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert("graft_token_ngrams".r.findAllIn(p).size == 1,
      "tokenizer kernel must be evaluated exactly once per corpus row")
  }

  test("dd_idx_containment: full posting shuffle paid once, shared by df flag and posting side") {
    // first cut re-planned the posting scan+explode per consumer (df
    // flag, posting side, probe side — three corpus tokenizations and
    // two full posting shuffles). Now the full posting stream shuffles
    // onto ONE explicit hash Exchange read by both heavy consumers via
    // ReusedExchange (the dd_spans discipline; an explicit
    // isnotnull(doc_id) guard keeps the subtrees canonical against
    // one-sided inferred-constraint pushdown), while the probe side is
    // deliberately its own probeK-rows-per-doc slice scan — shuffling
    // that sliver is cheaper than a second full posting exchange.
    val df = graft.operators.Dedup.containmentIndexPairs(spark, sfDir)
    df.collect() // AQE materializes exchange reuse only at runtime
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"df flag and posting side must share ONE posting exchange:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // kernel evals: posting scan + probe slice scan + rescore attach
    // (whose two sides broadcast-reuse one scan) = 3
    assert("graft_shingle_hashes".r.findAllIn(p).size <= 3,
      "df/posting branches must not re-scan the corpus")
  }

  test("tx_rrf: bounded probe broadcast, both arms prune through WindowGroupLimit") {
    val p = plan(graft.operators.TextAnalysis.hybridRrf(spark, sfDir))
    // lexical arm: query terms broadcast (bm25's pinned shape); dense
    // arm: the 3-row probe set broadcasts against the embeddings scan
    assert(p.contains("BroadcastHashJoin"), "query-term join must broadcast")
    assert(p.contains("BroadcastNestedLoopJoin"), "probe set must broadcast")
    assert(p.contains("WindowGroupLimit"), "candidate top-k must prune map-side")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dd_source_overlap: one corpus shuffle shared via exchange reuse, bounded joins broadcast") {
    // pair counts and per-source totals both consume the gram-set
    // aggregation — the corpus scan+shuffle must be paid once. AQE
    // materializes the reuse at runtime, so execute before inspecting.
    val df = graft.operators.Dedup.sourceOverlap(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"totals must reuse the gram exchange:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), "|sources|-bounded totals must broadcast")
  }

  test("ev_retention: join-free — first-seen day rides the user-partitioned window") {
    val p = plan(graft.operators.Events.retention(spark, sfDir))
    assert(!p.contains("Join"), "groupBy-then-join-back re-scans the events; window min must not")
    assert(p.contains("windowspecdefinition(user_id"), "first-seen must window per user")
  }

  test("stratified sample ranks with WindowGroupLimit (quota pushdown)") {
    val p = plan(graft.operators.Sampling.stratifiedSample(spark, sfDir, 5))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("sequence packing windows per shard — no single-partition window") {
    // the cumulative-token window must key on the shard, never collapse
    // to one partition (the global-pack scale-killer)
    val df = graft.operators.TextAnalysis.sequencePack(spark, sfDir)
    val p = plan(df)
    assert(p.contains("hashpartitioning(shard"), p)
    val windowPart = p.linesIterator.find(_.trim.startsWith("Window")).getOrElse("")
    assert(!windowPart.contains("SinglePartition"), p)
  }

  test("q17: pre-aggregate join survives analysis unhinted (AQE decides)") {
    // Round 2 shipped broadcast(avgQty) here — one row per distinct
    // l_partkey, i.e. fact cardinality, a guaranteed OOM at 100 TB. The
    // fix is NO hint: both sides hash on l_partkey (exchange reuse) and
    // AQE broadcasts at runtime only if the aggregate is actually small.
    // This fails if any explicit join-strategy hint returns to q17.
    val joins = Relational.q17SubqueryAgg(spark, sfDir)
      .queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
    assert(joins.nonEmpty)
    joins.foreach(j =>
      assert(j.hint == org.apache.spark.sql.catalyst.plans.logical.JoinHint.NONE,
        s"q17 join carries a strategy hint: ${j.hint}"))
  }

  test("q24: runtime bloom filter prunes the probe side before its shuffle") {
    // the 100 TB fact-fact join lever: InjectRuntimeFilter must plant a
    // might_contain(bloom_filter_agg(orders-filtered)) filter directly
    // over the lineitem SCAN — i.e. rows are dropped before the join's
    // shuffle exchange, not after it. Also pins that the builder's
    // scoped conf (thresholds + broadcast off) is restored.
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val watched = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    // compare EXPLICIT settings (getAll), not conf.get: get resolves
    // SQLConf defaults, so it cannot see a restore that wrongly turns
    // an unset key into one explicitly set to its default value
    def explicitWatched() =
      watched.map(k => k -> spark.conf.getAll.get(k))
    val before = explicitWatched()
    val df = Relational.q24BloomPrune(spark, sfDir)
    assert(explicitWatched() == before,
      "q24 must restore the session conf it scopes (incl. unset state)")
    val bloomFilters = df.queryExecution.optimizedPlan.collect {
      case f: Filter if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) => f
    }
    assert(bloomFilters.nonEmpty, "no runtime bloom filter was injected")
    // the filter must sit on the scan side (no join below it): that is
    // what places it under the exchange in the physical plan
    bloomFilters.foreach { f =>
      assert(f.collect { case j: Join => j }.isEmpty,
        "bloom filter must prune the scan, not the join output")
    }
  }

  test("q24: a write through SparkEntry.run executes the bloom filter and restores the conf") {
    // a DataFrameWriter action re-optimizes under the session conf, so
    // only run's scope keeps the filter on the write path
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
    import org.apache.spark.sql.execution.{FilterExec, QueryExecution}
    import org.apache.spark.sql.util.QueryExecutionListener
    val writes = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.isInstanceOf[V2WriteCommand]) writes.put(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def bloomFiltersExecuted(write: => Unit): Int = {
      writes.clear()
      write
      val qe = writes.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(qe != null, "the noop write reported no execution")
      flattenPlan(qe.executedPlan).count {
        case f: FilterExec => f.condition.exists(_.isInstanceOf[BloomFilterMightContain])
        case _ => false
      }
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    spark.listenerManager.register(listener)
    try {
      val before = spark.conf.getAll
      assert(bloomFiltersExecuted(SparkEntry.run(spark, "q24_bloom_prune", sfDir)(noop)) > 0,
        "SparkEntry.run's write of q24 ran without its runtime bloom filter")
      assert(spark.conf.getAll == before, "SparkEntry.run must restore the session conf")
      assert(bloomFiltersExecuted(noop(SparkEntry.queries("q24_bloom_prune")(spark, sfDir))) == 0,
        "a write outside the scope keeps the filter, so the scope is no longer needed")
    } finally spark.listenerManager.unregister(listener)
  }

  test("pipe_e2e: one scan, zero joins, each text kernel evaluated once") {
    // the composed pipeline's three pitfalls, each hit and fixed during
    // construction: a quality self-join (second scan), groupBy+join-back
    // dedup (second corpus shuffle), and PushDownPredicates inlining the
    // tokenization kernel into a Filter once per component reference
    val p = plan(graft.operators.Pipeline.prepPipeline(spark, sfDir))
    assert("Scan parquet".r.findAllIn(p).size == 1, "pipeline must stay single-scan")
    assert(!p.contains("Join"), "pipeline must stay join-free")
    assert("graft_token_set_counts".r.findAllIn(p).size == 1,
      "tokenization kernel must be evaluated exactly once")
    assert("graft_text_stats".r.findAllIn(p).size == 1,
      "text-stats kernel must be evaluated exactly once")
    assert(p.contains("WindowGroupLimit"), "digest dedup must prune map-side")
  }

  test("ivf×pq: equi-join on cid with broadcast probes; corpus carries codes, not floats") {
    val df = graft.operators.Similarity.ivfPqTopK(spark, sfDir)
    val p = plan(df)
    // the corpus side must meet the probes on a cid equi-join with the
    // bounded probe set broadcast — the registry-wide guard already
    // bans nested loops; this pins the positive shape
    assert(p.contains("BroadcastHashJoin"), s"probes must broadcast:\n${p.take(4000)}")
    assert(p.contains("cid"), "join must key on the centroid id")
    // top-k must prune through WindowGroupLimit, not rank-then-filter
    // whole partitions
    assert(p.contains("WindowGroupLimit"), "rank filter must push a group limit")
  }

  test("pipe_select: one pipeline scan, join-free, each kernel once, capped windows prune") {
    val p = plan(graft.operators.Pipeline.selectPipeline(spark, sfDir))
    // the LM artifact builds in its OWN jobs before the plan exists;
    // the pipeline itself is one corpus scan through map-side kernels
    // plus two narrow window shuffles (digest dedup, source cap)
    assert("Scan parquet".r.findAllIn(p).size == 1, "pipeline must stay single-scan")
    assert(!p.contains("Join"), "pipeline must stay join-free")
    assert("graft_dsir_llr".r.findAllIn(p).size == 1,
      "DSIR kernel must be evaluated exactly once per row")
    assert("graft_token_set_counts".r.findAllIn(p).size == 1,
      "quality tokenization kernel must be evaluated exactly once per row")
    assert(p.contains("WindowGroupLimit"), "dedup/cap ranks must prune map-side")
  }

  test("dsir: bucket LMs broadcast into the scoring pass; corpus never sort-merges") {
    val p = plan(graft.operators.TextAnalysis.dsir(spark, sfDir))
    // the hashed-unigram LM is a <=4096-row artifact — it must
    // broadcast; a SortMergeJoin would shuffle the whole token stream
    // against a fixed-size table
    assert(p.contains("BroadcastHashJoin"), "bucket LM join must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "token stream must not shuffle against the fixed-size LM")
    // per-doc weight aggregation ships partial sums
    assert(p.contains("partial_"), "doc aggregation must have a map-side partial")
  }

  test("contamination: one TokenNgrams eval per side, bench side broadcasts") {
    // r7 PLANS.md caught InferFiltersFromGenerate duplicating the
    // tokenization kernel into the pushed-down Filter's null/size
    // guards — 3 evals per corpus row. The explode_outer restructure
    // keeps one kernel call per scan side (2 total: corpus + bench).
    val p = plan(graft.operators.TextAnalysis.contamination(spark, sfDir))
    assert("graft_token_ngrams".r.findAllIn(p).size == 2,
      s"TokenNgrams must be evaluated exactly once per side:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "bench n-gram set must broadcast (corpus never shuffles before the join)")
  }

  test("pipe_datacard: one scan, no join, no window — a pure two-phase rollup") {
    // the data card chains four operator families (quality kernel,
    // gopher battery, dedup digests, token counts) through one
    // projection; the plan must stay a single scan feeding one
    // per-source aggregation — a join or window here means an operator
    // stopped composing map-side
    val p = plan(graft.operators.Pipeline.dataCard(spark, sfDir))
    assert("Scan parquet".r.findAllIn(p).size == 1, "data card must stay single-scan")
    assert(!p.contains("Join"), "data card must stay join-free")
    assert(!p.contains("WindowExec"), "data card must not window")
    assert("graft_gopher_counts".r.findAllIn(p).size == 1,
      "gopher kernel must be evaluated exactly once")
    assert("graft_text_stats".r.findAllIn(p).size == 1,
      "text-stats kernel must be evaluated exactly once")
  }

  test("ann_filtered_topk: label predicate reaches the parquet scan") {
    // the whole point of pre-filtered vector search: metadata pruning
    // happens AT the scan (and with a label-partitioned layout, before
    // it), so cosine math runs only on surviving vectors — a filter
    // evaluated after the distance join would burn the full corpus
    val p = plan(graft.operators.Similarity.filteredTopK(spark, sfDir))
    assert(p.contains("PushedFilters: [In(label"),
      s"label IN filter must push to the embeddings scan:\n$p")
  }

  test("pipe_scd2: one user shuffle feeds all three windows, join-free") {
    // change detection (lag), version numbering (row_number) and
    // validity chaining (lead) all window over the same
    // (user_id)/(ts, event_id) clustering — a second Exchange or a
    // join here means the history build stopped reusing the
    // partitioning and pays a redundant shuffle per 100 TB pass
    val p = plan(graft.operators.Pipeline.scd2(spark, sfDir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"scd2 must shuffle exactly once, saw $exchanges:\n$p")
    assert(!p.contains("Join"), "scd2 must stay join-free")
  }

  test("q25_lateral: correlated LIMIT decorrelates to equi-join + rank prune") {
    // the construct's 100 TB viability rests on Catalyst rewriting the
    // per-row subquery into one fact-fact equi-join with a per-order
    // WindowGroupLimit — a nested-loop execution would be |orders|
    // subquery runs
    val df = graft.operators.Relational.q25Lateral(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.window.WindowGroupLimitExec]),
      "correlated LIMIT must prune through WindowGroupLimit")
    val heads = nodes.map(_.toString.linesIterator.next())
    assert(!heads.exists(h => h.contains("BroadcastNestedLoopJoin") ||
      h.contains("CartesianProduct")),
      s"lateral must decorrelate, not nested-loop:\n${heads.mkString("\n")}")
  }

  test("ev_paths: both lag windows share one user Exchange; top-k is a heap, not a sort") {
    // the two lag() chains cluster on the same (user_id)/(ts, event_id)
    // order, so EnsureRequirements must plan exactly one user shuffle
    // (plus the path-count agg shuffle); the global top-10 must be
    // TakeOrderedAndProject per-partition heaps, never a global Sort
    val p = plan(graft.operators.Events.paths(spark, sfDir))
    val userEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(userEx == 1, s"paths must shuffle users exactly once, saw $userEx:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"global top-k must heap:\n$p")
  }

  test("ev_anomaly: moments window over the bucket rollup, rank prunes via WindowGroupLimit") {
    val df = graft.operators.Events.anomaly(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.window.WindowGroupLimitExec]),
      "top-k per type must prune through WindowGroupLimit")
    // partial aggregation must reduce the event stream BEFORE the
    // (type, hour) shuffle — the bucket rollup is what keeps the
    // window frame bounded at any event volume
    val p = df.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"bucket rollup must partial-agg:\n$p")
  }

  test("pipe_curriculum: map-side banding, one (phase, shard) window shuffle") {
    // the sequencing window is the ONLY hash shuffle; phase and shard
    // derive map-side from the shared logit expression. The trailing
    // rangepartitioning Exchange is the contractual ORDER BY.
    val p = plan(graft.operators.Pipeline.curriculum(spark, sfDir))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"curriculum must hash-shuffle exactly once, saw $hashEx:\n$p")
    assert(!p.contains("Join"), "curriculum must stay join-free")
  }

  test("dd_incremental: history never shuffles — verification joins broadcast the maybe-set") {
    // the scale contract: the semi join (which digests exist in
    // history) and the anti join (drop confirmed dups) both carry the
    // batch-bounded side as the broadcast build, so the history table
    // streams map-side. A SortMergeJoin anywhere means a history
    // shuffle crept in.
    val df = graft.operators.Dedup.incrementalDedup(spark, sfDir)
    df.write.format("noop").mode("overwrite").save() // finalize AQE
    val nodes = flattenPlan(df.queryExecution.executedPlan).map(_.toString.linesIterator.next())
    assert(!nodes.exists(_.contains("SortMergeJoin")),
      "history side must not shuffle into a sort-merge join")
    assert(nodes.count(n => n.contains("BroadcastHashJoin") &&
      (n.contains("LeftSemi") || n.contains("LeftAnti"))) == 2,
      s"expected broadcast semi+anti verification joins:\n${nodes.mkString("\n")}")
  }

  test("lm score: pruned LM broadcasts (no corpus shuffle into the scoring joins)") {
    // the KenLM deployment shape: the top-K model and the
    // vocabulary-bounded prefix table are the broadcast sides; the
    // corpus bigram stream must map through both joins unshuffled, and
    // the top-K selection must be TakeOrderedAndProject, not a global
    // window or sort
    val df = graft.operators.TextAnalysis.lmScore(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val nodes = flattenPlan(df.queryExecution.executedPlan).map(_.toString.linesIterator.next())
    assert(!nodes.exists(_.contains("SortMergeJoin")),
      "corpus must not shuffle into the scoring joins")
    assert(nodes.exists(_.contains("TakeOrderedAndProject")),
      "LM top-K must select via per-partition heaps")
  }

  test("gopher repetition battery: one scan, no join, no window, no explode") {
    // the whole A1.2 battery is doc-local: n-gram counting happens in
    // per-row HOF folds over kernel-built arrays. An explode + groupBy
    // formulation would shuffle ~9 n-gram streams of the corpus —
    // that is the oracle's job (DuckDB recomputes it that way), never
    // the engine's
    val p = plan(graft.operators.TextAnalysis.gopherRepetition(spark, sfDir))
    assert("Scan parquet".r.findAllIn(p).size == 1, "battery must stay single-scan")
    assert(!p.contains("Join"), "battery must stay join-free")
    assert(!p.contains("WindowExec"), "battery must not window")
    assert(!p.contains("Generate"), "battery must not explode")
    assert("graft_ngram_rep_mass".r.findAllIn(p).size == 1,
      "the 9-n mass kernel must be evaluated exactly once per row")
  }

  test("quality classifier: one scan, map-side multiply-add only") {
    val p = plan(graft.operators.TextAnalysis.qualityClassifier(spark, sfDir))
    assert("Scan parquet".r.findAllIn(p).size == 1, "classifier must stay single-scan")
    assert(!p.contains("Join"), "classifier must not join back to its features")
    assert(!p.contains("HashAggregate"), "classifier must not aggregate")
  }

  test("source cap: one scan, rank prunes through WindowGroupLimit") {
    val p = plan(graft.operators.TextAnalysis.sourceCap(spark, sfDir))
    assert("Scan parquet".r.findAllIn(p).size == 1, "cap must not self-join for quality")
    assert(p.contains("WindowGroupLimit"), "cap rank must prune map-side")
  }

  test("pipe_e2e observed metrics ride the pipeline's own pass") {
    // observe() piggybacks aggregates on the action itself — the 100 TB
    // alternative to a separate counting pass. Metrics must match
    // independently computed values exactly.
    import spark.implicits._
    val df = graft.operators.Pipeline.prepPipeline(spark, sfDir)
    val rows = df.collect()
    val metrics = df.queryExecution.observedMetrics
    assert(metrics.contains("pipe_in") && metrics.contains("pipe_kept"), metrics.keySet)
    val in = metrics("pipe_in")
    val kept = metrics("pipe_kept")
    assert(in.getAs[Long]("docs_in") ==
      Tables.documents(spark, sfDir).count())
    assert(kept.getAs[Long]("docs_kept") == rows.length)
    assert(kept.getAs[Long]("tokens_kept") ==
      rows.map(_.getAs[Long]("n_tokens")).sum)
  }

  test("IVF serving plan reads the persisted index: one embeddings scan, no training jobs") {
    // pipe_ivf_serve's structural pin. The serve-time plan must get
    // the corpus side from the PERSISTED cid-partitioned lists table
    // (the artifact ivfIndexDir wrote), NOT from a fresh assignment
    // over embeddings.parquet — a regression that re-assigns at serve
    // time needs a second embeddings scan, which this count forbids.
    // Training (k-means) runs driver-side in the build step only, so
    // the serving DataFrame's plan existing at all proves no Lloyd's
    // jobs ride each query; what's assertable in the plan is the
    // scan inventory.
    // all persisted-artifact serves (float lists, SQ8 code lists, and
    // the manifest-resolved versioned lists) must show the same scan
    // inventory — the serve shape is a property of the layout, not of
    // the encoding or the version indirection. probeScans: the float
    // and SQ8 serves probe the embeddings table directly (1 parquet
    // scan); pipe_ivf_reserve's probe traffic is the drifted combined
    // corpus, rebuilt as an id-BOUNDED embeddings scan (the vec_id
    // filter pushes below the drift transform — review r14: the first
    // cut read the full checkpointed fixture frame per serve, a
    // corpus-sized materialization hiding inside "serving"), so like
    // the other serves it shows exactly ONE probe-side embeddings
    // scan and the manifest indirection adds no hidden corpus
    // re-read.
    val serves = Seq(
      ("pipe_ivf_serve", "graft-ivf-index", 1,
        () => graft.operators.Similarity.ivfServeTopK(spark, sfDir)),
      ("pipe_ivf_sq8_serve", "graft-ivf-sq8", 1,
        () => graft.operators.Similarity.ivfSq8ServeTopK(spark, sfDir)),
      ("pipe_ivf_reserve", "graft-ivf-versioned", 1,
        () => graft.operators.Similarity.ivfReserveTopK(spark, sfDir)),
      // r15: the GC lifecycle serves through the same manifest helper
      // on its OWN root — its plan must keep the identical shape
      // (the delete changed storage inventory, never the serve plan)
      ("pipe_ivf_gc", "graft-ivf-gc", 1,
        () => graft.operators.Similarity.ivfGcServeTopK(spark, sfDir)))
    serves.foreach { case (name, artifactTag, probeScans, mk) =>
      val df = mk()
      // walk the physical tree, not the plan STRING: the DPP
      // subquery's rendering echoes the probe subtree (a broadcast
      // REUSE at runtime, not a second scan), so string-counting
      // double-counts. sparkPlan, not executedPlan —
      // AdaptiveSparkPlanExec hides its input from collect()
      val scans = df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.mkString(",")
      }
      assert(scans.count(_.contains("embeddings.parquet")) == probeScans,
        s"$name: expected $probeScans embeddings scans — the corpus must come from the index artifact: $scans")
      assert(scans.count(_.contains(artifactTag)) == 1,
        s"$name: the corpus scan must read the persisted index's lists table: $scans")
      // and the lists scan is pruned AT THE FILE LEVEL by the probed
      // cids: dynamic partition pruning rides the broadcast probe
      // side (at 10⁵ lists a nProbe=4 query opens 4 directories, not
      // the corpus — the whole point of persisting the layout)
      assert(plan(df).contains("dynamicpruning"),
        s"$name: lists scan must carry a dynamic partition-pruning filter on cid")
    }
  }

  test("word count stays inside whole-stage codegen") {
    // AQE finalizes the plan lazily; execute first, then inspect.
    // Codegen'd operators are marked "*(n)" in the final plan string.
    val df = WordCount.wordCount(Tables.documents(spark, sfDir))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p)
    assert(p.contains("*("), p)
  }

  test("WARC family: one binaryFile scan, map-side parse, the only Exchange is the contractual sort") {
    // the crawl grain is the shard file: binaryFile gives one task per
    // shard, the whole parse/decode/extract chain is a flatMap inside
    // that task, and nothing shuffles until the contractual ORDER BY —
    // the shape that holds at CC scale (one ~1 GB shard per task,
    // nothing driver-side grows with corpus size)
    Seq(
      "src_warc" -> graft.sources.Warc.srcWarcDocs(spark, sfDir),
      "src_warc_html" -> graft.sources.Warc.srcWarcHtmlDocs(spark, sfDir),
      "snk_wet_roundtrip" -> graft.sources.Warc.snkWetRoundtrip(spark, sfDir),
      "src_warc_cdx" -> graft.sources.Warc.srcWarcCdx(spark, sfDir),
      "src_warc_wat" -> graft.sources.Warc.srcWarcWat(spark, sfDir)
    ).foreach { case (name, df) =>
      val p = plan(df)
      assert(p.contains("binaryFile"), s"$name must scan through binaryFile: $p")
      assert(!p.contains("Join"), s"$name must not join")
      assert("Exchange".r.findAllIn(p).size == 1, s"$name: only the ORDER BY may shuffle")
      assert(p.contains("rangepartitioning"), s"$name: the one Exchange is the contractual sort")
    }
  }

  test("pipe_crawl_e2e: the source's contractual sort does not ride into the pipeline") {
    // the crawl-rooted prep chain composes through htmlDocRows (the
    // un-ordered entry) — the only rangepartitioning Exchange must be
    // the FINAL orderBy, not a useless mid-plan sort inherited from
    // the source query's contract
    val p = plan(graft.operators.Pipeline.crawlPrepPipeline(spark, sfDir))
    assert(p.contains("binaryFile"), "the chain must be rooted at the crawl container")
    assert("rangepartitioning".r.findAllIn(p).size == 1,
      "exactly one range Exchange — the pipeline's own final ORDER BY")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("src_warc_fetch: one hash Exchange co-locates a shard's range reads; no join; one contractual sort") {
    // the point-lookup verb: index rows shuffle ONCE (hash on shard,
    // the groupByKey) so each task opens its shard exactly once and
    // range-reads members in offset order; the only other Exchange is
    // the contractual ORDER BY. No join, no whole-file re-scan beyond
    // the index build's own binaryFile scan.
    val p = plan(graft.sources.Warc.srcWarcFetch(spark, sfDir))
    assert(p.contains("binaryFile"), "the index build scans the lake through binaryFile")
    assert(!p.contains("Join"), s"src_warc_fetch must not join: $p")
    assert("hashpartitioning".r.findAllIn(p).size == 1,
      s"exactly one hash Exchange — the per-shard read grouping: $p")
    assert("rangepartitioning".r.findAllIn(p).size == 1,
      s"exactly one range Exchange — the contractual sort: $p")
  }

  test("src_warc_serve: artifact-served point lookup — pushed filter, no binaryFile scan, no join") {
    // the production shape: the cdx comes from its PERSISTED parquet
    // artifact with the doc_id range pushed INTO the scan; the lake is
    // touched only by member range reads, so no binaryFile scan may
    // appear anywhere in the serving plan
    val p = plan(graft.sources.Warc.srcWarcServe(spark, sfDir))
    assert(!p.contains("binaryFile"),
      s"the serving plan must read the persisted index, never re-scan the lake: $p")
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(doc_id,100"),
      s"the doc_id range must push into the artifact scan: $p")
    assert(!p.contains("Join"), s"src_warc_serve must not join: $p")
    assert("hashpartitioning".r.findAllIn(p).size == 1,
      s"exactly one hash Exchange — the per-shard read grouping: $p")
    assert("rangepartitioning".r.findAllIn(p).size == 1,
      s"exactly one range Exchange — the contractual sort: $p")
  }

  test("revisit resolution joins on uri as an equi-join over the ONCE-materialized parse") {
    // the one WARC query that MUST join (cross-shard reference
    // resolution); both sides are crawl-scale at 100 TB, so the pin
    // is the join's KIND — and that neither side re-executes the
    // binaryFile scan + gunzip + parse (the localCheckpoint makes
    // the parse materialize once; a binaryFile scan in this plan
    // would mean each join side re-parses every shard)
    val p = plan(graft.sources.Warc.srcWarcRevisitDocs(spark, sfDir))
    assert(!p.contains("binaryFile"),
      "the join must read the materialized parse, not re-scan the lake per side")
    assert(p.contains("Join"), "revisit resolution must join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the uri equi-join must never degrade to a product")
  }

  test("pipe_robots_filter: compliance joins over the ONCE-materialized directive parse, never a product") {
    // group selection reads the directive table from three positions
    // (exact side, star side, the anti-join probe) — the
    // localCheckpoint makes the robots-lake parse materialize once; a
    // binaryFile scan here would mean each position re-parses the
    // lake (it did, 3x, before r18's fix — the plan audit caught it)
    val p = plan(graft.sources.Robots.pipeRobotsFilter(spark, sfDir))
    assert(!p.contains("binaryFile"),
      "compliance must read the materialized directive table, not re-parse the robots lake per position")
    assert(p.contains("Join"), "compliance must join corpus x rules")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the host equi-join must never degrade to a product")
  }

  test("pipe_sitemap_schedule: the discovery walk reads materialized captures and one directive parse, never a lake re-scan or a product") {
    // the captures table is read from TWO join positions (the direct
    // urlset join and the index-child join) and the directive table
    // from two consumers (announcements, delays) — all four positions
    // must read materialized RDDs; a binaryFile scan in this plan
    // would mean a per-position lake re-parse (the r18 compliance
    // lesson, applied to the r20 walk)
    val p = plan(graft.sources.Sitemaps.pipeSitemapSchedule(spark, sfDir))
    assert(!p.contains("binaryFile"),
      "the walk must read materialized captures/directives, not re-scan the lake per position")
    assert(p.contains("Join"), "the walk must join announcements x captures")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the url-key equi-joins must never degrade to a product")
  }
}
