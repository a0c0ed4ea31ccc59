package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Embedding similarity search over `embeddings.embedding: array<float>`
  * (builder prompt: ANN is a first-class component).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k via a blocked cross join +
  *    per-query window head. Correctness baseline; O(n·q) comparisons.
  *  - [[lshTopK]]: random-hyperplane (sign-LSH) bucketing — each vector
  *    maps to a small bit signature; candidates share a signature
  *    bucket, so comparisons are O(n·q / 2^bits) expected. This is the
  *    100 TB path: bucket ids shuffle-partition the corpus, queries
  *    probe only their bucket. An IVF variant would swap the hash for
  *    learned centroids; the plumbing (bucket → co-partitioned join →
  *    window top-k) is identical.
  *
  * Dot products / cosines run in fused one-pass kernels
  * ([[graft.functions.CosineSim]]) — no UDF, no interpreted lambda in
  * any hot path.
  */
object Similarity {

  /** The probe set every top-k search reports: the vectors with vec_id
    * below `NumQueries`, each with its `TopK` nearest neighbours. */
  private[graft] final val NumQueries = 10
  private[graft] final val TopK = 5

  /** The IVF shape: `NLists` inverted lists, whose centroids train with
    * `Iters` k-means iterations, and `NProbe` lists probed per query. */
  private[graft] final val NLists = 16
  private[graft] final val Iters = 5
  private[graft] final val NProbe = 4

  /** The drift, in ppm of list share, past which a lifecycle retrains. */
  private[graft] final val DriftThresholdPpm = 50000L

  /** The sign-LSH shape over the 64-dim embeddings: `LshTables` tables
    * of `LshBits`-bit bucket ids. */
  private[graft] final val LshDim = 64
  private[graft] final val LshBits = 4
  private[graft] final val LshTables = 4

  /** The product-quantizer shape: `PqM` subspaces of `PqKsub` centroids,
    * each trained with `PqIters` Lloyd iterations. */
  private[graft] final val PqM = 16
  private[graft] final val PqKsub = 256
  private[graft] final val PqIters = 10

  /** cos(a,b) — a fused kernel; accumulation order matches a left
    * fold, so results are bit-equal with the HOF formulation it
    * replaced. */
  def cosine(a: Column, b: Column): Column = VectorFunctions.cosineSim(a, b)

  /** Metadata-filtered vector search: exact cosine top-k restricted to
    * corpus vectors whose `label` passes a predicate — the "filtered
    * ANN" shape every retrieval stack needs (tenant, language,
    * freshness filters over a vector index).
    *
    * Scale shape: the predicate is a plain `IN` comparison, so it
    * reaches the parquet scan as a pushed filter (PlanSpec pins
    * `PushedFilters: [In(label`) — distance math runs ONLY on
    * survivors, and with a label-partitioned layout this is partition
    * pruning, not even a scan. Pre-filtering is exact (no recall
    * loss); post-filtering an unfiltered index would need k/selectivity
    * candidates to match it. Probes broadcast exactly as in
    * [[bruteForceTopK]]. */
  def filteredTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"),
        $"embedding".cast("array<double>").as("q"))
    val corpus = emb.filter($"label".isin(2, 5, 7))
      .select($"vec_id", $"label",
        $"embedding".cast("array<double>").as("embedding"))
    val scored = corpus.join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", $"label",
        round(cosine($"q", $"embedding"), 6).as("cos_sim"))
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id")
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= TopK)
      .select($"query_id", $"vec_id", $"label", $"cos_sim", $"rk")
      .orderBy($"query_id", $"rk")
  }

  /** Exact cosine top-k: the `NumQueries` probe vectors against the
    * whole corpus. Row-wise window head with full tie-break (score desc,
    * vec_id) keeps output deterministic. */
  def bruteForceTopK(s: SparkSession, dir: String,
                     numQueries: Int = NumQueries, topK: Int = TopK): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val queries = emb.filter($"vec_id" < numQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("q"))
    val corpus = emb.select($"vec_id", $"embedding")
    val scored = corpus.join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        round(cosine($"q", $"embedding"), 6).as("cos_sim"))
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id")
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= topK)
      .select($"query_id", $"vec_id", $"cos_sim", $"rk")
      .orderBy($"query_id", $"rk")
  }

  /** SQ8-quantized brute-force top-k — the memory-bounded ANN scale
    * path (FAISS-style scalar quantization + asymmetric distance): the
    * corpus is held as 1 byte/dim codes (8× smaller than
    * array<double>; at 100 TB of embeddings the difference between
    * fitting in cluster memory and not), queries stay exact floats,
    * and the [[graft.functions.CosineSq8Asym]] kernel dequantizes
    * on-the-fly inside one unboxed loop. Training the per-dimension
    * [lo, hi] bounds is one narrow partial-agg shuffle (dim keys ×
    * partitions) + a 2×dim scalar pull. Composes with the IVF/LSH
    * bucketing paths (quantize the bucketed corpus) — exposed here on
    * the brute-force scan so the recall gate isolates QUANTIZATION
    * loss from bucketing loss. Rows-only; RecallSpec gates top-k
    * overlap against the exact float path. */
  def sq8TopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val (los, his) = sq8Bounds(emb)
    val coded = emb.select($"vec_id",
      VectorFunctions.quantizeSq8($"embedding", los, his).as("code"))
    val queries = emb.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("q"))
    val scored = coded.join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        round(VectorFunctions.cosineSq8Asym($"q", $"code", los, his), 6)
          .as("cos_sim"))
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id")
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= TopK)
      .select($"query_id", $"vec_id", $"cos_sim", $"rk")
      .orderBy($"query_id", $"rk")
  }

  /** Per-dimension SQ8 [lo, hi] training bounds: one narrow
    * partial-agg shuffle (dim keys × partitions, ~bytes per partition)
    * + a 2×dim scalar pull to the driver — dim-sized, like any
    * quantizer's codebook. */
  private def sq8Bounds(emb: DataFrame): (Seq[Double], Seq[Double]) = {
    import emb.sparkSession.implicits._
    val bounds = emb.select(posexplode($"embedding").as(Seq("dim", "x")))
      .groupBy($"dim").agg(min($"x").as("lo"), max($"x").as("hi"))
      .orderBy($"dim").collect()
    require(bounds.nonEmpty, "sq8Bounds: empty embedding corpus")
    (bounds.map(_.getDouble(1)).toSeq, bounds.map(_.getDouble(2)).toSeq)
  }

  /** Multi-table sign-LSH approximate top-k (bucket ids from the
    * [[graft.functions.SignLshBuckets]] kernel): candidates are corpus
    * vectors sharing ANY of `LshTables` bucket ids with the query (recall
    * 1-(1-p^bits)^tables vs single-table p^bits), deduped before the
    * exact rescore. Cost: corpus stored `LshTables`× (constant factor),
    * comparisons still confined to bucket collisions. */
  def lshTopK(s: SparkSession, dir: String, numQueries: Int = NumQueries,
              topK: Int = TopK): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val banded = emb.select($"vec_id", $"embedding",
      posexplode(VectorFunctions.signLsh($"embedding", LshDim, LshBits, LshTables))
        .as(Seq("tbl", "bucket")))
    val queries = banded.filter($"vec_id" < numQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("q"), $"tbl", $"bucket")
    // score BEFORE dedup: a table-collision duplicate recomputes a
    // 64-dim kernel (cheap, map-side) but the dedup then shuffles
    // 24-byte (query, vec, score) rows instead of ~1 KB embedding
    // pairs — the wide-row dedup was 10× slower at sf0.1
    val scored = banded.join(broadcast(queries), Seq("tbl", "bucket"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        round(cosine($"q", $"embedding"), 6).as("cos_sim"))
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id")
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= topK)
      .select($"query_id", $"vec_id", $"cos_sim", $"rk")
      .orderBy($"query_id", $"rk")
  }

  /** IVF (inverted-file) ANN — the data-adaptive scale path beside
    * sign-LSH: vectors are assigned to their nearest of `NLists` seed
    * centroids (argmax cosine, broadcast centroids, one map-side pass);
    * a query probes only its `NProbe` nearest centroid lists. At 100 TB
    * the corpus is hash-partitioned by list id, so a probe touches
    * NProbe/NLists of the data. Centroids here are deterministic seed
    * vectors (vec_id < NLists) — swap in trained k-means centroids
    * without changing the plan. Recall is data-dependent (isotropic
    * test vectors give no clustering win); the *plumbing* — assign,
    * invert, probe, rescore — is the operator. */
  def ivfTopK(s: SparkSession, dir: String, numQueries: Int = NumQueries,
              topK: Int = TopK): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val (cids, cvecs) = seedCentroids(emb)
    ivfWithCentroids(s, emb, cids, cvecs, numQueries, topK)
  }

  /** Frozen seed centroids: the first `NLists` corpus vectors,
    * collected once at plan build. Centroids live on the driver, as
    * in any k-means pipeline; assignment is then a pure map-side
    * argmax inside the NearestCentroids kernel — round 1's
    * broadcast-join + Window.partitionBy(vec_id) formulation shuffled
    * the whole corpus (embeddings included) for the same decision.
    * Shared by the query path ([[ivfTopK]]) and the maintenance path
    * ([[ivfIncremental]]) so the serving index and its ingest twin
    * can never disagree on the seed rule. */
  private def seedCentroids(emb: DataFrame): (Seq[Long], Seq[Seq[Double]]) = {
    import emb.sparkSession.implicits._
    val rows = emb.filter($"vec_id" < NLists)
      .select($"vec_id", $"embedding").collect()
    (rows.map(_.getLong(0)).toSeq, rows.map(_.getSeq[Double](1)).toSeq)
  }

  /** Incremental IVF index maintenance — the ANN twin of the
    * incremental-dedup discipline: a NEW BATCH of embeddings arrives
    * and must join the serving index WITHOUT retraining. Each batch
    * vector assigns to its nearest FROZEN centroid (the map-side
    * NearestCentroids kernel — zero corpus Exchange, exactly the
    * query-path assignment) and appends to that inverted list; the
    * query reports per-list occupancy (history vs batch counts and
    * exact ppm shares) plus the share DRIFT — the operational health
    * metric that tells an index owner when a retrain is due: drifting
    * data shifts mass between lists, hot lists blow past their memory
    * budget and probe recall decays, all visible as |drift| long
    * before query metrics degrade.
    *
    * Scale shape: assignment is map-side; the corpus scans ONCE — the
    * only shuffle is the ≤ NLists-row (cid) partial-agged count
    * rollup, and the two global totals are that rollup's own sums,
    * re-read off the reused exchange and attached as a broadcast
    * 1-row cross join (a GLOBAL aggregate is one row by construction
    * — the structural bound the registry's broadcast guard accepts; a
    * driver `.head()` pull here would have re-scanned the whole
    * corpus a second time for two longs).
    * History at a real deployment participates as its STORED per-list
    * counts; recomputing them here keeps the fixture self-contained
    * and the oracle exact. The batch/history split is the md5-bucket
    * rule shared with [[graft.operators.Dedup.incrementalDedup]].
    * Deterministic end-to-end (frozen seed centroids, unrounded
    * argmax mirrored by the oracle like ann_ivf_topk), so fully
    * DuckDB-oracle-checked, integer ppm arithmetic. Degenerate
    * inputs stay total: an empty corpus yields an empty frame (no
    * centroids to assign to), and an empty history or batch side
    * reports 0 ppm for that side instead of an ANSI divide-by-zero
    * (a share against an empty population carries no signal). */
  def ivfIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hb = Sampling.hashBucket($"vec_id")
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"),
        hb.as("hb"))
    val (cids, cvecs) = seedCentroids(emb)
    if (cids.isEmpty) {
      return Seq.empty[(Long, Long, Long, Long, Long, Long)]
        .toDF("cid", "n_history", "n_batch", "hist_ppm", "batch_ppm", "drift_ppm")
    }
    val nearest = centroidAssigner(cids, cvecs)
    val counts = emb
      .select($"hb", nearest($"embedding", 1).getItem(0).as("cid"))
      .groupBy($"cid")
      .agg(
        sum(when($"hb" < Sampling.HistoryBelow, 1L).otherwise(0L)).as("n_history"),
        sum(when($"hb" >= Sampling.HistoryBelow, 1L).otherwise(0L)).as("n_batch"))
    val totals = counts
      .agg(sum($"n_history").as("th"), sum($"n_batch").as("tb"))
    counts.crossJoin(broadcast(totals))
      .select($"cid", $"n_history", $"n_batch",
        when($"th" > 0L, expr("n_history * 1000000L div th"))
          .otherwise(0L).as("hist_ppm"),
        when($"tb" > 0L, expr("n_batch * 1000000L div tb"))
          .otherwise(0L).as("batch_ppm"))
      .withColumn("drift_ppm", $"batch_ppm" - $"hist_ppm")
      .orderBy($"cid")
  }

  /** The drifted-corpus fixture SHARED by the in-session lifecycle
    * (`pipe_ivf_retrain`) and the versioned-artifact lifecycle
    * (`pipe_ivf_reserve`): history = md5-bucket split below
    * `Sampling.HistoryBelow`; the batch is the rest, pushed through a fixed
    * affine drift (a tight cluster the history-trained index has no
    * centroid near — what makes the retrain decision fire BY
    * CONSTRUCTION). Materialized once per call: the lifecycle runs
    * ~8 downstream actions over it (self-review r12 — the
    * lshClusters localCheckpoint discipline). `idBound` pre-filters
    * on vec_id BELOW the union — a pushdown-provable bounded probe
    * frame for SERVING paths, which therefore skip the corpus-sized
    * localCheckpoint too (review r14: the serve query must never pay
    * a full-corpus materialization per call; checkpoint blocks are
    * non-recomputable and would leak until session end). The per-row
    * arithmetic is IDENTICAL either way, so a bounded frame is
    * row-equal to filtering the full one. */
  private[graft] def driftedTagged(s: SparkSession, dir: String,
                                   idBound: Option[Long] = None): DataFrame = {
    import s.implicits._
    val hb = Sampling.hashBucket($"vec_id")
    val base0 = Tables.embeddings(s, dir)
    val base = idBound.fold(base0)(b => base0.filter($"vec_id" < b))
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"),
        hb.as("hb"))
    // single scan with a per-row CASE, not a union of two filtered
    // branches: row-for-row identical arithmetic, half the corpus
    // reads for the fixture build, and the bounded probe frame plans
    // as exactly ONE pushdown-filtered embeddings scan (review r14)
    val tagged = base.select($"vec_id",
      when($"hb" < Sampling.HistoryBelow, $"embedding").otherwise(expr(
        "transform(embedding, (x, i) -> CASE WHEN i = 0 THEN x * 0.2D + 1.0D ELSE x * 0.2D END)"))
        .as("embedding"),
      when($"hb" < Sampling.HistoryBelow, lit(0L)).otherwise(lit(1L)).as("is_b"))
    if (idBound.isDefined) tagged else tagged.localCheckpoint(false)
  }

  /** `ivfIncremental`'s share-drift metric over a tagged corpus under
    * a given assignment kernel: max |batch share − history share| in
    * ppm across lists — the detector both lifecycle paths share, so
    * the in-session and versioned-artifact retrain decisions cannot
    * use different arithmetic. */
  private def maxShareDriftPpm(tagged: DataFrame,
                               nearest: (Column, Int) => Column): Long = {
    import tagged.sparkSession.implicits._
    // localCheckpoint: counts feeds both the crossJoin probe side and
    // its own global-totals aggregate — without materializing these
    // ≤ NLists rows, the full-corpus assignment job runs twice
    // (max-effort review, r12)
    val counts = tagged
      .select($"is_b", nearest($"embedding", 1).getItem(0).as("cid"))
      .groupBy($"cid")
      .agg(sum(when($"is_b" === 0L, 1L).otherwise(0L)).as("nh"),
        sum($"is_b").as("nb"))
      .localCheckpoint(false)
    val drifts = counts
      .crossJoin(broadcast(counts.agg(sum($"nh").as("th"), sum($"nb").as("tb"))))
      .select((when($"tb" > 0L, expr("nb * 1000000L div tb")).otherwise(0L)
        - when($"th" > 0L, expr("nh * 1000000L div th")).otherwise(0L)).as("drift"))
    drifts.agg(coalesce(max(abs($"drift")), lit(0L))).head().getLong(0)
  }

  // MEASURED NO-GO (r22): scoping the withGraphShuffle-style execution
  // confs around this lifecycle — pipe_ivf_retrain is ~20 driver
  // actions, 32 jobs/rep, wall 2.5 s vs job-sum 0.9 s on `Probe jobs`,
  // so the graph-loop treatment looked right — made it WORSE both ways
  // (solo min-of-N A/B at sf0.1; unchanged-code solo floor ~1.7 s):
  // AQE off alone → 3.61 s (every tiny exchange runs at the session's
  // 32 static partitions; AQE's runtime coalescing to 1 is what keeps
  // the lifecycle's micro-shuffles cheap — and the brute/fit shuffles
  // scale with the corpus, so a withGraphShuffle-style static downsize
  // would be wrong at 100 TB anyway), codegen off alone → 2.34 s
  // (fit/brute score the whole corpus through the codegen'd CosineSim —
  // unlike the KB-scale contraction loop, the lifecycle's actions DO
  // real vectorizable work per job). Keep both confs session-default.
  /** IVF index LIFECYCLE — the composition [[ivfIncremental]]'s drift
    * metric exists to trigger, closing the loop train → serve →
    * detect drift → retrain → re-serve:
    *
    *  1. the SERVING index is k-means-trained on HISTORY only
    *     (md5-bucket split shared with [[graft.operators.Dedup.incrementalDedup]]);
    *  2. a DRIFTED ingest batch arrives — the fixture collapses batch
    *     vectors toward a fixed direction (`0.2·x + e₀`), the
    *     synthetic stand-in for a new data source whose embedding
    *     distribution the index has never seen;
    *  3. detect: per-list history-vs-batch ppm share drift under the
    *     OLD centroids (exactly [[ivfIncremental]]'s metric, here
    *     against trained lists), rolled up to max |drift| — a
    *     ≤ NLists-row pull, the retrain-due signal;
    *  4. decide: drift ≥ `DriftThresholdPpm` → retrain on
    *     history + batch ([[kmeansCentroids]] over the combined
    *     corpus), else keep serving the old index;
    *  5. re-serve and report both indexes' quality on the combined
    *     corpus: FIT (mean cosine of every vector to its assigned
    *     centroid, the k-means objective — what probe recall tracks
    *     at scale) and probe RECALL vs exact brute force for the
    *     probe set.
    *
    * All heavy work is the documented scale shapes: assignments are
    * the map-side kernel, fit is one long-sum aggregate over
    * `floor(cos·10⁶)` (order-independent integer sum — deterministic
    * at any parallelism), recall joins the two bounded top-k frames.
    * Driver pulls are bounded artifacts only (≤ NLists drift rows,
    * 1-row fit scalars, NumQueries·TopK recall frames — the ccnet
    * cutoff rule). Rows-only (k-means training is the documented
    * trained-float-artifact no-go class); RecallSpec gates drift
    * detection, the retrain decision, STRICT fit recovery and
    * recall non-degradation, plus determinism. */
  def ivfLifecycle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tagged = driftedTagged(s, dir)
    val history = tagged.filter($"is_b" === 0L).select($"vec_id", $"embedding")
    if (history.isEmpty) {
      return Seq.empty[(String, Long)].toDF("metric", "value")
    }
    val combined = tagged.select($"vec_id", $"embedding")
    val (oldIds, oldVecs) = kmeansCentroids(s, history, NLists, Iters)

    // 3. detect: ivfIncremental's share-drift metric under OLD lists
    val nearestOld = centroidAssigner(oldIds, oldVecs)
    val maxDrift = maxShareDriftPpm(tagged, nearestOld)

    // 4. decide + retrain on history+batch
    val retrained = maxDrift >= DriftThresholdPpm
    val (newIds, newVecs) =
      if (retrained) kmeansCentroids(s, combined, NLists, Iters)
      else (oldIds, oldVecs)

    // 5a. fit: mean floor(cos·10⁶) of every combined vector to its
    // assigned centroid — integer sum, order-independent
    def fitPpm(cids: Seq[Long], cvecs: Seq[Seq[Double]]): Long = {
      val nearest = centroidAssigner(cids, cvecs)
      val cents = cids.zip(cvecs).toDF("cid", "cvec")
      val r = combined
        .select($"embedding", nearest($"embedding", 1).getItem(0).as("cid"))
        .join(broadcast(cents), "cid")
        .select(floor(cosine($"embedding", $"cvec") * 1000000.0).cast("long").as("fit"))
        .agg(count(lit(1)).as("n"), sum($"fit").as("sf")).head()
      if (r.getLong(0) == 0L) 0L else Math.floorDiv(r.getLong(1), r.getLong(0))
    }
    // 5b. probe recall vs exact brute force over the combined corpus —
    // the ≤ NumQueries·TopK truth frame materializes once and serves
    // both the old-index and new-index recall joins plus its own count
    val brute = {
      val queries = combined.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"embedding".as("q"))
      val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id")
      combined.join(broadcast(queries), $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id", round(cosine($"q", $"embedding"), 6).as("cos_sim"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= TopK).select($"query_id", $"vec_id")
        .localCheckpoint(false)
    }
    def recallPpm(cids: Seq[Long], cvecs: Seq[Seq[Double]]): Long = {
      val got = ivfWithCentroids(s, combined, cids, cvecs, NumQueries, TopK)
        .select($"query_id", $"vec_id", lit(1L).as("hit"))
      // hits AND total in ONE action (r22: the split semi-join count +
      // brute.count() was two driver round-trips per call over the same
      // checkpointed ≤ NumQueries·TopK frame). got's (query_id, vec_id)
      // pairs are unique by construction (ranked top-k), so the left
      // join preserves brute's cardinality and count(hit) equals the
      // old left-semi count.
      val r = brute.join(got, Seq("query_id", "vec_id"), "left")
        .agg(count(lit(1)).as("total"), count($"hit").as("hits")).head()
      if (r.getLong(0) == 0L) 0L else r.getLong(1) * 1000000L / r.getLong(0)
    }
    // no-retrain branch serves the SAME centroids — reuse the old
    // index's measurements instead of re-running two assignment +
    // aggregate jobs to recompute identical numbers (max-effort
    // review, r12)
    val fitOld = fitPpm(oldIds, oldVecs)
    val recOld = recallPpm(oldIds, oldVecs)
    val fitNew = if (retrained) fitPpm(newIds, newVecs) else fitOld
    val recNew = if (retrained) recallPpm(newIds, newVecs) else recOld
    Seq(
      ("max_abs_drift_ppm", maxDrift),
      ("retrained", if (retrained) 1L else 0L),
      ("fit_old_ppm", fitOld),
      ("fit_new_ppm", fitNew),
      ("fit_recovery_ppm", fitNew - fitOld),
      ("recall_old_ppm", recOld),
      ("recall_new_ppm", recNew)).toDF("metric", "value")
  }

  /** IVF with k-means-TRAINED centroids ([[kmeansCentroids]]) instead of
    * seed vectors — same probe plumbing, data-adaptive lists. */
  def ivfTrainedTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val (cids, cvecs) = kmeansCentroids(s, emb, NLists, Iters)
    ivfWithCentroids(s, emb, cids, cvecs, NumQueries, TopK)
  }

  /** Session-scoped PERSISTED IVF index artifact — the
    * train-once/serve-many shape production actually deploys (the
    * dd_spans_incremental gram-index discipline applied to ANN):
    * k-means runs ONCE per corpus and the index is
    * WRITTEN as two parquet tables under a fresh artifact dir:
    *
    *  - `centroids/`: (cid, cvec) — ≤ NLists rows, the probe-routing
    *    table every serving query collects (a bounded driver
    *    artifact, the frozen-LM rule);
    *  - `lists/`: (vec_id, embedding) PARTITIONED BY cid — the
    *    inverted lists as a real storage layout, so a serving query's
    *    scan prunes to its probed lists at the FILE level (at 100 TB
    *    with 10⁴-10⁵ lists, an NProbe=4 query touches 4 directories,
    *    not the corpus; this is what in-session assignment can never
    *    give you).
    *
    * Building pays one corpus assignment pass + the training jobs;
    * every subsequent [[ivfServeTopK]] call reads the artifact with
    * ZERO training or corpus-assignment work in its plan (PlanSpec
    * pins exactly one embeddings scan — the probe side). */
  private val ivfIndexDirs = new graft.Artifacts.Dirs[String]("graft-ivf-index")

  /** Train on `corpus` and write the index layout into `out` — the
    * ONE builder both artifact paths share ([[ivfIndexDir]] trains on
    * the full corpus, [[ivfAppendIndexDir]] on the history split), so
    * a layout change cannot drift the two artifacts apart while
    * [[serveFromIndex]] assumes they are identical (review r13 —
    * the serve side was factored for exactly this reason, the build
    * side had been duplicated). */
  private def buildIndexInto(s: SparkSession, out: String, corpus: DataFrame,
                             payload: String = "embedding",
                             encode: Column => Column = identity): Unit = {
    import s.implicits._
    val (cids, cvecs) = kmeansCentroids(s, corpus, NLists, Iters)
    // ≤ NLists rows: one file, not 32 near-empty shuffle outputs
    cids.zip(cvecs).toDF("cid", "cvec").coalesce(1)
      .write.mode("overwrite").parquet(out + "/centroids")
    val nearest = centroidAssigner(cids, cvecs)
    // `encode`/`payload` are the storage-encoding hook (identity
    // float column, or SQ8 codes) — the ONE layout writer, so an
    // encoding can never fork the artifact layout from what
    // serveFromIndex expects (review r13, second occurrence)
    corpus.select($"vec_id", encode($"embedding").as(payload),
        nearest($"embedding", 1).getItem(0).as("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(out + "/lists")
  }

  def ivfIndexDir(s: SparkSession, dir: String): String =
    ivfIndexDirs.stage(s, dir) { out =>
      import s.implicits._
      buildIndexInto(s, out, Tables.embeddings(s, dir)
        .select($"vec_id", $"embedding".cast("array<double>").as("embedding")))
    }

  /** Read a persisted index's ≤ NLists centroid rows back (a bounded
    * driver pull; parquet round-trips doubles bit-exactly). */
  private def readCentroids(s: SparkSession, idx: String): (Seq[Long], Seq[Seq[Double]]) = {
    val cent = s.read.parquet(idx + "/centroids").orderBy("cid").collect()
    (cent.map(_.getLong(0)).toSeq, cent.map(_.getSeq[Double](1)).toSeq)
  }

  /** The serving plan over ANY persisted index dir: centroid routing
    * for the probes, broadcast probe join against the
    * cid-partitioned `lists/` table (dynamic partition pruning at
    * the file level), rescore + rank inside probed lists only.
    * Shared by [[ivfServeTopK]], [[ivfAppendServeTopK]] and
    * [[ivfSq8ServeTopK]] — the serve shape is a property of the
    * ARTIFACT LAYOUT, not of how the index was built, grown, or
    * encoded; `payload`/`scorer` are the only degrees of freedom an
    * encoding adds (float column + exact cosine vs SQ8 codes +
    * asymmetric distance). */
  private def serveFromIndex(s: SparkSession, dir: String, idx: String,
                             payload: String = "embedding",
                             scorer: (Column, Column) => Column = cosine,
                             probeSource: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    val (cids, cvecs) = readCentroids(s, idx)
    // partitionBy wrote cid as a directory key (read back as a
    // partition column — cast restores the long join type)
    val lists = s.read.parquet(idx + "/lists")
      .select($"vec_id", col(payload), $"cid".cast("long").as("cid"))
    val nearest = centroidAssigner(cids, cvecs)
    // probeSource: an explicit (query_id, q) traffic frame — the
    // versioned lifecycle's probes live in its drifted combined
    // corpus, not the raw embeddings table. Default is the table's
    // bounded id prefix (pushdown-provable for the broadcast guard).
    val probes = probeSource.getOrElse(
        Tables.embeddings(s, dir)
          .filter($"vec_id" < NumQueries)
          .select($"vec_id".as("query_id"), $"embedding".cast("array<double>").as("q")))
      .select($"query_id", $"q", explode(nearest($"q", NProbe)).as("cid"))
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id")
    lists.join(broadcast(probes), Seq("cid"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", round(scorer($"q", col(payload)), 6).as("cos_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= TopK)
      .select($"query_id", $"vec_id", $"cos_sim", $"rk")
      .orderBy($"query_id", $"rk")
  }

  /** IVF serving from the PERSISTED index (`pipe_ivf_serve`): read
    * the ≤ NLists centroid rows back from the artifact (parquet
    * round-trips doubles bit-exactly, so served results are IDENTICAL
    * to [[ivfTrainedTopK]]'s — RecallSpec pins the parity), route
    * each probe to its NProbe lists with the same assignment kernel,
    * and rescore ONLY inside the probed list partitions of the
    * `lists/` table. No k-means job, no corpus assignment pass —
    * training cost lives in [[ivfIndexDir]], serving cost is the
    * probe-bounded scan (the decoupling the bench shows). */
  def ivfServeTopK(s: SparkSession, dir: String): DataFrame =
    serveFromIndex(s, dir, ivfIndexDir(s, dir))

  /** APPEND-grown persisted index (`pipe_ivf_append`) — the ingest
    * verb of the artifact lifecycle: the index is built from the
    * HISTORY partition of the corpus (md5-bucket split, the shared
    * incremental-dedup rule), then the BATCH arrives and is ingested
    * by assigning it map-side against centroids READ BACK FROM THE
    * ARTIFACT (no retraining, no history re-read) and appending the
    * assigned rows as NEW FILES into the same cid-partitioned
    * `lists/` layout. History data files are never rewritten —
    * RecallSpec proves it at the file level (no parquet file holds
    * both history and batch rows) — which is the 100 TB property:
    * a PB-scale index absorbs a daily batch by writing only that
    * batch, and every serving query sees the union through the same
    * partition-pruned scan. Serving after append must equal an
    * in-session IVF over the combined corpus under the same frozen
    * centroids (parity-gated). */
  private val ivfAppendDirs = new graft.Artifacts.Dirs[String]("graft-ivf-append")

  def ivfAppendIndexDir(s: SparkSession, dir: String): String =
    ivfAppendDirs.stage(s, dir) { out =>
      import s.implicits._
      val hb = Sampling.hashBucket($"vec_id")
      val emb = Tables.embeddings(s, dir)
        .select($"vec_id", $"embedding".cast("array<double>").as("embedding"), hb.as("hb"))
      val history = emb.filter($"hb" < Sampling.HistoryBelow).select($"vec_id", $"embedding")
      // phase 1 — BUILD from history only (the shared builder)
      buildIndexInto(s, out, history)
      // phase 2 — INGEST the batch against the persisted artifact:
      // centroids come from the parquet just written (the ingest job
      // owns no training state), batch rows append as new files
      val (cids2, cvecs2) = readCentroids(s, out)
      val nearest2 = centroidAssigner(cids2, cvecs2)
      emb.filter($"hb" >= Sampling.HistoryBelow)
        .select($"vec_id", $"embedding",
          nearest2($"embedding", 1).getItem(0).as("cid"))
        .write.mode("append").partitionBy("cid").parquet(out + "/lists")
    }

  /** Serve from the append-grown index — same plan as
    * [[ivfServeTopK]], different artifact. */
  def ivfAppendServeTopK(s: SparkSession, dir: String): DataFrame =
    serveFromIndex(s, dir, ivfAppendIndexDir(s, dir))

  /** Persisted IVF×SQ8 index (`pipe_ivf_sq8_serve`) — the deployable
    * FAISS `IVF<n>,SQ8` recipe as a STORED artifact, not a session
    * computation: `centroids/` + a 1-row `bounds/` table (the trained
    * per-dimension [lo, hi] — the quantizer's entire state) + `lists/`
    * holding 1-byte/dim SQ8 CODES partitioned by cid. The float
    * embeddings never reach the artifact: on disk the lists are ~8×
    * smaller than the float index (RecallSpec measures the actual
    * parquet footprint ratio), which at 100 TB of embeddings is the
    * difference between an index that fits hot storage and one that
    * doesn't. Serving reads codes + bounds and scores with the
    * asymmetric-distance kernel (exact float probes against
    * dequantize-on-the-fly codes) through the same partition-pruned
    * plan as the float artifact — parity-gated bit-for-bit against
    * the in-session [[ivfSq8TopK]]. */
  private val ivfSq8Dirs = new graft.Artifacts.Dirs[String]("graft-ivf-sq8")

  def ivfSq8IndexDir(s: SparkSession, dir: String): String =
    ivfSq8Dirs.stage(s, dir) { out =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
        .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
      val (los, his) = sq8Bounds(emb)
      Seq((los, his)).toDF("los", "his").coalesce(1)
        .write.mode("overwrite").parquet(out + "/bounds")
      // the shared layout writer with the SQ8 encoding hook: lists
      // carry ONLY (vec_id, code, cid) — the float embedding is
      // dropped before the write, which is the whole footprint
      // argument
      buildIndexInto(s, out, emb, payload = "code",
        encode = e => VectorFunctions.quantizeSq8(e, los, his))
    }

  /** Serve from the persisted SQ8 artifact: bounds read back (a 1-row
    * driver pull), codes scored with [[graft.functions.CosineSq8Asym]]
    * through the shared [[serveFromIndex]] plan. */
  def ivfSq8ServeTopK(s: SparkSession, dir: String): DataFrame = {
    val idx = ivfSq8IndexDir(s, dir)
    val b = s.read.parquet(idx + "/bounds").collect()(0)
    val los = b.getSeq[Double](0)
    val his = b.getSeq[Double](1)
    serveFromIndex(s, dir, idx, payload = "code",
      scorer = (q, code) => VectorFunctions.cosineSq8Asym(q, code, los, his))
  }

  /** VERSIONED index artifact with a manifest swing
    * (`pipe_ivf_reserve`) — the last verb of the lifecycle the
    * r12→r13 arc built: r12 DETECTED drift and retrained in-session,
    * r13 PERSISTED and served a frozen artifact; this closes the seam
    * by making the retrain WRITE a new artifact VERSION and serving
    * swing to it atomically. Layout under one root:
    *
    *  - `v1/`, `v2/`, …: complete immutable index versions, each a
    *    [[buildIndexInto]] layout (`centroids/` + cid-partitioned
    *    `lists/`) — a retrain only ever CREATES a new `v<N+1>/`
    *    directory; committed versions' data files are never touched
    *    again (RecallSpec proves it byte-for-byte);
    *  - `manifest/`: an append-only log of one-row version records;
    *    readers resolve the MAX committed version — the POINTER.
    *    Committing a retrain = appending one tiny file, so the swing
    *    is a metadata operation: stale readers holding `v1` paths
    *    keep working (their files still exist), new queries resolve
    *    `v2`, and a crashed retrain mid-commit leaves only an
    *    uncommitted temp the readers ignore — serving stays on `v1`
    *    (review r14: an overwrite's delete-then-write window would
    *    have emptied the pointer instead).
    *
    * At 100 TB this is how real vector platforms roll indexes: build
    * the new generation beside the old, flip a pointer, garbage-
    * collect old generations asynchronously ([[gcVersions]] — the
    * retention verb, `pipe_ivf_gc`). The lifecycle:
    * [[versionedBuildV1]] trains v1 on HISTORY; the drifted batch
    * arrives; [[versionedRetrainIfDrifted]] re-detects the
    * [[maxShareDriftPpm]] signal under the MANIFEST version's
    * centroids (read from the artifact — the detector owns no
    * training state) and, past threshold, retrains on the combined
    * corpus into `v2` and commits the pointer. Phases are exposed
    * separately so RecallSpec can inventory v1's files between them. */
  private val ivfVersionedDirs =
    new graft.Artifacts.Dirs[String]("graft-ivf-versioned")

  /** Manifest commit = APPENDING a one-row version record; readers
    * resolve the MAX committed version. Append lands as a brand-new
    * file through the committer's write-temp-then-rename, so a crash
    * mid-commit leaves only an uncommitted temp (which parquet reads
    * ignore) and serving stays on the previous version — an
    * overwrite's delete-then-write window would instead leave the
    * pointer EMPTY and take down both versions (review r14). This is
    * the log-of-versions shape real table formats use for exactly
    * this reason. */
  private def commitManifest(s: SparkSession, root: String, version: Long): Unit = {
    import s.implicits._
    Seq(Tuple1(version)).toDF("version").coalesce(1)
      .write.mode("append").parquet(root + "/manifest")
  }

  /** The serving pointer — the max committed version, a bounded
    * driver pull over the few-row manifest log. */
  private[graft] def manifestVersion(s: SparkSession, root: String): Long = {
    import s.implicits._
    s.read.parquet(root + "/manifest")
      .agg(org.apache.spark.sql.functions.max($"version")).collect()(0).getLong(0)
  }

  /** Lifecycle phase 1: v1 trained on the HISTORY split, manifest → 1. */
  private[graft] def versionedBuildV1(s: SparkSession, root: String, dir: String,
                                      tagged0: Option[DataFrame] = None): Unit = {
    import s.implicits._
    val history = tagged0.getOrElse(driftedTagged(s, dir))
      .filter($"is_b" === 0L).select($"vec_id", $"embedding")
    buildIndexInto(s, root + "/v1", history)
    commitManifest(s, root, 1L)
  }

  /** Lifecycle phase 2: detect share drift under the CURRENT manifest
    * version's centroids; past threshold, retrain on the combined
    * corpus into a NEW `v<N+1>/` directory and swing the manifest.
    * Returns whether a retrain committed. The existing version's
    * directories are never written to — only a fresh sibling and the
    * appended manifest record. */
  private[graft] def versionedRetrainIfDrifted(s: SparkSession, root: String, dir: String,
                                               tagged0: Option[DataFrame] = None): Boolean = {
    import s.implicits._
    val tagged = tagged0.getOrElse(driftedTagged(s, dir))
    val ver = manifestVersion(s, root)
    val (cids, cvecs) = readCentroids(s, s"$root/v$ver")
    val nearest = centroidAssigner(cids, cvecs)
    if (maxShareDriftPpm(tagged, nearest) < DriftThresholdPpm) false
    else {
      buildIndexInto(s, s"$root/v${ver + 1}", tagged.select($"vec_id", $"embedding"))
      commitManifest(s, root, ver + 1)
      true
    }
  }

  def ivfVersionedDir(s: SparkSession, dir: String): String =
    ivfVersionedDirs.stage(s, dir) { root =>
      // ONE checkpointed drifted frame shared by both phases — each
      // phase calling driftedTagged itself would materialize (and
      // leak, checkpoint blocks being non-recomputable) the corpus
      // TWICE per build (review r14). The phase functions keep their
      // self-building default for the spec's phase-isolated gates.
      val tagged = Some(driftedTagged(s, dir))
      versionedBuildV1(s, root, dir, tagged)
      versionedRetrainIfDrifted(s, root, dir, tagged)
    }

  /** Serve THROUGH the manifest (`pipe_ivf_reserve`): resolve the
    * pointer (1-row pull), then the shared [[serveFromIndex]] plan
    * over `v<manifest>/` — the same broadcast-probe + file-level-DPP
    * shape as every other artifact serve (PlanSpec pins it holds
    * through the indirection). Probe traffic comes from the drifted
    * combined corpus — the queries a post-drift deployment actually
    * receives — so served results are gated EXACTLY equal to an
    * in-session IVF under the retrained centroids (RecallSpec). */
  def ivfReserveTopK(s: SparkSession, dir: String): DataFrame = {
    val root = ivfVersionedDir(s, dir)
    serveThroughManifest(s, dir, root)
  }

  /** The manifest-resolved serve shared by every versioned-root
    * consumer (`pipe_ivf_reserve`, `pipe_ivf_gc`): pointer pull, then
    * the common [[serveFromIndex]] plan over `v<manifest>/`. */
  private[graft] def serveThroughManifest(s: SparkSession, dir: String, root: String): DataFrame = {
    import s.implicits._
    val ver = manifestVersion(s, root)
    // bounded probe frame: the vec_id filter pushes to the embeddings
    // scan BELOW the drift transform (no corpus scan, no checkpoint —
    // review r14), with per-row arithmetic identical to the full
    // tagged frame's, so served rows are unchanged
    val probes = driftedTagged(s, dir, idBound = Some(NumQueries.toLong))
      .select($"vec_id".as("query_id"), $"embedding".as("q"))
    serveFromIndex(s, dir, s"$root/v$ver", probeSource = Some(probes))
  }

  /** Retention GC over a versioned index root (`pipe_ivf_gc`) — the
    * lifecycle's LAST verb, the one [[ivfVersionedDir]]'s docstring
    * promised: build the new generation beside the old, flip the
    * pointer, garbage-collect old generations. The retention rule is
    * "keep the manifest version plus `keep` predecessors"; every
    * version directory strictly below that floor is RETIRED and
    * deleted. Two invariants make this safe at 100 TB:
    *
    *  - the MANIFEST is never touched — it is the tiny append-only
    *    audit log of every version that ever served, and the pointer
    *    (max committed version) is by construction ≥ the floor, so
    *    serving resolves the same bytes before and after a GC;
    *  - deletion is confined to retired `v<k>/` subtrees — RecallSpec
    *    proves the post-GC root inventory equals the pre-GC inventory
    *    minus EXACTLY the retired subtree, byte-for-byte.
    *
    * Returns the retired version numbers (ascending; empty when
    * nothing falls below the floor — GC is idempotent). */
  private[graft] def gcVersions(s: SparkSession, root: String, keep: Int): Seq[Long] = {
    require(keep >= 0, s"retention must keep at least the serving version, got keep=$keep")
    val floor = manifestVersion(s, root) - keep
    val retired = Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(_.getName.drop(1).toLong).filter(_ < floor).sorted.toSeq
    retired.foreach { v =>
      // children-before-parents: reverse-sorted walk = rm -r
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root, s"v$v"))
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(java.nio.file.Files.delete(_))
      finally walk.close()
    }
    retired
  }

  private val ivfGcDirs = new graft.Artifacts.Dirs[String]("graft-ivf-gc")

  /** Full lifecycle WITH the GC verb (`pipe_ivf_gc`): v1 on history,
    * drift-triggered retrain to v2 + manifest swing, retention GC at
    * keep=0 retiring v1, then serve through the manifest. The same
    * deterministic lifecycle as [[ivfReserveTopK]] on its own root,
    * so the served frame is gated row-identical to `pipe_ivf_reserve`
    * (RecallSpec) — the GC deleted a generation serving no longer
    * reads, and nothing else. */
  def ivfGcServeTopK(s: SparkSession, dir: String): DataFrame = {
    val root = ivfGcDirs.stage(s, dir) { r =>
      val tagged = Some(driftedTagged(s, dir))
      versionedBuildV1(s, r, dir, tagged)
      versionedRetrainIfDrifted(s, r, dir, tagged)
      gcVersions(s, r, keep = 0)
    }
    serveThroughManifest(s, dir, root)
  }

  /** Stream-side scoring against a persisted index
    * (`ann_stream_serve`'s corpus-sized work): a PROBE STREAM's rows
    * route to their `NProbe` lists with the same assignment kernel
    * (map-side — centroids are a bounded driver pull made BEFORE the
    * stream starts, the frozen-LM rule), then stream-static equi-join
    * the cid-partitioned `lists/` table per micro-batch. Stateless
    * Append shape: the artifact is the static side, the probes drive,
    * and each match emits exactly once — which is why an unbounded
    * query stream can serve from the same artifact batch sweeps read.
    * Emits UNRANKED (query_id, vec_id, cos_sim) matches; rank/top-k
    * is bounded post-sink work (the dd_stream_spans discipline),
    * keeping the stream free of unsupported streaming windows. */
  private[graft] def serveStreamScored(s: SparkSession, idx: String,
                                       probeStream: DataFrame): DataFrame = {
    import s.implicits._
    val (cids, cvecs) = readCentroids(s, idx)
    val lists = s.read.parquet(idx + "/lists")
      .select($"vec_id", $"embedding", $"cid".cast("long").as("cid"))
    val nearest = centroidAssigner(cids, cvecs)
    probeStream
      .select($"query_id", $"q", explode(nearest($"q", NProbe)).as("cid"))
      .join(lists, Seq("cid"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", round(cosine($"q", $"embedding"), 6).as("cos_sim"))
  }

  /** Lloyd's k-means over the corpus, built from the two scale-correct
    * pieces: assignment is the map-side [[graft.functions.NearestCentroids]]
    * kernel (zero shuffle of the corpus), and the update step is the
    * mergeable [[graft.functions.VectorSum]] aggregate — each cluster
    * ships ONE dim-sized partial sum per partition through the exchange,
    * never its member vectors. Seeds are the first `k` corpus vectors;
    * everything is deterministic. An empty cluster keeps its previous
    * centroid. */
  def kmeansCentroids(s: SparkSession, emb: DataFrame, k: Int,
                      iters: Int): (Seq[Long], Seq[Seq[Double]]) = {
    import s.implicits._
    // memoized per (corpus plan, k, iters): trained centroids are a
    // frozen ARTIFACT like the DSIR LM — production trains once and
    // every consumer (trained IVF, IVF×SQ8, IVF×PQ, SemDeDup) reuses
    // the table, so re-running `iters` Lloyd's jobs per query would
    // misstate the deployment cost. The canonicalized plan captures
    // the source dir; corpus dirs are immutable for the session (lake
    // snapshots; per-run temp fixtures).
    kmeansCache(s, (emb.queryExecution.analyzed.canonicalized.toString, k, iters)) {
      // seeds = the first k corpus vectors in vec_id order; cluster ids
      // are LIST POSITIONS 0..n-1, independent of the (possibly sparse,
      // possibly non-zero-based) vec_id domain, so a corpus with ids
      // starting at 1 — or fewer than k rows — still trains correctly
      var cvecs: Seq[Seq[Double]] = emb.orderBy($"vec_id").limit(k)
        .select($"embedding").collect()
        .map(_.getSeq[Double](0)).toSeq
      require(cvecs.nonEmpty, "kmeansCentroids: empty embedding corpus")
      val cids: Seq[Long] = cvecs.indices.map(_.toLong)
      for (_ <- 0 until iters) {
        val upd = emb
          .select(VectorFunctions.nearestCentroids($"embedding", cids, cvecs, 1)
            .getItem(0).as("cid"), $"embedding")
          .groupBy($"cid")
          .agg(graft.functions.VectorAgg.vectorSum($"embedding").as("vsum"),
            count(lit(1)).as("n"))
          .collect()
          .map(r => r.getLong(0) -> (r.getSeq[Double](1), r.getLong(2))).toMap
        cvecs = cids.map { c =>
          upd.get(c) match {
            case Some((vsum, n)) => vsum.map(_ / n)
            case None            => cvecs(c.toInt) // empty cluster: keep
          }
        }
      }
      (cids, cvecs)
    }
  }

  private val kmeansCache =
    new graft.Artifacts.Memo[(String, Int, Int), (Seq[Long], Seq[Seq[Double]])](cap = 8)
  private val pqCodebookCache =
    new graft.Artifacts.Memo[(String, Int, Int, Int, Int), Seq[Seq[Seq[Double]]]](cap = 8)

  /** PQ codebook broadcasts memoized per (context, codebooks): the
    * m16×k256 default is 16×256×4 doubles ≈ 128 KB, which as plan
    * LITERALS was re-copied through every optimizer transform and
    * re-shipped with every task on EVERY plan build — `Probe jobs`
    * measured ann_pq_topk at wall 1.01 s / job-sum 0.41 s (r22): ~0.6 s
    * of pure per-repetition plan-build gap. Broadcast blocks ship once
    * per executor and the expression carries only the broadcast
    * handle. Repeated plan builds over the same codebooks reuse ONE
    * TorrentBroadcast; eviction unpersists (see [[graft.Artifacts]]). */
  private[graft] val pqBooksBcastCache =
    graft.Artifacts.broadcasts[Seq[Seq[Seq[Double]]], Array[Array[Array[Double]]]](cap = 8)

  /** The PQ encode and score kernels over one memoized codebook
    * broadcast, shared by the PQ-scoring paths. */
  private def pqScorers(s: SparkSession, books: Seq[Seq[Seq[Double]]])
      : (Column => Column, (Column, Column) => Column) = {
    val bc = pqBooksBcastCache(s, books)(
      s.sparkContext.broadcast(books.map(_.map(_.toArray).toArray).toArray))
    (v => VectorFunctions.pqEncodeBcast(v, bc),
      (q, code) => VectorFunctions.cosinePqAsymBcast(q, code, bc))
  }

  /** The IVF assignment kernel over one centroid set, as `nearest(v, k)`:
    * the `k` nearest list ids of `v` ([[graft.functions.NearestCentroids]]). */
  private def centroidAssigner(cids: Seq[Long],
                               cvecs: Seq[Seq[Double]]): (Column, Int) => Column =
    VectorFunctions.nearestCentroids(_, cids, cvecs, _)

  private[graft] def ivfWithCentroids(s: SparkSession, emb: DataFrame,
                                      cids: Seq[Long], cvecs: Seq[Seq[Double]],
                                      numQueries: Int, topK: Int): DataFrame = {
    import s.implicits._
    val nearest = centroidAssigner(cids, cvecs)
    val assigned = emb.select($"vec_id", $"embedding",
      nearest($"embedding", 1).getItem(0).as("cid"))
    // queries probe their NProbe nearest lists — same kernel, k = NProbe
    val probes = emb.filter($"vec_id" < numQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("q"),
        explode(nearest($"embedding", NProbe)).as("cid"))
    // rescore exactly within probed lists only; probes is numQueries ×
    // NProbe rows — always broadcast, so the corpus never shuffles
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id")
    assigned.join(broadcast(probes), Seq("cid"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", round(cosine($"q", $"embedding"), 6).as("cos_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= topK)
      .select($"query_id", $"vec_id", $"cos_sim", $"rk")
      .orderBy($"query_id", $"rk")
  }

  /** IVF × SQ8 composed ANN — the two scale levers of the preceding
    * paths in one index (the FAISS `IVF<n>,SQ8` recipe, the deployable
    * 100 TB shape): k-means-trained inverted lists bound the
    * comparison set to NProbe/NLists of the corpus, and inside the
    * lists the corpus is held as 1 byte/dim SQ8 codes (8× smaller —
    * list partitions that fit in executor memory) scored with
    * asymmetric distance ([[graft.functions.CosineSq8Asym]]: queries
    * stay exact floats, codes dequantize on-the-fly). Training costs
    * one k-means run (map-side assignment + mergeable VectorSum) plus
    * one dim-keyed bounds pass; the probe plumbing is byte-identical
    * to [[ivfTrainedTopK]] and the quantization to [[sq8TopK]], so
    * RecallSpec gates the composition both against the exact float
    * brute force (combined loss) and against the unquantized trained
    * IVF (added quantization loss must be ≈ zero, as the pure-SQ8
    * overlap of 1.000 predicts). Rows-only in the driver contract. */
  def ivfSq8TopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val (cids, cvecs) = kmeansCentroids(s, emb, NLists, Iters)
    val (los, his) = sq8Bounds(emb)
    val nearest = centroidAssigner(cids, cvecs)
    // the corpus carries ONLY (vec_id, cid, code) past this point —
    // the float embedding is dropped at the scan, which is the whole
    // memory argument
    val assigned = emb.select($"vec_id",
      nearest($"embedding", 1).getItem(0).as("cid"),
      VectorFunctions.quantizeSq8($"embedding", los, his).as("code"))
    val probes = emb.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("q"),
        explode(nearest($"embedding", NProbe)).as("cid"))
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id")
    assigned.join(broadcast(probes), Seq("cid"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        round(VectorFunctions.cosineSq8Asym($"q", $"code", los, his), 6)
          .as("cos_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= TopK)
      .select($"query_id", $"vec_id", $"cos_sim", $"rk")
      .orderBy($"query_id", $"rk")
  }

  /** Matryoshka two-stage retrieval (Kusupati et al. 2022, MRL): the
    * funnel deployment of nested-dimension embeddings — stage 1
    * shortlists on the first `prefixDims` dims (the resident index is
    * prefixDims/dim of the full corpus: 4× less memory at 16/64, and
    * 4× fewer multiplies per comparison), stage 2 FETCHES full vectors
    * for shortlist ids only (a bounded broadcast join back into the
    * store — the corpus never shuffles) and reranks with exact cosine.
    * MRL-TRAINED embeddings concentrate information in the prefix so
    * stage 1 barely loses recall; this fixture's embeddings are
    * isotropic — the worst case for truncation (the prefix cosine of a
    * random vector is a noisy 1/4-sample estimate of the full cosine)
    * — so the RecallSpec gate documents the floor geometry, like the
    * sign-LSH gate (measured there: 0.46). DuckDB-oracle-checked
    * since r12: both stages are deterministic sequential dot products
    * (the funnel is approximate vs brute force, but the approximation
    * itself is exactly reproducible arithmetic — stage-1 ranks the
    * UNROUNDED prefix cosine with vec_id tie-break, mirrored in SQL),
    * so the r11-era "two-stage rank isn't robustly hash-comparable"
    * assumption was disproved by construction; the RecallSpec overlap
    * gate stays as belt-and-braces. */
  def mrlTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val prefixDims = 16
    val shortlistK = 40
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val pre = emb.select($"vec_id", slice($"embedding", 1, prefixDims).as("pre"))
    val qPre = emb.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), slice($"embedding", 1, prefixDims).as("qpre"))
    val wS = Window.partitionBy($"query_id").orderBy($"pre_sim".desc, $"vec_id")
    // the limit is a SEMANTIC NO-OP (rank ≤ shortlistK per query ×
    // NumQueries queries caps the set at exactly this many rows) that
    // makes the shortlist's bound structural, so the registry-wide
    // broadcast guard can PROVE the stage-2 hint safe
    val short = pre.join(broadcast(qPre), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        VectorFunctions.cosineSim($"qpre", $"pre").as("pre_sim"))
      .withColumn("rk", row_number().over(wS)).filter($"rk" <= shortlistK)
      .select($"query_id", $"vec_id")
      .limit(NumQueries * shortlistK)
    val qFull = emb.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("q"))
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id")
    emb.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(qFull), Seq("query_id"))
      .select($"query_id", $"vec_id",
        round(VectorFunctions.cosineSim($"q", $"embedding"), 6).as("cos_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= TopK)
      .select($"query_id", $"vec_id", $"cos_sim", $"rk")
      .orderBy($"query_id", $"rk")
  }

  /** Train PQ codebooks on a BOUNDED corpus sample, driver-side —
    * exactly how FAISS trains its quantizers: the training set is a
    * sample (here the first `sampleN` vectors by id — deterministic),
    * pulled once as a bounded artifact (sampleN × dim doubles, ~1 MB),
    * and M independent ksub-means problems are solved locally. At
    * 100 TB you train on the same bounded sample — training cost does
    * not scale with the corpus, only encoding does (map-side).
    * Returns `codebooks(m)(j)` = centroid j of subspace m. */
  private[graft] def pqTrain(s: SparkSession, emb: DataFrame, m: Int,
                             ksub: Int, sampleN: Int = 2048,
                             iters: Int = PqIters): Seq[Seq[Seq[Double]]] = {
    import s.implicits._
    // memoized like kmeansCentroids: the codebooks are the shipped
    // artifact; pqTopK and ivfPqTopK train on the identical sample
    val key = (emb.queryExecution.analyzed.canonicalized.toString,
      m, ksub, sampleN, iters)
    pqCodebookCache(s, key) {
      val sample = emb.orderBy($"vec_id").limit(sampleN)
        .select($"embedding").collect().map(_.getSeq[Double](0).toArray)
      require(sample.nonEmpty, "pqTrain: empty embedding corpus")
      val dim = sample.head.length
      require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
      val dsub = dim / m
      (0 until m).map { mi =>
        val sub = sample.map(v =>
          java.util.Arrays.copyOfRange(v, mi * dsub, (mi + 1) * dsub))
        kmeansLloydLocal(sub, ksub, iters).map(_.toSeq).toSeq
      }
    }
  }

  /** Plain driver-side Lloyd's over a (bounded, sample-sized) array —
    * the subspace trainer behind [[pqTrain]]. Deterministic: seeds are
    * the first k points, L2 assignment ties break toward the lower
    * centroid index, empty clusters keep their previous centroid. */
  private def kmeansLloydLocal(xs: Array[Array[Double]], k: Int,
                               iters: Int): Array[Array[Double]] = {
    var cents = xs.take(math.min(k, xs.length)).map(_.clone)
    val d = xs.head.length
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](d))
      val counts = new Array[Int](cents.length)
      xs.foreach { x =>
        var best = 0
        var bestD = Double.MaxValue
        var j = 0
        while (j < cents.length) {
          var d2 = 0.0
          var t = 0
          while (t < d) { val df = x(t) - cents(j)(t); d2 += df * df; t += 1 }
          if (d2 < bestD) { bestD = d2; best = j }
          j += 1
        }
        counts(best) += 1
        var t = 0
        while (t < d) { sums(best)(t) += x(t); t += 1 }
      }
      cents = cents.indices.map(j =>
        if (counts(j) > 0) sums(j).map(_ / counts(j)) else cents(j)).toArray
    }
    cents
  }

  /** Product-quantized brute-force top-k (Jégou et al. 2011) — the
    * third rung of the quantization ladder after float
    * ([[bruteForceTopK]]) and SQ8 ([[sq8TopK]]): the corpus is held as
    * M = 16 CODE BYTES per vector (32× smaller than array<double> at
    * dim 64; 4× smaller than SQ8), scored with asymmetric cosine
    * ([[graft.functions.CosinePqAsymBcast]]: the dot product decomposes
    * across subspaces, reconstructed norms are table lookups).
    * Defaults are the published PQ shape — 8 BITS per subquantizer
    * (ksub = 256, the FAISS `PQ16` default); round 7 shipped ksub = 16
    * (4-bit) and measured recall 0.20 vs brute force, which the
    * RecallSpec gate now makes unshippable (m16×k256 measures 0.84 on
    * the isotropic fixture; gate ≥ 0.75). Codebooks train on a bounded
    * sample ([[pqTrain]]) and ride one memoized broadcast (M × ksub ×
    * dsub doubles = 128 KB, see [[pqBooksBcastCache]]). Same scan shape as the
    * float brute force, so the RecallSpec gate isolates pure PQ
    * quantization loss. Rows-only in the driver contract (k-means
    * codebooks aren't ANSI-expressible). */
  def pqTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val books = pqTrain(s, emb, PqM, PqKsub)
    val (encode, score) = pqScorers(s, books)
    val coded = emb.select($"vec_id", encode($"embedding").as("code"))
    val queries = emb.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("q"))
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id")
    coded.join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        round(score($"q", $"code"), 6).as("cos_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= TopK)
      .select($"query_id", $"vec_id", $"cos_sim", $"rk")
      .orderBy($"query_id", $"rk")
  }

  /** IVF × PQ composed ANN — the FAISS `IVF<n>,PQ<m>` recipe, the
    * standard web-scale deployable: k-means-trained inverted lists
    * bound the comparison set to NProbe/NLists of the corpus, and
    * inside the lists the corpus is M code bytes per vector. The
    * corpus carries only (vec_id, cid, code) past the scan — at 100 TB
    * of embeddings this is the shape that actually fits an in-memory
    * index. Probe plumbing is byte-identical to [[ivfTrainedTopK]],
    * quantization to [[pqTopK]] (same 8-bit-per-subquantizer default;
    * measured 0.78 vs brute force / 0.88 overlap with the unquantized
    * trained IVF on the isotropic fixture), so RecallSpec gates the
    * composition against both (combined loss vs brute force; added PQ
    * loss vs the unquantized trained IVF).
    *
    * Codes are of the raw vectors, not of FAISS's `by_residual=true`
    * residuals x − centroid(x): on this isotropic cosine fixture the
    * residual composition measured recall 0.740 vs brute force against
    * this path's 0.780. Residuals win when coarse centroids absorb real
    * cluster structure (the clustered-corpus case FAISS optimizes for,
    * under L2); on an isotropic corpus the lists carry little
    * structure, so re-centering only misaligns the shared codebook.
    * Rows-only in the driver contract. */
  def ivfPqTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val (cids, cvecs) = kmeansCentroids(s, emb, NLists, Iters)
    val nearest = centroidAssigner(cids, cvecs)
    val books = pqTrain(s, emb, PqM, PqKsub)
    val (encode, score) = pqScorers(s, books)
    val assigned = emb.select($"vec_id",
      nearest($"embedding", 1).getItem(0).as("cid"),
      encode($"embedding").as("code"))
    val probes = emb.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("q"),
        explode(nearest($"embedding", NProbe)).as("cid"))
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id")
    assigned.join(broadcast(probes), Seq("cid"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        round(score($"q", $"code"), 6).as("cos_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= TopK)
      .select($"query_id", $"vec_id", $"cos_sim", $"rk")
      .orderBy($"query_id", $"rk")
  }

  /** Embedding-cosine near-duplicate detection: pairs above a cosine
    * threshold, found inside multi-table LSH buckets (bucket-equality
    * join, never all-pairs). Threshold 0.4 is calibrated to the
    * synthetic isotropic fixture (max pairwise cosine ≈ 0.5-0.6); a
    * real embedding corpus would use 0.9+ where the LSH collision
    * probability — and so recall — is far higher. */
  def embeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val banded = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
      .select($"vec_id", $"embedding",
        posexplode(VectorFunctions.signLsh($"embedding", LshDim, LshBits, LshTables))
        .as(Seq("tbl", "bucket")))
    val a = banded.select($"tbl", $"bucket", $"vec_id".as("id1"), $"embedding".as("e1"))
    val b = banded.select($"tbl", $"bucket", $"vec_id".as("id2"), $"embedding".as("e2"))
    // score + threshold-filter inside the bucket join, dedup the
    // surviving narrow rows (see lshTopK: wide-row dedup is the trap)
    a.join(b, Seq("tbl", "bucket")).where($"id1" < $"id2")
      .select($"id1", $"id2", round(cosine($"e1", $"e2"), 6).as("cos_sim"))
      .filter($"cos_sim" >= 0.4)
      .dropDuplicates("id1", "id2")
      .orderBy($"id1", $"id2")
  }

  /** Semantic deduplication, SemDeDup-style (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): k-means-cluster the embeddings, then compare
    * pairs only WITHIN each cluster; a vector with a same-cluster
    * partner above the cosine threshold and a smaller vec_id is a
    * semantic duplicate, and the smallest id in each dup group
    * survives. Scale: the quadratic comparison is confined to
    * cluster-equality buckets — cost Σ|cluster|², tuned by k growing
    * with the corpus (the paper's own design; 50k clusters at web
    * scale) — and clustering reuses the map-side
    * [[graft.functions.NearestCentroids]] assignment + mergeable
    * [[graft.functions.VectorSum]] update, so the corpus itself never
    * shuffles for training or assignment. Cross-cluster near-dups are
    * invisible by construction (the paper accepts this recall trade);
    * RecallSpec gates measured recall against a brute-force pair scan
    * and pins precision at exactly 1 (every within-cluster hit is a
    * true pair). Rows-only in the driver contract: k-means isn't
    * ANSI-SQL-expressible. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    // the IVF shape's k-means: the same clusters an IVF index lists, so
    // the pairs compared here are those an IVF probe would rescore
    val (cids, cvecs) = kmeansCentroids(s, emb, NLists, Iters)
    val assigned = emb.select($"vec_id", $"embedding",
      VectorFunctions.nearestCentroids($"embedding", cids, cvecs, 1)
        .getItem(0).as("cid"))
    val a = assigned.select($"cid", $"vec_id".as("id1"), $"embedding".as("e1"))
    val b = assigned.select($"cid", $"vec_id".as("id2"), $"embedding".as("e2"))
    // dominated = has a smaller-id partner in ITS cluster above the
    // threshold; narrow (vec_id) rows survive the bucket join
    val dominated = a.join(b, Seq("cid")).where($"id1" < $"id2")
      .filter(cosine($"e1", $"e2") >= 0.4)
      .select($"id2".as("vec_id")).distinct()
    assigned
      .join(dominated.withColumn("dup", lit(1L)), Seq("vec_id"), "left")
      .select($"vec_id", $"cid", coalesce($"dup", lit(0L)).as("is_dup"))
      .orderBy($"vec_id")
  }
}
