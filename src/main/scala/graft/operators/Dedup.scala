package graft.operators

import graft.{GraftSession, Tables}
import graft.functions.{SketchFunctions, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline (builder prompt):
  * exact, MinHash-LSH, SimHash, and n-gram Jaccard — each designed so the
  * expensive comparison is confined to hash-equal buckets, never an
  * all-pairs product.
  *
  * Scale analysis (100 TB):
  *  - exact: one hash-shuffle on a 32-byte digest; partial-agg friendly.
  *  - MinHash-LSH: signatures are built map-side in one pass per doc;
  *    candidate generation shuffles (band, bucket, doc_id) triples —
  *    O(docs × bands) small rows; verification joins only inside equal
  *    buckets. The O(n²) all-pairs product never materializes.
  *  - SimHash: 64 bit-sums via partial aggregation (64 longs per doc per
  *    partition cross the shuffle); near-dup candidates would band the
  *    64-bit signature into 16-bit chunks (Hamming ≤ 3 ⇒ ≥1 chunk equal).
  *  - n-gram Jaccard: the exact verifier for LSH candidates; exposed
  *    standalone only over a bounded id range.
  */
object Dedup {

  /** The MinHash-LSH shape: `ShingleK`-character shingles, `NumHashes`
    * hashes in `Bands` bands, and a candidate pair kept at an estimated
    * Jaccard of at least `JaccardThreshold`. */
  private[graft] final val ShingleK = 5
  private[graft] final val NumHashes = 16
  private[graft] final val Bands = 4
  private[graft] final val JaccardThreshold = 0.5

  /** The exact n-gram verifiers: `NgramK`-character shingles over the
    * docs with doc_id below `MaxId`; a pair is similar above
    * `NgramThreshold` Jaccard, or above `ContainmentThreshold`
    * containment. */
  private[graft] final val NgramK = 3
  private[graft] final val MaxId = 50L
  private[graft] final val NgramThreshold = 0.3
  private[graft] final val ContainmentThreshold = 0.5

  /** Token n-gram widths: `SpanN` for duplicated spans, `SourceN` for
    * source overlap. */
  private[graft] final val SpanN = 4
  private[graft] final val SourceN = 3

  /** Whitespace-normalized lowercase text — the canonical form all
    * fuzzy-dedup ops hash. */
  def normText(c: Column): Column = lower(regexp_replace(c, "\\s+", " "))

  /** Exact dedup by content digest: keep the smallest doc_id per sha256
    * group, report group size. Deterministic survivor choice. */
  def exactDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy(sha2($"text", 256).as("digest"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_id")
  }

  /** Duplicated-passage removal at segment granularity — the
    * RefinedWeb/CCNet "line dedup" rule (Penedo et al. 2023 §3.3: a
    * line appearing in many documents is boilerplate — headers,
    * cookie banners, license blurbs — and is stripped from every
    * document that carries it), adapted to this corpus's single-line
    * documents by segmenting at tumbling 8-token windows
    * ([[graft.functions.TokenSegments]], one pass, each token in
    * exactly one segment). A segment found in ≥ 2 DISTINCT
    * documents is duplicated; the output reports per-document segment
    * counts and the reassembled text with duplicated segments removed
    * (NULL when nothing survives — the fully-boilerplate case).
    *
    * Scale shape (100 TB): segments are grouped and re-joined on their
    * md5 digest, not the segment text — the count shuffle and the
    * flag join carry 32-hex-char keys regardless of segment length
    * (xxhash64 would halve that again; md5 is kept because the DuckDB
    * oracle can compute it). Both the distinct-doc count and the flag
    * join are plain equi-shuffles ∝ corpus tokens / 8; the
    * reassembly is a per-document sort of ~(tokens/8) elements
    * inside a regular hash aggregation — never a window, never a
    * cross product. */
  def segmentDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val segs = Tables.documents(s, dir)
      .select($"doc_id",
        posexplode(TextFunctions.tokenSegments($"text", 8))
          .as(Seq("seg_idx", "seg")))
    val dup = segs.groupBy(md5($"seg").as("k"))
      .agg(count_distinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"k", lit(1L).as("dup"))
    segs.withColumn("k", md5($"seg"))
      .join(dup, Seq("k"), "left")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_segs"),
        count($"dup").as("n_dup_segs"),
        // collect_list drops the when()'s nulls, so only kept segments
        // reach the per-doc sort; struct order (seg_idx first) makes
        // array_sort restore document order
        array_sort(collect_list(when($"dup".isNull,
          struct($"seg_idx", $"seg")))).as("kept"))
      .select($"doc_id", $"n_segs", $"n_dup_segs",
        // all-duplicated docs keep no segments: NULL, matching the
        // oracle's string_agg over an all-NULL group
        nullif(concat_ws(" ", transform($"kept", _.getField("seg"))), lit(""))
          .as("clean_text"))
      .orderBy($"doc_id")
  }

  /** Fuzzy INCREMENTAL dedup — the near-dup counterpart of
    * [[incrementalDedup]] (which is exact-only): a new batch checked
    * against the existing corpus's MinHash-LSH band index plus
    * within-batch fuzzy dedup, the shape a production fuzzy-dedup
    * service runs per ingest. Split rule mirrors incrementalDedup
    * (md5 hash-bucket of doc_id stands in for the batch boundary).
    *
    * Scale: history participates ONLY as its band-bucket index —
    * at 100 TB that is the PERSISTED index table (bucketed by
    * (band, bucket)), maintained incrementally across ingests, not a
    * recomputation over the corpus (recomputed here because the test
    * corpus is synthetic; the query shape downstream of the index is
    * identical). The probe join keys on (band, bucket), so a bucketed
    * index layout makes it shuffle-free on the history side; the
    * batch side carries batch × bands narrow rows. Verification
    * (signature agreement ≥ threshold, an unbiased Jaccard estimate)
    * runs inside the bucket join — never all-pairs. Within-batch
    * near-dups resolve to min-id survivors via the same banding over
    * batch docs only. Rows-only in the driver contract (xxhash64
    * banding isn't ANSI); DedupSpec gates recall on planted
    * cross-boundary and in-batch near-copies. */
  def incrementalFuzzyDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hb = Sampling.hashBucket($"doc_id")
    val docs = Tables.documents(s, dir).select($"doc_id", $"text", hb.as("hb"))
    val historyIdx = bandedSignatures(
      docs.filter($"hb" < Sampling.HistoryBelow))
    val batchIdx = bandedSignatures(
      docs.filter($"hb" >= Sampling.HistoryBelow))
    val vsHistory = batchIdx.as("b").join(historyIdx.as("h"), Seq("band", "bucket"))
      .select($"b.doc_id".as("doc_id"), $"b.sig".as("sig1"), $"h.sig".as("sig2"))
      .filter(SketchFunctions.minhashAgree($"sig1", $"sig2") >= JaccardThreshold)
      .select($"doc_id").distinct()
      .withColumn("dup_vs_history", lit(1L))
    val dominated = batchIdx.as("x").join(batchIdx.as("y"), Seq("band", "bucket"))
      .where($"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("id1"), $"y.doc_id".as("id2"),
        $"x.sig".as("sig1"), $"y.sig".as("sig2"))
      .dropDuplicates("id1", "id2")
      .filter(SketchFunctions.minhashAgree($"sig1", $"sig2") >= JaccardThreshold)
      .select($"id2".as("doc_id")).distinct()
      .withColumn("dup_in_batch", lit(1L))
    docs.filter($"hb" >= Sampling.HistoryBelow).select($"doc_id")
      .join(vsHistory, Seq("doc_id"), "left")
      .join(dominated, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"dup_vs_history", lit(0L)).as("dup_vs_history"),
        coalesce($"dup_in_batch", lit(0L)).as("dup_in_batch"))
      .withColumn("kept",
        ($"dup_vs_history" === 0L && $"dup_in_batch" === 0L).cast("long"))
      .orderBy($"doc_id")
  }

  /** Cross-document duplicated-SPAN detection via content-defined
    * chunking — the alignment-independent counterpart of
    * [[segmentDedup]] and the scalable approximation of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): chunk boundaries come from
    * the [[graft.functions.CdcChunks]] rolling-hash cut rule, so a
    * passage shared by two documents produces the SAME interior
    * chunks at ANY byte offset — the case tumbling segments
    * structurally miss (a passage offset by one token lands in
    * different segments and never matches; spec-pinned). A chunk
    * hash appearing in ≥ 2 distinct documents marks a
    * duplicated span; emits per doc the chunk/dup-chunk counts and
    * duplicated fraction — the signal exact-substr dedup cuts on.
    * Plan shape is segmentDedup's: explode ∝ bytes/expected-chunk,
    * hash-keyed equi-shuffles, never all-pairs. Rows-only in the
    * driver contract (the cut rule rides a 2⁶⁴ rolling hash);
    * DedupSpec pins chunk partition/cut-rule properties,
    * offset-shift invariance, and the planted cross-doc passage. */
  def cdcSpanDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = Tables.documents(s, dir)
      .select($"doc_id",
        explode(graft.functions.TextFunctions.cdcChunks(normText($"text")))
          .as("h"))
    val dup = chunks.groupBy($"h")
      .agg(count_distinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"h", lit(1L).as("dup"))
    chunks.join(dup, Seq("h"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        count($"dup").as("n_dup_chunks"))
      .withColumn("dup_frac",
        floor($"n_dup_chunks".cast("double") * 10000.0 /
          $"n_chunks".cast("double")) / 10000.0)
      .orderBy($"doc_id")
  }

  /** Distinct k-character shingles of the normalized text, as an array
    * column — one-pass [[graft.functions.ShingleSet]] kernel (the
    * `array_distinct(transform(sequence, i -> substr))` composition
    * evaluated its lambda interpreted, once per shingle per doc; the
    * kernel is equivalence-tested against it in PropertySpec). */
  def shingleArray(norm: Column, k: Int): Column =
    SketchFunctions.shingles(norm, k)

  /** MinHash signature of the normalized text: one-pass custom
    * Catalyst kernel ([[graft.functions.MinHashSig]]). The previous
    * higher-order-function composition (nested transform/array_min)
    * evaluated interpreted and re-built the shingle stream per seed —
    * 228 s for 5k docs; the kernel does it in ~1 s. */
  def minhashSig(norm: Column, k: Int, numHashes: Int): Column =
    SketchFunctions.minhash(norm, k, numHashes)

  /** MinHash + LSH banding: docs sharing any band bucket are candidate
    * near-duplicates; candidates are verified by minhash agreement rate
    * (an unbiased Jaccard estimate). numHashes=16, 4 bands × 4 rows.
    * The declared query adds a deterministic ORDER BY for the driver
    * contract; [[lshClusters]] consumes [[minhashPairs]] directly —
    * sorting 100 TB of candidate pairs that feed straight into a
    * clustering shuffle would be pure waste. */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    minhashPairs(s, dir, JaccardThreshold)
      .orderBy($"id1", $"id2")
  }

  /** Band-bucket index over minhash signatures — (doc_id, sig, band,
    * bucket) rows. Band hashes are a static Scala loop → one array
    * column of `Bands` buckets, and the signature is CARRIED through
    * the band explode: signatures are computed once per doc and
    * candidates need no join-back (the join-back formulation scanned
    * documents 4× and recomputed every signature 3×). Shuffle cost:
    * bands × (16 longs + key) per doc. Shared by the all-pairs LSH
    * path and the incremental-fuzzy probe so band hashing cannot
    * diverge between them. */
  private def bandedSignatures(df: DataFrame): DataFrame = {
    val rows = NumHashes / Bands
    // Spread + localCheckpoint around the MinHash kernel: the corpus
    // self-join below reads this frame from TWO plan positions, and
    // without the materialization each position re-runs the signature
    // kernel over the whole corpus — on the single-file fixture scan
    // that is two SERIAL kernel passes (guide §2.5 input skew). The
    // checkpointed frame is (id, 16 longs) per doc, corpus-row-
    // proportional metadata, exactly the "shuffle keys and metadata
    // instead of payloads" shape of guide §2.3.
    val signed = Spread(df, col("doc_id")).select(col("doc_id"),
      minhashSig(normText(col("text")), ShingleK, NumHashes).as("sig"))
      .localCheckpoint()
    val bandHashes = array((0 until Bands).map(b =>
      xxhash64(lit(b), slice(col("sig"), b * rows + 1, rows))): _*)
    signed.select(col("doc_id"), col("sig"),
      posexplode(bandHashes).as(Seq("band", "bucket")))
  }

  /** Unsorted LSH candidate pairs (id1, id2, est_jaccard) — the
    * pipeline-internal form. */
  def minhashPairs(s: SparkSession, dir: String,
                   threshold: Double): DataFrame = {
    import s.implicits._
    val banded = bandedSignatures(Tables.documents(s, dir))
    val cand = banded.as("x").join(banded.as("y"), Seq("band", "bucket"))
      .where($"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("id1"), $"y.doc_id".as("id2"),
        $"x.sig".as("sig1"), $"y.sig".as("sig2"))
      .dropDuplicates("id1", "id2")
    cand.select($"id1", $"id2",
        SketchFunctions.minhashAgree($"sig1", $"sig2").as("est_jaccard"))
      .filter($"est_jaccard" >= threshold)
  }

  /** SimHash: 64-bit near-dup signature via the one-pass map-side
    * kernel ([[graft.functions.SimHash64]]) — zero shuffle for the
    * signature itself (the explode+64-conditional-sums formulation
    * shuffles 64 longs per doc; the kernel shuffles nothing). */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", SketchFunctions.simhash64(normText($"text")).as("simhash64"))
      .orderBy($"doc_id")
  }

  /** Near-duplicate CLUSTER formation — the step after pair generation
    * that production dedup actually needs: pairs (a,b),(b,c) must
    * collapse to one surviving document, which means connected
    * components over the pair graph. Implemented as iterative min-label
    * propagation: every doc starts labeled with its own id; each round
    * every doc takes the min label among itself and its neighbors;
    * fixpoint = component-min labels. Convergence is detected by the
    * (strictly decreasing until fixpoint) global label sum, and
    * `localCheckpoint` truncates lineage each round so the plan doesn't
    * grow with iterations.
    *
    * Scale: each round is one equi-join + one min-aggregate on (vertex,
    * label) longs — both hash-partitioned by vertex id, no wide rows.
    * Rounds needed = graph diameter (near-dup components are shallow —
    * chains longer than a few hops are rare); deep pair graphs take
    * [[lshClusters]]'s large-star/small-star contraction instead. Each
    * algorithm is the faster one on its own query (measured at sf0.1,
    * ROADMAP's measured no-gos), so both stay. Pairs here come from
    * the exact n-gram verifier over its bounded domain so the DuckDB
    * oracle (recursive CTE over the identical pair set) can hash-check
    * the clustering; the 100 TB pipeline feeds [[minhashLsh]] pairs in
    * instead. */
  def nearDupClusters(s: SparkSession, dir: String): DataFrame =
    clusterFrame(clusterLabels(s, dir))

  /** (v, label) → the cluster output contract: (doc_id, cluster_id,
    * cluster_size), deterministic order. Cluster size is a groupBy
    * partial aggregation re-attached by an equi-join on the label —
    * NOT a `count over (partition by label)` window: the window form
    * was the registry's last unpruned corpus-derived-key WindowExec
    * (a degenerate corpus collapsing into one giant cluster would
    * sort that cluster's whole membership in ONE task), while the
    * aggregate absorbs any hot label map-side and the join
    * redistributes rows with no per-partition sort. Both callers
    * hand in a localCheckpointed label frame, so the two consumers
    * read a materialized scan instead of re-running the iterative
    * job. */
  private def clusterFrame(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("v").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Converged (vertex, component-min-label) frame, cached per
    * (context, inputs) so `survivors` reuses the `dd_clusters` result
    * instead of re-running pair generation + propagation — the frame is
    * localCheckpointed, so the cached plan is a materialized RDD scan.
    *
    * Lifetime: a cached entry pins its checkpointed RDD blocks until the
    * entry is dropped (the ContextCleaner reclaims the blocks once the
    * DataFrame becomes unreachable). Entries are bounded by the distinct
    * (input, params) tuples a session touches — a handful in practice —
    * with a cap of 32 entries against parameter sweeps, and
    * [[clearLabelCache]] as the explicit epoch boundary
    * ([[graft.SparkEntry.run]] clears it before each `dd_clusters` run
    * so a timed run pays the real clustering cost, not a cached-scan
    * replay). */
  private val labelCache =
    new graft.Artifacts.Memo[String, DataFrame](cap = 32)

  /** Drop all cached cluster labels (and with them the references
    * pinning their checkpointed RDDs). Next `nearDupClusters` /
    * `survivors` call recomputes from pairs. */
  def clearLabelCache(): Unit = labelCache.forget()

  private def clusterLabels(s: SparkSession, dir: String): DataFrame = {
    labelCache(s, dir) {
      import s.implicits._
      val pairs = ngramJaccard(s, dir).select($"id1", $"id2")
      val vertices = Tables.documents(s, dir).filter($"doc_id" < MaxId)
        .select($"doc_id".as("v"))
      labelPropagation(s, vertices, pairs)
    }
  }

  /** Scoped shuffle sizing for the iterative graph loops: the frames
    * inside them are proportional to the clustering input — the edge
    * set for star contraction, max(edges, vertices) for label
    * propagation, whose per-round groupBy shuffles the vertex-scaled
    * label frame — orders of magnitude smaller than the corpus the
    * session's `spark.sql.shuffle.partitions` is sized for. Spraying a
    * few thousand 16-byte rows over 32 partitions per round made task
    * scheduling the dominant cost (measured at sf0.1: 5.5 s → 3.3 s by
    * sizing down). ~1M rows (~16 MB) per partition, uncapped upward
    * for genuinely large graphs. Set/restore mutates the SESSION conf,
    * so like StreamingOps's state-partition sizing it assumes the
    * harness runs queries sequentially on the session — a concurrent
    * planner on the same session would see the loop-sized conf. */
  private def withGraphShuffle[T](s: SparkSession, rowScale: Long)(body: => T): T = {
    // AQE is scoped OFF with the sizing (r15): inside the loop every
    // partition count is already set explicitly from the measured row
    // scale, so AQE has nothing left to re-plan — but it still
    // materializes EVERY exchange as its own query-stage job (a
    // listener measured 70 jobs / 165 stages for one sf0.1
    // lshClusters call; per-round work is a handful of one-task
    // stages whose cost is pure scheduling). Static execution runs
    // each round as ONE job. On a real cluster the same reasoning
    // holds: the loop's frames are the near-dup subgraph, orders of
    // magnitude below the corpus scale AQE is tuned for.
    GraftSession.withConfs(s, "spark.sql.shuffle.partitions" ->
      math.max(1L, rowScale / 1000000L + 1).toString,
      "spark.sql.adaptive.enabled" -> "false",
      // whole-stage codegen scoped OFF with the sizing (r21): each
      // round re-plans a structurally fresh ~12-operator tree over a
      // handful of KB, and generating+compiling fused classes per
      // round is pure driver latency at that scale — interpreted
      // execution of a few thousand rows is free by comparison. On a
      // genuinely large graph the loop's per-round data cost dominates
      // either way; the conf is scoped and restored like the others.
      "spark.sql.codegen.wholeStage" -> "false")(body)
  }

  /** Iterative min-label propagation: rounds = graph diameter — the
    * right default for near-dup graphs (shallow components). One Spark
    * job per round: the labelSum action computes the convergence scalar
    * AND materializes the lazy localCheckpoint (the eager form issued
    * two jobs — checkpoint + sum). */
  private[graft] def labelPropagation(s: SparkSession, vertices: DataFrame,
                                      pairs: DataFrame): DataFrame = {
    import s.implicits._
    val p = pairs.toDF("a", "b")
    val edges = p.union(p.select($"b", $"a"))
      .toDF("src", "dst").localCheckpoint()
    // coalesce: sum over an empty vertex set is NULL — an out-of-range
    // maxId must yield an empty result, not an unboxing NPE. The
    // initial action also counts the vertices: the per-round groupBy
    // shuffles the VERTEX-scaled label frame, so a sparse pair graph
    // over a large vertex set must size by vertices, not edges.
    def sumAndCount(df: DataFrame): (Long, Long) = {
      val r = df.agg(coalesce(sum($"label"), lit(0L)), count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    def labelSum(df: DataFrame): Long = sumAndCount(df)._1
    var labels = vertices.select($"v", $"v".as("label"))
    val (initSum, nVertices) = sumAndCount(labels)
    withGraphShuffle(s, math.max(edges.count(), nVertices)) {
      var prevSum = Long.MaxValue
      var curSum = initSum
      while (curSum < prevSum) {
        prevSum = curSum
        val prop = edges.join(labels, $"src" === $"v").select($"dst".as("v"), $"label")
        labels = labels.union(prop)
          .groupBy($"v").agg(min($"label").as("label"))
          .localCheckpoint(false)
        curSum = labelSum(labels)
      }
      labels
    }
  }

  /** Alternating large-star/small-star connected components (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components
    * in MapReduce and Beyond", SoCC'14): converges in O(log n) rounds
    * on ANY graph shape, including the adversarial long-chain dup graph
    * where label propagation needs diameter rounds. Each half-round is
    * one groupBy-min + join-back on (long, long) edges; no wide rows.
    *
    *  - large-star: every node links its strictly-larger neighbors to
    *    min({u} ∪ N(u));
    *  - small-star: edges directed large→small, every node links its
    *    smaller neighbors (and itself) to that minimum.
    *
    * Fixpoint: the edge set is a union of stars (v → component min),
    * detected by an unchanged (count, hash-sum) signature — one agg
    * action per round on the frame the lazy checkpoint materializes.
    * Returns (labels, rounds) so specs can assert the O(log n) bound. */
  private[graft] def starContraction(s: SparkSession, vertices: DataFrame,
                                     pairs: DataFrame): (DataFrame, Int) = {
    import s.implicits._
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.union(e.select($"v".as("u"), $"u".as("v")))
      val mins = nbrs.groupBy($"u").agg(least(min($"v"), first($"u")).as("m"))
      // m ≤ u < v, so no self-loops possible. NO mid-round distinct
      // (r15): duplicate (v, m) rows — different neighbors sharing a
      // min — are bounded by the input edge count, groupBy-min in the
      // next half-round is duplicate-insensitive, and smallStar's
      // terminal distinct canonicalizes the round's output (which is
      // where the convergence signature reads). Dropping it removes
      // one exchange from every round of a loop whose cost at bench
      // scale is per-stage scheduling latency, not data.
      nbrs.join(mins, "u").where($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val directed = e.select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
      val mins = directed.groupBy($"u").agg(min($"v").as("m"))
      directed.join(mins, "u")
        .select(explode(array(
          struct($"v".as("a"), $"m".as("b")),
          struct($"u".as("a"), $"m".as("b")))).as("e"))
        .select($"e.a".as("u"), $"e.b".as("v"))
        .where($"u" =!= $"v").distinct()
    }
    def signature(e: DataFrame): (Long, Long) = {
      // bit_xor, not sum: order-independent over the distinct edge set
      // and immune to ANSI long-overflow on hash values
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64($"u", $"v")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var edges = pairs.toDF("u", "v").where($"u" =!= $"v").localCheckpoint()
    // ONE action primes both the loop's shuffle sizing (the count) and
    // the convergence baseline (the signature) — the split form paid an
    // extra job on the same checkpointed frame (r15)
    val init = signature(edges)
    withGraphShuffle(s, init._1) {
      var prev = (-1L, 0L)
      var cur = init
      var rounds = 0
      // MEASURED NO-GO (r22, verdict item 6): batching TWO alternating
      // rounds per checkpoint + signature action — the loop's cost at
      // bench scale is per-job gaps (`Probe jobs`: wall 3.6 s, job-sum
      // 1.8 s over 24 jobs), so halving the convergence actions looked
      // right — made dd_lsh_clusters ~2× WORSE (solo min-of-6 A/B at
      // sf0.1: 3.4-4.5 s → 7.0-10 s). Each star half references its
      // input twice (nbrs feeds both the min rollup and the join-back),
      // so the INNER round of an un-checkpointed double-round re-executes
      // under every outer reference — the per-round localCheckpoint is
      // load-bearing, not overhead. Convergence actions stay 1:1 with
      // rounds.
      while (cur != prev) {
        prev = cur
        edges = smallStar(largeStar(edges)).localCheckpoint(false)
        cur = signature(edges)
        rounds += 1
      }
      // stars: every non-root points at its component min; roots and
      // isolated vertices label themselves. The label join is built
      // here but plans lazily under the CALLER's shuffle conf — right,
      // since `vertices` scales with the corpus, not the edge set.
      val roots = edges.groupBy($"u").agg(min($"v").as("label"))
      val labels = vertices
        .join(roots, vertices("v") === roots("u"), "left")
        .select(vertices("v"), coalesce($"label", vertices("v")).as("label"))
      (labels, rounds)
    }
  }

  /** Near-dup clusters over the MinHash-LSH candidate pairs — the
    * 100 TB wiring of [[nearDupClusters]], which pins the identical
    * clustering machinery to a DuckDB recursive-CTE oracle on the
    * exact verifier's bounded pair set. Here the pairs come from
    * [[minhashLsh]]'s bucketed equi-join (never all-pairs) and
    * components form by large-star/small-star contraction. Star, not
    * label propagation, is the right algorithm here — measured on the
    * sf0.1 corpus, the LSH pair graph is 2,246 pairs over 1,934 docs
    * with component diameters around 20 (near-dups chain: each mutation
    * of a document pairs with its neighbors, not the whole family), so
    * label propagation needs 21 diameter-bound rounds where star
    * contraction converges in O(log n).
    *
    * The vertex frame is the PAIR-GRAPH MEMBERS, not the corpus: a
    * document with no candidate pair is a singleton by definition and
    * never enters the propagation, so every round's shuffle is
    * proportional to the near-dup subgraph (tiny on a mostly-unique
    * corpus) instead of the full document set. The pair list is
    * localCheckpointed once — members, the initial label frame, and
    * the edge set all derive from it, and without the checkpoint each
    * branch re-runs the signature+bucket join.
    *
    * Deliberately NOT cached: each call pays its real cost (no per-run
    * reset needed) and `survivors` stays on the oracle-checked
    * path. Spec-gated in DedupSpec against a driver-side union-find
    * over the same pair list — xxhash64 banding isn't
    * ANSI-expressible, so there is no SQL oracle. */
  def lshClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = minhashPairs(s, dir, JaccardThreshold)
      .select($"id1", $"id2").localCheckpoint()
    val members = pairs.select($"id1".as("v"))
      .union(pairs.select($"id2".as("v"))).distinct()
    // every member sits in a >=2 component by construction, so no
    // singleton filter is needed. localCheckpoint: clusterFrame reads
    // the label frame twice (size rollup + member join) — star
    // contraction's output is otherwise un-materialized on this
    // uncached path, and the two consumers' exchanges don't
    // canonicalize to one (partial agg below one of them)
    clusterFrame(starContraction(s, members, pairs)._1.localCheckpoint(false))
  }

  /** Survivor selection — the final dedup step: one winner per
    * near-dup cluster, chosen by highest quality score (ties → smallest
    * doc_id), completing the pipeline pairs → clusters → survivors.
    * This is the oracle-checked registry entry (`dd_survivors`) over
    * [[nearDupClusters]]; [[survivorsFor]] applies the identical
    * selection to ANY cluster frame — e.g. [[lshClusters]] for the
    * 100 TB path. */
  def survivors(s: SparkSession, dir: String): DataFrame =
    survivorsFor(s, dir, nearDupClusters(s, dir))

  /** One quality-ranked winner per cluster of an arbitrary (doc_id,
    * cluster_id, cluster_size) frame. Per-cluster argmax by
    * (quality desc, doc_id asc) is a STRUCT-MAX aggregation, not a
    * ranked window: where only the winner survives, `max(struct(
    * quality, −doc_id))` compares lexicographically — exactly the
    * declared order — and the aggregate absorbs each cluster
    * map-side (partial max per partition), so even a degenerate
    * corpus-sized cluster never sorts its membership in one task.
    * (doc_id ≥ 0 in every fixture and contract; the negation trick
    * would need a sign-safe struct field for signed ids.) The join
    * that attaches scores is keyed on doc_id like every per-doc
    * table. */
  def survivorsFor(s: SparkSession, dir: String, clusters: DataFrame): DataFrame = {
    import s.implicits._
    val quality = TextAnalysis.qualityScore(s, dir).select($"doc_id", $"quality")
    clusters.join(quality, "doc_id")
      .groupBy($"cluster_id")
      .agg(max(struct($"quality", (-$"doc_id").as("neg_id"))).as("win"),
        max($"cluster_size").as("cluster_size"))
      .select($"cluster_id", (-$"win.neg_id").as("survivor_id"),
        $"win.quality".as("survivor_quality"), $"cluster_size")
      .orderBy($"cluster_id")
  }

  /** n-gram Jaccard similarity over a bounded id range (the standalone
    * exact verifier; in the full pipeline it runs only on LSH candidate
    * pairs). Non-equi join stays tiny by construction. */
  def ngramJaccard(s: SparkSession, dir: String, k: Int = NgramK, maxId: Long = MaxId,
                   threshold: Double = NgramThreshold): DataFrame = {
    import s.implicits._
    val g = Tables.documents(s, dir).filter($"doc_id" < maxId)
      .select($"doc_id", shingleArray(normText($"text"), k).as("grams"))
    val a = g.select($"doc_id".as("id1"), $"grams".as("g1"))
    val b = g.select($"doc_id".as("id2"), $"grams".as("g2"))
    a.join(b, $"id1" < $"id2")
      .select($"id1", $"id2",
        round(SketchFunctions.jaccard($"g1", $"g2"), 4).as("jaccard"))
      .filter($"jaccard" > threshold)
      .orderBy($"id1", $"id2")
  }

  /** n-gram CONTAINMENT (overlap coefficient |A∩B| / min(|A|,|B|))
    * over the same bounded id range as [[ngramJaccard]] — the
    * near-SUPERSET detector Jaccard structurally misses: a short doc
    * fully quoted inside a much longer one scores Jaccard ≈
    * |A|/|B| → 0 but containment 1.0 (the quote-expansion /
    * page-plus-boilerplate case every dedup survey calls out;
    * Broder 1997 distinguishes resemblance from containment for
    * exactly this reason). Same pipeline position as the Jaccard
    * verifier: exact form on bounded ids / LSH candidates; at 100 TB
    * the candidates come from the banded paths and this is the
    * per-pair rescoring function. */
  def ngramContainment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = Tables.documents(s, dir).filter($"doc_id" < MaxId)
      .select($"doc_id", shingleArray(normText($"text"), NgramK).as("grams"))
    val a = g.select($"doc_id".as("id1"), $"grams".as("g1"))
    val b = g.select($"doc_id".as("id2"), $"grams".as("g2"))
    a.join(b, $"id1" < $"id2")
      .select($"id1", $"id2",
        round(size(array_intersect($"g1", $"g2")).cast("double") /
          least(size($"g1"), size($"g2")).cast("double"), 4).as("containment"))
      .filter($"containment" > ContainmentThreshold)
      .orderBy($"id1", $"id2")
  }

  /** The production containment pipeline: banded MinHash-LSH
    * candidate generation → exact containment rescoring of the
    * candidate pairs only (the "per-pair rescoring downstream of
    * banded candidates" shape SCALING.md promises for
    * [[ngramContainment]]). Candidates come from [[minhashPairs]]
    * with NO Jaccard threshold — deliberately: a short doc contained
    * in a long one has low Jaccard (a threshold would drop it before
    * the containment rescore could decide). HONEST RECALL LIMIT: the
    * banding itself is still Jaccard-biased — a contained pair with
    * length ratio r has per-band collision probability ≈ (r/(2-r))^
    * rowsPerBand (Jaccard of full containment = |A|/|B| = r/(2-r) of
    * the union), which is near zero for r ≪ 0.5, so LOW-ratio
    * contained pairs (a paragraph quoted inside a book) are
    * structurally under-recalled no matter how many bands; only
    * moderate ratios survive. DedupSpec pins BOTH sides of that
    * geometry: the planted moderate-ratio pair is found, and a
    * planted low-ratio pair is documented as missed. The
    * containment-targeted candidate arm for low ratios is
    * [[containmentIndexPairs]] (short side's bottom-k sketch probed
    * against the full gram posting index, the LSH-Ensemble direction
    * of Zhu et al. 2016). Gram attach is two candidate-bounded
    * equi-joins (the corpus gram arrays shuffle once by doc_id); no
    * all-pairs anything. Rows-only (LSH banding isn't ANSI-SQL);
    * DedupSpec gates found pairs + values against a driver-side exact
    * recompute and a planted containment fixture. */
  def lshContainment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cand = minhashPairs(s, dir, threshold = 0.0).select($"id1", $"id2")
    rescoreContainment(s, dir, cand, NgramK, ContainmentThreshold)
  }

  /** Exact containment rescoring of a bounded candidate-pair frame —
    * the shared tail of [[lshContainment]] and
    * [[containmentIndexPairs]]. Hashed-and-sorted shingles
    * (ShingleHashes kernel): the pair joins ship 8 bytes per shingle
    * instead of ~20, and the rescore is one linear merge per pair
    * (OverlapCoeffSorted) — same values as the string-set formula
    * (DedupSpec recomputes from raw strings, so a 64-bit collision
    * would fail the suite). */
  private def rescoreContainment(s: SparkSession, dir: String, cand: DataFrame,
                                 k: Int, threshold: Double): DataFrame =
    rescoreContainmentOn(cand, shingleHashFrame(s, dir, k), threshold)

  /** The corpus's hashed-shingle arrays, kernel run in PARALLEL
    * ([[Spread]] — the single-file fixture scan is one task) and
    * MATERIALIZED once (localCheckpoint): every consumer reads it from
    * ≥2 plan positions (both sides of the pair attach; the posting
    * index adds two more), and each un-materialized position would
    * re-run the shingle kernel over the whole corpus serially. */
  private def shingleHashFrame(s: SparkSession, dir: String, k: Int): DataFrame = {
    import s.implicits._
    Spread(Tables.documents(s, dir), $"doc_id")
      .select($"doc_id", SketchFunctions.shingleHashes(normText($"text"), k).as("grams"))
      .localCheckpoint()
  }

  /** [[rescoreContainment]] against an already-materialized shingle
    * frame — shared so [[containmentIndexPairs]] can reuse the ONE
    * checkpointed kernel pass its candidate generation already paid. */
  private def rescoreContainmentOn(cand: DataFrame, g: DataFrame,
                                   threshold: Double): DataFrame = {
    val s = cand.sparkSession
    import s.implicits._
    cand
      .join(g.select($"doc_id".as("id1"), $"grams".as("g1")), Seq("id1"))
      .join(g.select($"doc_id".as("id2"), $"grams".as("g2")), Seq("id2"))
      .select($"id1", $"id2",
        round(SketchFunctions.overlapCoeff($"g1", $"g2"), 4).as("containment"))
      .filter($"containment" > threshold)
      .orderBy($"id1", $"id2")
  }

  /** Containment-targeted candidate generation + rescore — the arm
    * that finds the LOW length-ratio contained pairs
    * [[lshContainment]]'s Jaccard-biased banding structurally misses
    * (the LSH-Ensemble direction, Zhu et al. VLDB 2016: containment
    * search needs size-aware indexing, not resemblance banding).
    *
    * Candidates: each doc's BOTTOM-`probeK` shingle hashes (the
    * [[graft.functions.ShingleHashes]] array is sorted, so the sketch
    * is a `slice` — under the hash order this is a uniform sample of
    * the doc's shingle set) probe an inverted POSTING INDEX of every
    * (hash, doc) pair. For a pair with containment c, each probe hash
    * of the shorter doc posts in the longer with probability ≈ c, so
    * the pair surfaces with probability ≈ 1 − (1−c)^probeK —
    * INDEPENDENT of the length ratio, exactly the regime banding
    * loses (a paragraph quoted inside a book).
    *
    * Scale shape: the posting index is the dd_spans gram-exchange
    * discipline applied to shingle hashes — the full posting stream
    * shuffles ONCE onto an explicit hash-keyed Exchange that BOTH
    * heavy consumers (the per-hash df flag aggregation and the
    * posting side of the candidate join) read via ReusedExchange;
    * the explicit isnotnull(doc_id) guard below the exchange keeps
    * the subtrees canonical against the inferred-constraint pushdown
    * the candidate join would otherwise add to one branch only. The
    * probe side is its OWN slice-explode scan — deliberately not the
    * shared exchange: it carries `probeK` rows per doc (the
    * [[graft.functions.ShingleHashes]] array is sorted, so the
    * bottom-k sketch is a `slice`), and shuffling that sliver is far
    * cheaper than forcing it through the full posting exchange. The
    * Zipf bomb — a boilerplate shingle posting in O(|docs|) documents
    * AND serving as many docs' bottom hash, whose index bucket would
    * emit O(|docs|²) pairs — is defused by the `dfCap` prefilter:
    * the per-hash df attaches to the posting side by an INNER join on
    * the reused exchange (not an anti join of a hot-list —
    * PushDownLeftSemiAntiJoin pushes semi/anti forms below the
    * repartition and re-plans a second corpus scan, the dd_spans
    * lesson), rows with df > dfCap drop there, and the probes inherit
    * the cap through the candidate inner join itself (a probe on a
    * capped-out hash matches nothing). Per probe hash the join then
    * emits ≤ `dfCap` pairs, so candidates are bounded by
    * |docs| · probeK · dfCap and the rescore join stays
    * candidate-bounded. A doc whose entire bottom-k is capped-out
    * furniture generates no candidates — documented, like every
    * approximate path here, by the DedupSpec gate against the exact
    * verifier. Rows-only in the driver contract (sketch probing is
    * not ANSI-SQL). */
  def containmentIndexPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probeK = 8
    val dfCap = 64
    // ONE materialized kernel pass ([[shingleHashFrame]]) feeds all
    // four gram positions — posting explode, probe slice, and both
    // rescore sides; the un-materialized form re-ran the shingle
    // kernel serially at each position
    val g = shingleHashFrame(s, dir, NgramK)
    // explode_outer + null check on the GENERATED attribute, not
    // inner explode: InferFiltersFromGenerate would inline the shingle
    // kernel into the pushed-down Filter (the registry-wide guarded
    // 3-evals class). The doc_id null guard is tautological
    // (fixture ids are non-null) and PLAN-SHAPING: the candidate
    // join's pid =!= iid condition infers isnotnull(doc_id) onto the
    // posting branch only, which would specialize its copy of the
    // exchange away from the df branch's and break the reuse.
    val post = g.select($"doc_id", explode_outer($"grams").as("h"))
      .filter($"h".isNotNull && $"doc_id".isNotNull)
      .repartition($"h")
    // The max aggregate + tautological guard keep {doc_id} referenced
    // in the df branch (the maximalSpans trick) so ColumnPruning
    // can't specialize the shared exchange down to {h}.
    // the id guard uses Long.MinValue (not 0) so negative synthetic
    // ids can never be silently deleted by the plan-shaping reference
    val dfh = post.groupBy($"h")
      .agg(count(lit(1)).as("hdf"), max($"doc_id").as("_md"))
      .filter($"_md" >= Long.MinValue)
      .select($"h", $"hdf")
    val posting = post.join(dfh, Seq("h")).filter($"hdf" <= dfCap)
      .select($"h", $"doc_id".as("iid"))
    val probes = g
      .select($"doc_id", explode_outer(slice($"grams", 1, probeK)).as("h"))
      .filter($"h".isNotNull)
      .select($"h", $"doc_id".as("pid"))
    val cand = probes.join(posting, Seq("h"))
      .filter($"pid" =!= $"iid")
      .select(least($"pid", $"iid").as("id1"), greatest($"pid", $"iid").as("id2"))
      .distinct()
    rescoreContainmentOn(cand, g, ContainmentThreshold)
  }

  /** Above this serialized size the history bloom filter rides a
    * TorrentBroadcast ([[graft.functions.BloomMightContainBcast]])
    * instead of a plan literal: a literal is re-shipped inside every
    * task's serialized plan (and dumped into every explain string),
    * which is fine at the KB scale of a small history but not for the
    * ~1.2 GB filter a 10⁹-digest history needs. The filter grows with
    * the history's row count, so which side runs is decided by the
    * input, not by a constant. */
  private[graft] val bloomLiteralMaxBytes = 1 << 16

  /** The bloom might-contain column for `digest` against the `digest`
    * column of `history` (steps 1–2 of [[incrementalDedup]]'s plan):
    * builds the filter batch-side via `stat.bloomFilter` treeAggregate
    * and returns the predicate — a foldable-literal
    * BloomFilterMightContain while the serialized filter is small, a
    * TorrentBroadcast kernel above [[bloomLiteralMaxBytes]]. None on
    * an empty history (every digest is new by definition — and
    * `stat.bloomFilter` NPEs on a zero-row frame, so the branch is
    * correctness AND a crash guard). Shared by the batch operator and
    * its streaming twin
    * ([[graft.streaming.StreamingOps.incrDedupViaStream]]) so the two
    * deployments cannot diverge. */
  private[graft] def historyBloomMightHit(
      s: SparkSession, history: DataFrame, digest: Column,
      bloomLiteralMax: Int = bloomLiteralMaxBytes): Option[Column] = {
    import s.implicits._
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.graft.ColumnBridge
    // expectedNumItems sizes the filter's bit array; at scale this
    // comes from table metadata (rowCount stats), not a count scan
    val nHist = history.count()
    if (nHist == 0L) return None
    val bloom = history.select(xxhash64($"digest").as("h")).stat
      .bloomFilter("h", nHist, 0.01)
    val bloomBytes = {
      val out = new java.io.ByteArrayOutputStream()
      bloom.writeTo(out)
      out.toByteArray
    }
    Some(
      if (bloomBytes.length <= bloomLiteralMax)
        // small filter: a foldable literal keeps the codegen'd
        // BloomFilterMightContain kernel (same one InjectRuntimeFilter
        // plants)
        ColumnBridge.column(BloomFilterMightContain(
          ColumnBridge.expression(lit(bloomBytes)),
          ColumnBridge.expression(xxhash64(digest))))
      else
        SketchFunctions.bloomMightContainBcast(
          xxhash64(digest), s.sparkContext.broadcast(bloomBytes)))
  }

  /** Incremental exact dedup — the production shape at 100 TB: a new
    * batch arrives and must be deduplicated against the EXISTING corpus
    * without reprocessing it. (The batch/history split here is the
    * md5-bucket rule shared with [[Sampling]], so the partition is
    * deterministic and oracle-checkable; production would read two
    * different tables.)
    *
    * The naive plan — `batch LEFT ANTI JOIN history ON digest` —
    * shuffles EVERY history digest (terabytes at corpus scale) to
    * answer a question about a batch that is orders of magnitude
    * smaller. This plan never shuffles history:
    *
    *  1. A Bloom filter over the history digests' 64-bit hashes is
    *     built by treeAggregate (public `stat.bloomFilter`) — the only
    *     driver-side object is the ~1.2 MB/M-items filter, never rows —
    *     and tested via the codegen'd [[BloomFilterMightContain]]
    *     predicate on a literal (the same kernel InjectRuntimeFilter
    *     plants; q24 exercises the optimizer-injected flavor).
    *  2. Bloom-NEGATIVE batch digests are definitely new — they skip
    *     the history check entirely (at fpp=1%, ~99% of genuinely-new
    *     content). False positives only route rows to step 3, so the
    *     result stays EXACT.
    *  3. Bloom-positive digests (true dups + fpp stragglers — small)
    *     are verified: history semi-joins the maybe-set, then the
    *     maybe-set anti-joins the confirmed hits. Both joins carry the
    *     small side; AQE broadcasts them and history streams map-side,
    *     unshuffled, reading only its digest column.
    *
    * Batch-internal dup groups collapse first (survivor = min doc_id,
    * as [[exactDedup]]); output is the surviving batch rows. */
  def incrementalDedup(s: SparkSession, dir: String,
                       bloomLiteralMax: Int = bloomLiteralMaxBytes): DataFrame = {
    import s.implicits._
    val hb = Sampling.hashBucket($"doc_id")
    val docs = Tables.documents(s, dir).select($"doc_id", $"text", hb.as("hb"))
    val history = docs.filter($"hb" < Sampling.HistoryBelow)
      .select(sha2($"text", 256).as("digest"))
    val batchKept = docs.filter($"hb" >= Sampling.HistoryBelow)
      .select($"doc_id", sha2($"text", 256).as("digest"))
      .groupBy($"digest")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    val mightHit =
      historyBloomMightHit(s, history, $"digest", bloomLiteralMax) match {
        case None =>
          // empty history: every batch digest is new by definition
          return batchKept.select($"keep_id", $"digest", $"n_copies")
            .orderBy($"keep_id")
        case Some(c) => c
      }
    val definitelyNew = batchKept.filter(!mightHit)
    val maybe = batchKept.filter(mightHit)
    // the confirmed-hit set is bounded by the maybe-set (≤ batch), so
    // both joins keep history on the streamed, never-shuffled side
    val confirmed = history
      .join(maybe.select($"digest"), Seq("digest"), "left_semi").distinct()
    definitelyNew.unionByName(maybe.join(confirmed, Seq("digest"), "left_anti"))
      .select($"keep_id", $"digest", $"n_copies")
      .orderBy($"keep_id")
  }

  /** Source-level content overlap — the corpus-governance audit that
    * catches whole SOURCES duplicating each other (mirror crawls,
    * re-scraped dumps, vendor datasets repackaging the same crawl):
    * exact pairwise n-gram Jaccard between sources. Never a corpus
    * self-join: one shuffle keys distinct (gram → bounded source
    * set), ordered source PAIRS explode map-side from that
    * ≤|sources| array (a domain constant, ~20 here, ≤10³ anywhere),
    * and per-source totals aggregate the SAME shuffled frame — the
    * two consumers share one Exchange via Spark's ReuseExchange
    * (PlanSpec-pinned), so the corpus is scanned and shuffled once.
    * The pair/total join inputs are |sources|²-bounded and broadcast.
    * At 100 TB the same surface runs on per-source MinHash signatures
    * instead of exact gram sets; the exact form is the oracle. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sets = Spread(Tables.documents(s, dir), $"doc_id")
      .select($"source", TextFunctions.tokenNgrams(lower($"text"), SourceN).as("grams"))
      .select($"source", explode_outer($"grams").as("gram"))
      .filter($"gram".isNotNull)
      .groupBy($"gram").agg(sort_array(collect_set($"source")).as("srcs"))
    // one explode emits BOTH the ordered pairs (s1 < s2 via the sorted
    // set) and a (s, NULL) singleton per member for per-source totals
    val counted = sets.select(explode(expr(
      """concat(
        |  flatten(transform(srcs, (x, i) ->
        |    transform(slice(srcs, i + 2, size(srcs) - i - 1), y ->
        |      named_struct('s1', x, 's2', y)))),
        |  transform(srcs, x -> named_struct('s1', x, 's2', cast(null as string))))"""
        .stripMargin)).as("p"))
      .select($"p.s1".as("s1"), $"p.s2".as("s2"))
      .groupBy($"s1", $"s2")
      .agg(count(lit(1)).as("c"))
    // no broadcast() hint: the totals side derives from a fact table,
    // so the registry-wide hint guard (AllQueriesSpec) leaves the
    // broadcast decision to AQE, which sees the |sources|-row actual
    // size at runtime and broadcasts (PlanSpec pins it post-execution)
    val totals = counted.filter($"s2".isNull).select($"s1".as("src"), $"c")
    counted.filter($"s2".isNotNull)
      .join(totals.select($"src".as("s1"), $"c".as("na")), Seq("s1"))
      .join(totals.select($"src".as("s2"), $"c".as("nb")), Seq("s2"))
      .select($"s1", $"s2", $"c".as("shared_grams"),
        (floor($"c".cast("double") / ($"na" + $"nb" - $"c").cast("double")
          * 1000000.0) / 1000000.0).as("jaccard"))
      .orderBy($"s1", $"s2")
  }

  /** MinHash-signature form of [[sourceOverlap]] — the 100 TB shape
    * SCALING.md promises for the source-governance audit: instead of
    * shuffling DISTINCT grams (unbounded key space), each source folds
    * to a `numHashes`-component MinHash signature (min of h_i(gram)
    * over the source's gram set — mergeable, so partial aggregation
    * absorbs all skew map-side and the shuffle carries |sources| ×
    * numHashes longs TOTAL), and pairwise Jaccard is ESTIMATED as the
    * fraction of matching components. Same gram universe as the exact
    * op (token n-grams), so the exact query is the oracle: DedupSpec
    * gates the estimate's max absolute error against
    * [[sourceOverlap]]'s exact Jaccard. The pair join is non-equi but
    * |sources|²-bounded (the dd_source_overlap argument verbatim).
    * Rows-only in the driver contract (64-bit hashing isn't
    * ANSI-SQL). */
  def sourceOverlapMinhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val numHashes = 64
    val grams = Tables.documents(s, dir)
      .select($"source", TextFunctions.tokenNgrams(lower($"text"), SourceN).as("grams"))
      .select($"source", explode_outer($"grams").as("gram"))
      .filter($"gram".isNotNull)
    // distinct-ness is free: min() over duplicate gram occurrences
    // equals min() over the distinct set, so no pre-distinct shuffle
    val sig = grams.groupBy($"source")
      .agg(min(xxhash64(lit(0), $"gram")).as("h0"),
        (1 until numHashes).map(i =>
          min(xxhash64(lit(i), $"gram")).as(s"h$i")): _*)
      .select($"source", array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
    val a = sig.select($"source".as("s1"), $"sig".as("sig1"))
    val b = sig.select($"source".as("s2"), $"sig".as("sig2"))
    a.join(b, $"s1" < $"s2")
      .select($"s1", $"s2",
        (floor(aggregate(zip_with($"sig1", $"sig2",
          (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, m) => acc + m).cast("double")
          / numHashes * 1000000.0) / 1000000.0).as("est_jaccard"))
      .orderBy($"s1", $"s2")
  }

  /** Cross-document duplicated-SPAN detection — the ExactSubstr pass
    * of "Deduplicating Training Data Makes Language Models Better"
    * (Lee et al. 2022): document-level dedup misses the boilerplate
    * case where distinct documents SHARE long verbatim passages
    * (licenses, headers, quoted chunks). Every word `SpanN`-gram window is
    * emitted with its token position; a window duplicated across ≥ 2
    * distinct documents marks its positions, and per document the
    * marked positions are merged gaps-and-islands-style into MAXIMAL
    * spans (windows at p₁ < p₂ merge iff p₂ ≤ p₁ + n, i.e. they
    * overlap or touch — so a shared 40-token passage reports as ONE
    * span, not 37 window hits). Output is one row per maximal span:
    * inclusive token range plus the window count, ready for span
    * excision or doc-level dup-mass scoring.
    *
    * Scale shape (the reference point is a suffix array over the
    * concatenated corpus, which is inherently single-machine): window
    * emission is one [[graft.functions.TokenNgrams]] kernel pass +
    * posexplode (map-side); the corpus is scanned, tokenized and
    * SHUFFLED exactly once — an explicit gram repartition whose
    * Exchange both marking consumers reuse (see [[maximalSpans]]);
    * island-merge is a doc-partitioned window — never global. No
    * all-pairs anywhere: co-occurrence is discovered by
    * hash-partitioning grams, exactly like the banded LSH paths.
    * explode_outer + null filter, not inner posexplode:
    * InferFiltersFromGenerate would inline the tokenizer kernel into
    * the pushed-down Filter (the tx_contamination 3-evals-per-row
    * class, guarded registry-wide). */
  def duplicatedSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    maximalSpans(s, dir)
      .select($"doc_id", $"start_tok", $"end_tok", $"n_windows",
        // doc length rides the span pipeline (n_grams + n − 1 = token
        // count) — consumers judge span mass without a second scan,
        // and it keeps the probe column set identical across this
        // query and spanStats (see the plan-shaping note above)
        ($"n_grams" + (SpanN - 1)).cast("long").as("doc_tokens"))
      .orderBy($"doc_id", $"start_tok")
  }

  /** Shared span pipeline: one scan → posexplode → one gram shuffle →
    * cross-doc marking → per-doc island merge. `n_grams` (the doc's
    * window count, hence token count = n_grams + n − 1) rides the
    * explode so consumers never re-scan the corpus for lengths.
    *
    * Marking shape — chosen for Zipfian gram skew: a gram is cross-doc
    * iff min(doc_id) ≠ max(doc_id) among its occurrences. Computing
    * that with a window `over (partition by gram)` puts a license
    * header shared by 10⁷ docs into ONE WindowExec partition, which
    * sorts and buffers the whole frame in a single unsplittable task
    * (AQE's OptimizeSkewedJoin splits sort-merge JOIN partitions, not
    * window partitions). Instead: repartition by gram ONCE, then
    *  - the flag side is a streaming HashAggregate over that Exchange
    *    (no sort, no row buffering — a hot gram costs one pass and one
    *    hash entry), and
    *  - the positions re-attach by joining on the SAME Exchange
    *    (ReusedExchange/ReusedQueryStage, PlanSpec-pinned on the
    *    executed plan), whose probe side AQE CAN skew-split — each
    *    split task reads a slice of the hot partition against the
    *    bounded per-gram flag rows. The attach is an INNER join
    *    against the distinct-by-construction flag grams, not
    *    left-semi, deliberately: PushDownLeftSemiAntiJoin pushes a
    *    semi join below RepartitionByExpression, which re-plans the
    *    probe side off the raw scan and silently doubles the corpus
    *    scan+tokenize; inner joins stay put.
    * So the corpus still shuffles exactly once, nothing re-scans, and
    * the one formerly unsplittable task became N splittable ones. */
  private def maximalSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val shuffled = Tables.documents(s, dir)
      .select($"doc_id", TextFunctions.tokenNgrams(lower($"text"), SpanN).as("grams"))
      .select($"doc_id", size($"grams").cast("long").as("n_grams"),
        posexplode_outer($"grams").as(Seq("pos", "gram")))
      .filter($"gram".isNotNull)
      .repartition($"gram")
    // The two trailing aggregates and their tautological filter guards
    // (pos and n_grams are never negative) are PLAN-SHAPING, not
    // logic: exchange reuse requires the two consumers' subtrees to
    // stay canonically identical, and ColumnPruning would otherwise
    // specialize the flag branch down to {gram, doc_id} (struct
    // packing doesn't survive either — NestedColumnAliasing unpacks
    // per branch). Referencing every probe column here pins both
    // branches to the same {gram, doc_id, n_grams, pos} exchange, so
    // the corpus is scanned/tokenized/shuffled exactly once. Cost:
    // two extra 4-byte max accumulators per distinct gram, map-side.
    val crossDoc = shuffled
      .groupBy($"gram")
      .agg(min($"doc_id").as("dmin"), max($"doc_id").as("dmax"),
        max($"pos").as("_maxpos"), max($"n_grams").as("_maxgrams"))
      .filter($"dmin" =!= $"dmax" && $"_maxpos" >= 0 && $"_maxgrams" >= 0L)
      .select($"gram")
    val marked = shuffled.join(crossDoc, Seq("gram"))
      .select($"doc_id", $"n_grams", $"pos")
    val byPos = w.partitionBy($"doc_id").orderBy($"pos")
    marked
      // first position in a doc: lag is null → comparison null → new
      // island (the `otherwise` arm), identical to the SQL CASE
      .withColumn("brk",
        when($"pos" - lag($"pos", 1).over(byPos) <= SpanN, 0L).otherwise(1L))
      .withColumn("island", sum($"brk").over(
        byPos.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy($"doc_id", $"island")
      .agg(min($"pos").cast("long").as("start_tok"),
        (max($"pos") + (SpanN - 1)).cast("long").as("end_tok"),
        count(lit(1)).as("n_windows"), first($"n_grams").as("n_grams"))
  }

  /** Incremental ExactSubstr — the production form of
    * [[duplicatedSpans]] at 100 TB: a NEW BATCH arrives and its
    * verbatim overlaps with the EXISTING corpus must surface without
    * reprocessing the corpus (license boilerplate detection on
    * ingest). The history participates only as its DISTINCT GRAM
    * INDEX — at scale a persisted, gram-bucketed table maintained
    * across ingests (the [[incrementalFuzzyDedup]] discipline applied
    * to spans); per ingest the batch windows inner-join that index on
    * gram (history side stays put / bucket-joins; the join output is
    * bounded by batch positions), and marked positions island-merge
    * per BATCH doc — history documents never re-tokenize, never
    * shuffle, never appear in the output. Batch-internal duplication
    * is deliberately out of scope (that is [[duplicatedSpans]] run on
    * the batch). The batch/history split is the md5-bucket rule
    * shared with the incremental doc-dedup pair, so the partition is
    * deterministic and the whole query oracle-checks. */
  def incrementalSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val hb = Sampling.hashBucket($"doc_id")
    val docs = Tables.documents(s, dir).select($"doc_id", $"text", hb.as("hb"))
    val historyGrams = docs.filter($"hb" < Sampling.HistoryBelow)
      .select(explode_outer(TextFunctions.tokenNgrams(lower($"text"), SpanN)).as("gram"))
      .filter($"gram".isNotNull)
      .distinct()
    val batch = docs.filter($"hb" >= Sampling.HistoryBelow)
      .select($"doc_id", TextFunctions.tokenNgrams(lower($"text"), SpanN).as("grams"))
      .select($"doc_id", size($"grams").cast("long").as("n_grams"),
        posexplode_outer($"grams").as(Seq("pos", "gram")))
      .filter($"gram".isNotNull)
    val byPos = w.partitionBy($"doc_id").orderBy($"pos")
    batch.join(historyGrams, Seq("gram"))
      .select($"doc_id", $"n_grams", $"pos")
      .withColumn("brk",
        when($"pos" - lag($"pos", 1).over(byPos) <= SpanN, 0L).otherwise(1L))
      .withColumn("island", sum($"brk").over(
        byPos.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy($"doc_id", $"island")
      .agg(min($"pos").cast("long").as("start_tok"),
        (max($"pos") + (SpanN - 1)).cast("long").as("end_tok"),
        count(lit(1)).as("n_windows"),
        (first($"n_grams") + (SpanN - 1)).cast("long").as("doc_tokens"))
      .select($"doc_id", $"start_tok", $"end_tok", $"n_windows", $"doc_tokens")
      .orderBy($"doc_id", $"start_tok")
  }

  /** Doc-level rollup of [[duplicatedSpans]] — the DECISION artifact
    * of ExactSubstr dedup: per document, how much of it is verbatim
    * boilerplate shared with other documents, and whether to keep it.
    * Span token masses sum per doc (maximal spans never overlap, so
    * the sum is exact); token counts derive from the window count
    * already riding the span pipeline (n_tokens = n_grams + n − 1) —
    * no second corpus scan for lengths; docs with no duplicated span
    * surface with dup_frac 0 via one map-side scan of the doc list
    * left-joined against the span rollup (the rollup side is bounded
    * by docs-with-dups, far below the corpus). keep = dup_frac below
    * 0.5, the Lee-et-al-style excision threshold. */
  def spanStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perDoc = maximalSpans(s, dir)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum($"end_tok" - $"start_tok" + 1L).as("dup_tokens"),
        (first($"n_grams") + (SpanN - 1)).as("n_tokens"))
    // explicit coalesce, not greatest-with-null: null-skipping in
    // greatest() differs across engines, coalesce doesn't
    val nt = coalesce($"n_tokens", lit(1L)).cast("double")
    val dup = coalesce($"dup_tokens", lit(0L))
    Tables.documents(s, dir).select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_spans", lit(0L)).as("n_spans"),
        dup.as("dup_tokens"),
        (floor(dup.cast("double") / nt * 10000.0) / 10000.0).as("dup_frac"),
        when(dup.cast("double") < nt * 0.5, 1L).otherwise(0L).as("keep"))
      .orderBy($"doc_id")
  }

  /** Span EXCISION — the action end of the ExactSubstr pipeline
    * (Lee et al. 2022 §4.2 remove the duplicated bytes, not the
    * document): splice every [[duplicatedSpans]] token range OUT of
    * each document and emit the cleaned text, so the corpus keeps a
    * document's unique prose while dropping its boilerplate verbatim
    * with other docs. Tokens are the same whitespace tokenization the
    * span pipeline indexes, rejoined single-spaced.
    *
    * Scale shape: the span side aggregates [[maximalSpans]] per doc
    * into a bounded struct array (spans never overlap, and their count
    * per doc is ≤ n_tokens/n) — far below the corpus, AQE broadcasts
    * it; the splice itself is the one-pass
    * [[graft.functions.SpliceTokens]] kernel over the token array,
    * map-side, no per-token shuffle, no second tokenizer pass
    * shuffle. (The r5-r11 HOF formulation — `filter(toks, (t, i) ->
    * NOT exists(spans, ...))` — paid an interpreted lambda invocation
    * per token × span probe, the measured 4-38× kernel-vs-HOF class;
    * the kernel also absorbs the null-spans-array trap the HOF needed
    * a coalesce for, and returns the survivor count so removed_tokens
    * needs no second array pass. PropertySpec pins kernel ≡ HOF on
    * adversarial span sets.) Output is one row per document at any
    * scale. */
  def exciseSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spans = maximalSpans(s, dir)
      .groupBy($"doc_id")
      .agg(collect_list(struct($"start_tok", $"end_tok")).as("spans"))
    Tables.documents(s, dir)
      .select($"doc_id", TextFunctions.tokenNgrams(lower($"text"), 1).as("toks"))
      .join(spans, Seq("doc_id"), "left")
      .select($"doc_id", TextFunctions.spliceTokens($"toks", $"spans").as("sp"),
        size($"toks").cast("long").as("n_tokens"))
      .select($"doc_id",
        $"sp".getField("clean_text").as("clean_text"),
        $"n_tokens",
        ($"n_tokens" - $"sp".getField("kept")).as("removed_tokens"))
      .orderBy($"doc_id")
  }
}
