package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data prep — the operators composed the way a
  * real corpus pipeline chains them, as ONE oracle-checked query:
  *
  *   documents → quality score + filter → exact-dedup survivors →
  *   token counts → per-shard sequence packing
  *
  * Per-operator oracles can't catch compositional bugs (column clashes
  * after joins, filters applied before vs after dedup, pack offsets
  * computed over the wrong row set); this query hash-checks the whole
  * chain against a single DuckDB CTE pipeline.
  *
  * Scale shape: quality and token counts are map-side kernels; the
  * dedup is one hash-shuffle on the content digest; packing windows
  * per shard (never a global-order window). Two shuffles total beyond
  * the scans at any corpus size.
  *
  * Observability: two `observe` points (corpus-in, survivors-kept)
  * piggyback aggregate metrics on the pipeline's own pass — at 100 TB
  * a separate counting pass over the corpus costs as much as the
  * pipeline itself, while CollectMetrics costs one accumulator update
  * per row. Read them from `queryExecution.observedMetrics` after any
  * action (`PlanSpec` checks they match independently-computed
  * values). */
object Pipeline {

  /** The pipelines' shared selection shape: docs scoring below
    * `MinQuality` drop, and output sequences over `Shards` shards. */
  private[graft] final val MinQuality = 0.5
  private[graft] final val Shards = 8

  def prepPipeline(s: SparkSession, dir: String): DataFrame =
    prepPipelineOver(s, Tables.documents(s, dir))

  /** `pipe_crawl_e2e`: the SAME prep chain rooted at the RAW CRAWL
    * CONTAINER — shard parse → HTTP envelope decode → charset →
    * boilerplate-strip extraction ([[graft.sources.Warc.htmlDocRows]],
    * the un-ordered composition entry so the source's contractual
    * ORDER BY doesn't ride into the pipeline as a useless mid-plan
    * range Exchange) → quality → dedup → pack. Because the fixture
    * wrap is lossless, this query shares `pipe_e2e`'s oracle
    * VERBATIM: a divergence anywhere in container framing, envelope
    * decoding, extraction OR the prep chain's composition is a hash
    * mismatch. The crawl-to-training-corpus path, end to end, as
    * one oracle-checked query. */
  def crawlPrepPipeline(s: SparkSession, dir: String): DataFrame =
    prepPipelineOver(s,
      graft.sources.Warc.htmlDocRows(s, graft.sources.Warc.rawLakeDir(s, dir))
        .select(col("doc_id"), col("text")))

  /** The prep chain over ANY (doc_id, text) corpus frame — split
    * from [[prepPipeline]] so the crawl-rooted twin composes the
    * identical tail. */
  def prepPipelineOver(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    // ONE map-side projection computes everything derived from the
    // text — quality, token count (same byte-scan), content digest —
    // and `text` itself is dropped BEFORE the shuffle: the dedup
    // exchange carries 4 narrow columns, never document bodies.
    val enriched = TextAnalysis.withQualityScore(docs)
      .select($"doc_id", $"quality", $"n_tokens", sha2($"text", 256).as("digest"))
      .observe("pipe_in",
        count(lit(1)).as("docs_in"),
        round(avg($"quality"), 4).as("avg_quality_in"))
    // Dedup BEFORE the quality filter — equivalent (identical text ⟹
    // identical digest ⟹ identical quality, so a digest group passes
    // or fails as a whole) and deliberate: filtering on the computed
    // quality column below the window would make PushDownPredicates
    // substitute the tokenization kernel into the Filter condition
    // once per component-score reference (measured: the kernel ran 3×
    // per row). Above the window the filter reads the quality
    // ATTRIBUTE; predicates not on the partition key don't push
    // through a Window. Min doc_id per digest is a ranked window (one
    // shuffle, WindowGroupLimit prunes map-side) — the groupBy-min +
    // join-back form costs a second corpus-wide shuffle for the same
    // result.
    val dw = org.apache.spark.sql.expressions.Window
      .partitionBy($"digest").orderBy($"doc_id")
    val withTok = enriched
      .withColumn("rk", row_number().over(dw))
      .filter($"rk" === 1 && $"quality" >= MinQuality)
      .select($"doc_id", $"quality", $"n_tokens")
      .observe("pipe_kept",
        count(lit(1)).as("docs_kept"),
        sum($"n_tokens").as("tokens_kept"))
    // the packing rule itself lives in TextAnalysis.assignPacks, shared
    // with sequencePack so the two oracle-pinned forms cannot diverge
    TextAnalysis.assignPacks(withTok, TextAnalysis.PackBudget, Shards)
      .select($"doc_id", $"shard", $"pack_id", $"n_tokens", $"quality")
      .orderBy($"doc_id")
  }

  /** Corpus SNAPSHOT DIFF — the versioning audit run between two
    * corpus releases (v1 → v2: what was added, removed, changed,
    * untouched), per document, by primary key + content digest. The
    * two snapshots here derive deterministically from the one test
    * table (v1 drops `doc_id % 50 == 0`, v2 drops `% 37 == 0` and
    * appends a marker to `% 41 == 0` — additions, deletions, AND
    * edits all occur); production passes two real snapshot paths and
    * the query below the derivation is identical. Scale: one
    * full-outer equi-join on the primary key — with both snapshots
    * bucketed by doc_id (the layout a versioned lake uses) the join
    * is co-partitioned and shuffle-free; digests are map-side md5.
    * Oracle-checked cell-exact (plain relational algebra). */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val v1 = docs.filter($"doc_id" % 50 =!= 0)
      .select($"doc_id", md5($"text").as("d1"))
    val v2 = docs.filter($"doc_id" % 37 =!= 0)
      .select($"doc_id",
        md5(when($"doc_id" % 41 === 0, concat($"text", lit(" v2")))
          .otherwise($"text")).as("d2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        when($"d1".isNull, "added")
          .when($"d2".isNull, "removed")
          .when($"d1" =!= $"d2", "changed")
          .otherwise("unchanged").as("status"))
      .orderBy($"doc_id")
  }

  /** Corpus release MERGE (`pipe_merge`) — the lakehouse `MERGE INTO`
    * expressed in pure relational ops: base release + a delta batch of
    * upserts and delete markers → the next release. The delta here
    * derives deterministically from the one test table (upserts:
    * `% 41 == 0` edited + `% 50 == 0` net-new; deletes: `% 37 == 0`)
    * so the query is self-contained; production passes a real change
    * batch and everything below the derivation is identical — and the
    * write-path twin of [[snapshotDiff]]'s audit.
    *
    * Scale: ONE equi-join on the primary key (full outer, so net-new
    * delta rows survive), resolved row-wise — with base and delta
    * bucketed by doc_id (the layout a versioned lake maintains) the
    * join is co-partitioned and shuffle-free; the delta side is
    * ingest-batch-sized, so unbucketed it broadcasts. Deletes win over
    * upserts (tombstone-last, the Delta/Iceberg rule). Oracle-checked
    * cell-exact. */
  def mergeRelease(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val base = docs.filter($"doc_id" % 50 =!= 0)
      .select($"doc_id", md5($"text").as("digest"))
    val upserts = docs.filter($"doc_id" % 41 === 0 || $"doc_id" % 50 === 0)
      .select($"doc_id",
        md5(when($"doc_id" % 41 === 0, concat($"text", lit(" v2")))
          .otherwise($"text")).as("u_digest"))
    val deletes = docs.filter($"doc_id" % 37 === 0)
      .select($"doc_id", lit(true).as("tombstone"))
    base.join(upserts, Seq("doc_id"), "full_outer")
      .join(deletes, Seq("doc_id"), "left")
      .filter(!coalesce($"tombstone", lit(false)))
      .select($"doc_id",
        coalesce($"u_digest", $"digest").as("digest"),
        when($"u_digest".isNotNull && $"digest".isNull, "insert")
          .when($"u_digest".isNotNull, "update")
          .otherwise("carry").as("op"))
      .orderBy($"doc_id")
  }

  /** Data-SELECTION pipeline — the corpus-curation chain a
    * domain-targeted training mix actually runs, as ONE oracle-checked
    * query (the third composition gate beside [[prepPipeline]] and
    * [[dataCard]]):
    *
    *   candidates (md5-split) → quality score → DSIR importance weight
    *   → exact-dedup survivors → quality + weight thresholds →
    *   per-source provenance cap ranked by (weight, quality)
    *
    * The DSIR weight comes from the [[graft.functions.DsirLlr]] KERNEL
    * against the frozen LM artifact
    * ([[TextAnalysis.dsirLlrTable]], the same builder the batch and
    * streaming forms share) — map-side, so the whole pipeline is one
    * corpus scan + two narrow window shuffles (digest dedup, source
    * cap); `text` drops at the projection and never shuffles.
    *
    * The cap ranking IS the selection: a document drawn from the raw
    * source has expected summed log-ratio −KL(source ‖ target) < 0
    * (measured at sf0.01: every candidate weight is negative), so a
    * fixed weight > 0 threshold is a DEAD RULE on in-distribution
    * data — the curation semantics are "quality floor, then each
    * source's 50 most target-like survivors", which also bounds
    * provenance skew the way [[TextAnalysis.sourceCap]] does.
    *
    * Dedup runs BEFORE the quality threshold, which is equivalent
    * (identical text ⟹ identical digest ⟹ identical quality AND
    * identical weight, so a digest group passes or fails whole) and
    * keeps the computed columns out of pushed-down Filter conditions —
    * [[prepPipeline]]'s kernel-duplication lesson. Zero-token docs are
    * excluded explicitly (the kernel's n_tokens field, filtered above
    * the window), matching the oracle's inner join against the
    * token-exploded weight CTE. */
  def selectPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = TextAnalysis.dsirLlrTable(s, dir)
    val hb = Sampling.hashBucket($"doc_id")
    val enriched = TextAnalysis.withQualityScore(Tables.documents(s, dir))
      .filter(hb < Sampling.HeldOutFrom)
      .withColumn("r", graft.functions.TextFunctions.dsirLlr(lower($"text"), table))
      .select($"doc_id", $"source", $"quality",
        $"r".getField("n_tokens").as("n_dsir_tokens"),
        (floor($"r".getField("llr") * 10000.0) / 10000.0).as("dsir_weight"),
        sha2($"text", 256).as("digest"))
    val dw = org.apache.spark.sql.expressions.Window
      .partitionBy($"digest").orderBy($"doc_id")
    val kept = enriched.withColumn("dk", row_number().over(dw))
      .filter($"dk" === 1 && $"quality" >= MinQuality && $"n_dsir_tokens" > 0L)
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"dsir_weight".desc, $"quality".desc, $"doc_id")
    kept.withColumn("rk", row_number().over(cw).cast("long"))
      .filter($"rk" <= 50)
      .select($"doc_id", $"source", $"quality", $"dsir_weight", $"rk")
      .orderBy($"doc_id")
  }

  /** Per-source corpus DATA CARD — the release-notes table every
    * published training set ships (docs, unique docs, dup rate, token
    * volume, mean quality, Gopher keep rate per source), composed as
    * ONE oracle-checked query. A second composition gate beside
    * [[prepPipeline]]: it chains the quality kernel, the Gopher rule
    * battery, exact-dedup digesting, and token counting through a
    * single map-side projection and ONE per-source aggregation —
    * compositional drift between any of those operators and this
    * rollup is exactly what per-operator oracles can't see.
    *
    * Scale shape: one corpus scan; `text` is dropped at the
    * projection (the shuffle carries 5 narrow columns); the only
    * exchange is the per-source partial agg, whose distinct-digest
    * count is Spark's two-phase partial-distinct plan — no window, no
    * join, no second pass. Rates floor-truncate (exact integer
    * arithmetic); mean quality rounds at 4 on already-truncated
    * per-doc values (summation-order ulps sit ~1e-12 under the grid). */
  def dataCard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val enriched = TextAnalysis.withGopherSignals(
      TextAnalysis.withQualityScore(Tables.documents(s, dir)))
      .select($"source", $"quality", $"gopher_keep", $"n_tokens",
        md5($"text").as("digest"))
    enriched.groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        count_distinct($"digest").as("n_unique"),
        sum($"n_tokens").as("n_tokens"),
        round(avg($"quality"), 4).as("mean_quality"),
        sum($"gopher_keep").as("n_keep"))
      .select($"source", $"n_docs", $"n_unique",
        (floor(($"n_docs" - $"n_unique").cast("double") * 10000.0 /
          $"n_docs".cast("double")) / 10000.0).as("dup_rate"),
        $"n_tokens", $"mean_quality",
        (floor($"n_keep".cast("double") * 10000.0 /
          $"n_docs".cast("double")) / 10000.0).as("keep_rate"))
      .orderBy($"source")
  }

  /** Curriculum assembly — quality-annealed data ordering (the
    * mid-training "anneal onto your best data" schedule of modern
    * pretraining runs, e.g. MiniCPM/OLMo2 annealing phases): each doc
    * is banded into a training PHASE by fixed thresholds on the
    * offline-trained classifier's exact 1e-4-grid logit
    * ([[TextAnalysis.qualityClassifier]]'s — shared expression, so the
    * two queries cannot drift), phases train in ascending order
    * (bulk → filtered → highest-quality anneal), and within each
    * (phase, shard) docs sequence highest-quality-first. Shard-local
    * sequencing (the tx_pack discipline: shard = doc_id mod shards),
    * NEVER a global order — a curriculum needs reproducible per-shard
    * reader order, not one global sort of 100 TB.
    *
    * Scale shape: logit + banding are map-side; the only shuffle is
    * the (phase, shard) window, 3·shards bounded partitions each
    * ~corpus/(3·shards). Fully oracle-checked (fixed thresholds on
    * the exact grid; integer phase/shard; rank ties broken by
    * doc_id). */
  def curriculum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val logit = lit(-2.25) + $"len_score" * 1.5 + $"stop_ratio" * 3.0 -
      $"punct_ratio" * 4.0 + $"alpha_frac" * 1.0 - $"symbol_ratio" * 5.0
    val base = TextAnalysis.withGopherSignals(
        TextAnalysis.withQualityScore(Tables.documents(s, dir)))
      .select($"doc_id", (floor(logit * 10000.0) / 10000.0).as("logit"))
      .withColumn("phase",
        when($"logit" > 0.3, 2L).when($"logit" > 0.0, 1L).otherwise(0L))
      .withColumn("shard", pmod($"doc_id", lit(Shards)).cast("long"))
    val w = Window.partitionBy($"phase", $"shard")
      .orderBy($"logit".desc, $"doc_id")
    base.withColumn("seq", row_number().over(w).cast("long"))
      .select($"doc_id", $"phase", $"shard", $"logit", $"seq")
      .orderBy($"doc_id")
  }

  /** Clean-then-index — the real pipeline ordering of the ExactSubstr
    * family's action end and the retrieval family's scorer: excise the
    * cross-doc duplicated spans OUT of every document
    * ([[Dedup.exciseSpans]], the Lee et al. 2022 "remove the
    * duplicated bytes" step), then score TF-IDF top terms over the
    * CLEANED corpus ([[TextAnalysis.tfidfOver]]). The compositional
    * bug class this gates: an index built before excision ranks
    * boilerplate terms (the license header's vocabulary dominates df
    * and tf alike); an index built after sees only unique prose —
    * per-operator oracles cannot see the difference, the composed
    * DuckDB CTE chain hash-checks it end-to-end.
    *
    * Scale shape: exciseSpans' span side broadcasts (bounded per-doc
    * struct array) and the splice is map-side; the scorer adds its
    * own (doc, term) shuffle + reused-exchange df. The corpus row
    * count for idf is the PRE-excision document count (excision
    * preserves row cardinality by construction — one output row per
    * document, even fully-excised ones), so no extra pass over the
    * composed frame. */
  // MEASURED NO-GO (r22, verdict item 3): materializing the cleaned
  // corpus between the two stages (lazy localCheckpoint on `clean`) to
  // truncate the 95-node / 28-Exchange plan whose exciseSpans subtree
  // is PLANNED twice (once under the scorer's tc leg, once under df —
  // the r21 before-dump shows 12 parquet scans). `Probe jobs` A/B:
  // jobs/rep 15 → 19 and steady wall 3.3-4.8 → 5.0-6.2 s — AQE's
  // runtime stage reuse already dedupes the double-planned subtree's
  // EXECUTION, so the checkpoint only added its own materialization
  // stages and an extra pass over the RDD boundary. The duplicate
  // subtree is a planning artifact, not an execution cost; left inlined.
  def cleanThenIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val clean = Dedup.exciseSpans(s, dir)
      .select($"doc_id", $"clean_text".as("text"))
    TextAnalysis.tfidfOver(s, clean, Tables.documents(s, dir).count(), TextAnalysis.TfidfTopK)
  }

  /** SCD Type 2 dimension-history build (Kimball): each user's event
    * stream becomes versioned attribute rows with `[valid_from,
    * valid_to)` validity, a per-user version number, and a current
    * flag — the lakehouse pattern for tracking how a dimension
    * attribute (here `event_type` as the user's "state") changed over
    * time. Consecutive repeats collapse: a version row opens only
    * when the attribute actually changes.
    *
    * Scale shape: change detection (lag ≠ current), version
    * numbering (row_number) and validity chaining (lead) are all
    * windows over the SAME (user_id)/(ts, event_id) partitioning —
    * Spark plans ONE Exchange and sorts once; the post-filter windows
    * reuse the child's hash partitioning (EnsureRequirements inserts
    * no second shuffle). No join, no driver state; at 100 TB the cost
    * is one user-keyed shuffle of 4 narrow columns.
    *
    * Ordering ties break on event_id (both engines see identical
    * micros after the nanos truncation in [[graft.Tables.events]]),
    * so version assignment is deterministic cross-engine. */
  def scd2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val changes = Tables.events(s, dir)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("prev_type", lag($"event_type", 1).over(ord))
      .filter($"prev_type".isNull || $"prev_type" =!= $"event_type")
    changes
      .withColumn("version", row_number().over(ord))
      .withColumn("valid_from_s", unix_timestamp($"ts"))
      .withColumn("valid_to_s", lead(unix_timestamp($"ts"), 1).over(ord))
      .select($"user_id", $"version", $"event_type",
        $"valid_from_s", $"valid_to_s",
        when($"valid_to_s".isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy($"user_id", $"version")
  }
}
