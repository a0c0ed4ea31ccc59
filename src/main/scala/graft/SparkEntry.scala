package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (parity O1-O10) and the
  * extension milestones M1-M3 is registered here as a named query; each
  * SQL-expressible one has a DuckDB oracle in [[oracleSql]]. Column
  * names and types are aligned between both sides (the driver compares
  * column-name-sorted value hashes), every query ends in a fully
  * deterministic ORDER BY, and aggregate-derived doubles are rounded to
  * pin cross-engine float summation order (SURVEY.md §7.5).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Word count with exact reference tokenizer semantics
    * (`/root/reference/map_reduce/wordcount.go:10-22`) — operators
    * O1-O10 in one pipeline. */
  def entry(spark: SparkSession): DataFrame =
    WordCount.wordCount(Tables.documents(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- M0: reference parity (O1-O10) ----
    "wc_wordcount" -> ((s, dir) => WordCount.wordCount(Tables.documents(s, dir))),
    "wc_typed" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select($"doc_id".cast("string"), $"text").as[(String, String)]
      mr.MapReduce.run(s, docs, mr.WordCountMapper, mr.WordCountReducer)
    }),
    "wc_salted" -> ((s, dir) => Skew.saltedWordCount(s, dir)),
    "wc_partitions" -> ((s, dir) => Skew.wordCountWithPartition(s, dir)),
    // ---- M1: relational breadth ----
    "q1_pricing" -> Relational.q1PricingSummary _,
    "q2_filter_project" -> Relational.q2FilterProject _,
    "q3_join_broadcast" -> Relational.q3JoinBroadcast _,
    "q4_join_large" -> Relational.q4JoinLarge _,
    "q5_star_join" -> Relational.q5StarJoin _,
    "q6_semi_join" -> Relational.q6SemiJoin _,
    "q7_anti_join" -> Relational.q7AntiJoin _,
    "q8_window_topk" -> Relational.q8WindowTopK _,
    "q9_window_running" -> Relational.q9WindowRunning _,
    "q10_distinct" -> Relational.q10Distinct _,
    "q11_rollup" -> Relational.q11Rollup _,
    "q12_cube" -> Relational.q12Cube _,
    "q13_setops" -> Relational.q13SetOps _,
    "q14_scalar_funcs" -> Relational.q14ScalarFuncs _,
    "q15_topk" -> Relational.q15TopK _,
    "q16_having" -> Relational.q16Having _,
    "q17_subquery_agg" -> Relational.q17SubqueryAgg _,
    "q18_nulls" -> Relational.q18Nulls _,
    "q19_grouping_sets" -> Relational.q19GroupingSets _,
    "q20_sketches" -> Relational.q20Sketches _,
    // correlated LATERAL derived table, decorrelated by Catalyst into
    // an equi-join + rank prune (never per-row subqueries);
    // oracle-checked (DuckDB runs the identical SQL)
    "q25_lateral" -> Relational.q25Lateral _,
    "q21_pivot" -> Relational.q21Pivot _,
    "q22_listagg" -> Relational.q22ListAgg _,
    "q23_window_features" -> Relational.q23WindowFeatures _,
    "q24_bloom_prune" -> Relational.q24BloomPrune _,
    // ---- M2: text analysis / dedup / similarity / multimodal ----
    "tx_stats" -> TextAnalysis.textStats _,
    "tx_entropy" -> TextAnalysis.charEntropyProfile _,
    "tx_tokens" -> TextAnalysis.tokenCount _,
    // full Gopher structure-rule battery (word/line signals + keep
    // flag), oracle-checked cell-exact against DuckDB
    "tx_gopher" -> ((s, dir) => TextAnalysis.gopherQuality(s, dir)),
    // trained-merge-table BPE token count (vocab learned from the
    // corpus's own word-frequency dict); rows-only, gated in BpeSpec.
    // 48 merges: the synthetic corpus has only 31 distinct words, so
    // the 200-merge default fully collapses every word and the count
    // degenerates to ws_tokens; a PARTIAL vocab (frequent words one
    // piece, rare words several) is the realistic regime BpeSpec pins
    "tx_bpe" -> ((s, dir) => TextAnalysis.bpeTokenCount(s, dir, numMerges = 48)),
    "tx_quality" -> TextAnalysis.qualityScore _,
    "tx_langid" -> TextAnalysis.languageId _,
    // declared-vs-detected language confusion matrix with exact ppm
    // shares (reuses languageId verbatim); oracle-checked
    "tx_lang_audit" -> TextAnalysis.langAudit _,
    "tx_fingerprint" -> TextAnalysis.fingerprint _,
    "tx_heavy_hitters" -> ((s, dir) => TextAnalysis.heavyHitters(s, dir)),
    "tx_bigrams" -> ((s, dir) => TextAnalysis.topBigrams(s, dir)),
    // shards pinned to 8: the oracle's shard rule is `doc_id % 8`; the
    // default derives shards from cluster parallelism (TextAnalysis)
    "tx_pack" -> ((s, dir) => TextAnalysis.sequencePack(s, dir, shards = 8)),
    "tx_scrub" -> TextAnalysis.scrub _,
    // typed PII battery (email/url/ip/digit-run cascade), oracle
    // hash-matches the scrubbed md5 cell-exact
    "tx_pii" -> TextAnalysis.piiScrub _,
    "tx_repetition" -> ((s, dir) => TextAnalysis.repetition(s, dir)),
    // the FULL Gopher repetition battery (A1.2): duplicate-line
    // fractions + top-{2,3,4}-gram + duplicated-{5..10}-gram char
    // fractions, doc-local run-length HOF folds (never an explode
    // shuffle); the DuckDB oracle recomputes every fraction from
    // exploded n-gram counts, cross-checking the fold cell-exact
    "tx_gopher_rep" -> ((s, dir) => TextAnalysis.gopherRepetition(s, dir)),
    // offline-trained linear quality classifier over the pipeline's
    // own signal columns (the GPT-3/DCLM model-filter stage);
    // oracle-checked (logit is exact multiply-add on the 1e-4 grid)
    "tx_quality_lr" -> ((s, dir) => TextAnalysis.qualityClassifier(s, dir)),
    // RefinedWeb-style per-source provenance cap: top-`cap` docs per
    // source by quality through WindowGroupLimit; oracle-checked
    "tx_source_cap" -> ((s, dir) => TextAnalysis.sourceCap(s, dir)),
    "tx_tfidf" -> ((s, dir) => TextAnalysis.tfidf(s, dir)),
    // BM25 ranked retrieval over a fixed query set; oracle-checked
    "tx_bm25" -> ((s, dir) => TextAnalysis.bm25(s, dir)),
    // hybrid BM25+dense retrieval fused by Reciprocal Rank Fusion;
    // oracle-checked (rank-only fusion is bit-exact cross-engine)
    "tx_rrf" -> ((s, dir) => TextAnalysis.hybridRrf(s, dir)),
    // tx_rrf with the dense arm swapped to the Matryoshka ANN funnel —
    // the 100 TB deployment form; oracle-checked since r12 (the funnel
    // is approximate vs brute force but exactly-reproducible
    // arithmetic, so DuckDB composes the tx_rrf lex CTEs with the
    // ann_mrl_topk funnel CTEs); fused-rank overlap vs the exact
    // tx_rrf additionally gated in RecallSpec
    "tx_rrf_ann" -> ((s, dir) => TextAnalysis.hybridRrfAnn(s, dir)),
    "tx_contamination" -> ((s, dir) => TextAnalysis.contamination(s, dir)),
    "tx_lm_score" -> ((s, dir) => TextAnalysis.lmScore(s, dir)),
    // CCNet head/middle/tail perplexity tertiles via percentile_approx
    // cutoffs; rows-only (sketch cutoffs aren't ANSI-SQL) — band
    // balance/monotonicity/determinism gated in PropertySpec
    "tx_ccnet" -> ((s, dir) => TextAnalysis.ccnetBuckets(s, dir)),
    // DSIR hashed-unigram importance weights (target = md5-bucket
    // tail); oracle-checked
    "tx_dsir" -> ((s, dir) => TextAnalysis.dsir(s, dir)),
    // DSIR Gumbel top-k resampling (deterministic md5-seeded noise);
    // rows-only BY CHOICE (raw-double ranking is where cross-engine
    // hash oracles are fragile) — gated in PropertySpec vs an exact
    // driver-side recompute of the top-k set + determinism
    "tx_dsir_sample" -> ((s, dir) => TextAnalysis.dsirSample(s, dir)),
    // bottom-k rolling-hash fingerprint; rows-only (64-bit wraparound
    // isn't ANSI-SQL), kernel gated vs an independent reference
    "tx_rolling_fp" -> ((s, dir) => TextAnalysis.rollingFingerprint(s, dir)),
    "tx_mixture" -> ((s, dir) => TextAnalysis.mixtureWeights(s, dir)),
    // zlib compression-ratio quality; rows-only (no SQL deflate),
    // kernel gated in PropertySpec vs a direct java.util.zip recompute
    "tx_compress" -> ((s, dir) => TextAnalysis.compressionRatio(s, dir)),
    "tx_sample" -> ((s, dir) => Sampling.consistentSample(s, dir)),
    "tx_split" -> Sampling.trainValTest _,
    "tx_stratified" -> ((s, dir) => Sampling.stratifiedSample(s, dir)),
    // end-to-end composition: quality filter → exact dedup → packing,
    // hash-checked as one chain (per-op oracles can't see composition)
    "pipe_e2e" -> ((s, dir) => Pipeline.prepPipeline(s, dir)),
    // the crawl-rooted capstone (r16): raw `.warc.gz` shards → HTTP
    // envelope decode → charset → extraction → the SAME quality →
    // dedup → pack tail; shares pipe_e2e's oracle VERBATIM (lossless
    // wrap), so the whole crawl-to-training-corpus path is one
    // hash-gated query
    "pipe_crawl_e2e" -> ((s, dir) => Pipeline.crawlPrepPipeline(s, dir)),
    // per-source corpus data card: quality + gopher + dedup digests +
    // token volume rolled up in one scan, oracle-checked as a chain
    "pipe_datacard" -> ((s, dir) => Pipeline.dataCard(s, dir)),
    // corpus snapshot diff (added/removed/changed/unchanged by key +
    // digest) — the release-versioning audit; oracle-checked
    "pipe_diff" -> ((s, dir) => Pipeline.snapshotDiff(s, dir)),
    // third composition gate: quality + DSIR-kernel weight + exact
    // dedup + per-source cap as one chain; oracle-checked
    "pipe_select" -> ((s, dir) => Pipeline.selectPipeline(s, dir)),
    // lakehouse MERGE INTO (upsert + tombstone resolution on the
    // primary key); oracle-checked
    "pipe_merge" -> ((s, dir) => Pipeline.mergeRelease(s, dir)),
    // SCD Type 2 dimension-history build: versioned [valid_from,
    // valid_to) rows per user from the event stream; oracle-checked
    "pipe_scd2" -> ((s, dir) => Pipeline.scd2(s, dir)),
    // quality-annealed curriculum: phase by fixed logit thresholds
    // (the tx_quality_lr expression, shared), shard-local sequencing;
    // oracle-checked
    "pipe_curriculum" -> ((s, dir) => Pipeline.curriculum(s, dir)),
    // clean-then-index: dd_excise's splice feeding tx_tfidf's scorer
    // over the CLEANED corpus — the composed gate that catches an
    // index built before excision (boilerplate vocabulary dominating
    // tf and df); oracle is one DuckDB CTE chain like pipe_e2e
    "pipe_index" -> ((s, dir) => Pipeline.cleanThenIndex(s, dir)),
    // IVF lifecycle composition closing the ann_ivf_incr loop: serve a
    // history-trained index, ingest a drifted batch, detect share
    // drift past threshold, retrain on history+batch, re-serve —
    // reports drift/decision/fit/recall for both indexes. Rows-only
    // (k-means training is the documented trained-float-artifact
    // no-go); RecallSpec gates detection, the retrain decision,
    // strict fit recovery and recall non-degradation
    "pipe_ivf_retrain" -> ((s, dir) => Similarity.ivfLifecycle(s, dir)),
    // serving from the PERSISTED index artifact (centroids + cid-
    // partitioned inverted lists written once by ivfIndexDir): zero
    // training and zero corpus-assignment work in the serving plan —
    // the train-once/serve-many decoupling, r13. Rows-only (the
    // trained-float-artifact class); RecallSpec pins served ≡ trained
    // parity + recall, PlanSpec pins the single-embeddings-scan shape
    "pipe_ivf_serve" -> ((s, dir) => Similarity.ivfServeTopK(s, dir)),
    // the artifact lifecycle's INGEST verb: index built from history,
    // a batch appended as NEW FILES into the cid-partitioned lists
    // (assigned against centroids read back from the artifact — no
    // retraining, history data files never rewritten; RecallSpec
    // proves the file-level claim), then served through the same
    // partition-pruned plan. Rows-only (trained-float-artifact class)
    "pipe_ivf_append" -> ((s, dir) => Similarity.ivfAppendServeTopK(s, dir)),
    // the deployable FAISS IVF<n>,SQ8 recipe as a STORED artifact:
    // lists hold 1-byte/dim codes (~8× smaller on disk — RecallSpec
    // measures the parquet footprint ratio), bounds are a 1-row
    // table, serving dequantizes on-the-fly through the same
    // partition-pruned plan. Rows-only (trained-float-artifact class)
    "pipe_ivf_sq8_serve" -> ((s, dir) => Similarity.ivfSq8ServeTopK(s, dir)),
    // the lifecycle loop CLOSED (r14): drift detected under the
    // manifest version's centroids → retrain writes v2 as a NEW
    // immutable directory → an appended manifest record swings serving to it
    // atomically → this query serves THROUGH the manifest. Rows-only
    // (trained-float-artifact class); RecallSpec gates served ≡
    // in-session retrained IVF exactly, v1 data files byte-untouched
    // after the swap, and the drift decision; PlanSpec pins the serve
    // shape through the indirection
    "pipe_ivf_reserve" -> ((s, dir) => Similarity.ivfReserveTopK(s, dir)),
    // the lifecycle's LAST verb (r15): retention GC deletes RETIRED
    // version directories (strictly below manifest − keep) after the
    // swing; the manifest audit log is never touched, so serving
    // resolves the same bytes before and after. Rows-only
    // (trained-float-artifact class); RecallSpec gates retired-subtree
    // confinement (post-GC root inventory ≡ pre-GC minus exactly v1/),
    // survivor byte-identity, serve row-identity across the GC,
    // idempotence, and gc ≡ reserve output row-for-row
    "pipe_ivf_gc" -> ((s, dir) => Similarity.ivfGcServeTopK(s, dir)),
    "dd_exact" -> Dedup.exactDedup _,
    // RefinedWeb-style duplicated-passage removal at tumbling-segment
    // granularity; counts + reassembled clean text, oracle-checked
    "dd_segments" -> ((s, dir) => Dedup.segmentDedup(s, dir)),
    // alignment-independent duplicated-span detection via
    // content-defined chunking; rows-only (2⁶⁴ rolling-hash cut
    // rule), gated in DedupSpec incl. offset-shift invariance
    "dd_cdc" -> ((s, dir) => Dedup.cdcSpanDedup(s, dir)),
    // ExactSubstr-style cross-doc duplicated spans (Lee et al. 2022):
    // n-gram windows duplicated across ≥2 docs, merged to maximal
    // token ranges; oracle-checked (gaps-and-islands in both engines)
    "dd_spans" -> ((s, dir) => Dedup.duplicatedSpans(s, dir)),
    // doc-level ExactSubstr rollup: dup token mass, fraction and the
    // keep/excise decision; oracle-checked
    "dd_span_stats" -> ((s, dir) => Dedup.spanStats(s, dir)),
    // span EXCISION — the spliced clean text with every duplicated
    // span removed (the Lee-et-al remove-the-bytes action);
    // oracle-checked (string splice is exact in both engines)
    "dd_excise" -> ((s, dir) => Dedup.exciseSpans(s, dir)),
    // incremental ExactSubstr: new-batch spans duplicated against the
    // history's distinct gram index (history never re-tokenizes or
    // shuffles); md5-bucket split; oracle-checked
    "dd_spans_incremental" -> ((s, dir) => Dedup.incrementalSpans(s, dir)),
    // its ingestion-time twin: documents readStream + stream-static
    // gram-index join per micro-batch (stateless), islands rolled up
    // post-sink; shares dd_spans_incremental's oracle verbatim
    "dd_stream_spans" -> ((s, dir) =>
      graft.streaming.StreamingOps.spansViaStream(s, dir)),
    // pairwise source-level n-gram Jaccard (mirror/re-crawl audit);
    // oracle-checked; single gram shuffle, pairs from bounded sets
    "dd_source_overlap" -> ((s, dir) => Dedup.sourceOverlap(s, dir)),
    // per-source MinHash signatures estimating the same Jaccard — the
    // 100 TB shape (shuffle carries |sources|×H longs, skew absorbed
    // by mergeable partial mins); rows-only, estimate-error gated in
    // DedupSpec against the exact dd_source_overlap
    "dd_source_overlap_mh" -> ((s, dir) => Dedup.sourceOverlapMinhash(s, dir)),
    "dd_minhash_lsh" -> ((s, dir) => Dedup.minhashLsh(s, dir)),
    "dd_simhash" -> Dedup.simhash _,
    "dd_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccard(s, dir)),
    // overlap coefficient |A∩B|/min(|A|,|B|): the near-superset
    // detector Jaccard misses (short doc quoted inside a long one);
    // oracle-checked on the same bounded id range
    "dd_containment" -> ((s, dir) => Dedup.ngramContainment(s, dir)),
    // the production shape: LSH band candidates → containment
    // rescoring of candidate pairs only; rows-only (banding isn't
    // ANSI-SQL), gated in DedupSpec vs a driver exact recompute
    "dd_lsh_containment" -> ((s, dir) => Dedup.lshContainment(s, dir)),
    // the low-ratio arm banding structurally misses: bottom-k sketch
    // probes a df-capped posting index (LSH-Ensemble direction) →
    // same exact rescore; rows-only, gated in DedupSpec incl. a
    // planted banding-missed pair this arm must find
    "dd_idx_containment" -> ((s, dir) => Dedup.containmentIndexPairs(s, dir)),
    "dd_clusters" -> ((s, dir) => Dedup.nearDupClusters(s, dir)),
    "dd_lsh_clusters" -> ((s, dir) => Dedup.lshClusters(s, dir)),
    "dd_survivors" -> ((s, dir) => Dedup.survivors(s, dir)),
    // new-batch-vs-existing-corpus dedup; bloom pre-filter keeps the
    // result exact, so the anti-join semantics oracle-check end-to-end
    "dd_incremental" -> ((s, dir) => Dedup.incrementalDedup(s, dir)),
    // fuzzy incremental: new batch vs the corpus's LSH band index +
    // within-batch near-dup survivors; rows-only, gated in DedupSpec
    "dd_incremental_fuzzy" -> ((s, dir) => Dedup.incrementalFuzzyDedup(s, dir)),
    "ann_brute_topk" -> ((s, dir) => Similarity.bruteForceTopK(s, dir)),
    // metadata-filtered vector search (exact, label predicate pushed
    // to the parquet scan before any distance math); oracle-checked
    "ann_filtered_topk" -> ((s, dir) => Similarity.filteredTopK(s, dir)),
    "ann_lsh_topk" -> ((s, dir) => Similarity.lshTopK(s, dir)),
    "ann_ivf_topk" -> ((s, dir) => Similarity.ivfTopK(s, dir)),
    "ann_ivf_trained" -> ((s, dir) => Similarity.ivfTrainedTopK(s, dir)),
    // ingest-time index maintenance: batch assigns to FROZEN centroids
    // map-side, per-list occupancy + share drift (the retrain-due
    // signal); deterministic like ann_ivf_topk → oracle-checked
    "ann_ivf_incr" -> ((s, dir) => Similarity.ivfIncremental(s, dir)),
    "ann_near_dup" -> ((s, dir) => Similarity.embeddingNearDup(s, dir)),
    // SemDeDup: k-means-bucketed within-cluster cosine dedup;
    // rows-only (k-means has no SQL oracle), gated in RecallSpec
    "dd_semantic" -> ((s, dir) => Similarity.semanticDedup(s, dir)),
    // SQ8-quantized ANN (1 byte/dim corpus, asymmetric distance);
    // rows-only, top-k overlap gated in RecallSpec
    "ann_sq8_topk" -> ((s, dir) => Similarity.sq8TopK(s, dir)),
    // IVF×SQ8 composed (trained lists over a quantized corpus — the
    // FAISS IVF<n>,SQ8 shape); rows-only, gated in RecallSpec vs both
    // the float brute force and the unquantized trained IVF
    "ann_ivf_sq8" -> ((s, dir) => Similarity.ivfSq8TopK(s, dir)),
    // product quantization (16 code bytes/vector, 32× smaller corpus;
    // 8-bit subquantizers, the published FAISS PQ default); rows-only,
    // top-k overlap gated in RecallSpec (measured 0.84 ≥ 0.75), encode
    // + asymmetric-cosine kernels pinned vs driver-side
    // reconstructions in SimilaritySpec
    "ann_pq_topk" -> ((s, dir) => Similarity.pqTopK(s, dir)),
    // IVF×PQ composed (the FAISS IVF<n>,PQ<m> web-scale deployable);
    // rows-only, gated in RecallSpec vs brute force (measured 0.78)
    // and the unquantized trained IVF (added-loss overlap)
    "ann_ivf_pq" -> ((s, dir) => Similarity.ivfPqTopK(s, dir)),
    // Matryoshka two-stage funnel (prefix-dim shortlist → exact
    // rerank on fetched full vectors); oracle-checked since r12: both
    // stages are deterministic sequential dot products (the
    // ann_ivf_topk determinism argument — the funnel is approximate
    // vs brute force, but the approximation itself is exactly
    // reproducible arithmetic), so DuckDB mirrors shortlist AND
    // rerank; recall vs brute force additionally gated in RecallSpec
    "ann_mrl_topk" -> ((s, dir) => Similarity.mrlTopK(s, dir)),
    // the 14th real streaming execution (r14): probe vectors arrive as
    // a readStream and are served against the SAME persisted IVF
    // artifact pipe_ivf_serve reads — stream-static join on cid,
    // stateless Append, rank post-sink. Rows-only (trained-float-
    // artifact class); RecallSpec gates streamed ≡ batch serve
    // row-for-row — the artifact serves incremental traffic too
    "ann_stream_serve" -> ((s, dir) =>
      graft.streaming.StreamingOps.annServeViaStream(s, dir)),
    // REAL codec chain (MediaCodec): encode genuine PPM/BMP/WAV/Y4M
    // fixture bytes, parse them back with real header/chunk parsers,
    // report parsed dims + content checksums — fully oracle-checked
    // (DuckDB rebuilds sizes, parsed fields and decoded data sums
    // closed-form from `documents`)
    "mm_media_meta" -> Multimodal.mediaMeta _,
    // the same decode contract ingested through Spark's binaryFile
    // source from REAL staged files (one object per file, numeric
    // filename stems) — the media-lake landing shape, oracle-shared
    // with mm_media_meta so ingest-path divergence is a hash mismatch
    "mm_files_meta" -> ((s, dir) => Multimodal.filesMeta(s, dir)),
    // WARC/WET crawl ingest (r15): the web's landing container —
    // staged `.warc.gz` shards (per-record gzip members, the Common
    // Crawl layout) parsed back into document rows map-side; FULL
    // oracle against `documents` rebuilt in DuckDB, so container
    // round-trip divergence is a hash mismatch
    "src_warc" -> ((s, dir) => graft.sources.Warc.srcWarcDocs(s, dir)),
    // the RAW-crawl twin (r15, hardened r16): `response` records with
    // full HTTP envelopes (identity / chunked / gzip / chunked-around-
    // gzip entity codings, cycled per doc) and HTML bodies → envelope
    // DECODE → boilerplate-strip text extraction — the crawl-to-corpus
    // step itself. The fixture HTML wrap is lossless, so this shares
    // src_warc's oracle: a divergence in framing, HTTP decoding or
    // EXTRACTION is a hash mismatch
    "src_warc_html" -> ((s, dir) => graft.sources.Warc.srcWarcHtmlDocs(s, dir)),
    // WET sink round-trip (r16): the crawl container's WRITE side —
    // an O9-family sink (one shard file per task after one hash
    // Exchange, the mr-out-<bucket> layout at crawl grain). A
    // filtered+transformed corpus (even doc_ids, suffix appended)
    // goes through writeWetLake and back through the src_warc
    // ingest; the oracle rebuilds the transform in SQL, so the
    // write→read loop closes under a full hash oracle — and because
    // the content differs from the staged fixture lake, the sink
    // cannot pass by accidentally reading src_warc's files
    "snk_wet_roundtrip" -> ((s, dir) => graft.sources.Warc.snkWetRoundtrip(s, dir)),
    // revisit-record resolution (r16): the crawl's dedup reference
    // chain — `revisit` records (an unchanged re-fetch, stored
    // body-less) resolve their text by a cross-shard JOIN on
    // WARC-Refers-To-Target-URI back to the original conversion;
    // dangling referents drop. Full oracle: a self-join on
    // `documents` rebuilds the resolution via the fixture's id rule
    "src_warc_revisit" -> ((s, dir) => graft.sources.Warc.srcWarcRevisitDocs(s, dir)),
    // cdx range-read index (r16): for every conversion record, which
    // shard holds it, its gzip member's byte offset + compressed
    // length, and its payload digest — the index that makes crawl
    // range requests possible. Rows-only BY NATURE (offset/length
    // are deflate-encoder facts no SQL engine reproduces); the
    // SourcesSpec gate EXECUTES the contract: every (offset, length)
    // slice range-reads back to exactly its own record, members tile
    // each shard, and the index covers every document
    "src_warc_cdx" -> ((s, dir) => graft.sources.Warc.srcWarcCdx(s, dir)),
    // cdx CONSUMED (r17): the crawl's point-lookup verb — a bounded
    // doc_id set resolves through the index and RANGE-READS only the
    // indexed gzip members (open/seek/readFully, one hash Exchange to
    // co-locate a shard's reads, members read in offset order), never
    // a whole-shard scan. Full oracle: the fetched rows hash-match
    // `documents` under the same predicate; the bytes discipline is
    // EXECUTED in SourcesSpec (fetch against a junk-outside-the-
    // ranges lake still returns every document)
    "src_warc_fetch" -> ((s, dir) => graft.sources.Warc.srcWarcFetch(s, dir)),
    // the point lookup at its PRODUCTION shape (r17): the cdx read
    // back from a PERSISTED parquet artifact (built once, amortized
    // over every fetch — the pipe_ivf_serve precedent) with the
    // doc_id range pushed into the artifact scan; the serving plan
    // has NO binaryFile scan — the lake contributes only the member
    // range reads. Full oracle: documents under the same range
    "src_warc_serve" -> ((s, dir) => graft.sources.Warc.srcWarcServe(s, dir)),
    // the crawl family's METADATA member (r17): WAT-style extraction —
    // per response record, the envelope facts (status, media type,
    // charset, coding chain, header count, decoded entity size)
    // without keeping the content; map-side at shard grain. Full
    // oracle: all columns closed-form in the envelope cycle + the
    // lossless wrap's escape arithmetic
    "src_warc_wat" -> ((s, dir) => graft.sources.Warc.srcWarcWat(s, dir)),
    // streaming WET export (r16): the sink's incremental deployment —
    // documents stream in, every micro-batch appends its own
    // batch-id-prefixed shards through the SAME writeWetLake body,
    // and the parsed-back union shares src_warc's oracle (stateless
    // Append ⇒ batching-invariant)
    "snk_stream_wet" -> ((s, dir) =>
      graft.streaming.StreamingOps.wetExportViaStream(s, dir)),
    // streaming crawl ingest (r17) — the 16th real streaming
    // execution: shards arrive as a binaryFile readStream
    // (maxFilesPerTrigger forces real multi-batch arrival), each
    // micro-batch parses map-side through the SAME record walk as the
    // batch ingest, documents append; oracle shared with src_warc
    "src_stream_warc" -> ((s, dir) =>
      graft.streaming.StreamingOps.warcIngestViaStream(s, dir)),
    // streaming cdx-served fetch (r17) — the 17th real streaming
    // execution, the crawl's ONLINE point-lookup loop: doc_id
    // requests stream in, each micro-batch prunes the persisted cdx
    // artifact (stream-static) and range-reads only its members
    // through the batch fetch's own body; oracle = documents under
    // the request predicate
    "src_stream_fetch" -> ((s, dir) =>
      graft.streaming.StreamingOps.fetchViaStream(s, dir)),
    // the online loop's RETENTION verb (r18): same stream, then
    // compactBatchDirs folds every batch directory below the newest
    // into one — the per-batch-id accumulation can no longer grow
    // without bound; serving must be row-identical across the fold,
    // so the oracle is the batch fetch's, unchanged
    "src_stream_fetch_gc" -> ((s, dir) =>
      graft.streaming.StreamingOps.fetchStreamGc(s, dir)),
    // streaming WAT extraction (r18) — the 19th real streaming
    // execution: the crawl-audit stream, envelope facts per
    // micro-batch through the batch walk's own body; oracle shared
    // with src_warc_wat
    "src_stream_wat" -> ((s, dir) =>
      graft.streaming.StreamingOps.watViaStream(s, dir)),
    // robots.txt compliance plane (r18, RFC 9309; r19: full §2.2.3
    // wildcard matching, §2.3.1 availability semantics, group-aware
    // crawl-delay, host-key normalization; r20: in-lake §2.3.1.2
    // redirect-chain resolution — ≤5 hops, loops and longer chains ⇒
    // unavailable — §2.2.1 product-token group selection, and
    // fractional crawl-delays carried exactly as millisecond slots):
    // parse robots captures into a directive table; join the corpus
    // against it under group-selection + longest-match semantics
    "src_warc_robots" -> ((s, dir) =>
      graft.sources.Robots.srcWarcRobots(s, dir)),
    // the compliance plane at ingestion time (r19) — the 20th real
    // streaming execution: robots captures arrive as a binaryFile
    // readStream in real multiple micro-batches and parse through
    // the batch ingest's own shard walk; oracle shared with
    // src_warc_robots
    "src_stream_robots" -> ((s, dir) =>
      graft.streaming.StreamingOps.robotsViaStream(s, dir)),
    // the robots grammar's discovery surface (r19): file-scoped
    // Sitemap records, one row per (host, url)
    "src_robots_sitemaps" -> ((s, dir) =>
      graft.sources.Robots.srcRobotsSitemaps(s, dir)),
    // the sitemap DISCOVERY walk (r20): announced sitemaps resolved
    // against the capture lake — urlsets emit URLs with lastmod,
    // sitemapindex files resolve one level (the protocol's nesting
    // cap), announcements key through the robots normalization
    "src_sitemap_urls" -> ((s, dir) =>
      graft.sources.Sitemaps.srcSitemapUrls(s, dir)),
    // the robots → discovery → politeness composition (r20): each
    // host's discovered URLs ordered by PARSED lastmod freshness
    // (undated last) and spaced by the group-selected crawl-delay in
    // millisecond slots
    "pipe_sitemap_schedule" -> ((s, dir) =>
      graft.sources.Sitemaps.pipeSitemapSchedule(s, dir)),
    "pipe_robots_filter" -> ((s, dir) =>
      graft.sources.Robots.pipeRobotsFilter(s, dir)),
    // streaming compliance verdicts (r20) — the 21st real streaming
    // execution, the crawl family's last batch/stream asymmetry
    // closed: a documents stream stream-static joined against the
    // resolved per-host rule-set artifact (broadcast static side, the
    // ann_stream_serve shape), the verdict a scalar expression per
    // row; oracle shared with pipe_robots_filter
    "pipe_stream_robots_filter" -> ((s, dir) =>
      graft.streaming.StreamingOps.robotsVerdictsViaStream(s, dir)),
    // politeness scheduling (r18): allowed fetches spaced by each
    // host's crawl-delay — the compliance plane's closing verb
    "pipe_fetch_schedule" -> ((s, dir) =>
      graft.sources.Robots.pipeFetchSchedule(s, dir)),
    // the politeness window's 100 TB twin (r19): bucket-sharded
    // two-stage global rank, spec-gated row-identical to the window
    // form and sharing its oracle — the hot-host skew the window
    // form allowlists, made executable instead of argued
    "pipe_fetch_schedule_sharded" -> ((s, dir) =>
      graft.sources.Robots.pipeFetchScheduleSharded(s, dir)),
    // the compliance plane's governance rollup (r19): per-host
    // fetchability, politeness cost, and allowed-by-rule vs
    // allowed-by-absence
    "pipe_robots_audit" -> ((s, dir) =>
      graft.sources.Robots.pipeRobotsAudit(s, dir)),
    // baseline JPEG (r14): block-constant grayscale fixtures through
    // the real ITU-T T.81 encoder+decoder — Huffman entropy coding,
    // DC prediction, MCU interleave, 4:2:0 subsampling and restart
    // markers all sit between the generated value and the verified
    // sums, and the DC-only/chroma-128 profile reconstructs
    // BIT-EXACTLY, so the whole chain is DuckDB-oracle-checked
    // (dims + sampling profile parsed from SOF, closed-form per-block
    // positional sums over the decoded raster)
    "mm_jpeg_meta" -> ((s, dir) => Multimodal.jpegMeta(s, dir)),
    // the same JPEG decode contract ingested through Spark's
    // binaryFile source from REAL staged .jpg files — oracle-shared
    // with mm_jpeg_meta (the mm_files_meta precedent), so the
    // compressed container cannot decode differently between the
    // generation path and the lake path without a hash mismatch
    "mm_jpeg_files" -> ((s, dir) => Multimodal.jpegFilesMeta(s, dir)),
    // per-kept-frame extraction (parsed Y4M frames / 1024-sample audio
    // windows / single image frame), stride-sampled; oracle-checked
    // per (media, frame)
    "mm_frame_sample" -> ((s, dir) => Multimodal.frameSampleSummary(s, dir)),
    // decode → NN-resample (or ×2 audio decimate) → re-encode →
    // re-decode round trip; oracle recomputes every resampled pixel's
    // source byte via the same integer-floor NN index map
    "mm_resize" -> ((s, dir) => Multimodal.resizeSummary(s, dir)),
    // perceptual-hash media dedup (aHash over DECODED luma/samples —
    // container-invariant — + pigeonhole banding); oracle-checked
    // since r12: the hash's mean-of-means threshold is now an EXACT
    // integer comparison (aHashExact — the float boundary was
    // incidental tie-breaking, not semantics), so DuckDB rebuilds
    // every hash bit and the dup set from the content units;
    // MultimodalSpec's independent-parser recompute and brute-force
    // Hamming gates stay as belt-and-braces
    "mm_phash_dup" -> ((s, dir) => Multimodal.phashDedup(s, dir)),
    // the 13th real streaming execution: readStream over documents →
    // real encode + parse (the batch path's own typed maps) →
    // per-(kind, format) Complete-mode rollup of parsed byte volumes
    // and content checksums; oracle-shared with a batch GROUP BY over
    // the mm_media_meta closed forms
    "mm_stream_meta" -> ((s, dir) =>
      graft.streaming.StreamingOps.mediaMetaViaStream(s, dir)),
    // media → decode → content embedding → exact cosine top-k (the
    // multimodal→ANN bridge); oracle-checked since r12 — the r12
    // promotability audit first filed this under the float-
    // associativity blocker, but every step is in fact a left fold
    // both engines share (integer cell sums / single divisions /
    // sequential dot products), so DuckDB rebuilds the span-mean
    // encoder from the cycled text bytes and the hash matches
    // bit-for-bit; MultimodalSpec's driver-side recompute gate stays
    // as belt-and-braces
    "mm_embed_ann" -> ((s, dir) => Multimodal.embedAnnTopK(s, dir)),
    // ---- M3: event-time semantics ----
    "ev_tumbling" -> Events.tumbling _,
    "ev_sliding" -> Events.sliding _,
    "ev_session" -> Events.sessionize _,
    "ev_json" -> Events.jsonExtract _,
    // Spark 4 VARIANT: parse once to the binary encoding, typed
    // variant_get paths after (shredding-ready shape at 100 TB)
    "ev_variant" -> Events.variantExtract _,
    "ev_top_users" -> Events.hourlyTopUsers _,
    // day-grain cohort retention matrix; oracle-checked; join-free
    // (first-seen via user-partitioned window min)
    "ev_retention" -> Events.retention _,
    // within-session event-type Markov transition matrix with exact
    // ppm probabilities (long division); oracle-checked
    "ev_transitions" -> ((s, dir) => Events.transitions(s, dir)),
    // hourly volume anomalies per type: z-score from exact integer
    // moments (single-rounded IEEE, bit-identical cross-engine),
    // top-3 buckets per type; oracle-checked
    "ev_anomaly" -> ((s, dir) => Events.anomaly(s, dir)),
    // RFM engagement segmentation: recency/frequency/monetary banded
    // 1-5 against population means (monetary in exact cents);
    // oracle-checked
    "ev_rfm" -> ((s, dir) => Events.rfm(s, dir)),
    // top within-session 3-step event-type paths (funnel discovery);
    // global top-k via TakeOrderedAndProject; oracle-checked
    "ev_paths" -> ((s, dir) => Events.paths(s, dir)),
    // sparse-to-dense daily series via a recursive-CTE day spine
    // (Spark 4.1 WITH RECURSIVE); zero-filled; oracle-checked
    "ev_gapfill" -> ((s, dir) => Events.gapfill(s, dir)),
    // DAU/WAU stickiness via map-side coverage explode (no range
    // join, no sliding distinct); exact ppm; oracle-checked
    "ev_stickiness" -> ((s, dir) => Events.stickiness(s, dir)),
    // its ingestion-time twin: constant-size per-user last-two-steps
    // state via flatMapGroupsWithState; shares ev_paths' oracle
    "ev_stream_paths" -> graft.streaming.StreamingOps.pathsViaStream _,
    // its ingestion-time twin: per-user first-seen/new-day state via
    // flatMapGroupsWithState; shares ev_retention's oracle verbatim
    "ev_stream_retention" -> graft.streaming.StreamingOps.retentionViaStream _,
    "ev_asof" -> Events.asofPurchaseClick _,
    "ev_interval_join" -> Events.intervalJoinSessions _,
    "ev_funnel" -> Events.funnel _,
    // real readStream→watermark→aggregate→memory-sink execution, shaped
    // to the ev_tumbling contract so the same oracle hash-checks it
    "ev_stream_tumbling" -> graft.streaming.StreamingOps.tumblingViaStream _,
    "ev_stream_session" -> graft.streaming.StreamingOps.sessionViaStream _,
    "ev_stream_join" -> graft.streaming.StreamingOps.joinViaStream _,
    "ev_stream_running" -> graft.streaming.StreamingOps.runningViaStream _,
    // the same state machine on Spark 4's transformWithState API
    // (RocksDB-backed named state) — checked against the same oracle
    "ev_stream_tws" -> graft.streaming.StreamingOps.twsViaStream _,
    "ev_stream_dedup" -> graft.streaming.StreamingOps.dedupViaStream _,
    // incremental corpus-quality monitor: readStream over documents →
    // the batch pipeline's own quality+gopher columns → per-source
    // Complete-mode rollup; oracle-shared with a batch GROUP BY
    "tx_stream_quality" -> graft.streaming.StreamingOps.docQualityViaStream _,
    // streaming twin of tx_dsir: frozen LM artifact (shared builder),
    // map-side DsirLlr kernel scoring, stateless Append mode;
    // oracle-shared with the batch SQL
    "tx_stream_dsir" -> ((s, dir) => graft.streaming.StreamingOps.dsirViaStream(s, dir)),
    // streaming twin of dd_incremental: the shared history bloom
    // prefilter routes bloom-negative rows past a stream-static LEFT
    // ANTI join; stateless Append mode, oracle-checked end-to-end
    "ev_stream_incr_dedup" ->
      ((s, dir) => graft.streaming.StreamingOps.incrDedupViaStream(s, dir)),
  )

  /** Resets [[run]] applies before a query's build (snk_stream_wet
    * streams at build time): each forgets a session memo, so every run
    * pays the query's real cost, not a read-back of an earlier run's
    * result. dd_survivors has none on purpose: it reuses dd_clusters'
    * labels within a session (RESULTS.md). */
  val resetsBeforeRun: Map[String, () => Unit] = Map(
    "dd_clusters" -> (() => Dedup.clearLabelCache()),
    "snk_stream_wet" -> (() => graft.streaming.StreamingOps.clearWetExportCache()),
    "src_stream_fetch" -> (() => graft.streaming.StreamingOps.clearFetchStreamCache()),
    "src_stream_fetch_gc" -> (() => graft.streaming.StreamingOps.clearFetchGcCache()))

  /** Queries whose build and action [[run]] wraps in
    * [[Relational.withBloomPruneConfs]]: a DataFrameWriter action
    * re-optimizes under the session conf, which would drop q24's
    * runtime bloom filter. */
  val bloomScoped: Set[String] = Set("q24_bloom_prune")

  /** One run of a registry query: build it and hand it to `act` under
    * the query's per-run policy. Bench, Verify and Probe all run
    * queries through here. */
  def run[T](s: SparkSession, name: String, dir: String)(act: DataFrame => T): T = {
    resetsBeforeRun.get(name).foreach(_())
    def body = act(queries(name)(s, dir))
    if (bloomScoped(name)) Relational.withBloomPruneConfs(s)(body) else body
  }

  /** The queries a run covers, in name order: every one, or the
    * comma-separated names in `only`, which must all be registered.
    * Name order is stable across runs and runs dd_clusters before
    * dd_survivors, which reuses its labels. */
  def selection(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[String] = {
    val names = only.fold(queries.keySet)(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = names -- queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    names.toSeq.sorted
  }

  /** DuckDB-equivalent SQL per query (same tables as parquet views).
    * Omitted: dd_minhash_lsh / dd_lsh_clusters / dd_simhash /
    * ann_lsh_topk / ann_near_dup / dd_semantic / ann_sq8_topk /
    * ann_ivf_sq8 / ann_pq_topk / ann_ivf_pq / tx_rolling_fp /
    * tx_compress / tx_bpe /
    * mm_phash_dup / dd_cdc / dd_incremental_fuzzy (xxhash64 / LSH /
    * k-means / SQ8 / PQ / 2⁶⁴-wraparound / deflate / BPE /
    * codec-boundary hash / CDC cut-rule internals aren't
    * ANSI-expressible) —
    * those are covered by scalatest goldens; the driver records
    * rows-only. */
  def oracleSql: Map[String, String] = {
    // Shared CTE blocks — the Gopher raw counts, the Gopher keep rule,
    // and the per-doc quality score each exist ONCE and interpolate
    // into every oracle that consumes them (tx_gopher, pipe_datacard,
    // tx_stream_quality), so a threshold change cannot desynchronize
    // the per-op oracle from the composition oracles.
    // Shared mm fixture-math fragments — ONE source of truth for the
    // content rule and the container closed forms across all five mm
    // oracles (the r12 codepoint fix was exactly a rule tweak that
    // must never again require five synchronized edits). mmTbExpr
    // needs `text` and `n` in scope; mmBaseCtes ends with CTE `v`
    // carrying every generation fact (kind/format/dims/rate/counts/
    // nunits/n_bytes/q/r) plus TWO unit lists: `tb` — the per-doc
    // code points (non-ASCII folded to 63 = '?'), which the RAW data
    // units (samples, index bytes, truecolor/RGBA rasters) cycle
    // with period `n` — and `ub`/`m`, the DECODED-raster cycle:
    // identical to tb/n everywhere except palette-PNG rows (r14),
    // where the decoded stream is each unit expanded through the
    // fixture PLTE's three channel maps (v, 255−v, 3v mod 256 —
    // Multimodal.paletteChan), and RGBA-PNG rows (r15), where it is
    // the white-composite of each pixel's three color units under its
    // alpha unit — both period 3n, so ub = the expansion and m = 3n.
    // Every downstream fragment indexes the decoded stream as
    // ub[pos % m], which makes each PNG profile a v-CTE change, not
    // five synchronized oracle edits.
    val mmTbExpr =
      """list_transform(range(1, CAST(n AS INTEGER) + 1), i ->
        |      CASE WHEN ascii(substr(text, CAST(i AS INTEGER), 1)) <= 127
        |           THEN ascii(substr(text, CAST(i AS INTEGER), 1)) ELSE 63 END)""".stripMargin
    val mmBaseCtes =
      s"""WITH base AS (
         |  SELECT doc_id AS media_id, text, length(text) AS n,
         |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |    CASE CAST(doc_id % 3 AS INTEGER)
         |      WHEN 0 THEN CASE CAST((doc_id // 3) % 3 AS INTEGER)
         |        WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
         |        -- the third slot's sub-cycle (pvar below) puts GIF
         |        -- at (id//9)%4 = 3 (r15)
         |        ELSE CASE WHEN CAST((doc_id // 9) % 4 AS INTEGER) = 3
         |          THEN 'gif' ELSE 'png' END END
         |      -- the audio slot sub-cycles wav / FLAC by (id//3)%2
         |      -- (r15): lossless, so only format + n_bytes change
         |      WHEN 1 THEN CASE CAST((doc_id // 3) % 2 AS INTEGER)
         |        WHEN 1 THEN 'flac' ELSE 'wav' END
         |      -- the video slot sub-cycles y4m / ANIMATED GIF by
         |      -- (id//3)%2 (r17): box composition under the oracle
         |      ELSE CASE CAST((doc_id // 3) % 2 AS INTEGER)
         |        WHEN 1 THEN 'gif' ELSE 'y4m' END END AS format,
         |    -- the third image slot sub-cycles PNG truecolor(0) /
         |    -- palette(1) / RGBA-with-alpha(2) / GIF(3) by (id//9)%4
         |    -- (r15); GIF shares the palette arm's content rule, so
         |    -- pvar 1 and 3 expand identically below
         |    CASE WHEN CAST(doc_id % 3 AS INTEGER) = 0 AND CAST((doc_id // 3) % 3 AS INTEGER) = 2
         |         THEN CAST((doc_id // 9) % 4 AS INTEGER) ELSE 0 END AS pvar,
         |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 8 + doc_id % 57 WHEN 2 THEN 8 + doc_id % 25 ELSE 0 END AS w,
         |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 8 + (doc_id * 7) % 57 WHEN 2 THEN 8 + (doc_id * 7) % 25 ELSE 0 END AS h,
         |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 1 WHEN 2 THEN 2 + doc_id % 7 ELSE 0 END AS nfr,
         |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 1 THEN 8000 + (doc_id % 5) * 1000 ELSE 0 END AS rate,
         |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 1 THEN 1024 + (doc_id % 777) * 4 ELSE 0 END AS ns
         |  FROM documents),
         |u AS (
         |  SELECT *, CASE kind WHEN 'image' THEN 3*w*h WHEN 'audio' THEN ns ELSE nfr*3*w*h END AS nunits,
         |    CASE
         |      WHEN format = 'ppm' THEN 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + 3*w*h
         |      WHEN format = 'bmp' THEN 54 + h * (((3*w + 3) // 4) * 4)
         |      -- png (stored-deflate IDAT): sig 8 + IHDR 25 + IDAT 12 +
         |      -- IEND 12 + zlib 6 + scanlines h*(1+bpp*w) + 5 per stored
         |      -- block; the palette profile adds the 256-entry PLTE
         |      -- chunk (12 + 768) and stores 1-byte pixels; the RGBA
         |      -- profile stores 4-byte pixels (r15)
         |      WHEN format = 'png' AND pvar = 1 THEN 843 + h*(1 + w) + 5*((h*(1 + w) + 65534)//65535)
         |      WHEN format = 'png' AND pvar = 2 THEN 63 + h*(1 + 4*w) + 5*((h*(1 + 4*w) + 65534)//65535)
         |      WHEN format = 'png' THEN 63 + h*(1 + 3*w) + 5*((h*(1 + 3*w) + 65534)//65535)
         |      -- gif (literal-only LZW, the stored-deflate trick's
         |      -- GIF twin): header 6 + LSD 7 + GCT 768 + descriptor
         |      -- 10 + min-code byte + data + block terminator +
         |      -- trailer = 794 + B + ⌈B/255⌉ with T = N + ⌈N/254⌉ + 1
         |      -- nine-bit codes and B = ⌈9T/8⌉ data bytes; interlace
         |      -- is a row permutation, size-invariant by construction
         |      -- comment rotation (r18): every other gif by (media_id//4)%2
         |      -- carries a 17-byte COMMENT EXTENSION (4 + 13 payload)
         |      WHEN kind = 'image' AND format = 'gif' THEN 794
         |        + (9*(w*h + (w*h + 253)//254 + 1) + 7)//8
         |        + ((9*(w*h + (w*h + 253)//254 + 1) + 7)//8 + 254)//255
         |        + CASE WHEN CAST((media_id // 4) % 2 AS INTEGER) = 1 THEN 17 ELSE 0 END
         |      -- ANIMATED gif (r17): the static closed form summed per
         |      -- frame — 782 container skeleton + frame 0 (full screen,
         |      -- no GCE: 12 + bytes(w·h)) + (nfr−1) box frames (GCE 8 +
         |      -- 12 + bytes(bw·bh)) with bytes(N) = B + ⌈B/255⌉,
         |      -- B = ⌈9(N + ⌈N/254⌉ + 1)/8⌉ and bw,bh = w//2,h//2
         |      -- frame 3 (nfr ≥ 4) ships a 768-byte LOCAL color table (r17)
         |      WHEN kind = 'video' AND format = 'gif' THEN 794
         |        + (9*(w*h + (w*h + 253)//254 + 1) + 7)//8
         |        + ((9*(w*h + (w*h + 253)//254 + 1) + 7)//8 + 254)//255
         |        + (nfr - 1) * (20
         |          + (9*((w//2)*(h//2) + ((w//2)*(h//2) + 253)//254 + 1) + 7)//8
         |          + ((9*((w//2)*(h//2) + ((w//2)*(h//2) + 253)//254 + 1) + 7)//8 + 254)//255)
         |        + CASE WHEN nfr >= 4 THEN 768 ELSE 0 END
         |        + CASE WHEN CAST((media_id // 4) % 2 AS INTEGER) = 1 THEN 17 ELSE 0 END
         |      WHEN format = 'wav' THEN 44 + 2*ns
         |      -- flac (one verbatim frame): magic 4 + STREAMINFO 38 +
         |      -- frame header 8 + subframe header 1 + 16-bit samples
         |      -- + CRC-16 (closed-form, the stored-deflate trick)
         |      WHEN format = 'flac' THEN 53 + 2*ns
         |      ELSE 33 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + nfr * (6 + 3*w*h)
         |    END AS n_bytes,
         |    -- canonical-rate sample count (aHash64's 8 kHz NN resample)
         |    CASE WHEN rate > 0 THEN ns * 8000 // rate ELSE 0 END AS ns2
         |  FROM base),
         |v0 AS (SELECT *, $mmTbExpr AS tb FROM u),
         |v1 AS (SELECT *,
         |    -- ANIMATED gif (r17): ub is the ENTIRE decoded unit
         |    -- sequence (m = nunits below, so q=1, r=0 and every
         |    -- generic ub[1 + pos % m] lookup reads the exact decoded
         |    -- unit). Per frame k: Y plane = the composited gray
         |    -- canvas — frame 0 paints the full screen with the unit
         |    -- cycle; frame k ≥ 1 paints a (w//2)×(h//2) box at
         |    -- ((3k) % (w−bw+1), (5k) % (h−bh+1)) with unit(k·bw·bh+j),
         |    -- every 5th box pixel transparent (canvas shows through);
         |    -- the base canvas is frame 0's paint, with frame 1's rect
         |    -- cleared to WHITE (255) for frames k ≥ 2 (frame 1 is
         |    -- disposal 2, every later frame disposal 3). Cb and Cr
         |    -- planes are constant 128 (grayscale GCT under the exact
         |    -- fixed-point BT.601 — the codec's documented invariant).
         |    CASE WHEN kind = 'video' AND format = 'gif' THEN
         |           flatten(list_transform(range(0, CAST(nfr AS INTEGER)), k ->
         |             list_transform(range(0, CAST(3*w*h AS INTEGER)), p ->
         |               CASE WHEN p >= w*h THEN 128
         |                    WHEN k >= 1
         |                         AND (p % w) >= (3*k) % (w - w//2 + 1)
         |                         AND (p % w) <  (3*k) % (w - w//2 + 1) + w//2
         |                         AND (p // w) >= (5*k) % (h - h//2 + 1)
         |                         AND (p // w) <  (5*k) % (h - h//2 + 1) + h//2
         |                         AND (((p // w) - (5*k) % (h - h//2 + 1)) * (w//2)
         |                              + (p % w) - (3*k) % (w - w//2 + 1)) % 5 <> 4
         |                -- frame 3 paints through its INVERTED local table
         |                    THEN CASE WHEN k = 3 THEN 255 ELSE 0 END
         |                         + CASE WHEN k = 3 THEN -1 ELSE 1 END
         |                           * tb[1 + CAST((k*(w//2)*(h//2)
         |                           + ((p // w) - (5*k) % (h - h//2 + 1)) * (w//2)
         |                           + (p % w) - (3*k) % (w - w//2 + 1)) % n AS INTEGER)]
         |                    WHEN k >= 2
         |                         AND (p % w) >= 3 % (w - w//2 + 1)
         |                         AND (p % w) <  3 % (w - w//2 + 1) + w//2
         |                         AND (p // w) >= 5 % (h - h//2 + 1)
         |                         AND (p // w) <  5 % (h - h//2 + 1) + h//2
         |                -- the disposal-2 base: declared bg gray 200 on
         |                -- the (id//6)%2==1 arm, white otherwise (r17)
         |                    THEN CASE WHEN CAST((media_id // 6) % 2 AS INTEGER) = 1
         |                              THEN 200 ELSE 255 END
         |                    ELSE tb[1 + CAST(p % n AS INTEGER)] END)))
         |         WHEN pvar IN (1, 3) THEN flatten(list_transform(tb, x -> [x, 255 - x, (x*3) % 256]))
         |         -- RGBA (r15): decoded rgb[3j+c] = white-composite of
         |         -- unit(4j+c) under alpha unit(4j+3) — one period-3n
         |         -- list, the same ub shape as the palette expansion
         |         WHEN pvar = 2 THEN flatten(list_transform(range(0, CAST(n AS INTEGER)), j ->
         |           list_transform([0, 1, 2], c ->
         |             (tb[1 + CAST((4*j + c) % n AS INTEGER)] * tb[1 + CAST((4*j + 3) % n AS INTEGER)]
         |              + (255 - tb[1 + CAST((4*j + 3) % n AS INTEGER)]) * 255 + 127) // 255)))
         |         ELSE tb END AS ub,
         |    CASE WHEN kind = 'video' AND format = 'gif' THEN nfr*3*w*h
         |         WHEN pvar IN (1, 2, 3) THEN 3*n ELSE n END AS m
         |  FROM v0),
         |v AS (SELECT *, nunits // m AS q, nunits % m AS r FROM v1)""".stripMargin
    // mm_phash_dup oracle fragments: 8×8 box decomposition of cell ci
    // over a w×h raster (box width/height, pixel coords from the
    // box-local flat index `pix`)
    val phBw = "(((ci%8)+1)*w//8 - (ci%8)*w//8)"
    val phBh = "(((ci//8)+1)*h//8 - (ci//8)*h//8)"
    val phIdx = s"(((ci//8)*h//8 + pix // $phBw) * w + ((ci%8)*w//8 + pix % $phBw))"
    val mmDataSum =
      "q * list_sum(ub) + coalesce(list_sum(ub[1:CAST(r AS INTEGER)]), 0)"
    val mmDataWsum =
      """list_sum(list_transform(range(0, CAST(m AS INTEGER)), k ->
        |      CAST(ub[CAST(k AS INTEGER) + 1] AS BIGINT) *
        |      (m * ((q + CASE WHEN k < r THEN 1 ELSE 0 END) * (q + CASE WHEN k < r THEN 1 ELSE 0 END - 1) // 2)
        |       + k * (q + CASE WHEN k < r THEN 1 ELSE 0 END))))""".stripMargin
    val jpegMetaSql =
      """WITH p AS (
          |  SELECT doc_id,
          |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'gray' WHEN 1 THEN '444' ELSE '420' END
          |      -- coding cycle (r15): every other id//7 stripe is a
          |      -- PROGRESSIVE (SOF2) container; jpegProfile parses the
          |      -- suffix from the marker, so this column certifies the
          |      -- fixture really ships progressive frames
          |      || CASE WHEN CAST((doc_id // 7) % 2 AS INTEGER) = 1 THEN 'p' ELSE '' END AS profile,
          |    16 * (1 + CAST((doc_id // 3) % 3 AS INTEGER)) AS w,
          |    16 * (1 + CAST((doc_id // 5) % 3 AS INTEGER)) AS h,
          |    list_transform(range(1, CAST(length(text) AS INTEGER) + 1), i ->
          |      CASE WHEN ascii(substr(text, CAST(i AS INTEGER), 1)) <= 127
          |           THEN ascii(substr(text, CAST(i AS INTEGER), 1)) ELSE 63 END) AS tb0
          |  FROM documents),
          |q AS (
          |  SELECT doc_id, profile, w, h,
          |    CASE WHEN len(tb0) = 0 THEN [0] ELSE tb0 END AS tb,
          |    w // 8 AS nbx, (w // 8) * (h // 8) AS nb
          |  FROM p)
          |SELECT doc_id AS media_id, 'jpg' AS format, profile,
          |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
          |  CAST(192 * list_sum(list_transform(range(0, nb), b ->
          |    CAST(tb[CAST(b % len(tb) AS INTEGER) + 1] AS BIGINT))) AS BIGINT) AS data_sum,
          |  CAST(list_sum(list_transform(range(0, nb), b ->
          |    CAST(tb[CAST(b % len(tb) AS INTEGER) + 1] AS BIGINT) *
          |    (9 * (8 * w * (64 * (b // nbx) + 28) + 8 * (64 * (b % nbx) + 28)) + 192)
          |  )) AS BIGINT) AS data_wsum
          |FROM q ORDER BY media_id""".stripMargin
    // src_warc_wat / src_stream_wat shared closed form: envelope
    // facts over the two-paragraph page transform, the non-200
    // arms, and the windows-1252 charset arm (r18)
    val watSql =
      """WITH docs AS (SELECT doc_id,
          |  CASE WHEN doc_id % 2 = 0
          |       THEN text || chr(10) || 'Crawl appendix: a second fixture paragraph.'
          |       ELSE text END AS text
          |  FROM documents)
          |SELECT doc_id,
          |  'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
          |  CAST(200 AS BIGINT) AS status,
          |  'text/html' AS media_type,
          |  -- windows-1252 arm (r18): docs ≡ 1 (mod 4) with pure-ASCII
          |  -- page text declare (and are decoded in) windows-1252;
          |  -- ASCII-ness is closed-form: UTF-8 bytes = chars exactly
          |  -- for code points < 128
          |  CASE WHEN doc_id % 4 = 1 AND strlen(text) = length(text)
          |       THEN 'windows-1252' ELSE 'UTF-8' END AS charset,
          |  CASE WHEN CAST(doc_id % 6 AS INTEGER) IN (1, 3, 5) THEN 'chunked' ELSE '' END
          |    AS transfer_encoding,
          |  CASE WHEN CAST(doc_id % 6 AS INTEGER) IN (2, 3) THEN 'gzip'
          |       WHEN CAST(doc_id % 6 AS INTEGER) IN (4, 5) THEN 'deflate'
          |       ELSE '' END AS content_encoding,
          |  CAST(CASE WHEN CAST(doc_id % 6 AS INTEGER) IN (0, 1) THEN 2 ELSE 3 END AS BIGINT)
          |    AS n_headers,
          |  CAST(241 + length(text)
          |    + 4 * (length(text) - length(replace(text, '&', '')))
          |    + 3 * (length(text) - length(replace(text, '<', '')))
          |    + 3 * (length(text) - length(replace(text, '>', '')))
          |    -- multi-block wrap (r18): an INTERIOR newline (non-empty
          |    -- prefix and suffix, i.e. at 1-based positions 2..len-1)
          |    -- splits the wrap into two <p> blocks — content loses
          |    -- the newline (-1), markup gains '</p><p>' (+7)
          |    + CASE WHEN strpos(substr(text, 2, greatest(length(text) - 2, 0)), chr(10)) > 0
          |           THEN 6 ELSE 0 END
          |    -- the windows-1252 arm's title 'fixturÃ©' is one code
          |    -- point LONGER than 'fixture' under the declared charset
          |    -- (C3 A9 = two chars) — a UTF-8 fallback decode would
          |    -- read one ('é') and hash-mismatch here
          |    + CASE WHEN doc_id % 4 = 1 AND strlen(text) = length(text)
          |           THEN 1 ELSE 0 END AS BIGINT)
          |    AS entity_chars
          |FROM docs
          |-- non-200 captures (r18): docs ≡ 3 (mod 10) carry a 404
          |-- re-fetch of the same URI (body 'gone', text/plain), docs
          |-- ≡ 8 (mod 10) a 301 with Location and an empty body —
          |-- counted here, excluded by the document ingests
          |UNION ALL
          |SELECT doc_id,
          |  'https://example.org/doc/' || CAST(doc_id AS VARCHAR),
          |  CAST(404 AS BIGINT), 'text/plain', 'UTF-8', '', '',
          |  CAST(2 AS BIGINT), CAST(4 AS BIGINT)
          |FROM documents WHERE doc_id % 10 = 3
          |UNION ALL
          |SELECT doc_id,
          |  'https://example.org/doc/' || CAST(doc_id AS VARCHAR),
          |  CAST(301 AS BIGINT), '', 'UTF-8', '', '',
          |  CAST(2 AS BIGINT), CAST(0 AS BIGINT)
          |FROM documents WHERE doc_id % 10 = 8
          |ORDER BY doc_id, status""".stripMargin
    // src_warc_robots / src_stream_robots shared CTEs: the fixture's
    // 16 hosts ship id-keyed grammar ARMS (r19 — wildcards,
    // availability, group-selection traps; r20 — the §2.3.1.2
    // redirect arms), so the directive rows rebuild from range(16)
    // plus the explicit arm rows. Host 9 (404) contributes nothing,
    // host 13 (503) only the synthetic complete-disallow, the decoy
    // capture at a non-robots path must be ABSENT from both forms,
    // and the redirect origins resolve to their FINAL target's rules:
    //  - rterm: terminal winner rows — hosts whose winning capture is
    //    a readable body (the 16-host grammar minus the four redirect
    //    origins 0/1/2/8, plus the alias captures a8/b2/c6);
    //  - rre:   redirect restamps — each origin adopts its final
    //    target's rules under its OWN host key (sitemap records stay
    //    file-scoped and do NOT restamp); the loop (h2↔l2) and the
    //    six-hop chain (h1→c1→…→c6) resolve to NOTHING, while c1-c5
    //    reach c6 within the five-hop cap and DO resolve
    val robotsDirectivesCtes =
      """WITH hosts AS (SELECT CAST(range AS INTEGER) AS k,
        |    'https://h' || CAST(range AS VARCHAR) || '.example.org' AS host
        |  FROM range(16)),
        |rterm AS (
        |  SELECT host, '' AS user_agent, 'sitemap' AS directive,
        |    host || '/sitemap.xml' AS value FROM hosts WHERE k NOT IN (0,1,2,8,9,13)
        |  UNION ALL
        |  SELECT host, '*', 'disallow', '/' FROM hosts WHERE k NOT IN (0,1,2,8,9,11)
        |  UNION ALL
        |  -- host 4's group is NAMED 'GraftBot/1.2' (the §2.2.1
        |  -- product-token arm); the parse lowercases line values, so its
        |  -- directive rows carry the versioned token verbatim
        |  SELECT host, CASE WHEN k = 4 THEN 'graftbot/1.2' ELSE 'graftbot' END,
        |    'disallow', '/doc/' || CAST(k AS VARCHAR)
        |  FROM hosts WHERE k IN (4,5,10,12,15)
        |  UNION ALL
        |  SELECT host, CASE WHEN k = 4 THEN 'graftbot/1.2' ELSE 'graftbot' END,
        |    'allow', '/doc/' || CAST(k AS VARCHAR) || CAST(k AS VARCHAR)
        |  FROM hosts WHERE k IN (4,5,10,12,15)
        |  UNION ALL
        |  -- percent-encoding arms (r19): host 14's rules are spelled
        |  -- in unreserved escapes (decode-visible); hosts 10/12/15
        |  -- carry retention traps (%24 / %2F / %2A must stay encoded)
        |  SELECT host, 'graftbot', 'disallow', '/doc/%31%34' FROM hosts WHERE k = 14
        |  UNION ALL
        |  SELECT host, 'graftbot', 'allow', '/doc/%31%34%31%34' FROM hosts WHERE k = 14
        |  UNION ALL
        |  SELECT host, 'graftbot', 'allow', '/doc/106%24' FROM hosts WHERE k = 10
        |  UNION ALL
        |  SELECT host, 'graftbot', 'disallow', '/doc%2F140' FROM hosts WHERE k = 12
        |  UNION ALL
        |  SELECT host, 'graftbot', 'allow', '/doc/%2A%2A%2A%2A' FROM hosts WHERE k = 15
        |  UNION ALL
        |  SELECT host, CASE WHEN k = 4 THEN 'graftbot/1.2' ELSE 'graftbot' END,
        |    'crawl-delay', CAST(k % 5 AS VARCHAR)
        |  FROM hosts WHERE k IN (4,5,10,14,15)
        |  UNION ALL
        |  SELECT host, 'graftbot', 'crawl-delay', d
        |  FROM hosts, (VALUES ('1'), ('2')) t(d) WHERE k = 12
        |  UNION ALL
        |  SELECT host, 'graftbot', 'disallow', '/doc/*3$' FROM hosts WHERE k = 3
        |  UNION ALL
        |  SELECT host, 'graftbot', 'allow', '/doc/1*3$' FROM hosts WHERE k = 3
        |  UNION ALL
        |  SELECT host, 'graftbot', 'crawl-delay', '3' FROM hosts WHERE k = 3
        |  UNION ALL
        |  SELECT host, 'graftbot', 'crawl-delay', '1' FROM hosts WHERE k = 6
        |  UNION ALL
        |  SELECT host, 'graftbot', 'disallow', '/*7' FROM hosts WHERE k = 7
        |  UNION ALL
        |  SELECT host, 'graftbot', 'allow', '/doc/7$' FROM hosts WHERE k = 7
        |  UNION ALL
        |  SELECT host, 'graftbot', 'crawl-delay', '2' FROM hosts WHERE k = 7
        |  UNION ALL
        |  SELECT host, '*', 'disallow', '/doc/1' FROM hosts WHERE k = 11
        |  UNION ALL
        |  SELECT host, '*', 'allow', '/doc/11' FROM hosts WHERE k = 11
        |  UNION ALL
        |  SELECT host, '*', 'crawl-delay', '1' FROM hosts WHERE k = 11),
        |aliasrows AS (
        |  -- the redirect targets' own bodies: a8 carries the
        |  -- FRACTIONAL 0.5 crawl-delay, a malformed delay line that
        |  -- must drop without unthrottling, and a sitemap record
        |  -- that must stay on a8; b2 is a complete graftbot disallow
        |  -- at delay 2; c6 is the chain terminal's poison
        |  SELECT * FROM (VALUES
        |    ('a8', '*', 'disallow', '/'),
        |    ('a8', 'graftbot', 'disallow', '/doc/88'),
        |    ('a8', 'graftbot', 'allow', '/doc/888'),
        |    ('a8', 'graftbot', 'crawl-delay', '0.5'),
        |    ('a8', 'graftbot', 'crawl-delay', 'soon'),
        |    ('a8', '', 'sitemap', 'https://a8.example.org/sitemap.xml'),
        |    ('b2', '*', 'disallow', '/'),
        |    ('b2', 'graftbot', 'disallow', '/'),
        |    ('b2', 'graftbot', 'crawl-delay', '2'),
        |    ('c6', '*', 'disallow', '/')
        |  ) t(src, user_agent, directive, value)),
        |term2 AS (
        |  SELECT 'https://' || src || '.example.org' AS host,
        |    user_agent, directive, value FROM aliasrows),
        |rre AS (
        |  SELECT o.host, a.user_agent, a.directive, a.value
        |  FROM (VALUES
        |    ('https://h8.example.org', 'a8'),
        |    ('https://h0.example.org', 'b2'),
        |    ('https://b1.example.org', 'b2'),
        |    ('https://c1.example.org', 'c6'),
        |    ('https://c2.example.org', 'c6'),
        |    ('https://c3.example.org', 'c6'),
        |    ('https://c4.example.org', 'c6'),
        |    ('https://c5.example.org', 'c6')
        |  ) o(host, src)
        |  JOIN aliasrows a USING (src)
        |  WHERE a.directive <> 'sitemap'),
        |r AS (SELECT host, user_agent, directive, value FROM rterm
        |  UNION ALL SELECT host, user_agent, directive, value FROM term2
        |  UNION ALL SELECT host, user_agent, directive, value FROM rre)""".stripMargin
    // the batch table: LATEST-CAPTURE-WINS + redirect resolution —
    // the planted older captures (host 4's poison 200, host 11's 503,
    // hosts 0/1/2/8's superseded base bodies) must have LOST, the
    // four 301 winners must have resolved through the chain walk, so
    // the resolved closed form is the arm grammar + the restamps
    val robotsDirectivesSql = robotsDirectivesCtes +
      """
        |SELECT host, user_agent, directive, value FROM r
        |ORDER BY host, user_agent, directive, value""".stripMargin
    // the streamed RAW feed: one row per directive per capture with
    // its WARC-Date as written — the terminal winners' rows (host 4's
    // winning capture carries the sub-second instant, everything else
    // the whole-second one) PLUS the planted losers (host 4's
    // half-second-older poison, host 11's older 503 synthetic, host
    // 9's older poison, hosts 0/1/2/8's superseded base bodies), host
    // 9's newer 404 TOMBSTONE, and one `redirect` row per 301 capture
    // (value = the TARGET's canonical host key; the origin 301s are
    // dated a day after the bodies they supersede). Restamped rows
    // (rre) are a RESOLUTION product and never appear in the raw feed.
    val streamRobotsSql = robotsDirectivesCtes +
      """
        |SELECT host, user_agent, directive, value,
        |  CASE WHEN host = 'https://h4.example.org'
        |       THEN '2026-01-01T00:00:00.500Z'
        |       ELSE '2026-01-01T00:00:00Z' END AS fetched_at FROM rterm
        |UNION ALL
        |SELECT host, user_agent, directive, value, '2026-01-01T00:00:00Z'
        |FROM term2
        |UNION ALL
        |-- hosts 0/1/2/8's superseded base bodies (latest-wins losers)
        |SELECT host, '' , 'sitemap', host || '/sitemap.xml', '2026-01-01T00:00:00Z'
        |FROM hosts WHERE k IN (0,1,2,8)
        |UNION ALL
        |SELECT host, '*', 'disallow', '/', '2026-01-01T00:00:00Z'
        |FROM hosts WHERE k IN (0,1,2,8)
        |UNION ALL
        |SELECT host, 'graftbot', 'disallow', '/doc/' || CAST(k AS VARCHAR),
        |  '2026-01-01T00:00:00Z'
        |FROM hosts WHERE k IN (0,1,2,8)
        |UNION ALL
        |SELECT host, 'graftbot', 'allow',
        |  '/doc/' || CAST(k AS VARCHAR) || CAST(k AS VARCHAR),
        |  '2026-01-01T00:00:00Z'
        |FROM hosts WHERE k IN (0,1,2,8)
        |UNION ALL
        |SELECT host, 'graftbot', 'crawl-delay', CAST(k % 5 AS VARCHAR),
        |  '2026-01-01T00:00:00Z'
        |FROM hosts WHERE k IN (0,1,2,8)
        |UNION ALL
        |-- the 301 captures' redirect rows
        |SELECT * FROM (VALUES
        |  ('https://h8.example.org', '', 'redirect', 'https://a8.example.org',
        |    '2026-01-02T00:00:00Z'),
        |  ('https://h0.example.org', '', 'redirect', 'https://b1.example.org',
        |    '2026-01-02T00:00:00Z'),
        |  ('https://h2.example.org', '', 'redirect', 'https://l2.example.org',
        |    '2026-01-02T00:00:00Z'),
        |  ('https://h1.example.org', '', 'redirect', 'https://c1.example.org',
        |    '2026-01-02T00:00:00Z'),
        |  ('https://b1.example.org', '', 'redirect', 'https://b2.example.org',
        |    '2026-01-01T00:00:00Z'),
        |  ('https://l2.example.org', '', 'redirect', 'https://h2.example.org',
        |    '2026-01-01T00:00:00Z'),
        |  ('https://c1.example.org', '', 'redirect', 'https://c2.example.org',
        |    '2026-01-01T00:00:00Z'),
        |  ('https://c2.example.org', '', 'redirect', 'https://c3.example.org',
        |    '2026-01-01T00:00:00Z'),
        |  ('https://c3.example.org', '', 'redirect', 'https://c4.example.org',
        |    '2026-01-01T00:00:00Z'),
        |  ('https://c4.example.org', '', 'redirect', 'https://c5.example.org',
        |    '2026-01-01T00:00:00Z'),
        |  ('https://c5.example.org', '', 'redirect', 'https://c6.example.org',
        |    '2026-01-01T00:00:00Z')
        |) t(host, user_agent, directive, value, fetched_at)
        |UNION ALL SELECT 'https://h4.example.org', 'graftbot', 'disallow', '/',
        |  '2026-01-01T00:00:00Z'
        |UNION ALL SELECT 'https://h11.example.org', '*', 'disallow', '/',
        |  '2025-12-01T00:00:00Z'
        |UNION ALL SELECT 'https://h9.example.org', 'graftbot', 'disallow', '/',
        |  '2025-12-01T00:00:00Z'
        |UNION ALL SELECT 'https://h9.example.org', '', 'unavailable', '',
        |  '2026-01-01T00:00:00Z'
        |ORDER BY host, user_agent, directive, value, fetched_at""".stripMargin
    // shared RFC 9309 fixture verdict (r19 grammar arms; r20 redirect
    // arms): the CASE the compliance filter and both schedule forms
    // build on. The wildcard arms mirror the rules EXACTLY as LIKE
    // patterns (* ⇔ %, trailing $ ⇔ no trailing %): host 3's
    // 'Disallow: /doc/*3$' vs the longer 'Allow: /doc/1*3$' is
    // "ends with 3, unless it also starts with 1"; host 7's
    // 'Disallow: /*7' vs 'Allow: /doc/7$' is "contains a 7, except
    // doc 7 itself"; host 13's robots 503s (complete disallow),
    // host 9's 404s (no rules), host 6's exact group is
    // crawl-delay-only (still selects — allowed), host 11 falls
    // through to its `*` rules. The redirect arms (§2.3.1.2): host 0
    // is governed by b2's complete disallow via the 2-hop chain,
    // host 8 by a8's 88/888 prefix pair via the 1-hop 301, and hosts
    // 1 (six-hop chain) and 2 (loop) resolve UNAVAILABLE — allowed.
    // Everything else keeps the decimal-prefix longest-match of the
    // base grammar.
    val robotsAllowedCase =
      """CASE CAST(doc_id % 16 AS INTEGER)
        |    WHEN 13 THEN FALSE
        |    WHEN 0 THEN FALSE
        |    WHEN 1 THEN TRUE
        |    WHEN 2 THEN TRUE
        |    WHEN 9 THEN TRUE
        |    WHEN 6 THEN TRUE
        |    WHEN 8 THEN NOT (starts_with(CAST(doc_id AS VARCHAR), '88')
        |      AND NOT starts_with(CAST(doc_id AS VARCHAR), '888'))
        |    WHEN 11 THEN NOT (starts_with(CAST(doc_id AS VARCHAR), '1')
        |      AND NOT starts_with(CAST(doc_id AS VARCHAR), '11'))
        |    WHEN 3 THEN NOT (CAST(doc_id AS VARCHAR) LIKE '%3'
        |      AND NOT CAST(doc_id AS VARCHAR) LIKE '1%3')
        |    WHEN 7 THEN NOT (CAST(doc_id AS VARCHAR) LIKE '%7%' AND doc_id <> 7)
        |    ELSE NOT (starts_with(CAST(doc_id AS VARCHAR), CAST(doc_id % 16 AS VARCHAR))
        |      AND NOT starts_with(CAST(doc_id AS VARCHAR),
        |        CAST(doc_id % 16 AS VARCHAR) || CAST(doc_id % 16 AS VARCHAR)))
        |  END""".stripMargin
    def robotsVerdictSql(template: String): String =
      template.replace("ALLOWED", robotsAllowedCase)
    // politeness slots in integer MILLISECONDS: rank within the
    // host's allowed set × the host's delay ((k % 5) × 1000 wherever
    // a readable grammar carries one — incl. host 6's delay-only
    // exact group, host 11's star fall-through and host 12's
    // duplicate lines collapsing to max(1,2) = 2 s; host 8's delay is
    // a8's FRACTIONAL 0.5 s = 500 ms via the redirect — the
    // millisecond unit is what keeps it nonzero; hosts 1/2 resolve
    // unavailable (no delay), host 9's 404 means NO delay, and hosts
    // 0/13 never schedule at all). Shared verbatim by the window form
    // and the bucket-sharded twin — they must be row-identical.
    val fetchScheduleSql =
      s"""WITH v AS (
        |  SELECT doc_id, CAST(doc_id % 16 AS INTEGER) AS k FROM documents
        |  WHERE $robotsAllowedCase)
        |SELECT doc_id,
        |  'https://h' || CAST(k AS VARCHAR) || '.example.org' AS host,
        |  CAST((ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id) - 1)
        |    * (CASE WHEN k IN (1, 2, 9) THEN 0 WHEN k = 8 THEN 500
        |        ELSE (k % 5) * 1000 END) AS BIGINT) AS fetch_slot
        |FROM v ORDER BY doc_id""".stripMargin
    val mmMetaSql =
      s"""$mmBaseCtes
        |SELECT media_id, kind, format, CAST(n_bytes AS BIGINT) AS n_bytes,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(nfr AS BIGINT) AS n_frames, CAST(rate AS BIGINT) AS sample_rate,
        |  CAST(ns AS BIGINT) AS n_samples,
        |  CAST($mmDataSum AS BIGINT) AS data_sum,
        |  CAST($mmDataWsum AS BIGINT) AS data_wsum
        |FROM v ORDER BY media_id""".stripMargin
    val gopherRawCte =
      """g AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS words,
        |    string_split(text, chr(10)) AS lines,
        |    (length(text) - length(replace(text, '#', ''))) +
        |    (length(text) - length(replace(text, '…', ''))) AS n_symbols
        |  FROM documents),
        |gc AS (
        |  SELECT doc_id, n_symbols,
        |    len(words) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(words, x -> length(x))), 0) AS BIGINT) AS sum_chars,
        |    CAST(coalesce(list_sum(list_transform(words,
        |      x -> CASE WHEN regexp_matches(x, '[A-Za-z]') THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_alpha,
        |    (CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'the') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'be') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'to') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'of') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'and') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'that') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'have') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(list_transform(words, x -> lower(x)), 'with') THEN 1 ELSE 0 END) AS stop_hits,
        |    len(lines) AS n_lines,
        |    CAST(coalesce(list_sum(list_transform(lines,
        |      l -> CASE WHEN left(ltrim(l, ' ' || chr(9) || chr(13)), 1) IN ('-','*','•') THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_bullet,
        |    CAST(coalesce(list_sum(list_transform(lines,
        |      l -> CASE WHEN right(rtrim(l, ' ' || chr(9) || chr(13)), 3) = '...'
        |             OR right(rtrim(l, ' ' || chr(9) || chr(13)), 1) = '…' THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_ellipsis
        |  FROM g)""".stripMargin
    val gopherKeepCte =
      """k AS (SELECT doc_id,
        |    CASE WHEN n_words BETWEEN 50 AND 100000
        |      AND floor(sum_chars * 10000.0 / greatest(n_words, 1)) / 10000.0 BETWEEN 3.0 AND 10.0
        |      AND floor(n_symbols * 10000.0 / greatest(n_words, 1)) / 10000.0 < 0.1
        |      AND floor(n_bullet * 10000.0 / greatest(n_lines, 1)) / 10000.0 < 0.9
        |      AND floor(n_ellipsis * 10000.0 / greatest(n_lines, 1)) / 10000.0 < 0.3
        |      AND floor(n_alpha * 10000.0 / greatest(n_words, 1)) / 10000.0 > 0.8
        |      AND stop_hits >= 2 THEN 1 ELSE 0 END AS keep
        |  FROM gc)""".stripMargin
    // the raw per-doc quality counts, shared by the score CTE below
    // and the classifier oracle (tx_quality_lr) so the feature
    // definitions cannot desynchronize
    val qualityRawCte =
      """q AS (SELECT doc_id, source, text,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS DOUBLE) AS n_tok,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x IN ('the','a','of','to','and','is','in','that'))) AS DOUBLE) AS n_stop,
        |    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct,
        |    CAST(length(text) AS DOUBLE) AS n_chars
        |  FROM documents)""".stripMargin
    // qqExtra: extra qq columns (e.g. ", text" for the data card's digests)
    def qualityCte(qqExtra: String) =
      s"""$qualityRawCte,
         |qq AS (SELECT doc_id, source$qqExtra, CAST(n_tok AS BIGINT) AS n_tokens,
         |    floor((least(n_tok / 64.0, 1.0) * 0.5 +
         |      least(n_stop / greatest(n_tok, 1.0) * 4.0, 1.0) * 0.3 +
         |      (1.0 - least(n_punct / greatest(n_chars, 1.0) * 10.0, 1.0)) * 0.2) * 10000.0) / 10000.0 AS quality
         |  FROM q)""".stripMargin
    // tx_gopher_rep: every fraction recomputed from EXPLODED n-gram
    // counts — the independent formulation of the Spark side's
    // doc-local run-length fold, generated per n so the two engines'
    // n-gram domains cannot drift
    val gopherRepSql: String = {
      val gramCtes = (2 to 10).map { n =>
        val join = (0 until n).map(j => s"toks[i + $j]").mkString(" || ' ' || ")
        s"""g$n AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - ${n - 2}),
           |    i -> $join)) AS gram FROM t),
           |c$n AS (SELECT doc_id, gram, count(*) AS cnt FROM g$n GROUP BY 1, 2)""".stripMargin
      }
      val topCtes = (2 to 4).map { n =>
        s"""r$n AS (SELECT doc_id, cnt * length(gram) AS mass,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, length(gram) DESC) AS rn
           |  FROM c$n),
           |t$n AS (SELECT doc_id, mass FROM r$n WHERE rn = 1)""".stripMargin
      }
      val dupCtes = (5 to 10).map { n =>
        s"d$n AS (SELECT doc_id, sum(cnt * length(gram)) AS mass FROM c$n WHERE cnt >= 2 GROUP BY doc_id)"
      }
      def frac(mass: String) =
        s"least(floor(coalesce($mass, 0) * 10000.0 / t.len) / 10000.0, 1.0)"
      val fracCols = Seq(
        "least(floor((lst.nl - lst.nd) * 10000.0 / greatest(lst.nl, 1)) / 10000.0, 1.0) AS dup_line_frac",
        s"${frac("ld.mass")} AS dup_line_char_frac") ++
        (2 to 4).map(n => s"${frac(s"t$n.mass")} AS top${n}_frac") ++
        (5 to 10).map(n => s"${frac(s"d$n.mass")} AS dup${n}_frac")
      val joins = (Seq("lst", "ld") ++ (2 to 4).map(n => s"t$n") ++
        (5 to 10).map(n => s"d$n"))
        .map(j => s"LEFT JOIN $j USING (doc_id)").mkString(" ")
      val keepCond = Seq("dup_line_frac <= 0.30", "dup_line_char_frac <= 0.20",
        "top2_frac <= 0.20", "top3_frac <= 0.18", "top4_frac <= 0.16",
        "dup5_frac <= 0.15", "dup6_frac <= 0.14", "dup7_frac <= 0.13",
        "dup8_frac <= 0.12", "dup9_frac <= 0.11", "dup10_frac <= 0.10")
        .mkString(" AND ")
      s"""WITH t AS (SELECT doc_id, greatest(length(text), 1) AS len,
         |    list_filter(regexp_split_to_array(lower(regexp_replace(text, '\\s+', ' ', 'g')), ' '), x -> x <> '') AS toks,
         |    string_split(text, chr(10)) AS lines
         |  FROM documents),
         |lu AS (SELECT doc_id, unnest(lines) AS line FROM t),
         |lc AS (SELECT doc_id, line, count(*) AS cnt FROM lu GROUP BY 1, 2),
         |ld AS (SELECT doc_id, sum(cnt * length(line)) AS mass FROM lc WHERE cnt >= 2 GROUP BY doc_id),
         |lst AS (SELECT doc_id, len(lines) AS nl, len(list_distinct(lines)) AS nd FROM t),
         |${gramCtes.mkString(",\n")},
         |${topCtes.mkString(",\n")},
         |${dupCtes.mkString(",\n")},
         |f AS (SELECT t.doc_id, ${fracCols.mkString(",\n    ")}
         |  FROM t $joins)
         |SELECT doc_id, dup_line_frac, dup_line_char_frac,
         |  top2_frac, top3_frac, top4_frac,
         |  dup5_frac, dup6_frac, dup7_frac, dup8_frac, dup9_frac, dup10_frac,
         |  CAST(CASE WHEN $keepCond THEN 1 ELSE 0 END AS BIGINT) AS rep_keep
         |FROM f ORDER BY doc_id""".stripMargin
    }
    val trim = """^[.,!?"'':;()]+|[.,!?"'':;()]+$"""
    val tokenized =
      s"""SELECT lower(regexp_replace(w, '$trim', '', 'g')) AS word
         |FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents) t""".stripMargin
    val base = Map(
      "wc_wordcount" ->
        s"""SELECT word, count(*) AS cnt FROM ($tokenized) u
           |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin,
      "wc_typed" ->
        s"""SELECT word AS key, CAST(count(*) AS VARCHAR) AS value FROM ($tokenized) u
           |WHERE word <> '' GROUP BY word ORDER BY key""".stripMargin,
      "wc_salted" ->
        s"""SELECT word, count(*) AS cnt FROM ($tokenized) u
           |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin,
      "q1_pricing" ->
        """SELECT l_returnflag, l_linestatus,
          |  round(sum(l_quantity), 2) AS sum_qty,
          |  round(sum(l_extendedprice), 2) AS sum_base_price,
          |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
          |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
          |  round(avg(l_quantity), 4) AS avg_qty,
          |  round(avg(l_extendedprice), 4) AS avg_price,
          |  count(*) AS count_order
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
      "q2_filter_project" ->
        """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
          |WHERE l_quantity > 45.0 AND l_discount >= 0.05
          |  AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
          |ORDER BY l_orderkey, l_linenumber""".stripMargin,
      "q3_join_broadcast" ->
        """SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
      "q4_join_large" ->
        """SELECT o_orderstatus, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
          |  count(*) AS n_lines
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      "q5_star_join" ->
        """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          |JOIN nation ON s_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA'
          |GROUP BY n_name ORDER BY n_name""".stripMargin,
      "q6_semi_join" ->
        """SELECT c_custkey, c_name, c_mktsegment FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders
          |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
          |ORDER BY c_custkey""".stripMargin,
      "q7_anti_join" ->
        """SELECT p_partkey, p_name, p_brand FROM part
          |WHERE NOT EXISTS (SELECT 1 FROM lineitem
          |  WHERE l_partkey = p_partkey AND l_quantity > 49.0)
          |ORDER BY p_partkey""".stripMargin,
      "q8_window_topk" ->
        """SELECT p_brand, p_partkey, revenue, rk FROM (
          |  SELECT p_brand, p_partkey, revenue,
          |    row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS rk
          |  FROM (SELECT p_brand, p_partkey, round(sum(l_extendedprice), 2) AS revenue
          |        FROM lineitem JOIN part ON l_partkey = p_partkey
          |        GROUP BY p_brand, p_partkey) r) x
          |WHERE rk <= 3 ORDER BY p_brand, rk""".stripMargin,
      "q9_window_running" ->
        """SELECT l_suppkey, l_orderkey, l_linenumber,
          |  round(sum(l_quantity) OVER (PARTITION BY l_suppkey
          |    ORDER BY l_shipdate, l_orderkey, l_linenumber
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
          |FROM lineitem WHERE l_suppkey <= 3
          |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
      "q10_distinct" ->
        """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
          |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "q11_rollup" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
          |  coalesce(l_linestatus, 'ALL') AS linestatus,
          |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          |ORDER BY returnflag, linestatus""".stripMargin,
      "q12_cube" ->
        """SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
          |  coalesce(o_orderpriority, 'ALL') AS orderpriority,
          |  round(sum(o_totalprice), 2) AS total, count(*) AS n
          |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
          |ORDER BY orderstatus, orderpriority""".stripMargin,
      "q13_setops" ->
        """WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
          |     s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
          |SELECT nationkey, op FROM (
          |  SELECT nationkey, 'union' AS op FROM (SELECT nationkey FROM c UNION SELECT nationkey FROM s) u1
          |  UNION ALL
          |  SELECT nationkey, 'intersect' AS op FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s) u2
          |  UNION ALL
          |  SELECT nationkey, 'except' AS op FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s) u3
          |) z ORDER BY op, nationkey""".stripMargin,
      "q14_scalar_funcs" ->
        """SELECT o_orderkey,
          |  upper(substr(o_orderpriority, 1, 3)) AS prio3,
          |  length(o_orderstatus) AS status_len,
          |  concat_ws('-', o_orderstatus, o_orderpriority) AS tag,
          |  year(o_orderdate) AS yr, month(o_orderdate) AS mo, day(o_orderdate) AS dom,
          |  round(abs(o_totalprice - 1000.0), 2) AS abs_diff,
          |  round(sqrt(o_totalprice), 4) AS sqrt_price,
          |  CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS kbucket
          |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin,
      "q15_topk" ->
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,
      "q16_having" ->
        """SELECT l_partkey, round(sum(l_quantity), 2) AS total_qty, count(*) AS n
          |FROM lineitem GROUP BY l_partkey
          |HAVING round(sum(l_quantity), 2) > 150.0 ORDER BY l_partkey""".stripMargin,
      "q17_subquery_agg" ->
        """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM lineitem l
          |JOIN (SELECT l_partkey AS ap_partkey, avg(l_quantity) AS avg_qty
          |      FROM lineitem GROUP BY l_partkey) a ON l.l_partkey = a.ap_partkey
          |WHERE l_quantity < avg_qty * 0.2
          |ORDER BY l_orderkey, l_partkey, l_linenumber""".stripMargin,
      "q18_nulls" ->
        """SELECT o_orderstatus, count(*) AS n_all, count(big_price) AS n_big,
          |  round(coalesce(sum(big_price), 0.0), 2) AS big_total
          |FROM (SELECT o_orderstatus,
          |        CASE WHEN o_totalprice > 300000.0 THEN o_totalprice END AS big_price
          |      FROM orders) t
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      "q22_listagg" ->
        """SELECT o_orderstatus,
          |  string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
          |  count(*) AS n
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      "q21_pivot" ->
        """SELECT o_orderstatus,
          |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1_urgent,
          |  count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2_high,
          |  count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3_medium,
          |  count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4_notspec,
          |  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5_low
          |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      "q19_grouping_sets" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
          |  coalesce(l_linestatus, 'ALL') AS linestatus,
          |  round(sum(l_extendedprice), 2) AS total, count(1) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())
          |ORDER BY returnflag, linestatus""".stripMargin,
      "ev_asof" ->
        """WITH e AS (SELECT user_id, event_id, ts, event_type,
          |    CASE WHEN event_type = 'click' THEN CAST(floor(epoch(ts)) AS BIGINT) END AS click_s
          |  FROM events),
          |w AS (SELECT user_id, event_id, ts, event_type,
          |    last_value(click_s IGNORE NULLS) OVER (PARTITION BY user_id
          |      ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_click_s
          |  FROM e)
          |SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS purchase_s, prior_click_s
          |FROM w WHERE event_type = 'purchase' ORDER BY user_id, event_id""".stripMargin,
      "q23_window_features" ->
        """SELECT o_custkey, o_orderkey, o_totalprice,
          |  lag(o_totalprice) OVER w AS prev_price,
          |  lead(o_totalprice) OVER w AS next_price,
          |  ntile(4) OVER w AS quartile,
          |  round(percent_rank() OVER w, 6) AS pct_rank,
          |  round(cume_dist() OVER w, 6) AS cume
          |FROM orders
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
          |ORDER BY o_custkey, o_orderkey""".stripMargin,
      // bloom pruning changes no semantics, so the plain join is the oracle
      "q24_bloom_prune" ->
        """SELECT l_returnflag,
          |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
          |  count(*) AS n_lines
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE o_orderpriority = '1-URGENT'
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "tx_stats" ->
        """SELECT doc_id, length(text) AS n_chars,
          |  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tokens,
          |  length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
          |  length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
          |  length(regexp_replace(text, '\s', '', 'g')) AS n_nonspace
          |FROM documents ORDER BY doc_id""".stripMargin,
      // DuckDB's entropy() aggregate is log2-based like the kernel;
      // string_split(text, '') yields codepoints, matching the
      // kernel's codePointAt walk. Floor to a 1e-4 grid in BOTH
      // engines before the flag so summation-order ulps can't flip it.
      "tx_entropy" ->
        """SELECT doc_id,
          |  floor(entropy(c) * 10000.0) / 10000.0 AS entropy_bits,
          |  floor(entropy(c) * 10000.0) / 10000.0 < 3.0 AS low_entropy
          |FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "tx_tokens" ->
        """SELECT doc_id,
          |  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS ws_tokens,
          |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens,
          |  round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) /
          |    greatest(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')), 1), 4) AS mean_token_len
          |FROM documents ORDER BY doc_id""".stripMargin,
      "tx_quality" ->
        """WITH b AS (SELECT doc_id,
          |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS DOUBLE) AS n_tok,
          |  CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
          |    x -> x IN ('the','a','of','to','and','is','in','that'))) AS DOUBLE) AS n_stop,
          |  CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct,
          |  CAST(length(text) AS DOUBLE) AS n_chars
          |  FROM documents)
          |SELECT doc_id,
          |  floor(least(n_tok / 64.0, 1.0) * 10000.0) / 10000.0 AS len_score,
          |  floor(n_stop / greatest(n_tok, 1.0) * 10000.0) / 10000.0 AS stop_ratio,
          |  floor(n_punct / greatest(n_chars, 1.0) * 10000.0) / 10000.0 AS punct_ratio,
          |  floor((least(n_tok / 64.0, 1.0) * 0.5 +
          |    least(n_stop / greatest(n_tok, 1.0) * 4.0, 1.0) * 0.3 +
          |    (1.0 - least(n_punct / greatest(n_chars, 1.0) * 10.0, 1.0)) * 0.2) * 10000.0) / 10000.0 AS quality
          |FROM b ORDER BY doc_id""".stripMargin,
      "tx_gopher" ->
        s"""WITH $gopherRawCte,
           |$gopherKeepCte
           |SELECT gc.doc_id,
           |  CAST(n_words AS BIGINT) AS n_words,
           |  floor(sum_chars * 10000.0 / greatest(n_words, 1)) / 10000.0 AS mean_word_len,
           |  floor(n_symbols * 10000.0 / greatest(n_words, 1)) / 10000.0 AS symbol_ratio,
           |  floor(n_alpha * 10000.0 / greatest(n_words, 1)) / 10000.0 AS alpha_frac,
           |  CAST(stop_hits AS BIGINT) AS stop_hits,
           |  floor(n_bullet * 10000.0 / greatest(n_lines, 1)) / 10000.0 AS bullet_frac,
           |  floor(n_ellipsis * 10000.0 / greatest(n_lines, 1)) / 10000.0 AS ellipsis_frac,
           |  CAST(keep AS BIGINT) AS keep
           |FROM gc JOIN k USING (doc_id) ORDER BY doc_id""".stripMargin,
      "tx_langid" ->
        """WITH t AS (SELECT doc_id, lang,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
          |  FROM documents),
          |sc AS (SELECT doc_id, lang,
          |  len(list_filter(toks, x -> x IN ('the','and','of','to','is','in'))) AS s_en,
          |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS s_de,
          |  len(list_filter(toks, x -> x IN ('el','la','de','que','y','es'))) AS s_es,
          |  len(list_filter(toks, x -> x IN ('le','la','de','et','est','les'))) AS s_fr
          |  FROM t)
          |SELECT doc_id, lang AS labeled_lang, s_en, s_de, s_es, s_fr,
          |  CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
          |       WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
          |       WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
          |       WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
          |       ELSE 'fr' END AS pred_lang
          |FROM sc ORDER BY doc_id""".stripMargin,
      // tx_langid's CTEs verbatim + the confusion rollup with exact
      // ppm shares (integer division — bit-identical cross-engine)
      "tx_lang_audit" ->
        """WITH t AS (SELECT doc_id, lang,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
          |  FROM documents),
          |sc AS (SELECT doc_id, lang,
          |  len(list_filter(toks, x -> x IN ('the','and','of','to','is','in'))) AS s_en,
          |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS s_de,
          |  len(list_filter(toks, x -> x IN ('el','la','de','que','y','es'))) AS s_es,
          |  len(list_filter(toks, x -> x IN ('le','la','de','et','est','les'))) AS s_fr
          |  FROM t),
          |p AS (SELECT lang AS labeled_lang,
          |  CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
          |       WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
          |       WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
          |       WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
          |       ELSE 'fr' END AS pred_lang
          |  FROM sc),
          |c AS (SELECT labeled_lang, pred_lang, count(*) AS n
          |  FROM p GROUP BY 1, 2)
          |SELECT labeled_lang, pred_lang, n,
          |  CAST(n * 1000000 // CAST(sum(n) OVER (PARTITION BY labeled_lang) AS BIGINT) AS BIGINT) AS share_ppm
          |FROM c ORDER BY labeled_lang, pred_lang""".stripMargin,
      "tx_heavy_hitters" ->
        s"""SELECT word, count(*) AS cnt FROM ($tokenized) u
           |WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word LIMIT 10""".stripMargin,
      "tx_bigrams" ->
        """WITH t AS (SELECT list_filter(regexp_split_to_array(
          |    lower(regexp_replace(text, '\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
          |  FROM documents),
          |b AS (SELECT unnest(list_transform(range(1, len(toks)),
          |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram FROM t)
          |SELECT bigram, count(*) AS cnt FROM b
          |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin,
      "tx_fingerprint" ->
        """SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex
          |FROM documents ORDER BY doc_id""".stripMargin,
      // dup_frac floor-truncated BEFORE the threshold compare; the
      // repetitive flag is BIGINT 0/1 for cross-engine dtype parity
      "tx_repetition" ->
        """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(
          |    lower(regexp_replace(text, '\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
          |  FROM documents),
          |b AS (SELECT doc_id, list_transform(range(1, len(toks)),
          |    i -> toks[i] || ' ' || toks[i + 1]) AS bg FROM t),
          |c AS (SELECT doc_id, CAST(len(bg) AS BIGINT) AS n_bigrams,
          |    CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct FROM b),
          |f AS (SELECT doc_id, n_bigrams, n_distinct,
          |    floor(CAST(n_bigrams - n_distinct AS DOUBLE) /
          |      greatest(CAST(n_bigrams AS DOUBLE), 1.0) * 10000.0) / 10000.0 AS dup_frac
          |  FROM c)
          |SELECT doc_id, n_bigrams, n_distinct, dup_frac,
          |  CAST(CASE WHEN dup_frac >= 0.08 THEN 1 ELSE 0 END AS BIGINT) AS repetitive
          |FROM f ORDER BY doc_id""".stripMargin,
      "tx_gopher_rep" -> gopherRepSql,
      // linear classifier: features are the SAME truncated signal
      // definitions as tx_quality / tx_gopher (shared CTEs), the logit
      // is a left-associated multiply-add chain in both engines
      "tx_quality_lr" ->
        s"""WITH $gopherRawCte,
           |$qualityRawCte,
           |f AS (SELECT q.doc_id,
           |    floor(least(q.n_tok / 64.0, 1.0) * 10000.0) / 10000.0 AS len_score,
           |    floor((q.n_stop / greatest(q.n_tok, 1.0)) * 10000.0) / 10000.0 AS stop_ratio,
           |    floor((q.n_punct / greatest(q.n_chars, 1.0)) * 10000.0) / 10000.0 AS punct_ratio,
           |    floor(gc.n_alpha * 10000.0 / greatest(gc.n_words, 1)) / 10000.0 AS alpha_frac,
           |    floor(gc.n_symbols * 10000.0 / greatest(gc.n_words, 1)) / 10000.0 AS symbol_ratio
           |  FROM q JOIN gc USING (doc_id)),
           |l AS (SELECT doc_id,
           |    -2.25 + len_score * 1.5 + stop_ratio * 3.0 - punct_ratio * 4.0 +
           |    alpha_frac * 1.0 - symbol_ratio * 5.0 AS logit
           |  FROM f)
           |SELECT doc_id, floor(logit * 10000.0) / 10000.0 AS logit,
           |  CAST(CASE WHEN logit > 0.0 THEN 1 ELSE 0 END AS BIGINT) AS keep
           |FROM l ORDER BY doc_id""".stripMargin,
      "tx_source_cap" ->
        s"""WITH ${qualityCte("")}
           |SELECT doc_id, source, quality, CAST(rk AS BIGINT) AS rk FROM (
           |  SELECT doc_id, source, quality,
           |    row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rk
           |  FROM qq) r
           |WHERE rk <= 10 ORDER BY source, rk""".stripMargin,
      // benchmark = the md5-bucket test split; word 4-grams via the
      // same tokenization as tx_bigrams
      "tx_contamination" ->
        """WITH m AS (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
          |s AS (SELECT doc_id, text,
          |  (strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 256 +
          |  (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 16 +
          |  (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) AS hb
          |  FROM m),
          |t AS (SELECT doc_id, hb, list_filter(regexp_split_to_array(
          |    lower(regexp_replace(text, '\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
          |  FROM s),
          |g AS (SELECT doc_id, hb, unnest(list_transform(range(1, len(toks) - 2),
          |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gram
          |  FROM t),
          |bench AS (SELECT DISTINCT gram FROM g WHERE hb >= 3891)
          |SELECT g.doc_id, count(DISTINCT g.gram) AS n_hits
          |FROM g JOIN bench USING (gram) WHERE g.hb < 3686
          |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
      // add-one bigram LM; ln() for natural log, nll floor-truncated
      "tx_lm_score" ->
        """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(
          |    lower(regexp_replace(text, '\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
          |  FROM documents),
          |bi AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
          |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram FROM t),
          |uni AS (SELECT unnest(toks) AS prefix FROM t),
          |uc AS (SELECT prefix, count(*) AS uc FROM uni GROUP BY prefix),
          |v AS (SELECT count(*) AS v FROM uc),
          |lm AS (SELECT bigram, count(*) AS bc FROM bi GROUP BY bigram
          |  ORDER BY count(*) DESC, bigram LIMIT 100000),
          |sc AS (SELECT bi.doc_id,
          |    ln(CAST(coalesce(lm.bc, 0) + 1 AS DOUBLE) /
          |       CAST(uc.uc + (SELECT v FROM v) AS DOUBLE)) AS ll
          |  FROM bi LEFT JOIN lm ON bi.bigram = lm.bigram
          |  JOIN uc ON split_part(bi.bigram, ' ', 1) = uc.prefix)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          |  floor(-sum(ll) / count(*) * 10000.0) / 10000.0 AS avg_nll
          |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // DSIR: hashed-unigram add-α LMs (3 md5 hex chars = 4096
      // buckets, same strpos hex expansion as the hb split); ln() for
      // natural log, weight floor-truncated once at the end
      "tx_dsir" ->
        """WITH m AS (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
          |s AS (SELECT doc_id, text,
          |  (strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 256 +
          |  (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 16 +
          |  (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) AS hb FROM m),
          |t AS (SELECT doc_id, hb, unnest(list_filter(regexp_split_to_array(
          |    lower(regexp_replace(text, '\s+', ' ', 'g')), ' '), x -> x <> '')) AS tok
          |  FROM s),
          |b AS (SELECT doc_id, hb,
          |  (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 256 +
          |  (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) * 16 +
          |  (strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) AS bucket FROM t),
          |lm AS (SELECT bucket,
          |  CAST(sum(CASE WHEN hb >= 3891 THEN 1 ELSE 0 END) AS BIGINT) AS tgt,
          |  CAST(sum(CASE WHEN hb < 3891 THEN 1 ELSE 0 END) AS BIGINT) AS src
          |  FROM b GROUP BY bucket),
          |tot AS (SELECT CAST(sum(tgt) AS DOUBLE) AS tt, CAST(sum(src) AS DOUBLE) AS st FROM lm),
          |sc AS (SELECT b.doc_id,
          |    ln(((CAST(lm.tgt AS DOUBLE) + 0.5) / ((SELECT tt FROM tot) + 0.5 * 4096)) /
          |       ((CAST(lm.src AS DOUBLE) + 0.5) / ((SELECT st FROM tot) + 0.5 * 4096))) AS llr
          |  FROM b JOIN lm USING (bucket) WHERE b.hb < 3891),
          |w AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |    floor(sum(llr) * 10000.0) / 10000.0 AS dsir_weight
          |  FROM sc GROUP BY doc_id)
          |SELECT doc_id, n_tokens, dsir_weight,
          |  CAST(CASE WHEN dsir_weight > 0.0 THEN 1 ELSE 0 END AS BIGINT) AS keep
          |FROM w ORDER BY doc_id""".stripMargin,
      // ln(), not log() — DuckDB log() is log10 where Spark log() is
      // natural; tfidf floor-truncated to 6 decimals before ranking
      "tx_bm25" ->
        """WITH toks AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
          |  FROM documents),
          |t AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, unnest(toks) AS term FROM toks),
          |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl
          |  FROM t GROUP BY doc_id, term),
          |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(len(toks)) AS DOUBLE) AS s FROM toks),
          |dfx AS (SELECT *, CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df FROM tf),
          |q(query_id, term) AS (VALUES (0, 'join'), (0, 'merge'), (0, 'sort'),
          |  (1, 'window'), (1, 'agg'), (2, 'scan'), (2, 'column'), (2, 'order')),
          |scored AS (SELECT q.query_id, dfx.doc_id,
          |    sum(ln((stats.n - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2)
          |        / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (stats.s / stats.n)))) AS raw
          |  FROM dfx JOIN q USING (term), stats
          |  GROUP BY q.query_id, dfx.doc_id),
          |r AS (SELECT query_id, doc_id,
          |    floor(raw * 10000.0) / 10000.0 AS score,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY floor(raw * 10000.0) / 10000.0 DESC, doc_id) AS rk
          |  FROM scored)
          |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, CAST(rk AS BIGINT) AS rk
          |FROM r WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
      // RRF fusion of the bm25 candidates (rk ≤ 20) with dense cosine
      // candidates (probes = vec_id < 3, vec_id ≡ doc_id); fused
      // score Σ 1/(60+rank) is exactly-rounded IEEE arithmetic in
      // both engines, floor-truncated at 6 decimals before ranking
      // tx_rrf with the dense arm swapped to the Matryoshka funnel —
      // the composition is exactly the tx_rrf lex CTEs + the
      // ann_mrl_topk funnel CTEs (shortlist 100 at prefix-16, rerank
      // 20, self-hits kept like tx_rrf's dense arm) + the shared
      // floor-truncated RRF fuse.
      "tx_rrf_ann" ->
        """WITH toks AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
          |  FROM documents),
          |t AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, unnest(toks) AS term FROM toks),
          |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl
          |  FROM t GROUP BY doc_id, term),
          |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(len(toks)) AS DOUBLE) AS s FROM toks),
          |dfx AS (SELECT *, CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df FROM tf),
          |q(query_id, term) AS (VALUES (0, 'join'), (0, 'merge'), (0, 'sort'),
          |  (1, 'window'), (1, 'agg'), (2, 'scan'), (2, 'column'), (2, 'order')),
          |scored AS (SELECT q.query_id, dfx.doc_id,
          |    sum(ln((stats.n - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2)
          |        / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (stats.s / stats.n)))) AS raw
          |  FROM dfx JOIN q USING (term), stats
          |  GROUP BY q.query_id, dfx.doc_id),
          |lex AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY floor(raw * 10000.0) / 10000.0 DESC, doc_id) AS rk_lex
          |  FROM scored),
          |lx AS (SELECT query_id, doc_id, rk_lex FROM lex WHERE rk_lex <= 20),
          |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          |p AS (SELECT vec_id AS query_id, emb AS qv FROM e WHERE vec_id < 3),
          |pres AS (SELECT query_id, e.vec_id,
          |    list_dot_product(qv[1:16], emb[1:16]) /
          |      (sqrt(list_dot_product(qv[1:16], qv[1:16])) * sqrt(list_dot_product(emb[1:16], emb[1:16]))) AS pre_sim
          |  FROM e CROSS JOIN p),
          |short AS (SELECT query_id, vec_id FROM (
          |    SELECT query_id, vec_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY pre_sim DESC, vec_id) AS srk
          |    FROM pres) WHERE srk <= 100),
          |ds AS (SELECT sh.query_id, sh.vec_id,
          |    round(list_dot_product(p.qv, e.emb) /
          |      (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(e.emb, e.emb))), 6) AS cos_sim
          |  FROM short sh JOIN e ON e.vec_id = sh.vec_id JOIN p ON p.query_id = sh.query_id),
          |dr AS (SELECT query_id, vec_id AS doc_id,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk_dense
          |  FROM ds),
          |dx AS (SELECT query_id, doc_id, rk_dense FROM dr WHERE rk_dense <= 20),
          |f AS (SELECT coalesce(lx.query_id, dx.query_id) AS query_id,
          |    coalesce(lx.doc_id, dx.doc_id) AS doc_id,
          |    floor((coalesce(1.0 / (rk_lex + 60), 0.0) +
          |           coalesce(1.0 / (rk_dense + 60), 0.0)) * 1000000.0) / 1000000.0 AS rrf
          |  FROM lx FULL OUTER JOIN dx
          |    ON lx.query_id = dx.query_id AND lx.doc_id = dx.doc_id),
          |r AS (SELECT query_id, doc_id, rrf,
          |    row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rk
          |  FROM f)
          |SELECT query_id, doc_id, rrf, CAST(rk AS BIGINT) AS rk FROM r
          |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
      "tx_rrf" ->
        """WITH toks AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
          |  FROM documents),
          |t AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, unnest(toks) AS term FROM toks),
          |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl
          |  FROM t GROUP BY doc_id, term),
          |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(len(toks)) AS DOUBLE) AS s FROM toks),
          |dfx AS (SELECT *, CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df FROM tf),
          |q(query_id, term) AS (VALUES (0, 'join'), (0, 'merge'), (0, 'sort'),
          |  (1, 'window'), (1, 'agg'), (2, 'scan'), (2, 'column'), (2, 'order')),
          |scored AS (SELECT q.query_id, dfx.doc_id,
          |    sum(ln((stats.n - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2)
          |        / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (stats.s / stats.n)))) AS raw
          |  FROM dfx JOIN q USING (term), stats
          |  GROUP BY q.query_id, dfx.doc_id),
          |lex AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY floor(raw * 10000.0) / 10000.0 DESC, doc_id) AS rk_lex
          |  FROM scored),
          |lx AS (SELECT query_id, doc_id, rk_lex FROM lex WHERE rk_lex <= 20),
          |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          |p AS (SELECT vec_id AS query_id, emb AS qv FROM e WHERE vec_id < 3),
          |ds AS (SELECT query_id, e.vec_id,
          |    round(list_dot_product(qv, emb) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(emb, emb))), 6) AS cos_sim
          |  FROM e CROSS JOIN p),
          |dr AS (SELECT query_id, vec_id AS doc_id,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk_dense
          |  FROM ds),
          |dx AS (SELECT query_id, doc_id, rk_dense FROM dr WHERE rk_dense <= 20),
          |f AS (SELECT coalesce(lx.query_id, dx.query_id) AS query_id,
          |    coalesce(lx.doc_id, dx.doc_id) AS doc_id,
          |    floor((coalesce(1.0 / (rk_lex + 60), 0.0) +
          |           coalesce(1.0 / (rk_dense + 60), 0.0)) * 1000000.0) / 1000000.0 AS rrf
          |  FROM lx FULL OUTER JOIN dx
          |    ON lx.query_id = dx.query_id AND lx.doc_id = dx.doc_id),
          |r AS (SELECT query_id, doc_id, rrf,
          |    row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rk
          |  FROM f)
          |SELECT query_id, doc_id, rrf, CAST(rk AS BIGINT) AS rk FROM r
          |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
      "tx_tfidf" ->
        """WITH t AS (SELECT doc_id, unnest(list_filter(
          |    regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS term
          |  FROM documents),
          |tc AS (SELECT doc_id, term, count(*) AS c FROM t GROUP BY doc_id, term),
          |wl AS (SELECT doc_id, term, c,
          |    CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS len FROM tc),
          |dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY term),
          |sc AS (SELECT wl.doc_id, wl.term,
          |    floor(CAST(wl.c AS DOUBLE) / CAST(wl.len AS DOUBLE) *
          |      ln((SELECT count(*) + 1.0 FROM documents) / (CAST(dfq.df AS DOUBLE) + 1.0)) *
          |      1000000.0) / 1000000.0 AS tfidf
          |  FROM wl JOIN dfq ON wl.term = dfq.term),
          |r AS (SELECT doc_id, term, tfidf,
          |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
          |  FROM sc)
          |SELECT doc_id, term, rk, tfidf FROM r WHERE rk <= 3
          |ORDER BY doc_id, rk""".stripMargin,
      "tx_pack" ->
        """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
          |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
          |  FROM documents),
          |c AS (SELECT doc_id, shard, n_tokens,
          |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          |  FROM t)
          |SELECT doc_id, shard, CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id,
          |  n_tokens
          |FROM c ORDER BY doc_id""".stripMargin,
      "tx_scrub" ->
        """SELECT doc_id,
          |  CAST(len(regexp_extract_all(text, '[0-9]{3,}')) AS BIGINT) AS n_redacted,
          |  CAST(length(regexp_replace(text, '[0-9]{3,}', '#', 'g')) AS BIGINT) AS scrubbed_len,
          |  md5(regexp_replace(text, '[0-9]{3,}', '#', 'g')) AS scrubbed_md5
          |FROM documents ORDER BY doc_id""".stripMargin,
      "tx_pii" ->
        """WITH s1 AS (SELECT doc_id,
          |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
          |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
          |  FROM documents),
          |s2 AS (SELECT doc_id, n_email,
          |    CAST(len(regexp_extract_all(t1, 'https?://[^ \t\n\r]+')) AS BIGINT) AS n_url,
          |    regexp_replace(t1, 'https?://[^ \t\n\r]+', '<URL>', 'g') AS t2
          |  FROM s1),
          |s3 AS (SELECT doc_id, n_email, n_url,
          |    CAST(len(regexp_extract_all(t2, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ip,
          |    regexp_replace(t2, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS t3
          |  FROM s2)
          |SELECT doc_id, n_email, n_url, n_ip,
          |  CAST(len(regexp_extract_all(t3, '[0-9]{3,}')) AS BIGINT) AS n_num,
          |  CAST(length(regexp_replace(t3, '[0-9]{3,}', '<NUM>', 'g')) AS BIGINT) AS scrubbed_len,
          |  md5(regexp_replace(t3, '[0-9]{3,}', '<NUM>', 'g')) AS scrubbed_md5
          |FROM s3 ORDER BY doc_id""".stripMargin,
      "tx_sample" ->
        """WITH h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
          |b AS (SELECT doc_id, lang, CAST(
          |  (strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 256 +
          |  (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 16 +
          |  (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) AS BIGINT) AS hash_bucket
          |  FROM h)
          |SELECT doc_id, lang, hash_bucket FROM b
          |WHERE hash_bucket < 256 ORDER BY doc_id""".stripMargin,
      "tx_split" ->
        """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
          |b AS (SELECT doc_id,
          |  (strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 256 +
          |  (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 16 +
          |  (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) AS hb
          |  FROM h)
          |SELECT doc_id,
          |  CASE WHEN hb < 3686 THEN 'train' WHEN hb < 3891 THEN 'val'
          |       ELSE 'test' END AS split
          |FROM b ORDER BY doc_id""".stripMargin,
      "tx_stratified" ->
        """WITH r AS (SELECT doc_id, lang,
          |    row_number() OVER (PARTITION BY lang
          |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          |  FROM documents)
          |SELECT doc_id, lang, rk FROM r WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,
      "dd_exact" ->
        """SELECT sha256(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
          |FROM documents GROUP BY sha256(text) ORDER BY keep_id""".stripMargin,
      // tumbling 8-token segments; a segment in >= 2 distinct docs is
      // duplicated and stripped; string_agg skips the CASE's NULLs and
      // returns NULL for an all-duplicated doc (= Spark's nullif(..,''))
      "dd_segments" ->
        """WITH t AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
          |  FROM documents),
          |n AS (SELECT doc_id, toks, CAST(ceil(len(toks)/8.0) AS BIGINT) AS nseg
          |  FROM t WHERE len(toks) > 0),
          |segs AS (SELECT doc_id, unnest(range(0, nseg)) AS seg_idx,
          |    unnest(list_transform(range(0, nseg),
          |      i -> array_to_string(toks[i*8+1:i*8+8], ' '))) AS seg
          |  FROM n),
          |dup AS (SELECT md5(seg) AS k FROM segs
          |  GROUP BY md5(seg) HAVING count(DISTINCT doc_id) >= 2)
          |SELECT s.doc_id, count(*) AS n_segs, count(d.k) AS n_dup_segs,
          |  string_agg(CASE WHEN d.k IS NULL THEN s.seg END, ' '
          |    ORDER BY s.seg_idx) AS clean_text
          |FROM segs s LEFT JOIN dup d ON md5(s.seg) = d.k
          |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
      // α=0.5 temperature mixing; weight = p^α / Σ p^α with the total
      // cancelled: pow(n_tokens, α) / Σ pow(n_tokens, α)
      "tx_mixture" ->
        """WITH per AS (SELECT source, count(*) AS n_docs,
          |    CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'),
          |      x -> x <> ''))) AS BIGINT) AS n_tokens
          |  FROM documents GROUP BY source),
          |tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t,
          |    sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) AS z FROM per)
          |SELECT source, n_docs, n_tokens,
          |  round(CAST(n_tokens AS DOUBLE) / t, 6) AS token_share,
          |  round(pow(CAST(n_tokens AS DOUBLE), 0.5) / z, 6) AS weight
          |FROM per, tot ORDER BY source""".stripMargin,
      // history/batch split = the md5-bucket rule (tx_sample's hex
      // arithmetic); the bloom pre-filter is invisible to semantics
      "dd_incremental" ->
        """WITH m AS (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
          |s AS (SELECT doc_id, text,
          |  (strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 256 +
          |  (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 16 +
          |  (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) AS hb
          |  FROM m),
          |hist AS (SELECT sha256(text) AS digest FROM s WHERE hb < 3277),
          |bk AS (SELECT sha256(text) AS digest, min(doc_id) AS keep_id,
          |    count(*) AS n_copies
          |  FROM s WHERE hb >= 3277 GROUP BY sha256(text))
          |SELECT keep_id, digest, n_copies FROM bk
          |WHERE digest NOT IN (SELECT digest FROM hist)
          |ORDER BY keep_id""".stripMargin,
      // streaming twin: same md5-bucket split, no in-batch collapse
      // (that is ev_stream_dedup's stateful concern) — survivors are
      // exactly the batch rows whose digest is absent from history
      "ev_stream_incr_dedup" ->
        """WITH m AS (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
          |s AS (SELECT doc_id, text,
          |  (strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 256 +
          |  (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 16 +
          |  (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) AS hb
          |  FROM m),
          |hist AS (SELECT sha256(text) AS digest FROM s WHERE hb < 3277)
          |SELECT doc_id, sha256(text) AS digest FROM s
          |WHERE hb >= 3277 AND sha256(text) NOT IN (SELECT digest FROM hist)
          |ORDER BY doc_id""".stripMargin,
      // dd_excise's span CTE chain feeding tx_tfidf's scorer CTEs over
      // the kept tokens (concat_ws-then-resplit round-trips the kept
      // token sequence exactly, so the scorer reads `keep` directly);
      // idf's corpus count is the pre-excision document count, matching
      // the operator's row-cardinality-preserving contract
      "pipe_index" ->
        """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(
          |    lower(regexp_replace(text, '\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
          |  FROM documents),
          |g AS (SELECT doc_id,
          |    unnest(range(1, len(toks) - 2)) - 1 AS pos,
          |    unnest(list_transform(range(1, len(toks) - 2),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gram
          |  FROM t),
          |d AS (SELECT doc_id, pos FROM (SELECT doc_id, pos,
          |    min(doc_id) OVER (PARTITION BY gram) AS dmin,
          |    max(doc_id) OVER (PARTITION BY gram) AS dmax FROM g) m
          |  WHERE dmin <> dmax),
          |i AS (SELECT doc_id, pos,
          |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 4
          |      THEN 0 ELSE 1 END AS brk
          |  FROM d),
          |isl AS (SELECT doc_id, pos,
          |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
          |  FROM i),
          |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 3 AS e
          |  FROM isl GROUP BY doc_id, island),
          |tok AS (SELECT doc_id, unnest(range(len(toks))) AS pos,
          |    unnest(toks) AS tok FROM t),
          |keep AS (SELECT k.doc_id, k.pos, k.tok FROM tok k
          |  WHERE NOT EXISTS (SELECT 1 FROM sp
          |    WHERE sp.doc_id = k.doc_id AND k.pos BETWEEN sp.s AND sp.e)),
          |tc AS (SELECT doc_id, tok AS term, count(*) AS c FROM keep GROUP BY doc_id, tok),
          |wl AS (SELECT doc_id, term, c,
          |    CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS len FROM tc),
          |dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY term),
          |sc AS (SELECT wl.doc_id, wl.term,
          |    floor(CAST(wl.c AS DOUBLE) / CAST(wl.len AS DOUBLE) *
          |      ln((SELECT count(*) + 1.0 FROM documents) / (CAST(dfq.df AS DOUBLE) + 1.0)) *
          |      1000000.0) / 1000000.0 AS tfidf
          |  FROM wl JOIN dfq ON wl.term = dfq.term),
          |r AS (SELECT doc_id, term, tfidf,
          |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
          |  FROM sc)
          |SELECT doc_id, term, rk, tfidf FROM r WHERE rk <= 3
          |ORDER BY doc_id, rk""".stripMargin,
      "pipe_diff" ->
        """WITH v1 AS (SELECT doc_id, md5(text) AS d1 FROM documents WHERE doc_id % 50 <> 0),
          |v2 AS (SELECT doc_id,
          |    md5(CASE WHEN doc_id % 41 = 0 THEN text || ' v2' ELSE text END) AS d2
          |  FROM documents WHERE doc_id % 37 <> 0)
          |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
          |  CASE WHEN v1.doc_id IS NULL THEN 'added'
          |       WHEN v2.doc_id IS NULL THEN 'removed'
          |       WHEN d1 <> d2 THEN 'changed'
          |       ELSE 'unchanged' END AS status
          |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
          |ORDER BY doc_id""".stripMargin,
      "pipe_merge" ->
        """WITH base AS (SELECT doc_id, md5(text) AS digest FROM documents
          |  WHERE doc_id % 50 <> 0),
          |ups AS (SELECT doc_id,
          |    md5(CASE WHEN doc_id % 41 = 0 THEN text || ' v2' ELSE text END) AS u_digest
          |  FROM documents WHERE doc_id % 41 = 0 OR doc_id % 50 = 0),
          |del AS (SELECT doc_id FROM documents WHERE doc_id % 37 = 0)
          |SELECT coalesce(base.doc_id, ups.doc_id) AS doc_id,
          |  coalesce(u_digest, digest) AS digest,
          |  CASE WHEN u_digest IS NOT NULL AND digest IS NULL THEN 'insert'
          |       WHEN u_digest IS NOT NULL THEN 'update'
          |       ELSE 'carry' END AS op
          |FROM base FULL OUTER JOIN ups ON base.doc_id = ups.doc_id
          |WHERE coalesce(base.doc_id, ups.doc_id) NOT IN (SELECT doc_id FROM del)
          |ORDER BY doc_id""".stripMargin,
      "pipe_scd2" ->
        """WITH o AS (SELECT user_id, event_type, ts, event_id,
          |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
          |  FROM events),
          |c AS (SELECT user_id, event_type, ts, event_id FROM o
          |  WHERE prev_type IS NULL OR prev_type <> event_type),
          |v AS (SELECT user_id, event_type,
          |    row_number() OVER w AS version,
          |    CAST(floor(epoch(ts)) AS BIGINT) AS valid_from_s,
          |    lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS valid_to_s
          |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
          |SELECT user_id, version, event_type, valid_from_s, valid_to_s,
          |  CAST(CASE WHEN valid_to_s IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
          |FROM v ORDER BY user_id, version""".stripMargin,
      // the tx_quality_lr logit chain verbatim (shared CTE strings),
      // then fixed-threshold phase banding + shard-local sequencing
      "pipe_curriculum" ->
        s"""WITH $gopherRawCte,
           |$qualityRawCte,
           |f AS (SELECT q.doc_id,
           |    floor(least(q.n_tok / 64.0, 1.0) * 10000.0) / 10000.0 AS len_score,
           |    floor((q.n_stop / greatest(q.n_tok, 1.0)) * 10000.0) / 10000.0 AS stop_ratio,
           |    floor((q.n_punct / greatest(q.n_chars, 1.0)) * 10000.0) / 10000.0 AS punct_ratio,
           |    floor(gc.n_alpha * 10000.0 / greatest(gc.n_words, 1)) / 10000.0 AS alpha_frac,
           |    floor(gc.n_symbols * 10000.0 / greatest(gc.n_words, 1)) / 10000.0 AS symbol_ratio
           |  FROM q JOIN gc USING (doc_id)),
           |l AS (SELECT doc_id,
           |    floor((-2.25 + len_score * 1.5 + stop_ratio * 3.0 - punct_ratio * 4.0 +
           |      alpha_frac * 1.0 - symbol_ratio * 5.0) * 10000.0) / 10000.0 AS logit
           |  FROM f),
           |p AS (SELECT doc_id, logit,
           |    CAST(CASE WHEN logit > 0.3 THEN 2 WHEN logit > 0.0 THEN 1
           |      ELSE 0 END AS BIGINT) AS phase,
           |    CAST(doc_id % 8 AS BIGINT) AS shard
           |  FROM l)
           |SELECT doc_id, phase, shard, logit,
           |  CAST(row_number() OVER (PARTITION BY phase, shard
           |    ORDER BY logit DESC, doc_id) AS BIGINT) AS seq
           |FROM p ORDER BY doc_id""".stripMargin,
      // selection pipeline: quality CTE + the tx_dsir weight chain
      // (CTEs prefixed d* to avoid name clashes) + digest dedup +
      // per-source cap — one independent DuckDB formulation of the
      // whole curation chain
      "pipe_select" ->
        s"""WITH ${qualityCte(", text")},
           |dm AS (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
           |dh AS (SELECT doc_id, text,
           |  (strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 256 +
           |  (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 16 +
           |  (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) AS hb FROM dm),
           |dt AS (SELECT doc_id, hb, unnest(list_filter(regexp_split_to_array(
           |    lower(regexp_replace(text, '\\s+', ' ', 'g')), ' '), x -> x <> '')) AS tok
           |  FROM dh),
           |db AS (SELECT doc_id, hb,
           |  (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 256 +
           |  (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) * 16 +
           |  (strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) AS bucket FROM dt),
           |dlm AS (SELECT bucket,
           |  CAST(sum(CASE WHEN hb >= 3891 THEN 1 ELSE 0 END) AS BIGINT) AS tgt,
           |  CAST(sum(CASE WHEN hb < 3891 THEN 1 ELSE 0 END) AS BIGINT) AS src
           |  FROM db GROUP BY bucket),
           |dtot AS (SELECT CAST(sum(tgt) AS DOUBLE) AS tt, CAST(sum(src) AS DOUBLE) AS st FROM dlm),
           |dsc AS (SELECT db.doc_id,
           |    ln(((CAST(dlm.tgt AS DOUBLE) + 0.5) / ((SELECT tt FROM dtot) + 0.5 * 4096)) /
           |       ((CAST(dlm.src AS DOUBLE) + 0.5) / ((SELECT st FROM dtot) + 0.5 * 4096))) AS llr
           |  FROM db JOIN dlm USING (bucket) WHERE db.hb < 3891),
           |dwt AS (SELECT doc_id, floor(sum(llr) * 10000.0) / 10000.0 AS dsir_weight
           |  FROM dsc GROUP BY doc_id),
           |cand AS (SELECT qq.doc_id, qq.source, qq.quality, dwt.dsir_weight,
           |    sha256(qq.text) AS digest
           |  FROM qq JOIN dwt ON qq.doc_id = dwt.doc_id),
           |ded AS (SELECT *, row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS dk
           |  FROM cand),
           |kept AS (SELECT doc_id, source, quality, dsir_weight FROM ded
           |  WHERE dk = 1 AND quality >= 0.5),
           |capd AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
           |    ORDER BY dsir_weight DESC, quality DESC, doc_id) AS BIGINT) AS rk
           |  FROM kept)
           |SELECT doc_id, source, quality, dsir_weight, rk
           |FROM capd WHERE rk <= 50 ORDER BY doc_id""".stripMargin,
      "pipe_datacard" ->
        s"""WITH ${qualityCte(", text")},
           |$gopherRawCte,
           |$gopherKeepCte,
           |agg AS (SELECT source,
           |    count(*) AS n_docs,
           |    count(DISTINCT md5(text)) AS n_unique,
           |    sum(n_tokens) AS n_tokens,
           |    round(avg(quality), 4) AS mean_quality,
           |    sum(keep) AS n_keep
           |  FROM qq JOIN k USING (doc_id) GROUP BY source)
           |SELECT source,
           |  CAST(n_docs AS BIGINT) AS n_docs,
           |  CAST(n_unique AS BIGINT) AS n_unique,
           |  floor((n_docs - n_unique) * 10000.0 / n_docs) / 10000.0 AS dup_rate,
           |  CAST(n_tokens AS BIGINT) AS n_tokens,
           |  mean_quality,
           |  floor(n_keep * 10000.0 / n_docs) / 10000.0 AS keep_rate
           |FROM agg ORDER BY source""".stripMargin,
      "tx_stream_quality" ->
        s"""WITH ${qualityCte("")},
           |$gopherRawCte,
           |$gopherKeepCte
           |SELECT source,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           |  round(avg(quality), 4) AS mean_quality,
           |  CAST(sum(keep) AS BIGINT) AS n_keep
           |FROM qq JOIN k USING (doc_id) GROUP BY source ORDER BY source""".stripMargin,
      "pipe_e2e" ->
        """WITH qb AS (SELECT doc_id, text,
          |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS DOUBLE) AS n_tok,
          |  CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
          |    x -> x IN ('the','a','of','to','and','is','in','that'))) AS DOUBLE) AS n_stop,
          |  CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct,
          |  CAST(length(text) AS DOUBLE) AS n_chars
          |  FROM documents),
          |q AS (SELECT doc_id, text,
          |  floor((least(n_tok / 64.0, 1.0) * 0.5 +
          |    least(n_stop / greatest(n_tok, 1.0) * 4.0, 1.0) * 0.3 +
          |    (1.0 - least(n_punct / greatest(n_chars, 1.0) * 10.0, 1.0)) * 0.2) * 10000.0) / 10000.0 AS quality
          |  FROM qb),
          |f AS (SELECT doc_id, text, quality FROM q WHERE quality >= 0.5),
          |kept AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY sha256(text)),
          |t AS (SELECT f.doc_id, f.quality, f.doc_id % 8 AS shard,
          |    CAST(len(list_filter(regexp_split_to_array(f.text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
          |  FROM f JOIN kept ON kept.doc_id = f.doc_id),
          |c AS (SELECT doc_id, shard, n_tokens, quality,
          |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          |  FROM t)
          |SELECT doc_id, shard, CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id,
          |  n_tokens, quality
          |FROM c ORDER BY doc_id""".stripMargin,
      // pipe_crawl_e2e is pipe_e2e's oracle REBASED onto the crawl's
      // two-paragraph page transform (r18): the wrap is lossless, so
      // the container-rooted chain must produce exactly the prep
      // output of the transformed corpus — divergence in framing,
      // envelope decode, multi-block extraction or composition is a
      // hash mismatch
      "pipe_crawl_e2e" ->
        """WITH docs AS (SELECT doc_id,
          |  CASE WHEN doc_id % 2 = 0
          |       THEN text || chr(10) || 'Crawl appendix: a second fixture paragraph.'
          |       ELSE text END AS text
          |  FROM documents),
          |qb AS (SELECT doc_id, text,
          |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS DOUBLE) AS n_tok,
          |  CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
          |    x -> x IN ('the','a','of','to','and','is','in','that'))) AS DOUBLE) AS n_stop,
          |  CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct,
          |  CAST(length(text) AS DOUBLE) AS n_chars
          |  FROM docs),
          |q AS (SELECT doc_id, text,
          |  floor((least(n_tok / 64.0, 1.0) * 0.5 +
          |    least(n_stop / greatest(n_tok, 1.0) * 4.0, 1.0) * 0.3 +
          |    (1.0 - least(n_punct / greatest(n_chars, 1.0) * 10.0, 1.0)) * 0.2) * 10000.0) / 10000.0 AS quality
          |  FROM qb),
          |f AS (SELECT doc_id, text, quality FROM q WHERE quality >= 0.5),
          |kept AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY sha256(text)),
          |t AS (SELECT f.doc_id, f.quality, f.doc_id % 8 AS shard,
          |    CAST(len(list_filter(regexp_split_to_array(f.text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
          |  FROM f JOIN kept ON kept.doc_id = f.doc_id),
          |c AS (SELECT doc_id, shard, n_tokens, quality,
          |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          |  FROM t)
          |SELECT doc_id, shard, CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id,
          |  n_tokens, quality
          |FROM c ORDER BY doc_id""".stripMargin,
      // word 4-gram windows (contamination's tokenization) duplicated
      // across ≥2 docs (shared ⇔ min≠max doc over the gram partition);
      // positions merged to maximal spans via gaps-and-islands
      // (windows merge iff pos gap ≤ n); parallel unnest zips
      // (pos, gram) row-wise
      // exact pairwise source Jaccard over distinct word trigrams;
      // the plain join formulation — the Spark side's bounded-set
      // pair generation is an equivalent reassociation
      "dd_source_overlap" ->
        """WITH t AS (SELECT source, list_filter(regexp_split_to_array(
          |    lower(regexp_replace(text, '\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
          |  FROM documents),
          |g AS (SELECT DISTINCT source, gram FROM (
          |  SELECT source, unnest(list_transform(range(1, len(toks) - 1),
          |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram FROM t) u),
          |tot AS (SELECT source, count(*) AS n FROM g GROUP BY source),
          |sh AS (SELECT a.source AS s1, b.source AS s2, count(*) AS shared_grams
          |  FROM g a JOIN g b USING (gram) WHERE a.source < b.source GROUP BY 1, 2)
          |SELECT s1, s2, shared_grams,
          |  floor(CAST(shared_grams AS DOUBLE) / (ta.n + tb.n - shared_grams)
          |    * 1000000.0) / 1000000.0 AS jaccard
          |FROM sh JOIN tot ta ON ta.source = sh.s1 JOIN tot tb ON tb.source = sh.s2
          |ORDER BY s1, s2""".stripMargin,
      // doc rollup of the dd_spans pipeline; n_tokens = len(toks) for
      // any doc with ≥1 window, and the no-span denominator fallback
      // (1) mirrors the Spark side's coalesce — dup_tokens is 0 there
      // so the fraction is 0 either way and keep = 1
      "dd_span_stats" ->
        """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(
          |    lower(regexp_replace(text, '\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
          |  FROM documents),
          |g AS (SELECT doc_id,
          |    unnest(range(1, len(toks) - 2)) - 1 AS pos,
          |    unnest(list_transform(range(1, len(toks) - 2),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gram
          |  FROM t),
          |d AS (SELECT doc_id, pos FROM (SELECT doc_id, pos,
          |    min(doc_id) OVER (PARTITION BY gram) AS dmin,
          |    max(doc_id) OVER (PARTITION BY gram) AS dmax FROM g) m
          |  WHERE dmin <> dmax),
          |i AS (SELECT doc_id, pos,
          |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 4
          |      THEN 0 ELSE 1 END AS brk
          |  FROM d),
          |isl AS (SELECT doc_id, pos,
          |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
          |  FROM i),
          |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 3 AS e
          |  FROM isl GROUP BY doc_id, island),
          |r AS (SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS dup_tokens
          |  FROM sp GROUP BY doc_id)
          |SELECT t.doc_id,
          |  CAST(coalesce(r.n_spans, 0) AS BIGINT) AS n_spans,
          |  CAST(coalesce(r.dup_tokens, 0) AS BIGINT) AS dup_tokens,
          |  floor(CAST(coalesce(r.dup_tokens, 0) AS DOUBLE) /
          |    (CASE WHEN r.doc_id IS NULL THEN 1.0 ELSE CAST(len(toks) AS DOUBLE) END)
          |    * 10000.0) / 10000.0 AS dup_frac,
          |  CAST(CASE WHEN CAST(coalesce(r.dup_tokens, 0) AS DOUBLE) <
          |    (CASE WHEN r.doc_id IS NULL THEN 1.0 ELSE CAST(len(toks) AS DOUBLE) END) * 0.5
          |    THEN 1 ELSE 0 END AS BIGINT) AS keep
          |FROM t LEFT JOIN r ON t.doc_id = r.doc_id ORDER BY t.doc_id""".stripMargin,
      // same span CTEs as dd_spans, then the splice: tokens whose
      // position falls inside any span are dropped, the rest rejoin
      // single-spaced in position order (string_agg ORDER BY pos)
      "dd_excise" ->
        """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(
          |    lower(regexp_replace(text, '\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
          |  FROM documents),
          |g AS (SELECT doc_id,
          |    unnest(range(1, len(toks) - 2)) - 1 AS pos,
          |    unnest(list_transform(range(1, len(toks) - 2),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gram
          |  FROM t),
          |d AS (SELECT doc_id, pos FROM (SELECT doc_id, pos,
          |    min(doc_id) OVER (PARTITION BY gram) AS dmin,
          |    max(doc_id) OVER (PARTITION BY gram) AS dmax FROM g) m
          |  WHERE dmin <> dmax),
          |i AS (SELECT doc_id, pos,
          |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 4
          |      THEN 0 ELSE 1 END AS brk
          |  FROM d),
          |isl AS (SELECT doc_id, pos,
          |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
          |  FROM i),
          |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 3 AS e
          |  FROM isl GROUP BY doc_id, island),
          |tok AS (SELECT doc_id, unnest(range(len(toks))) AS pos,
          |    unnest(toks) AS tok FROM t),
          |keep AS (SELECT k.doc_id, k.pos, k.tok FROM tok k
          |  WHERE NOT EXISTS (SELECT 1 FROM sp
          |    WHERE sp.doc_id = k.doc_id AND k.pos BETWEEN sp.s AND sp.e)),
          |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
          |    count(*) AS kept FROM keep GROUP BY doc_id)
          |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
          |  CAST(len(toks) AS BIGINT) AS n_tokens,
          |  CAST(len(toks) - coalesce(a.kept, 0) AS BIGINT) AS removed_tokens
          |FROM t LEFT JOIN agg a ON t.doc_id = a.doc_id
          |ORDER BY t.doc_id""".stripMargin,
      // batch spans vs the history gram set — same islands arithmetic
      // as dd_spans, marking by history membership instead of
      // min≠max, split by the shared md5-bucket rule
      "dd_spans_incremental" ->
        """WITH m AS (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
          |sp AS (SELECT doc_id, text,
          |  (strpos('0123456789abcdef', substr(m, 1, 1)) - 1) * 256 +
          |  (strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 16 +
          |  (strpos('0123456789abcdef', substr(m, 3, 1)) - 1) AS hb
          |  FROM m),
          |t AS (SELECT doc_id, hb, list_filter(regexp_split_to_array(
          |    lower(regexp_replace(text, '\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
          |  FROM sp),
          |g AS (SELECT doc_id, hb, len(toks) AS n_toks,
          |    unnest(range(1, len(toks) - 2)) - 1 AS pos,
          |    unnest(list_transform(range(1, len(toks) - 2),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gram
          |  FROM t),
          |hist AS (SELECT DISTINCT gram FROM g WHERE hb < 3277),
          |d AS (SELECT doc_id, pos, n_toks FROM g
          |  WHERE hb >= 3277 AND gram IN (SELECT gram FROM hist)),
          |i AS (SELECT doc_id, pos, n_toks,
          |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 4
          |      THEN 0 ELSE 1 END AS brk
          |  FROM d),
          |isl AS (SELECT doc_id, pos, n_toks,
          |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
          |  FROM i)
          |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_tok,
          |  CAST(max(pos) + 3 AS BIGINT) AS end_tok, count(*) AS n_windows,
          |  CAST(any_value(n_toks) AS BIGINT) AS doc_tokens
          |FROM isl GROUP BY doc_id, island ORDER BY doc_id, start_tok""".stripMargin,
      "dd_spans" ->
        """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(
          |    lower(regexp_replace(text, '\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
          |  FROM documents),
          |g AS (SELECT doc_id, len(toks) AS n_toks,
          |    unnest(range(1, len(toks) - 2)) - 1 AS pos,
          |    unnest(list_transform(range(1, len(toks) - 2),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gram
          |  FROM t),
          |d AS (SELECT doc_id, pos, n_toks FROM (SELECT doc_id, pos, n_toks,
          |    min(doc_id) OVER (PARTITION BY gram) AS dmin,
          |    max(doc_id) OVER (PARTITION BY gram) AS dmax FROM g) m
          |  WHERE dmin <> dmax),
          |i AS (SELECT doc_id, pos, n_toks,
          |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 4
          |      THEN 0 ELSE 1 END AS brk
          |  FROM d),
          |isl AS (SELECT doc_id, pos, n_toks,
          |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
          |  FROM i)
          |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_tok,
          |  CAST(max(pos) + 3 AS BIGINT) AS end_tok, count(*) AS n_windows,
          |  CAST(any_value(n_toks) AS BIGINT) AS doc_tokens
          |FROM isl GROUP BY doc_id, island ORDER BY doc_id, start_tok""".stripMargin,
      "dd_ngram_jaccard" ->
        """WITH g AS (SELECT doc_id,
          |    list_distinct(list_transform(range(0, greatest(length(norm) - 3, 0) + 1),
          |      i -> substr(norm, CAST(i + 1 AS INTEGER), 3))) AS grams
          |  FROM (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS norm
          |        FROM documents WHERE doc_id < 50) t),
          |j AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
          |    round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
          |      len(list_distinct(list_concat(a.grams, b.grams))), 4) AS jaccard
          |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
          |SELECT id1, id2, jaccard FROM j WHERE jaccard > 0.3 ORDER BY id1, id2""".stripMargin,
      "dd_containment" ->
        """WITH g AS (SELECT doc_id,
          |    list_distinct(list_transform(range(0, greatest(length(norm) - 3, 0) + 1),
          |      i -> substr(norm, CAST(i + 1 AS INTEGER), 3))) AS grams
          |  FROM (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS norm
          |        FROM documents WHERE doc_id < 50) t),
          |j AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
          |    round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
          |      least(len(a.grams), len(b.grams)), 4) AS containment
          |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
          |SELECT id1, id2, containment FROM j
          |WHERE containment > 0.5 ORDER BY id1, id2""".stripMargin,
      "dd_clusters" ->
        """WITH RECURSIVE g AS (SELECT doc_id,
          |    list_distinct(list_transform(range(0, greatest(length(norm) - 3, 0) + 1),
          |      i -> substr(norm, CAST(i + 1 AS INTEGER), 3))) AS grams
          |  FROM (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS norm
          |        FROM documents WHERE doc_id < 50) t),
          |j AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
          |    round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
          |      len(list_distinct(list_concat(a.grams, b.grams))), 4) AS jaccard
          |  FROM g a JOIN g b ON a.doc_id < b.doc_id),
          |p AS (SELECT id1, id2 FROM j WHERE jaccard > 0.3),
          |e AS (SELECT id1 AS src, id2 AS dst FROM p UNION ALL SELECT id2, id1 FROM p),
          |reach(v, r) AS (
          |  SELECT doc_id, doc_id FROM documents WHERE doc_id < 50
          |  UNION
          |  SELECT reach.v, e.dst FROM reach JOIN e ON e.src = reach.r),
          |lab AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v)
          |SELECT doc_id, cluster_id,
          |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
          |FROM lab ORDER BY doc_id""".stripMargin,
      "dd_survivors" ->
        """WITH RECURSIVE g AS (SELECT doc_id,
          |    list_distinct(list_transform(range(0, greatest(length(norm) - 3, 0) + 1),
          |      i -> substr(norm, CAST(i + 1 AS INTEGER), 3))) AS grams
          |  FROM (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS norm
          |        FROM documents WHERE doc_id < 50) t),
          |j AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
          |    round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
          |      len(list_distinct(list_concat(a.grams, b.grams))), 4) AS jaccard
          |  FROM g a JOIN g b ON a.doc_id < b.doc_id),
          |p AS (SELECT id1, id2 FROM j WHERE jaccard > 0.3),
          |e AS (SELECT id1 AS src, id2 AS dst FROM p UNION ALL SELECT id2, id1 FROM p),
          |reach(v, r) AS (
          |  SELECT doc_id, doc_id FROM documents WHERE doc_id < 50
          |  UNION
          |  SELECT reach.v, e.dst FROM reach JOIN e ON e.src = reach.r),
          |lab AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
          |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id),
          |qb AS (SELECT doc_id,
          |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS DOUBLE) AS n_tok,
          |  CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
          |    x -> x IN ('the','a','of','to','and','is','in','that'))) AS DOUBLE) AS n_stop,
          |  CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct,
          |  CAST(length(text) AS DOUBLE) AS n_chars
          |  FROM documents),
          |q AS (SELECT doc_id,
          |  floor((least(n_tok / 64.0, 1.0) * 0.5 +
          |    least(n_stop / greatest(n_tok, 1.0) * 4.0, 1.0) * 0.3 +
          |    (1.0 - least(n_punct / greatest(n_chars, 1.0) * 10.0, 1.0)) * 0.2) * 10000.0) / 10000.0 AS quality
          |  FROM qb),
          |ranked AS (SELECT lab.doc_id, lab.cluster_id, q.quality,
          |    row_number() OVER (PARTITION BY lab.cluster_id ORDER BY q.quality DESC, lab.doc_id) AS rk
          |  FROM lab JOIN q ON q.doc_id = lab.doc_id)
          |SELECT r.cluster_id, r.doc_id AS survivor_id, r.quality AS survivor_quality,
          |  sz.cluster_size
          |FROM ranked r JOIN sz ON sz.cluster_id = r.cluster_id
          |WHERE r.rk = 1 ORDER BY r.cluster_id""".stripMargin,
      // The multimodal→ANN bridge, rebuilt in SQL end-to-end: content
      // units are the cycled text bytes (the codec generation rule),
      // span-mean cells are integer sums / single divisions, the
      // unit-norm and cosine are sequential dot products — every step
      // a left fold both engines share, so the doubles match
      // bit-for-bit (the ann_ivf_topk determinism argument applied to
      // the encoder itself).
      "mm_embed_ann" ->
        s"""$mmBaseCtes,
          |cells AS (SELECT media_id, list_transform(range(0, 64), ci ->
          |    CAST(coalesce(list_sum(list_transform(
          |        range(CAST(ci * nunits // 64 AS INTEGER), CAST((ci+1) * nunits // 64 AS INTEGER)),
          |        j -> ub[1 + CAST(j % m AS INTEGER)])), 0) AS DOUBLE)
          |      / ((ci+1) * nunits // 64 - ci * nunits // 64)) AS cell
          |  FROM v),
          |emb AS (SELECT media_id, list_transform(cell, x -> x / sqrt(list_dot_product(cell, cell))) AS e FROM cells),
          |q AS (SELECT media_id AS query_id, e AS qe FROM emb WHERE media_id < 10),
          |scored AS (SELECT q.query_id, emb.media_id,
          |    round(list_dot_product(qe, e) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))), 6) AS cos_sim
          |  FROM emb CROSS JOIN q WHERE emb.media_id <> q.query_id),
          |r AS (SELECT query_id, media_id, cos_sim,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, media_id) AS rk
          |  FROM scored)
          |SELECT query_id, media_id, cos_sim, CAST(rk AS BIGINT) AS rk FROM r
          |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
      // Matryoshka funnel: stage-1 prefix-dim (16) cosine shortlist of
      // 40 per query ranked on the UNROUNDED pre_sim (ties → vec_id —
      // bit-exact cross-engine because both engines run the same
      // sequential dot product; the ann_ivf_topk unrounded-argmax
      // precedent), stage-2 exact rerank on the full vectors rounded
      // to the 6-decimal grid before ranking.
      //
      // ENGINE PIN (r13 advisory): every unrounded-double ranking
      // oracle here (this one's stage 1, tx_rrf_ann's dense arm,
      // mm_embed_ann's encoder chain) relies on DuckDB 1.0.0's
      // list_dot_product evaluating as a LEFT FOLD — the same order
      // as the Scala loops. A DuckDB upgrade that vectorizes or
      // FMA-fuses the fold could flip a 1-ulp tie with no Spark-side
      // change; if these hashes ever break after an engine bump,
      // diagnose as ulp drift FIRST (the RecallSpec overlap gates
      // remain the primary semantic evidence), not as a kernel bug.
      "ann_mrl_topk" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          |q AS (SELECT vec_id AS query_id, emb AS qv FROM e WHERE vec_id < 10),
          |pres AS (SELECT query_id, e.vec_id,
          |    list_dot_product(qv[1:16], emb[1:16]) /
          |      (sqrt(list_dot_product(qv[1:16], qv[1:16])) * sqrt(list_dot_product(emb[1:16], emb[1:16]))) AS pre_sim
          |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
          |short AS (SELECT query_id, vec_id FROM (
          |    SELECT query_id, vec_id,
          |      row_number() OVER (PARTITION BY query_id ORDER BY pre_sim DESC, vec_id) AS srk
          |    FROM pres) WHERE srk <= 40),
          |scored AS (SELECT s.query_id, s.vec_id,
          |    round(list_dot_product(q.qv, e.emb) /
          |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.emb, e.emb))), 6) AS cos_sim
          |  FROM short s JOIN e ON e.vec_id = s.vec_id JOIN q ON q.query_id = s.query_id),
          |r AS (SELECT query_id, vec_id, cos_sim,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
          |  FROM scored)
          |SELECT query_id, vec_id, cos_sim, rk FROM r WHERE rk <= 5
          |ORDER BY query_id, rk""".stripMargin,
      "ann_brute_topk" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          |q AS (SELECT vec_id AS query_id, emb AS qv FROM e WHERE vec_id < 10),
          |scored AS (SELECT query_id, e.vec_id,
          |    round(list_dot_product(qv, emb) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(emb, emb))), 6) AS cos_sim
          |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
          |r AS (SELECT query_id, vec_id, cos_sim,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
          |  FROM scored)
          |SELECT query_id, vec_id, cos_sim, rk FROM r WHERE rk <= 5
          |ORDER BY query_id, rk""".stripMargin,
      // IVF with FIXED seed centroids is deterministic arithmetic
      // DuckDB can replicate: assignment/probing mirror the
      // NearestCentroids kernel exactly — same cosine formula
      // dot/(sqrt(na)·sqrt(nb)), UNROUNDED argmax, ties to the lower
      // cid — so the inverted lists and probe sets agree bit-for-bit
      // and the rescore is the ann_brute shape. (ann_ivf_trained has
      // NO oracle on purpose: the k-means update sums member vectors
      // in shuffle-merge order, so trained centroid doubles are not
      // cross-engine-reproducible arithmetic — documented no-go,
      // recall-gated in RecallSpec instead.)
      "ann_ivf_topk" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          |c AS (SELECT vec_id AS cid, emb AS cv FROM e WHERE vec_id < 16),
          |sc AS (SELECT e.vec_id, e.emb, c.cid,
          |    list_dot_product(e.emb, c.cv) /
          |      (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cv, c.cv))) AS s
          |  FROM e CROSS JOIN c),
          |ranked AS (SELECT vec_id, emb, cid,
          |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS r FROM sc),
          |asg AS (SELECT vec_id, emb, cid FROM ranked WHERE r = 1),
          |probes AS (SELECT vec_id AS query_id, emb AS qv, cid FROM ranked
          |  WHERE vec_id < 10 AND r <= 4),
          |scored AS (SELECT p.query_id, a.vec_id,
          |    round(list_dot_product(p.qv, a.emb) /
          |      (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.emb, a.emb))), 6) AS cos_sim
          |  FROM asg a JOIN probes p ON a.cid = p.cid AND a.vec_id <> p.query_id),
          |r AS (SELECT query_id, vec_id, cos_sim,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
          |  FROM scored)
          |SELECT query_id, vec_id, cos_sim, rk FROM r WHERE rk <= 5
          |ORDER BY query_id, rk""".stripMargin,
      // same deterministic-assignment argument as ann_ivf_topk; the
      // md5 split is the dd_incremental bucket rule and ppm shares are
      // exact integer division in both engines
      "ann_ivf_incr" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
          |    (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) * 256 +
          |    (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 2, 1)) - 1) * 16 +
          |    (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 3, 1)) - 1) AS hb
          |  FROM embeddings),
          |c AS (SELECT vec_id AS cid, emb AS cv FROM e WHERE vec_id < 16),
          |sc AS (SELECT e.vec_id, e.hb, c.cid,
          |    list_dot_product(e.emb, c.cv) /
          |      (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cv, c.cv))) AS s
          |  FROM e CROSS JOIN c),
          |asg AS (SELECT vec_id, hb, cid FROM (SELECT vec_id, hb, cid,
          |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS r FROM sc)
          |  WHERE r = 1),
          |t AS (SELECT CAST(sum(CASE WHEN hb < 3277 THEN 1 ELSE 0 END) AS BIGINT) AS th,
          |    CAST(sum(CASE WHEN hb >= 3277 THEN 1 ELSE 0 END) AS BIGINT) AS tb FROM e),
          |g AS (SELECT cid,
          |    CAST(sum(CASE WHEN hb < 3277 THEN 1 ELSE 0 END) AS BIGINT) AS n_history,
          |    CAST(sum(CASE WHEN hb >= 3277 THEN 1 ELSE 0 END) AS BIGINT) AS n_batch
          |  FROM asg GROUP BY cid)
          |SELECT g.cid, g.n_history, g.n_batch,
          |  CAST(CASE WHEN t.th > 0 THEN g.n_history * 1000000 // t.th ELSE 0 END AS BIGINT) AS hist_ppm,
          |  CAST(CASE WHEN t.tb > 0 THEN g.n_batch * 1000000 // t.tb ELSE 0 END AS BIGINT) AS batch_ppm,
          |  CAST(CASE WHEN t.tb > 0 THEN g.n_batch * 1000000 // t.tb ELSE 0 END
          |    - CASE WHEN t.th > 0 THEN g.n_history * 1000000 // t.th ELSE 0 END AS BIGINT) AS drift_ppm
          |FROM g CROSS JOIN t ORDER BY g.cid""".stripMargin,
      // SQ8 is deterministic end-to-end: the [lo, hi] bounds are
      // order-independent min/max aggregates, and quantize
      // (rint((x-lo)/span*255), clamped — round_even IS rint) /
      // dequantize (lo + code·span/255) mirror the QuantizeSq8 /
      // CosineSq8Asym kernels' exact expression shapes, so the
      // quantized corpus and the asymmetric scores agree bit-for-bit.
      // (The PQ family and IVF×SQ8 stay recall-gated: their k-means
      // training sums in shuffle-merge order — the ann_ivf_trained
      // no-go; sign-LSH buckets hash JVM-seeded hyperplanes.)
      "ann_sq8_topk" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          |ex AS (SELECT unnest(emb) AS x, unnest(range(1, len(emb) + 1)) AS i FROM e),
          |bounds AS (SELECT i, min(x) AS lo, max(x) AS hi FROM ex GROUP BY i),
          |bl AS (SELECT list(lo ORDER BY i) AS lov,
          |    list(greatest(hi - lo, 2.2250738585072014e-308) ORDER BY i) AS spanv
          |  FROM bounds),
          |deq AS (SELECT vec_id, list_transform(range(1, len(emb) + 1),
          |    i -> lov[i] + least(greatest(round_even((emb[i] - lov[i]) / spanv[i] * 255.0, 0), 0.0), 255.0)
          |           * (spanv[i] / 255.0)) AS demb
          |  FROM e CROSS JOIN bl),
          |q AS (SELECT vec_id AS query_id, emb AS qv FROM e WHERE vec_id < 10),
          |scored AS (SELECT query_id, d.vec_id,
          |    round(list_dot_product(qv, demb) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(demb, demb))), 6) AS cos_sim
          |  FROM deq d CROSS JOIN q WHERE d.vec_id <> q.query_id),
          |r AS (SELECT query_id, vec_id, cos_sim,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
          |  FROM scored)
          |SELECT query_id, vec_id, cos_sim, rk FROM r WHERE rk <= 5
          |ORDER BY query_id, rk""".stripMargin,
      "ann_filtered_topk" ->
        """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          |q AS (SELECT vec_id AS query_id, emb AS qv FROM e WHERE vec_id < 10),
          |f AS (SELECT vec_id, label, emb FROM e WHERE label IN (2, 5, 7)),
          |scored AS (SELECT query_id, f.vec_id, f.label,
          |    round(list_dot_product(qv, emb) /
          |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(emb, emb))), 6) AS cos_sim
          |  FROM f CROSS JOIN q WHERE f.vec_id <> q.query_id),
          |r AS (SELECT query_id, vec_id, label, cos_sim,
          |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
          |  FROM scored)
          |SELECT query_id, vec_id, label, cos_sim, rk FROM r WHERE rk <= 5
          |ORDER BY query_id, rk""".stripMargin,
      // The three mm oracles rebuild the REAL codec's expected output
      // closed-form from `documents`: the fixture generator
      // (Multimodal.genPayload) derives container dims / sample counts
      // / frame counts from doc_id and cycles the text's CODE POINTS
      // (non-ASCII folding to 63 = '?' — the rule DuckDB's codepoint-
      // based length/substr/ascii can mirror exactly on ANY text, not
      // just the all-ASCII fixtures) as pixel/sample data, so DuckDB
      // can recompute parsed header fields, exact container byte
      // sizes (PPM/BMP/WAV/Y4M framing arithmetic) and the
      // decoded-content checksums (plain + position-weighted sums —
      // the weighted one catches placement bugs like a missed BMP
      // bottom-up flip) without ever seeing the bytes. A single
      // misplaced byte in an encoder or parser breaks the hash match.
      // The perceptual hash, rebuilt bit-for-bit in SQL: luma/sample
      // cell sums from the cycled content units, the EXACT-integer
      // mean-of-means threshold (cross-multiplied through the product
      // of distinct cell counts — the r12 aHashExact redefinition
      // that deleted the float boundary), two's-complement bit
      // packing (bit 63 = min-long), and the dup set as a brute
      // all-pairs Hamming scan — which also re-proves the Spark
      // side's pigeonhole banding complete through the driver gate.
      // Certified domain = the generated fixture dims (every mm
      // oracle certifies exactly that domain): w,h ≥ 8 and canonical
      // sample counts ns2 = ns·8000//rate ≥ 682 (ns ≥ 1024, rate ≤
      // 12000) make every cell count ≥ 1 (aHashExact's 0-count rule
      // never fires, so the SQL omits it), and the product of
      // distinct counts stays ≤ 64⁴ ≪ 2⁵³, so list_product's DOUBLE
      // return is exact before the BIGINT cast.
      "mm_phash_dup" ->
        s"""$mmBaseCtes,
          |cg AS (SELECT media_id, kind, w, h, n, ns, ns2, rate, tb, ub, m,
          |    CASE kind
          |      -- audio spans run over the CANONICAL-RATE signal (ns2
          |      -- samples; canonical sample j = source sample
          |      -- j*rate//8000 — aHash64's NN resample, r13
          |      -- rate-invariance), not the raw samples
          |      WHEN 'audio' THEN list_transform(range(0, 64), ci ->
          |        CAST(coalesce(list_sum(list_transform(
          |          range(CAST(ci*ns2//64 AS INTEGER), CAST((ci+1)*ns2//64 AS INTEGER)),
          |          j -> tb[1 + CAST((j*rate//8000) % n AS INTEGER)])), 0) AS BIGINT))
          |      -- image luma reads the DECODED raster (ub cycle, so the
          |      -- palette profile's PLTE expansion is included — r14)
          |      ELSE list_transform(range(0, 64), ci ->
          |        CAST(coalesce(list_sum(list_transform(
          |          range(0, CAST($phBh * $phBw AS INTEGER)),
          |          pix ->
          |            CASE WHEN kind = 'video'
          |              THEN ub[1 + CAST($phIdx % m AS INTEGER)]
          |              ELSE (ub[1 + CAST(($phIdx * 3) % m AS INTEGER)]
          |                    + ub[1 + CAST(($phIdx * 3 + 1) % m AS INTEGER)]
          |                    + ub[1 + CAST(($phIdx * 3 + 2) % m AS INTEGER)]) // 3
          |            END)), 0) AS BIGINT))
          |    END AS sl,
          |    CASE kind
          |      WHEN 'audio' THEN list_transform(range(0, 64), ci -> CAST((ci+1)*ns2//64 - ci*ns2//64 AS BIGINT))
          |      ELSE list_transform(range(0, 64), ci -> CAST($phBh * $phBw AS BIGINT))
          |    END AS cl
          |  FROM v),
          |px AS (SELECT media_id, sl, cl, CAST(list_product(list_distinct(cl)) AS BIGINT) AS p FROM cg),
          |tx AS (SELECT *, CAST(list_sum(list_transform(range(1, 65), j ->
          |    sl[CAST(j AS INTEGER)] * (p // cl[CAST(j AS INTEGER)]))) AS BIGINT) AS t FROM px),
          |hsh AS (SELECT media_id,
          |    CAST(coalesce(list_sum(list_transform(range(0, 63), i ->
          |      CASE WHEN 64 * sl[CAST(i AS INTEGER) + 1] * (p // cl[CAST(i AS INTEGER) + 1]) > t
          |           THEN (1::BIGINT << CAST(i AS INTEGER)) ELSE 0 END)), 0)
          |    + CASE WHEN 64 * sl[64] * (p // cl[64]) > t THEN (-9223372036854775807 - 1) ELSE 0 END AS BIGINT) AS phash
          |  FROM tx),
          |dups AS (SELECT DISTINCT a.media_id FROM hsh a JOIN hsh b ON a.media_id <> b.media_id
          |  WHERE bit_count(xor(a.phash, b.phash)) <= 3)
          |SELECT h.media_id, h.phash,
          |  CAST(CASE WHEN d.media_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
          |FROM hsh h LEFT JOIN dups d ON d.media_id = h.media_id ORDER BY h.media_id""".stripMargin,
      "mm_media_meta" -> mmMetaSql,
      // mm_files_meta: binaryFile ingest of the staged file lake must
      // produce ROW-IDENTICAL output to the typed-map generation path
      // (filename-stem ids) — ONE oracle serves both, so the two
      // ingest paths cannot drift apart without a hash mismatch
      "mm_files_meta" -> mmMetaSql,
      // src_warc: the WET fixture is documents in container form —
      // uri closed-form in doc_id, body = the exact text bytes
      "src_warc" ->
        """SELECT doc_id,
          |  'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
          |  CAST(length(text) AS BIGINT) AS n_chars, text
          |FROM documents ORDER BY doc_id""".stripMargin,
      // src_warc_html: the raw-crawl twin over the TWO-PARAGRAPH page
      // transform (r18 — even ids append the constant crawl appendix
      // after a newline, so the wrap splits into two <p> blocks and
      // extraction exercises the block-separator flush): the wrap is
      // lossless, so envelope decode (chunked/gzip/deflate) and
      // multi-block extraction must invert the transform exactly
      "src_warc_html" ->
        """WITH docs AS (SELECT doc_id,
          |  CASE WHEN doc_id % 2 = 0
          |       THEN text || chr(10) || 'Crawl appendix: a second fixture paragraph.'
          |       ELSE text END AS text
          |  FROM documents)
          |SELECT doc_id,
          |  'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
          |  CAST(length(text) AS BIGINT) AS n_chars, text
          |FROM docs ORDER BY doc_id""".stripMargin,
      // snk_wet_roundtrip: the sink carries NON-fixture content (even
      // doc_ids, a deterministic suffix) — the oracle rebuilds the
      // transform closed-form, so the write→read loop is hash-gated
      "snk_wet_roundtrip" ->
        """SELECT doc_id,
          |  'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
          |  CAST(length(text || chr(10) || '-- sunk') AS BIGINT) AS n_chars,
          |  text || chr(10) || '-- sunk' AS text
          |FROM documents WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin,
      // snk_stream_wet: the streamed export must reproduce documents
      // exactly — same closed form as src_warc
      "snk_stream_wet" ->
        """SELECT doc_id,
          |  'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
          |  CAST(length(text) AS BIGINT) AS n_chars, text
          |FROM documents ORDER BY doc_id""".stripMargin,
      // src_stream_fetch: the streamed lookups must reproduce the
      // request predicate exactly — same closed form as the batch
      // fetch, accumulated across micro-batches
      "src_stream_fetch" ->
        """SELECT doc_id,
          |  'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
          |  CAST(length(text) AS BIGINT) AS n_chars, text
          |FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id""".stripMargin,
      // src_stream_fetch_gc: the retention fold must be row-INVISIBLE —
      // the compacted layout serves exactly the batch fetch's closed form
      "src_stream_fetch_gc" ->
        """SELECT doc_id,
          |  'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
          |  CAST(length(text) AS BIGINT) AS n_chars, text
          |FROM documents WHERE doc_id % 13 = 0 ORDER BY doc_id""".stripMargin,
      // src_warc_wat: envelope metadata closed-form in the six-shape
      // cycle; entity_chars = the lossless wrap's escape arithmetic
      // (241 = htmlWrap("")'s boilerplate, spec-pinned) over the
      // two-paragraph page transform (r18)
      "src_warc_wat" -> watSql,
      // src_stream_wat: the streamed extraction parses through the
      // batch walk's own body and must accumulate to the identical
      // closed form
      "src_stream_wat" -> watSql,
      // src_warc_robots: the id-keyed arm grammar's directive table
      // (closed form shared with the streamed ingest — see
      // robotsDirectivesSql above)
      "src_warc_robots" -> robotsDirectivesSql,
      // src_stream_robots: the streamed RAW capture-grain feed —
      // parses through the batch walk's own body; its closed form is
      // the resolved table's rows plus exactly the planted older
      // captures, each stamped with its capture date
      "src_stream_robots" -> streamRobotsSql,
      // src_robots_sitemaps: file-scoped discovery records of every
      // READABLE robots body (the 404 and 503 hosts contribute none;
      // the redirect origins 0/1/2/8 lost their base bodies to the
      // 301 winners and sitemap records do NOT restamp — a8's own
      // sitemap stays under a8's key)
      "src_robots_sitemaps" ->
        """SELECT host, host || '/sitemap.xml' AS sitemap
          |FROM (
          |  SELECT 'https://h' || CAST(range AS VARCHAR) || '.example.org' AS host
          |  FROM range(16) WHERE range NOT IN (0, 1, 2, 8, 9, 13)
          |  UNION ALL SELECT 'https://a8.example.org')
          |ORDER BY host, sitemap""".stripMargin,
      // src_sitemap_urls: the discovery walk's closed form — h3's
      // urlset (winner of its latest-capture pair), h7's two urlset
      // children via the index; the nested index must NOT double
      // page/70-71, the h9 decoy (unannounced) and h3's older poison
      // (page/666) must be absent, page/72's missing lastmod is NULL
      "src_sitemap_urls" ->
        """SELECT * FROM (VALUES
          |  ('https://h3.example.org', 'https://h3.example.org/sitemap.xml',
          |   'https://h3.example.org/page/30', '2026-01-02T23:00:00Z'),
          |  ('https://h3.example.org', 'https://h3.example.org/sitemap.xml',
          |   'https://h3.example.org/page/31', '2026-01-03T06:00:00Z'),
          |  ('https://h3.example.org', 'https://h3.example.org/sitemap.xml',
          |   'https://h3.example.org/page/32', '2026-01-03T06:00:00.500Z'),
          |  ('https://h7.example.org', 'https://h7.example.org/sitemap-a.xml',
          |   'https://h7.example.org/page/70', '2026-01-01'),
          |  ('https://h7.example.org', 'https://h7.example.org/sitemap-a.xml',
          |   'https://h7.example.org/page/71', '2026-01-04'),
          |  ('https://h7.example.org', 'https://h7.example.org/sitemap-b.xml',
          |   'https://h7.example.org/page/72', CAST(NULL AS VARCHAR))
          |) t(host, sitemap, url, lastmod)
          |ORDER BY host, sitemap, url""".stripMargin,
      // pipe_sitemap_schedule: freshness-ranked politeness slots —
      // h3 (delay 3 s): the sub-second trap decides rank 0 (page/32's
      // .500Z instant beats page/31's bare second though its string
      // sorts lower); h7 (delay 2 s): date-only lastmods rank, the
      // undated page/72 goes LAST
      "pipe_sitemap_schedule" ->
        """SELECT host, url, CAST(fetch_slot AS BIGINT) AS fetch_slot
          |FROM (VALUES
          |  ('https://h3.example.org', 'https://h3.example.org/page/32', 0),
          |  ('https://h3.example.org', 'https://h3.example.org/page/31', 3000),
          |  ('https://h3.example.org', 'https://h3.example.org/page/30', 6000),
          |  ('https://h7.example.org', 'https://h7.example.org/page/71', 0),
          |  ('https://h7.example.org', 'https://h7.example.org/page/70', 2000),
          |  ('https://h7.example.org', 'https://h7.example.org/page/72', 4000)
          |) t(host, url, fetch_slot)
          |ORDER BY host, fetch_slot, url""".stripMargin,
      // pipe_robots_filter: RFC 9309 evaluation over the fixture's
      // grammar arms collapses to string arithmetic — the wildcard
      // rules mirror EXACTLY as SQL LIKE patterns (* ⇔ %, trailing $
      // ⇔ no trailing %), the 503 host blocks everything (§2.3.1.4),
      // the 404 host allows everything, the crawl-delay-only exact
      // group still selects (everything allowed), host 11 falls
      // through to its `*` rules, and the base hosts keep the
      // decimal-prefix longest-match; the base `*` group disallows
      // `/`, so a wrong group selection flips every verdict
      "pipe_robots_filter" -> robotsVerdictSql(
        """SELECT doc_id,
          |  'https://h' || CAST(doc_id % 16 AS VARCHAR) || '.example.org' AS host,
          |  ALLOWED AS allowed
          |FROM documents ORDER BY doc_id""".stripMargin),
      // pipe_stream_robots_filter: the streamed verdicts must
      // reproduce the batch compliance join exactly — same closed
      // form, accumulated across micro-batches
      "pipe_stream_robots_filter" -> robotsVerdictSql(
        """SELECT doc_id,
          |  'https://h' || CAST(doc_id % 16 AS VARCHAR) || '.example.org' AS host,
          |  ALLOWED AS allowed
          |FROM documents ORDER BY doc_id""".stripMargin),
      // pipe_fetch_schedule: politeness arithmetic — the allowed set
      // (the filter's closed form) ranked per host times the fixture
      // delays (k % 5 where a readable grammar carries one; host 9's
      // 404 means no rules and NO delay; hosts 6/11 exercise the
      // crawl-delay group selection; host 12's duplicate delay lines
      // collapse to max = 2)
      "pipe_fetch_schedule" -> fetchScheduleSql,
      // pipe_fetch_schedule_sharded: the bucket-sharded twin must
      // reproduce the window form EXACTLY — same oracle
      "pipe_fetch_schedule_sharded" -> fetchScheduleSql,
      // pipe_robots_audit: the verdict CASE aggregated per host —
      // host 9 has no rules (404 tombstone resolves to absence) and
      // no delay; host 13's synthetic disallow-all carries no delay
      // either; hosts 1/2 resolve UNAVAILABLE through the redirect
      // arms (allowed by absence — has_robots false, no delay); host
      // 0's delay is b2's 2 s and host 8's is a8's fractional 0.5 s,
      // both via the chain walk, both in milliseconds
      "pipe_robots_audit" -> robotsVerdictSql(
        """WITH v AS (
          |  SELECT doc_id, CAST(doc_id % 16 AS INTEGER) AS k,
          |    ALLOWED AS allowed
          |  FROM documents)
          |SELECT 'https://h' || CAST(k AS VARCHAR) || '.example.org' AS host,
          |  COUNT(*) AS n_docs,
          |  CAST(SUM(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
          |  CAST(COUNT(*) - SUM(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_blocked,
          |  CAST(CASE WHEN k IN (1, 2, 9, 13) THEN 0 WHEN k = 0 THEN 2000
          |    WHEN k = 8 THEN 500 ELSE (k % 5) * 1000 END AS BIGINT)
          |    AS crawl_delay_ms,
          |  k NOT IN (1, 2, 9) AS has_robots
          |FROM v GROUP BY k ORDER BY host""".stripMargin),
      // src_warc_serve: the artifact-served fetch must reproduce the
      // pushed range exactly — same closed form as src_warc
      "src_warc_serve" ->
        """SELECT doc_id,
          |  'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
          |  CAST(length(text) AS BIGINT) AS n_chars, text
          |FROM documents WHERE doc_id >= 100 AND doc_id < 150
          |ORDER BY doc_id""".stripMargin,
      // src_warc_fetch: the range-read fetch must reproduce exactly
      // the predicate's documents — same closed form as src_warc
      // under the fixture's bounded-id rule
      "src_warc_fetch" ->
        """SELECT doc_id,
          |  'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
          |  CAST(length(text) AS BIGINT) AS n_chars, text
          |FROM documents WHERE doc_id % 7 = 0 ORDER BY doc_id""".stripMargin,
      // src_stream_warc: the streamed ingest must reproduce documents
      // exactly — same closed form as src_warc, accumulated across
      // micro-batches
      "src_stream_warc" ->
        """SELECT doc_id,
          |  'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
          |  CAST(length(text) AS BIGINT) AS n_chars, text
          |FROM documents ORDER BY doc_id""".stripMargin,
      // src_warc_revisit: revisit resolution rebuilt as a self-join —
      // docs ≡ 2 (mod 3) are stored as revisits of doc_id−1, so their
      // text (and n_chars) come from the REFERRED row; a revisit whose
      // referent is absent from the table drops in both engines
      "src_warc_revisit" ->
        """SELECT doc_id,
          |  'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
          |  CAST(length(text) AS BIGINT) AS n_chars, text,
          |  CAST(NULL AS BIGINT) AS revisit_of
          |FROM documents WHERE doc_id % 3 <> 2
          |UNION ALL
          |SELECT r.doc_id,
          |  'https://example.org/doc/' || CAST(r.doc_id AS VARCHAR) AS uri,
          |  CAST(length(o.text) AS BIGINT) AS n_chars, o.text,
          |  o.doc_id AS revisit_of
          |FROM documents r JOIN documents o ON o.doc_id = r.doc_id - 1
          |WHERE r.doc_id % 3 = 2
          |ORDER BY doc_id""".stripMargin,
      // mm_jpeg_meta: the JPEG fixtures are BLOCK-constant (one value
      // per 8×8 block, cycling the doc's code points in raster
      // order), the profile the full codec round-trips bit-exactly —
      // so the decoded raster is closed-form: each block contributes
      // v·192 to the plain sum and v·(9·S_b + 192) to the
      // position-weighted sum, where S_b = Σ (y·w + x) over the
      // block's 64 pixels = 8w(64·by + 28) + 8(64·bx + 28) (rgb index
      // of pixel p channel c is 3p + c, hence the 9 = 3·Σc and
      // 192 = 64·(0+1+2)). Profile and dims mirror the generator's
      // id cycles; DuckDB's `//` is floor division, matched by
      // floorDiv/floorMod on the Scala side.
      "mm_jpeg_meta" -> jpegMetaSql,
      // mm_jpeg_files: binaryFile ingest of the staged .jpg lake is
      // row-identical to the generation path (filename-stem ids) —
      // ONE oracle serves both (the mm_files_meta precedent)
      "mm_jpeg_files" -> jpegMetaSql,
      // Streamed rollup ≡ batch GROUP BY over the same closed forms
      // the mm_media_meta oracle rebuilds (sizes + content checksums
      // per kind/format) — the stream never gets its own truth source.
      "mm_stream_meta" ->
        s"""$mmBaseCtes,
          |meta AS (SELECT kind, format, n_bytes,
          |    $mmDataSum AS data_sum,
          |    $mmDataWsum AS data_wsum
          |  FROM v)
          |SELECT kind, format, count(*) AS n_media,
          |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
          |  CAST(sum(data_sum) AS BIGINT) AS total_data_sum,
          |  CAST(sum(data_wsum) AS BIGINT) AS total_data_wsum
          |FROM meta GROUP BY kind, format ORDER BY kind, format""".stripMargin,
      // Full round-trip oracle: decode → NN-resample (image/video) or
      // ×2 decimate (audio) → re-encode → re-decode; DuckDB recomputes
      // every resampled pixel's SOURCE byte via the same integer-floor
      // NN index map (sx = x·w/ow, sy = y·h/oh) over the cycled text
      // bytes, plus the exact re-encoded container sizes.
      "mm_resize" ->
        s"""$mmBaseCtes,
          |o AS (
          |  SELECT *, CASE WHEN kind = 'audio' THEN 0 ELSE least(24, w) END AS ow,
          |    CASE WHEN kind = 'audio' THEN 0 ELSE greatest(h * least(24, w) // w, 1) END AS oh,
          |    CASE WHEN kind = 'audio' THEN (ns + 1) // 2 ELSE 0 END AS nout
          |  FROM v)
          |SELECT media_id, kind, CAST(ow AS BIGINT) AS out_w, CAST(oh AS BIGINT) AS out_h,
          |  CAST(CASE kind WHEN 'image' THEN 3*ow*oh WHEN 'audio' THEN nout ELSE nfr*3*ow*oh END AS BIGINT) AS kept_units,
          |  CAST(CASE kind
          |    WHEN 'image' THEN 9 + length(CAST(ow AS VARCHAR)) + length(CAST(oh AS VARCHAR)) + 3*ow*oh
          |    WHEN 'audio' THEN 44 + 2*nout
          |    ELSE 33 + length(CAST(ow AS VARCHAR)) + length(CAST(oh AS VARCHAR)) + nfr * (6 + 3*ow*oh)
          |  END AS BIGINT) AS kept_bytes,
          |  CAST(CASE kind
          |    -- image: the resample SOURCE is the decoded raster — the
          |    -- ub cycle, so palette rows read PLTE-expanded bytes (r14)
          |    WHEN 'image' THEN list_sum(list_transform(range(0, CAST(3*ow*oh AS INTEGER)), j ->
          |      ub[1 + CAST(((((j // (3*ow)) * h // oh) * w + ((j % (3*ow)) // 3) * w // ow) * 3 + (j % 3)) % m AS INTEGER)]))
          |    WHEN 'audio' THEN list_sum(list_transform(range(0, CAST(nout AS INTEGER)), j ->
          |      ub[1 + CAST((2*j) % m AS INTEGER)]))
          |    ELSE list_sum(list_transform(range(0, CAST(nfr*3*ow*oh AS INTEGER)), j ->
          |      ub[1 + CAST((
          |        (j // (3*ow*oh)) * 3*w*h + ((j % (3*ow*oh)) // (ow*oh)) * w*h
          |        + (((j % (ow*oh)) // ow) * h // oh) * w + ((j % ow) * w // ow)) % m AS INTEGER)]))
          |  END AS BIGINT) AS data_sum
          |FROM o ORDER BY media_id""".stripMargin,
      // Per-KEPT-frame oracle: parsed Y4M frames / 1024-sample audio
      // windows / the image's single frame, stride-4 sampled; per-frame
      // sizes and content sums rebuilt from the cycled text bytes.
      "mm_frame_sample" ->
        s"""$mmBaseCtes,
          |t AS (SELECT *, CASE kind WHEN 'image' THEN 1 WHEN 'audio' THEN (ns + 1023) // 1024 ELSE nfr END AS ntot FROM v),
          |fr AS (SELECT *, unnest(range(0, CAST(ntot AS INTEGER))) AS f FROM t),
          |fk AS (SELECT * FROM fr WHERE f % 4 = 0),
          |s AS (SELECT *,
          |    CASE kind WHEN 'audio' THEN least(1024, ns - f * 1024) ELSE 3*w*h END AS units,
          |    CASE kind WHEN 'audio' THEN f * 1024 ELSE f * 3*w*h END AS off
          |  FROM fk)
          |SELECT media_id, kind, CAST(f AS BIGINT) AS frame_no,
          |  CAST(units AS BIGINT) AS frame_units,
          |  CAST(CASE kind WHEN 'audio' THEN 2 * units ELSE units END AS BIGINT) AS frame_bytes,
          |  CAST(list_sum(list_transform(range(0, CAST(units AS INTEGER)), i ->
          |    ub[1 + CAST((off + i) % m AS INTEGER)])) AS BIGINT) AS frame_sum
          |FROM s ORDER BY media_id, frame_no""".stripMargin,
      "ev_tumbling" ->
        """SELECT CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) % 600 AS win_start_s,
          |  event_type, count(*) AS n, round(sum(value), 2) AS total
          |FROM events GROUP BY 1, 2 ORDER BY win_start_s, event_type""".stripMargin,
      "ev_stream_tumbling" ->
        """SELECT CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) % 600 AS win_start_s,
          |  event_type, count(*) AS n, round(sum(value), 2) AS total
          |FROM events GROUP BY 1, 2 ORDER BY win_start_s, event_type""".stripMargin,
      "ev_stream_session" ->
        """WITH e AS (SELECT user_id, event_id, ts, value,
          |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          |  FROM events),
          |f AS (SELECT user_id, event_id, ts, value,
          |    CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) >= 1800.0
          |      THEN 1 ELSE 0 END AS new_session
          |  FROM e),
          |g AS (SELECT user_id, ts, value,
          |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
          |  FROM f)
          |SELECT user_id,
          |  CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
          |  CAST(floor(epoch(max(ts))) AS BIGINT) + 1800 AS session_end_s,
          |  count(*) AS n_events, round(sum(value), 2) AS session_value
          |FROM g GROUP BY user_id, sess ORDER BY user_id, session_start_s""".stripMargin,
      "ev_sliding" ->
        """WITH x AS (SELECT event_type, value,
          |    CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) % 300 AS s0
          |  FROM events),
          |w AS (SELECT event_type, value, unnest([s0, s0 - 300]) AS win_start_s FROM x)
          |SELECT win_start_s, event_type, count(*) AS n, round(sum(value), 2) AS total
          |FROM w GROUP BY 1, 2 ORDER BY win_start_s, event_type""".stripMargin,
      "ev_session" ->
        """WITH e AS (SELECT user_id, event_id, ts, value,
          |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          |  FROM events),
          |f AS (SELECT user_id, event_id, ts, value,
          |    CASE WHEN prev_ts IS NULL OR
          |      CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
          |      THEN 1 ELSE 0 END AS new_session
          |  FROM e),
          |g AS (SELECT user_id, event_id, ts, value,
          |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
          |  FROM f)
          |SELECT user_id, session_id,
          |  CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
          |  CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end_s,
          |  count(*) AS n_events, round(sum(value), 2) AS session_value
          |FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
      "ev_interval_join" ->
        """WITH e AS (SELECT user_id, event_id, ts,
          |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          |  FROM events),
          |f AS (SELECT user_id, event_id, ts,
          |    CASE WHEN prev_ts IS NULL OR
          |      CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
          |      THEN 1 ELSE 0 END AS new_session
          |  FROM e),
          |g AS (SELECT user_id, ts,
          |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
          |  FROM f),
          |sess AS (SELECT user_id, session_id,
          |    CAST(floor(epoch(min(ts))) AS BIGINT) AS s_s,
          |    CAST(floor(epoch(max(ts))) AS BIGINT) AS e_s
          |  FROM g GROUP BY user_id, session_id),
          |p AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events)
          |SELECT s.user_id, s.session_id, count(*) AS n_joined
          |FROM sess s JOIN p ON p.user_id = s.user_id AND p.ts_s BETWEEN s.s_s AND s.e_s
          |GROUP BY s.user_id, s.session_id ORDER BY s.user_id, s.session_id""".stripMargin,
      "ev_stream_join" ->
        """WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
          |    FROM events WHERE event_type = 'purchase'),
          |c AS (SELECT user_id, event_id AS click_id, ts AS c_ts
          |    FROM events WHERE event_type = 'click')
          |SELECT p.user_id, p.purchase_id, c.click_id,
          |  CAST(floor(epoch(p.p_ts)) AS BIGINT) AS p_ts_s,
          |  CAST(floor(epoch(c.c_ts)) AS BIGINT) AS c_ts_s
          |FROM p JOIN c ON c.user_id = p.user_id
          |  AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
          |ORDER BY p.user_id, p.purchase_id, c.click_id""".stripMargin,
      "ev_stream_running" ->
        """SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      "ev_stream_tws" ->
        """SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      "ev_stream_dedup" ->
        """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "ev_funnel" ->
        """WITH u AS (SELECT user_id,
          |    min(CASE WHEN event_type = 'signup' THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS first_signup,
          |    min(CASE WHEN event_type = 'purchase' THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS first_purchase
          |  FROM events GROUP BY user_id)
          |SELECT count(*) AS n_users, count(first_signup) AS n_signed_up,
          |  count(CASE WHEN first_purchase > first_signup THEN 1 END) AS n_converted
          |FROM u""".stripMargin,
      "ev_json" ->
        """SELECT event_type, count(*) AS n,
          |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
          |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
          |  round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      // the VARIANT twin: typed paths resolve to the same values the
      // string-path oracle computes; the absent-path try is NULL for
      // every row, so n_miss pins to 0. TRY_CAST mirrors the Spark
      // side's try_variant_get leniency on the dirt classes the
      // fixtures generate (integer k / non-numeric string / malformed
      // JSON / absent path). Residual divergence class, documented
      // rather than half-mirrored: variant's CROSS-TYPE casts — a
      // JSON double truncates (1.5 → 1) and a bool casts (true → 1)
      // under try_variant_get(..., 'long'), where this string oracle
      // yields NULL; that is variant cast semantics a JSON-string
      // reparse cannot express, and EventsStreamingSpec pins the
      // Spark-side behavior for both values so the contract is
      // recorded even though the oracle cannot see it
      "ev_variant" ->
        """SELECT event_type, count(*) AS n,
          |  min(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
          |  max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
          |  CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |  count(CASE WHEN json_extract_string(props, '$.missing') IS NOT NULL
          |    THEN 1 END) AS n_miss
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      // day-grain cohorts: first-seen day via a user-partitioned
      // window min; integer epoch-day arithmetic in both engines
      "ev_retention" ->
        """WITH e AS (SELECT user_id,
          |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day FROM events),
          |f AS (SELECT user_id, day,
          |    min(day) OVER (PARTITION BY user_id) AS first_day FROM e),
          |c AS (SELECT DISTINCT user_id, first_day * 86400 AS cohort_day_s,
          |    day - first_day AS offset_days FROM f)
          |SELECT cohort_day_s, offset_days, count(*) AS n_users
          |FROM c GROUP BY 1, 2 ORDER BY cohort_day_s, offset_days""".stripMargin,
      "ev_transitions" ->
        """WITH o AS (SELECT user_id, event_type, ts, event_id,
          |    lag(event_type) OVER w AS from_type,
          |    lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS from_s
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |p AS (SELECT from_type, event_type AS to_type FROM o
          |  WHERE from_type IS NOT NULL
          |    AND CAST(floor(epoch(ts)) AS BIGINT) - from_s <= 1800),
          |c AS (SELECT from_type, to_type, count(*) AS n FROM p GROUP BY 1, 2)
          |SELECT from_type, to_type, n,
          |  CAST(n * 1000000 // CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS BIGINT) AS p_ppm
          |FROM c ORDER BY from_type, to_type""".stripMargin,
      // moments from exact integer sums, cast to double ONCE, with the
      // identical rounding sequence (s1*s1, /k, s2−·, /k) as the Spark
      // side — z-scores are then bit-identical IEEE in both engines
      "ev_anomaly" ->
        """WITH b AS (SELECT event_type,
          |    CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) % 3600 AS bucket_s,
          |    count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |w AS (SELECT event_type, bucket_s, n,
          |    CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE) AS k,
          |    CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE) AS s1,
          |    CAST(sum(n * n) OVER (PARTITION BY event_type) AS DOUBLE) AS s2
          |  FROM b),
          |z AS (SELECT event_type, bucket_s, n,
          |    s1 / k AS mean, (s2 - s1 * s1 / k) / k AS variance
          |  FROM w),
          |r AS (SELECT event_type, bucket_s, n,
          |    (CAST(n AS DOUBLE) - mean) / sqrt(variance) AS z
          |  FROM z WHERE variance > 0),
          |t AS (SELECT event_type, bucket_s, n, z,
          |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY z DESC, bucket_s) AS BIGINT) AS rk
          |  FROM r)
          |SELECT event_type, bucket_s, CAST(n AS BIGINT) AS n,
          |  floor(z * 10000.0) / 10000.0 AS zscore, rk
          |FROM t WHERE rk <= 3 ORDER BY event_type, rk""".stripMargin,
      // monetary totals in exact cents (long sums), means as
      // single-rounded divisions of exact integer sums, band
      // comparisons at fixed mean multipliers — the identical IEEE
      // sequence as the Spark side, so scores hash-match
      "ev_rfm" ->
        """WITH mx AS (SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS mts FROM events),
          |u AS (SELECT user_id, count(*) AS f,
          |    CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS m_cents,
          |    (mx.mts - max(CAST(floor(epoch(ts)) AS BIGINT))) // 86400 AS r_days
          |  FROM events, mx GROUP BY user_id, mx.mts),
          |st AS (SELECT CAST(sum(f) AS DOUBLE) / count(*) AS mf,
          |    CAST(sum(m_cents) AS DOUBLE) / count(*) AS mm,
          |    CAST(sum(r_days) AS DOUBLE) / count(*) AS mr FROM u),
          |b AS (SELECT u.user_id, u.f, u.m_cents, u.r_days,
          |    CAST(CASE WHEN r_days <= mr * 0.8 THEN 5 WHEN r_days <= mr * 0.95 THEN 4
          |      WHEN r_days <= mr * 1.05 THEN 3 WHEN r_days <= mr * 1.2 THEN 2
          |      ELSE 1 END AS BIGINT) AS r_score,
          |    CAST(CASE WHEN f >= mf * 1.2 THEN 5 WHEN f >= mf * 1.05 THEN 4
          |      WHEN f >= mf * 0.95 THEN 3 WHEN f >= mf * 0.8 THEN 2
          |      ELSE 1 END AS BIGINT) AS f_score,
          |    CAST(CASE WHEN m_cents >= mm * 1.2 THEN 5 WHEN m_cents >= mm * 1.05 THEN 4
          |      WHEN m_cents >= mm * 0.95 THEN 3 WHEN m_cents >= mm * 0.8 THEN 2
          |      ELSE 1 END AS BIGINT) AS m_score
          |  FROM u, st)
          |SELECT user_id, f, m_cents / 100.0 AS monetary,
          |  CAST(r_days AS BIGINT) AS r_days, r_score, f_score, m_score,
          |  r_score * 100 + f_score * 10 + m_score AS rfm
          |FROM b ORDER BY user_id""".stripMargin,
      // DuckDB runs the lateral verbatim — identical SQL:2016 surface
      "q25_lateral" ->
        """SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
          |FROM orders o,
          |LATERAL (SELECT l_linenumber, l_extendedprice
          |         FROM lineitem
          |         WHERE l_orderkey = o.o_orderkey
          |         ORDER BY l_extendedprice DESC, l_linenumber
          |         LIMIT 2) t
          |ORDER BY o.o_orderkey, t.l_extendedprice DESC, t.l_linenumber""".stripMargin,
      // same recursive day spine; endpoints via scalar subqueries
      // (exact integer floor-div day arithmetic in both engines)
      "ev_gapfill" ->
        """WITH RECURSIVE r AS (
          |  SELECT min(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS d0,
          |         max(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS d1
          |  FROM events),
          |spine(day) AS (
          |  SELECT d0 FROM r
          |  UNION ALL
          |  SELECT day + 1 FROM spine, r WHERE day < r.d1),
          |b AS (SELECT event_type,
          |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |ty AS (SELECT DISTINCT event_type FROM events)
          |SELECT ty.event_type, spine.day, coalesce(b.n, 0) AS n
          |FROM ty CROSS JOIN spine
          |LEFT JOIN b ON b.event_type = ty.event_type AND b.day = spine.day
          |ORDER BY ty.event_type, spine.day""".stripMargin,
      // the identical coverage-explode formulation: a (user, day) row
      // covers days day..day+6; WAU(d) = distinct covering users
      "ev_stickiness" ->
        """WITH du AS (SELECT DISTINCT user_id,
          |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
          |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
          |cov AS (SELECT DISTINCT user_id, day + d AS day
          |  FROM du, unnest(range(0, 7)) AS t(d)),
          |wau AS (SELECT day, count(*) AS wau FROM cov GROUP BY day)
          |SELECT dau.day, dau.dau, wau.wau,
          |  CAST(dau.dau * 1000000 // wau.wau AS BIGINT) AS stickiness_ppm
          |FROM dau JOIN wau ON dau.day = wau.day
          |ORDER BY dau.day""".stripMargin,
      "ev_paths" ->
        """WITH st AS (SELECT user_id, event_type,
          |    CAST(floor(epoch(ts)) AS BIGINT) AS t0,
          |    lag(event_type, 1) OVER w AS e1,
          |    lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER w AS t1,
          |    lag(event_type, 2) OVER w AS e2,
          |    lag(CAST(floor(epoch(ts)) AS BIGINT), 2) OVER w AS t2
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |p AS (SELECT e2 || '>' || e1 || '>' || event_type AS path FROM st
          |  WHERE e2 IS NOT NULL AND t1 - t2 <= 1800 AND t0 - t1 <= 1800)
          |SELECT path, count(*) AS n FROM p GROUP BY path
          |ORDER BY n DESC, path LIMIT 10""".stripMargin,
      "ev_top_users" ->
        """SELECT hr_s, user_id, n, rk FROM (
          |  SELECT hr_s, user_id, n,
          |    row_number() OVER (PARTITION BY hr_s ORDER BY n DESC, user_id) AS rk
          |  FROM (SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hr_s,
          |          user_id, count(*) AS n
          |        FROM events GROUP BY 1, 2) a) b
          |WHERE rk <= 3 ORDER BY hr_s, rk""".stripMargin,
    )
    // the streaming DSIR twin scores the SAME corpus against the SAME
    // frozen LM, so it shares tx_dsir's oracle verbatim — one SQL
    // string, two deployments, the dd_incremental/ev_stream_incr_dedup
    // discipline applied to scoring
    // twins that share a batch oracle verbatim: the streaming DSIR
    // scorer (same frozen LM) and the incremental retention stream
    // (same cohort arithmetic) — one SQL string, two deployments
    base + ("tx_stream_dsir" -> base("tx_dsir")) +
      ("ev_stream_retention" -> base("ev_retention")) +
      ("ev_stream_paths" -> base("ev_paths")) +
      ("dd_stream_spans" -> base("dd_spans_incremental"))
  }
}
