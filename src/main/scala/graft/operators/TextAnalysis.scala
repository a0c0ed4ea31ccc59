package graft.operators

import graft.Tables
import graft.functions.{HeavyHitters, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline (builder prompt /
  * SURVEY.md §7.3 M2): per-document statistics, token counting, quality
  * scoring, a language-ID heuristic, and content fingerprinting.
  *
  * All per-document ops are embarrassingly parallel map-side work — no
  * shuffle at all — so they scale linearly; the only shuffles below are
  * the final oracle-determinism ORDER BYs (which a 100 TB run would
  * drop: sinks don't need global order).
  */
object TextAnalysis {

  /** The retrieval probe set: `SearchQueries` against the corpus, each
    * reporting its top `SearchTopK` documents. Hybrid retrieval fuses
    * each ranker's top `RrfCandK` with reciprocal-rank constant `RrfK`. */
  private[graft] final val SearchQueries: Seq[String] =
    Seq("join merge sort", "window agg", "scan column order")
  private[graft] final val SearchTopK = 10
  private[graft] final val RrfCandK = 20
  private[graft] final val RrfK = 60

  /** DSIR's add-α smoothing of both hashed-unigram LMs. */
  private[graft] final val DsirAlpha = 0.5

  /** Tokens per training pack, and the terms TF-IDF keeps per doc. */
  private[graft] final val PackBudget = 512L
  private[graft] final val TfidfTopK = 3

  /** BPE-ish subword proxy: alphanumeric runs plus single non-space
    * symbols — a deterministic, RE2-safe (no lookaround) stand-in for a
    * real tokenizer's piece count. */
  private def bpeTokens(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Per-document statistics: chars, whitespace tokens, distinct-ish
    * measures, punctuation/digit/upper ratios. */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", TextFunctions.textStatsCounts($"text").as("c"))
      .select(
        $"doc_id",
        $"c".getItem(0).as("n_chars"),
        $"c".getItem(1).as("n_tokens"),
        $"c".getItem(2).as("n_punct"),
        $"c".getItem(3).as("n_digits"),
        $"c".getItem(4).as("n_nonspace"))
      .orderBy($"doc_id")
  }

  /** Codepoint-entropy quality signal: Shannon entropy (bits) of each
    * document's character unigram distribution — low entropy flags
    * repeated-char / template-boilerplate text, high flags random
    * noise. One map-side kernel pass ([[TextFunctions.charEntropy]]),
    * no shuffle except the oracle ORDER BY. Floored to a 1e-4 grid so
    * summation-order ulps never cross the DuckDB `entropy()` oracle. */
  def charEntropyProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(
        $"doc_id",
        (floor(TextFunctions.charEntropy($"text") * lit(10000.0)) /
          lit(10000.0)).as("entropy_bits"))
      .withColumn("low_entropy", $"entropy_bits" < 3.0)
      .orderBy($"doc_id")
  }

  /** Token counting: whitespace tokens + BPE-ish pieces + mean token
    * length (rounded for cross-engine float determinism). */
  def tokenCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"text", TextFunctions.textStatsCounts($"text").as("c"))
      .select(
        $"doc_id",
        $"c".getItem(1).as("ws_tokens"),
        bpeTokens($"text").as("bpe_tokens"),
        round($"c".getItem(4).cast("double") /
          greatest($"c".getItem(1), lit(1)), 4).as("mean_token_len"))
      .orderBy($"doc_id")
  }

  /** BM25 ranked retrieval (Robertson–Spärck Jones idf with Lucene's
    * +1 floor) — the mining/retrieval scorer a data pipeline uses to
    * pull topic-relevant documents out of a corpus: per (query, doc)
    * the usual tf·idf saturation with length normalization,
    * `idf · tf(k1+1) / (tf + k1(1-b+b·dl/avgdl))`, top-`topK` docs
    * per query. One corpus scan: the broadcast query-term set prunes
    * the exploded tokens BEFORE the (doc, term, tf, dl) aggregation —
    * a join can't push below a window, so the old term-partitioned df
    * window shuffled the ENTIRE compact (doc, term) frame to answer a
    * handful of query terms, and a stop-word term made one window
    * partition O(|docs|) rows on one unsplittable task. Now only the
    * query-term rows shuffle at all; document frequency is a
    * groupBy(term) partial aggregation over that pruned frame (the
    * [[tfidf]] shape), re-attached on the reused exchange; ranking
    * prunes through WindowGroupLimit. The two
    * corpus scalars (N, Σdl) are a driver artifact pull like the
    * k-means centroids — two doubles, not data. Scores
    * floor-truncate at 4 decimals BEFORE ranking so the DuckDB
    * oracle agrees through ties (post-floor ties break on doc_id);
    * summation order across a query's ≤3 terms is the only
    * cross-engine nondeterminism, ulps (~1e-16) against the 1e-4
    * grid. The `SearchQueries` use the synthetic corpus's own
    * vocabulary so matches are non-trivial at every SF. */
  def bm25(s: SparkSession, dir: String,
           topK: Int = SearchTopK): DataFrame = {
    import s.implicits._
    val k1 = 1.2
    val b = 0.75
    // tokenize ONCE, materialized (r22): three consumers read this
    // frame — the corpus-stats aggregate, the tf leg, and dfreq's
    // partial-agg leg — and without materialization each planned its
    // own TokenNgrams pass over the scan (tx_rrf_ann job decomposition:
    // two ~0.3 s serial single-task tokenize jobs per repetition).
    // Lazy localCheckpoint: the stats action below materializes it, so
    // no extra job. Measured (solo min-of-6, sf0.1): tx_bm25
    // 1.23→1.11, tx_rrf 1.32→1.24, tx_rrf_ann 1.95→1.56. Unlike the
    // r21 Change-1 checkpoints this frame is corpus-scale (id + token
    // array ≈ the text itself), which is the deliberate "tokenize
    // once" trade every retrieval indexer makes; at 100 TB the same
    // role is played by a STORED tokenized table (frozen-artifact
    // rule), not an in-memory checkpoint. The in-plan alternative —
    // attaching the stats as a broadcast 1-row cross join to skip the
    // driver pull — was measured 2.4-4.6× WORSE across the family
    // (the stats subtree stops canonicalizing with anything and its
    // broadcast build serializes ahead of every consumer stage).
    val toks = Tables.documents(s, dir)
      .select($"doc_id", TextFunctions.tokenNgrams(lower($"text"), 1).as("toks"))
      .localCheckpoint(false)
    // explode_outer + null check on the GENERATED attribute, not inner
    // explode: InferFiltersFromGenerate's inferred guards would inline
    // the tokenizer kernel into the pushed-down Filter (3 evals/row —
    // same fix as contamination; PlanSpec pins one eval per scan)
    val qpairs = SearchQueries.zipWithIndex.flatMap { case (q, i) =>
      q.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
        .map(t => (i.toLong, t))
    }
    val qterms = qpairs.toDF("query_id", "term")
    val qtermSet = qpairs.map(_._2).distinct
    // dl is the FULL document length (computed on the token array
    // before the explode), so pruning exploded rows to query terms
    // does not perturb length normalization; df for a surviving term
    // still counts every document containing it.
    val tf = toks
      .select($"doc_id", size($"toks").cast("double").as("dl"),
        explode_outer($"toks").as("term"))
      .filter($"term".isNotNull)
      .join(broadcast(qtermSet.toDF("term")), Seq("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).cast("double").as("tf"), first($"dl").as("dl"))
    val stats = toks
      .agg(count(lit(1)).cast("double").as("n"),
        sum(size($"toks")).cast("double").as("s")).head()
    val nDocs = stats.getDouble(0)
    val avgdl = stats.getDouble(1) / stats.getDouble(0)
    // df via groupBy(term) partial-agg over tf's exchange (reused —
    // the max aggregates + tautological guards are the plan-shaping
    // trick from [[tfidf]]/dd_spans keeping both consumers' subtrees
    // canonical so the corpus scans and shuffles exactly once). The
    // trailing limit is a semantic no-op (df has at most one row per
    // query term) that makes the broadcast's bound structural; sorted,
    // it plans as TakeOrderedAndProject, which generates no code (see
    // [[dsirLm]]).
    val dfreq = tf.groupBy($"term")
      .agg(count(lit(1)).cast("double").as("df"),
        max($"tf").as("_mt"), max($"dl").as("_md"), max($"doc_id").as("_mi"))
      .filter($"_mt" >= 0.0 && $"_md" >= 0.0 && $"_mi" >= Long.MinValue)
      .select($"term", $"df")
      .orderBy($"term").limit(qtermSet.size)
    val perTerm = tf
      .join(broadcast(dfreq), Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .withColumn("w",
        log((lit(nDocs) - $"df" + 0.5) / ($"df" + 0.5) + 1.0) *
          ($"tf" * (k1 + 1.0)) /
          ($"tf" + lit(k1) * (lit(1.0 - b) + lit(b) * $"dl" / avgdl)))
    val wq = Window.partitionBy($"query_id").orderBy($"score".desc, $"doc_id")
    perTerm.groupBy($"query_id", $"doc_id")
      .agg((floor(sum($"w") * 10000.0) / 10000.0).as("score"))
      .withColumn("rk", row_number().over(wq).cast("long"))
      .filter($"rk" <= topK)
      .select($"query_id", $"doc_id", $"score", $"rk")
      .orderBy($"query_id", $"rk")
  }

  /** Hybrid lexical+dense retrieval with Reciprocal Rank Fusion
    * (Cormack et al. 2009, the fusion rule of every production RAG
    * retriever): per query, take the top-`RrfCandK` BM25 candidates and
    * the top-`RrfCandK` dense cosine candidates (query i's probe is
    * embedding vec_id = i; vec_id ≡ doc_id in the corpus), then score
    * each candidate `Σ 1/(RrfK + rank)` over the rankers that
    * returned it and keep the fused top-`SearchTopK`. RRF needs only RANKS,
    * never comparable scores — which is exactly why it's the standard
    * way to merge BM25's unbounded scores with bounded cosines.
    *
    * Scale shape: the lexical arm is [[bm25]] (broadcast query terms,
    * per-query WindowGroupLimit); the dense arm broadcasts the
    * bounded probe set against the embeddings scan (the allowlisted
    * ann_brute_topk pattern — swap in any bucketed ANN arm at 100 TB);
    * the fusion join touches only 2 × RrfCandK rows per query. Ranks
    * fuse with exactly-rounded IEEE divisions (1/(60+r)), so the
    * fused score is bit-identical cross-engine and oracle-checkable;
    * ties break by doc_id. */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lex = bm25(s, dir, topK = RrfCandK)
      .select($"query_id", $"doc_id", $"rk".as("rk_lex"))
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val probes = emb.filter($"vec_id" < SearchQueries.size)
      .select($"vec_id".as("query_id"), $"embedding".as("q"))
    val wd = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id")
    val dense = emb.crossJoin(broadcast(probes))
      .select($"query_id", $"vec_id",
        round(Similarity.cosine($"q", $"embedding"), 6).as("cos_sim"))
      .withColumn("rk_dense", row_number().over(wd).cast("long"))
      .filter($"rk_dense" <= RrfCandK)
      .select($"query_id", $"vec_id".as("doc_id"), $"rk_dense")
    rrfFuse(lex, dense)
  }

  /** RRF fusion step shared by [[hybridRrf]] and [[hybridRrfAnn]]:
    * full-outer join of the two (query_id, doc_id, rank) arms, score
    * `Σ 1/(RrfK + rank)` with exactly-rounded IEEE divisions so the
    * fused score is bit-identical cross-engine, ties by doc_id. The
    * join touches only 2 × RrfCandK rows per query regardless of corpus
    * size — fusion cost never scales with the data. */
  private def rrfFuse(lex: DataFrame, dense: DataFrame): DataFrame = {
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", floor(
        (coalesce(lit(1.0) / (col("rk_lex") + RrfK), lit(0.0)) +
          coalesce(lit(1.0) / (col("rk_dense") + RrfK), lit(0.0))) * 1000000.0) / 1000000.0)
      .withColumn("rk", row_number().over(wf).cast("long"))
      .filter(col("rk") <= SearchTopK)
      .select(col("query_id"), col("doc_id"), col("rrf"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** [[hybridRrf]] with the dense arm swapped from the exact
    * brute-force scan to the Matryoshka two-stage ANN funnel
    * ([[Similarity.mrlTopK]]'s shape: shortlist on the first
    * `prefixDims` dims, exact-cosine rerank of the bounded shortlist
    * only) — the 100 TB deployment form of hybrid retrieval, where a
    * full-corpus × queries exact scan is off the table and the dense
    * arm must come from an index. The lexical arm, fusion rule and
    * rounding are IDENTICAL to [[hybridRrf]] (shared [[rrfFuse]]), so
    * the exact query gates this one: RecallSpec checks the
    * fused-top-k rank overlap between the two. DuckDB-oracle-checked
    * since r12 — the dense arm is approximate by design but exactly
    * reproducible arithmetic, so the oracle composes tx_rrf's lex
    * CTEs with the ann_mrl_topk funnel CTEs and hash-matches.
    *
    * Scale shape: stage 1 touches prefixDims/dim of the vector bytes
    * (a 4× smaller resident index at 16/64); stage 2 fetches full
    * vectors for shortlistK ids per query via a broadcast join back
    * into the store — the corpus never shuffles, and both stages prune
    * through WindowGroupLimit like every ANN path here. */
  def hybridRrfAnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val prefixDims = 16
    val shortlistK = 100
    val lex = bm25(s, dir, topK = RrfCandK)
      .select($"query_id", $"doc_id", $"rk".as("rk_lex"))
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val qPre = emb.filter($"vec_id" < SearchQueries.size)
      .select($"vec_id".as("query_id"), slice($"embedding", 1, prefixDims).as("qpre"))
    val wS = Window.partitionBy($"query_id").orderBy($"pre_sim".desc, $"vec_id")
    // unlike mrlTopK the probe vector is NOT excluded from its own
    // candidates: tx_rrf's dense arm keeps self-hits, and the overlap
    // gate needs identical candidate semantics in both queries. The
    // trailing limit is the semantic no-op that makes the shortlist's
    // bound structural for the stage-2 broadcast (see mrlTopK).
    val short = emb.select($"vec_id", slice($"embedding", 1, prefixDims).as("pre"))
      .crossJoin(broadcast(qPre))
      .select($"query_id", $"vec_id",
        graft.functions.VectorFunctions.cosineSim($"qpre", $"pre").as("pre_sim"))
      .withColumn("rk", row_number().over(wS)).filter($"rk" <= shortlistK)
      .select($"query_id", $"vec_id")
      .limit(SearchQueries.size * shortlistK)
    val qFull = emb.filter($"vec_id" < SearchQueries.size)
      .select($"vec_id".as("query_id"), $"embedding".as("q"))
    val wd = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"vec_id")
    val dense = emb.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(qFull), Seq("query_id"))
      .select($"query_id", $"vec_id",
        round(Similarity.cosine($"q", $"embedding"), 6).as("cos_sim"))
      .withColumn("rk_dense", row_number().over(wd).cast("long"))
      .filter($"rk_dense" <= RrfCandK)
      .select($"query_id", $"vec_id".as("doc_id"), $"rk_dense")
    rrfFuse(lex, dense)
  }

  /** Full Gopher document-structure rule battery (Rae et al. 2021,
    * appendix A1.1) — the canonical pre-training filter set, joining
    * [[repetition]] (the duplicate-bigram rule) and [[qualityScore]]
    * (heuristic scoring) to complete the family: word-count bounds,
    * mean-word-length bounds, symbol-to-word ratio (# and …),
    * bullet-/ellipsis-line fractions, alphabetic-word fraction, and
    * the 8-word stop-list requirement, each as a signal column plus
    * one combined `keep` flag. All eight raw counts come from the
    * one-pass [[graft.functions.GopherCounts]] kernel (two byte scans,
    * no regex, no intermediate arrays) — pure map-side; the only
    * shuffle is the contractual ORDER BY, so the filter costs one
    * corpus read at any scale. Ratios floor-truncate at 4 decimals
    * with multiply-BEFORE-divide so DuckDB replicates them bit-for-bit
    * (counts are exact doubles < 2⁵³; one rounding per ratio). */
  def gopherQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withGopherSignals(Tables.documents(s, dir))
      .select($"doc_id", $"n_words", $"mean_word_len", $"symbol_ratio",
        $"alpha_frac", $"stop_hits", $"bullet_frac", $"ellipsis_frac",
        $"gopher_keep".as("keep"))
      .orderBy($"doc_id")
  }

  /** Append the Gopher signal columns (+ the combined `gopher_keep`
    * flag) to ANY frame with a `text` column — the composition form,
    * shared by [[gopherQuality]] and the data-card/streaming
    * pipelines so the rule thresholds cannot diverge. */
  def withGopherSignals(df: DataFrame): DataFrame = {
    def frac(num: Column, den: Column): Column =
      floor(num.cast("double") * 10000.0 / greatest(den, lit(1L)).cast("double")) / 10000.0
    val g = col("__g")
    df.withColumn("__g", TextFunctions.gopherCounts(col("text")))
      .withColumn("n_words", g.getItem(0))
      .withColumn("mean_word_len", frac(g.getItem(1), g.getItem(0)))
      .withColumn("symbol_ratio", frac(g.getItem(4), g.getItem(0)))
      .withColumn("alpha_frac", frac(g.getItem(2), g.getItem(0)))
      .withColumn("stop_hits", g.getItem(3))
      .withColumn("bullet_frac", frac(g.getItem(6), g.getItem(5)))
      .withColumn("ellipsis_frac", frac(g.getItem(7), g.getItem(5)))
      .withColumn("gopher_keep",
        (col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("symbol_ratio") < 0.1 && col("bullet_frac") < 0.9 &&
          col("ellipsis_frac") < 0.3 && col("alpha_frac") > 0.8 &&
          col("stop_hits") >= 2).cast("long"))
      .drop("__g")
  }

  /** Token counting under a REAL trained BPE vocabulary — the upgrade
    * over [[tokenCount]]'s regex proxy, and the count that actually
    * prices a corpus in model tokens. Two phases, the standard
    * tokenizer split:
    *
    *  1. TRAIN (artifact build): one distributed word-frequency
    *     aggregation, top-`vocabWords` words via TakeOrderedAndProject
    *     (a bounded artifact — the word-count dict is exactly what the
    *     reference BPE algorithm trains on), then `numMerges` merges
    *     learned driver-side ([[graft.functions.BpeTokenizer.train]],
    *     Sennrich et al. 2016). The collect is vocab-sized (KBs) by
    *     construction — at 100 TB you train on the same bounded dict,
    *     just aggregated from more rows.
    *  2. ENCODE: pure map-side [[graft.functions.BpeEncodeCount]]
    *     kernel; the merge table rides the expression like any
    *     shipped tokenizer vocab. No shuffle but the contractual
    *     ORDER BY.
    *
    * Rows-only in the driver contract (BPE isn't ANSI-SQL);
    * BpeSpec pins training on hand-computable dicts, kernel ≡ an
    * independent sequential-merge reference, and the compression
    * invariants. */
  def bpeTokenCount(s: SparkSession, dir: String, numMerges: Int = 200): DataFrame = {
    import s.implicits._
    val vocabWords = 2000
    val wordCounts = Tables.documents(s, dir)
      .select(explode(TextFunctions.tokenNgrams(lower($"text"), 1)).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"word").limit(vocabWords)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val merges = graft.functions.BpeTokenizer.train(wordCounts, numMerges)
    Tables.documents(s, dir)
      .select($"doc_id",
        TextFunctions.textStatsCounts($"text").getItem(1).as("ws_tokens"),
        graft.functions.BpeFunctions.bpeCount(lower($"text"), merges)
          .as("bpe_tokens"))
      .orderBy($"doc_id")
  }

  /** Quality scoring: length / punctuation-density / stopword-ratio
    * heuristics combined into one score in [0,1]. Pure arithmetic on
    * single values — bit-identical across engines. */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withQualityScore(Tables.documents(s, dir))
      .select($"doc_id", $"len_score", $"stop_ratio", $"punct_ratio", $"quality")
      .orderBy($"doc_id")
  }

  /** Append the quality score (and its component scores) to ANY frame
    * with a `text` column — one tokenization pass + one byte scan,
    * pure map-side. This is the composition form: a pipeline that
    * needs quality inline must never self-join against
    * [[qualityScore]]'s separate scan of the same table. The kernel
    * outputs are bound in a LOWER projection and referenced by name so
    * CollapseProject cannot duplicate the kernel call per consumer. */
  def withQualityScore(df: DataFrame): DataFrame = {
    // one tokenization pass yields [n_tokens, n_stopwords] (token count is
    // case-invariant, so counting on lower(text) matches the oracle's
    // split of the raw text)
    val counts = TextFunctions.tokenSetCounts(lower(col("text")),
      Seq(Seq("the", "a", "of", "to", "and", "is", "in", "that")))
    val nTok = col("__cnts").getItem(0).cast("double")
    val stop = col("__cnts").getItem(1).cast("double")
    val punct = col("__cs").getItem(2).cast("double")
    val lenScore = least(nTok / 64.0, lit(1.0))
    val stopRatio = stop / greatest(nTok, lit(1.0))
    val punctRatio = punct / greatest(col("__cs").getItem(0).cast("double"), lit(1.0))
    // floor-truncation instead of round(): identical double inputs give
    // identical floors in every engine, while round-half direction on
    // the weighted blend's frequent .00005 boundaries is engine-specific
    def trunc4(c: Column): Column = floor(c * 10000.0) / 10000.0
    df.withColumn("__cnts", counts)
      .withColumn("__cs", TextFunctions.textStatsCounts(col("text")))
      .withColumn("len_score", trunc4(lenScore))
      .withColumn("stop_ratio", trunc4(stopRatio))
      .withColumn("punct_ratio", trunc4(punctRatio))
      .withColumn("quality", trunc4(lenScore * 0.5 +
        least(stopRatio * 4.0, lit(1.0)) * 0.3 +
        (lit(1.0) - least(punctRatio * 10.0, lit(1.0))) * 0.2))
      // free byproduct of the same byte-scan — quality + token count is
      // the standard data-prep pair, so downstream consumers (the
      // composed pipeline) don't pay a second pass
      .withColumn("n_tokens", col("__cs").getItem(1))
      .drop("__cnts", "__cs")
  }

  /** Language-ID heuristic: score each candidate language by counting
    * its marker stopwords among the document's tokens; argmax wins,
    * ties broken by fixed language order (en < de < es < fr). A real
    * pipeline would swap in character-n-gram profiles; the *shape*
    * (map-side scoring, no shuffle) is the scale-relevant part. */
  def languageId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // all four marker sets counted in ONE tokenization pass (round 1 ran
    // four interpreted filter(split(...)) scans per document)
    val counts = TextFunctions.tokenSetCounts(lower($"text"), Seq(
      Seq("the", "and", "of", "to", "is", "in"),
      Seq("der", "die", "das", "und", "ist", "nicht"),
      Seq("el", "la", "de", "que", "y", "es"),
      Seq("le", "la", "de", "et", "est", "les")))
    val Seq(en, de, es, fr) = (1 to 4).map(i => $"cnts".getItem(i))
    val best = greatest(en, de, es, fr)
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", counts.as("cnts"))
      .select($"doc_id", $"lang".as("labeled_lang"),
        en.as("s_en"), de.as("s_de"), es.as("s_es"), fr.as("s_fr"),
        when(best === 0, "und")
          .when(en === best, "en")
          .when(de === best, "de")
          .when(es === best, "es")
          .otherwise("fr").as("pred_lang"))
      .orderBy($"doc_id")
  }

  /** Declared-vs-detected language AUDIT — the mislabeled-language
    * governance rollup (wrong lang tags poison per-language sampling
    * quotas, stratified splits and mixture weights, so every corpus
    * release audits tag agreement): the [[languageId]] confusion
    * matrix with each cell's share of its declared label in exact ppm
    * (integer division — the ev_transitions determinism trick).
    * Reuses languageId verbatim, so the audit and the detector cannot
    * drift; the matrix aggregates partial-side to ≤ |langs|² cells,
    * and the share window frames over those cells, never documents —
    * free at any corpus size beyond the detector's map-side pass. */
  def langAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    languageId(s, dir)
      .groupBy($"labeled_lang", $"pred_lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("share_ppm", expr(
        "n * 1000000L div sum(n) over (partition by labeled_lang)"))
      .orderBy($"labeled_lang", $"pred_lang")
  }

  /** Approximate heavy hitters: the top-k most frequent tokens via the
    * Misra-Gries sketch ([[graft.functions.MisraGries]]) — fixed
    * O(capacity) memory per partition, one mergeable sketch per
    * partition crosses the shuffle. capacity=64 exceeds this corpus's
    * vocabulary, so the sketch is exact here and the SQL oracle can
    * hash-check it; at 100 TB the same plan holds with bounded error. */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val capacity = 64
    val topK = 10
    val toks = WordCount.tokenize(Tables.documents(s, dir), "text")
    toks.agg(HeavyHitters.sketch($"word", capacity).as("sketch"))
      .select(explode($"sketch").as(Seq("word", "cnt")))
      .orderBy($"cnt".desc, $"word")
      .limit(topK)
  }

  /** Top bigrams (consecutive token pairs) across the corpus — the
    * n-gram counting backbone of LM data work. Bigram generation is
    * map-side via the one-pass [[graft.functions.TokenBigrams]] kernel
    * (the round-1 `transform(sequence, i -> element_at...)` HOF ran
    * interpreted and alone cost 10 s of the 36 s sf0.1 bench); counting
    * gets partial aggregation like the unigram path. */
  def topBigrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val topK = 20
    Tables.documents(s, dir)
      .select(explode(TextFunctions.tokenBigrams(lower($"text"))).as("bigram"))
      .groupBy($"bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"bigram")
      .limit(topK)
  }

  /** Intra-document repetition — the Gopher-style duplicate-n-gram
    * quality rule (Rae et al. 2021, "Scaling Language Models: ...
    * Gopher", §A1.1: documents whose n-grams repeat heavily are
    * boilerplate/spam and get filtered before training): per document,
    * the fraction of word bigrams that are repeats of an earlier
    * bigram. Pure map-side — the bigram array never explodes into
    * rows; `size`/`array_distinct` evaluate per document, so the only
    * shuffle is the contractual ORDER BY. dup_frac is floor-truncated
    * BEFORE the threshold compare (cross-engine round-half rule), and
    * the flag is emitted as BIGINT 0/1, not boolean, for driver dtype
    * parity. */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val threshold = 0.08
    val bg = TextFunctions.tokenBigrams(lower($"text"))
    Tables.documents(s, dir)
      .select($"doc_id", bg.as("bg"))
      .select($"doc_id",
        size($"bg").cast("long").as("n_bigrams"),
        size(array_distinct($"bg")).cast("long").as("n_distinct"))
      // (total - distinct)/max(total, 1), NOT 1 - distinct/max(total, 1):
      // the forms agree for total > 0, but a doc with no bigrams must
      // score 0, where the second form's guard denominator yields 1.0
      .withColumn("dup_frac",
        floor(($"n_bigrams" - $"n_distinct").cast("double") /
          greatest($"n_bigrams", lit(1L)).cast("double") * 10000.0) / 10000.0)
      .withColumn("repetitive",
        when($"dup_frac" >= threshold, 1L).otherwise(0L))
      .orderBy($"doc_id")
  }

  /** Rolling-hash document fingerprint (the brief's "fingerprinting
    * (rolling hash)" line): bottom-k of the polynomial rolling-hash
    * window values over the normalized text
    * ([[graft.functions.RollingMinK]], MOSS-style) — unlike the
    * whole-document digests in [[fingerprint]], shared substrings
    * produce shared fingerprint values, so near-dup candidates come
    * from an equi-join on exploded fingerprint values (bucketed, never
    * all-pairs), and an edit perturbs only the windows it touches.
    * Rows-only in the driver contract (2⁶⁴ wraparound arithmetic isn't
    * ANSI-SQL); PropertySpec pins the kernel against an independent
    * recompute-per-window reference and the overlap behavior on
    * planted near-dups. The sketch is EXPLODED to scalar
    * `(doc_id, fp)` rows — the exact shape the bucketed candidate
    * equi-join consumes, and scalar columns ride any downstream
    * harness (an `array<long>` column crashed the driver's hash
    * compare in round 5). */
  def rollingFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val window = 16
    val k = 8
    Tables.documents(s, dir)
      .select($"doc_id",
        explode(graft.functions.SketchFunctions.rollingMinK(
          Dedup.normText($"text"), window, k)).as("fp"))
      .orderBy($"doc_id", $"fp")
  }

  /** Benchmark decontamination — the n-gram-overlap check every LLM
    * training pipeline runs before training (the 13-gram rule of GPT-3
    * appendix C / PaLM / Llama; n scaled to this corpus's short
    * synthetic docs): a training document sharing any word n-gram with
    * the held-out benchmark set is contaminated and reported with its
    * distinct-overlap count. Here the "benchmark" is the md5-bucket
    * test split (tx_split's rule) so the check is self-contained and
    * oracle-checkable; production passes any benchmark table.
    *
    * Scale: the benchmark side is small by definition (MBs of eval
    * sets vs a 100 TB corpus), so its distinct n-gram set broadcasts
    * and the corpus-side explode streams map-side through the join —
    * the corpus never shuffles; only the HIT rows (rare) reach the
    * per-doc count aggregation. One [[graft.functions.TokenNgrams]]
    * kernel pass per side, no interpreted lambdas. */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hb = Sampling.hashBucket($"doc_id")
    val docs = Tables.documents(s, dir).select($"doc_id", hb.as("hb"),
      TextFunctions.tokenNgrams(lower($"text"), 4).as("grams"))
    // explode_outer, not explode: InferFiltersFromGenerate only fires
    // for INNER explodes, and the null/size guards it infers duplicate
    // the TokenNgrams call into the pushed-down Filter — 3 kernel
    // evals per row (a round-7 plan dump showed exactly that; PlanSpec
    // pins one eval per side). The outer variant emits one null-gram
    // row for empty/null gram arrays; the post-filter on the GENERATED
    // attribute is a cheap null check that restores inner-explode
    // semantics (real n-grams are never null), and the kernel runs once
    // per row in the lower Project.
    val bench = docs.filter($"hb" >= Sampling.HeldOutFrom)
      .select(explode_outer($"grams").as("gram"))
      .filter($"gram".isNotNull).distinct()
    docs.filter($"hb" < Sampling.TrainBelow)
      .select($"doc_id", explode_outer($"grams").as("gram"))
      .filter($"gram".isNotNull)
      .join(bench, "gram")
      .groupBy($"doc_id")
      .agg(count_distinct($"gram").as("n_hits"))
      .orderBy($"doc_id")
  }

  /** DSIR importance weighting (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling") — the published
    * technique for selecting raw pre-training data that LOOKS LIKE a
    * target domain: score every candidate document by the
    * log-likelihood ratio of its hashed-unigram features under a
    * target-domain LM vs a raw-source LM, then keep the high-ratio
    * band. Here the target domain is the md5-bucket split's tail
    * (hb ≥ `Sampling.HeldOutFrom`, the same rule tx_contamination uses for its
    * benchmark side) so the query is self-contained and
    * oracle-checkable; production passes any target corpus.
    *
    * Feature space is HASHED unigrams — bucket = first 3 md5 hex chars
    * of the token (4096 buckets, the paper's hashing trick at test
    * scale), so both LMs are FIXED-SIZE artifacts (≤ 4096 rows)
    * regardless of corpus size: they build in one token-explode
    * shuffle keyed on bucket (partial aggs collapse per bucket), then
    * broadcast into the scoring pass — the corpus side maps through
    * the join unshuffled and ships only per-doc partial sums, exactly
    * the [[lmScore]] envelope. Totals are two scalars (metadata-scale
    * collect). Smoothing is add-α on both LMs (α = `DsirAlpha`).
    *
    * `dsir_weight` is the doc's summed log-ratio, floor-truncated at 4
    * decimals (one rounding per output, [[lmScore]]'s ln-sum
    * tolerance); `keep = weight > 0` is the thresholded selection —
    * the paper samples via Gumbel top-k, which at scale is
    * weight + Gumbel noise through TakeOrderedAndProject, but a
    * deterministic threshold keeps the cross-engine gate exact.
    * Docs with zero tokens have no features and are absent (lmScore
    * contract). */
  private[graft] val dsirBuckets = 4096

  /** The two fixed-size DSIR LMs + totals, shared by the batch and
    * streaming deployments so they cannot diverge (the
    * `historyBloomMightHit` discipline): returns the ≤4096-row
    * (bucket, tgt, src) frame and the (tgtTot, srcTot) scalars. */
  private[graft] def dsirLm(s: SparkSession, dir: String): (DataFrame, Double, Double) = {
    import s.implicits._
    val hb = Sampling.hashBucket($"doc_id")
    val toks = Spread(Tables.documents(s, dir), $"doc_id")
      .select($"doc_id", hb.as("hb"),
        explode(TextFunctions.tokenNgrams(lower($"text"), 1)).as("tok"))
      .withColumn("bucket",
        conv(substring(md5($"tok"), 1, 3), 16, 10).cast("long"))
    // the limit is a SEMANTIC NO-OP (the grouping key is 3 md5 hex
    // chars — the aggregate cannot exceed 4096 rows) that makes the
    // cardinality bound structural: the registry-wide broadcast guard
    // accepts hints only on sides whose plan PROVES a cap, which is
    // exactly the discipline that keeps "I think it's small" hints
    // from OOMing at 100 TB.
    // localCheckpoint: the LM is read by the eager totals action below
    // AND broadcast into every consumer's scoring join — without the
    // materialization each position re-runs the corpus tokenize +
    // bucket aggregation. The frame is ≤4096 rows by construction, a
    // bounded artifact at any corpus size.
    val lm = toks.groupBy($"bucket").agg(
        sum(when($"hb" >= Sampling.HeldOutFrom, 1L).otherwise(0L)).as("tgt"),
        sum(when($"hb" < Sampling.HeldOutFrom, 1L).otherwise(0L)).as("src"))
      .limit(dsirBuckets)
      .localCheckpoint()
    // coalesce: an empty corpus must degrade to an empty result, not
    // unbox a null total (PropertySpec's empty-corpus battery)
    val tot = lm.agg(coalesce(sum($"tgt"), lit(0L)).cast("double"),
      coalesce(sum($"src"), lit(0L)).cast("double")).head()
    // re-cap the materialized frame (r21 ADVICE #3): localCheckpoint
    // rewrites the plan to a LogicalRDD, ERASING the GlobalLimit the
    // registry-wide broadcast guard proves the scoring join's hint
    // with — the guard would otherwise pass this side vacuously (and
    // now treats LogicalRDD leaves as unproven). A second limit over
    // the ≤4096-row RDD is a runtime no-op that keeps the cap
    // structural. Sorted, it plans as TakeOrderedAndProject: a bare
    // limit's generated code names its row counter from a JVM-wide id
    // (`_limit_counter_<n>`), so its stage had new source, and
    // recompiled, on every run.
    (lm.orderBy($"bucket").limit(dsirBuckets), tot.getDouble(0), tot.getDouble(1))
  }

  /** The LMs collapsed into the dense per-bucket log-ratio table the
    * [[graft.functions.DsirLlr]] kernel scores with — entries computed
    * with the IDENTICAL operand order the SQL scoring join uses, so
    * kernel and SQL scores are bit-equal per token. Absent buckets
    * fall back to the pure-smoothing ratio (a token never seen at
    * LM-build time — the streaming-ingestion case).
    *
    * Memoized per dir: the LM is a frozen
    * ARTIFACT — production builds it once and every consumer (batch
    * scoring, streaming ingestion, the selection pipeline) reuses it,
    * so rebuilding it per query would misstate the deployment cost.
    * Assumes corpus dirs are immutable for the session (true of a
    * lake snapshot and of every test fixture — temp dirs are unique
    * per run). */
  private val llrTableCache = new graft.Artifacts.Memo[String, Seq[Double]](cap = 8)

  private[graft] def dsirLlrTable(s: SparkSession, dir: String): Seq[Double] = {
    llrTableCache(s, dir) {
      val (lm, tgtTot, srcTot) = dsirLm(s, dir)
      val denomT = tgtTot + DsirAlpha * dsirBuckets
      val denomS = srcTot + DsirAlpha * dsirBuckets
      val table = Array.fill(dsirBuckets)(
        math.log((DsirAlpha / denomT) / (DsirAlpha / denomS)))
      lm.collect().foreach { r =>
        table(r.getLong(0).toInt) =
          math.log(((r.getLong(1).toDouble + DsirAlpha) / denomT) /
                   ((r.getLong(2).toDouble + DsirAlpha) / denomS))
      }
      table.toSeq
    }
  }

  def dsir(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hb = Sampling.hashBucket($"doc_id")
    val toks = Spread(Tables.documents(s, dir), $"doc_id")
      .select($"doc_id", hb.as("hb"),
        explode(TextFunctions.tokenNgrams(lower($"text"), 1)).as("tok"))
      .withColumn("bucket",
        conv(substring(md5($"tok"), 1, 3), 16, 10).cast("long"))
    val (lm, tgtTot, srcTot) = dsirLm(s, dir)
    val denomT = tgtTot + DsirAlpha * dsirBuckets
    val denomS = srcTot + DsirAlpha * dsirBuckets
    val scored = toks.filter($"hb" < Sampling.HeldOutFrom)
      .join(broadcast(lm), Seq("bucket"))
      .withColumn("llr",
        log((($"tgt".cast("double") + DsirAlpha) / denomT) /
            (($"src".cast("double") + DsirAlpha) / denomS)))
    scored.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (floor(sum($"llr") * 10000.0) / 10000.0).as("dsir_weight"))
      .withColumn("keep", when($"dsir_weight" > 0.0, 1L).otherwise(0L))
      .select($"doc_id", $"n_tokens", $"dsir_weight", $"keep")
      .orderBy($"doc_id")
  }

  /** DSIR resampling (`tx_dsir_sample`) — the paper's actual selection
    * step on top of [[dsir]]'s importance weights: Gumbel top-k, which
    * draws k documents WITHOUT replacement with probability
    * ∝ exp(weight) by ranking weight + Gumbel noise and keeping the
    * top k (the Gumbel-max trick; Xie et al. 2023 §2.2). Noise is
    * DETERMINISTIC — u(doc_id) from the doc's md5 (4 hex chars,
    * (v+1)/65537 ∈ (0,1)), g = −ln(−ln u) — so the sample is
    * reproducible run-to-run and testable. The global top-k compiles
    * to TakeOrderedAndProject (per-partition heaps, k rows to the
    * driver — never a global sort or single-partition window).
    *
    * Rows-only in the driver contract BY CHOICE: ranking raw doubles
    * cross-engine is exactly where hash-compare oracles are fragile
    * (a 1e-15 disagreement near the rank-k boundary flips the set), so
    * the gate is a spec instead — PropertySpec recomputes the exact
    * top-k from [[dsir]]'s own output driver-side and requires set
    * equality, plus determinism across two runs. */
  def dsirSample(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    import s.implicits._
    val u = (conv(substring(md5($"doc_id".cast("string")), 29, 4), 16, 10)
      .cast("double") + lit(1.0)) / lit(65537.0)
    dsir(s, dir)
      .withColumn("gumbel_key", $"dsir_weight" - log(-log(u)))
      .orderBy($"gumbel_key".desc, $"doc_id")
      .limit(k)
      .select($"doc_id", $"n_tokens", $"dsir_weight",
        (floor($"gumbel_key" * 10000.0) / 10000.0).as("gumbel_key"))
  }

  /** Bigram-LM quality scoring — the perplexity-proxy filter of
    * CCNet/KenLM pipelines (Wenzek et al. 2020): score each document
    * by the average negative log-likelihood of its word bigrams under
    * a corpus-level add-one-smoothed bigram model; boilerplate and
    * natural text separate cleanly on this score, and filtering keeps
    * the low-nll band.
    *
    * Scale design mirrors how KenLM is actually deployed: the model is
    * a FIXED-SIZE artifact — the top `maxLm` bigrams by count
    * (deterministic tie-break) — so it broadcasts, the corpus-side
    * bigram stream maps through the join unshuffled (bigrams absent
    * from the pruned model fall back to the smoothing floor, exactly
    * KenLM's backoff role), and the per-doc aggregation ships partial
    * sums only. The unigram (prefix) table is vocabulary-bounded and
    * broadcasts too. Building the model itself is one bigram-count
    * shuffle — the LM training pass, paid once.
    *
    * nll is floor-truncated to 4 decimals (cross-engine round rule);
    * docs with no bigrams have no defined score and are absent. */
  def lmScore(s: SparkSession, dir: String, maxLm: Int = 100000): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val bi = docs.select($"doc_id",
      explode(TextFunctions.tokenBigrams(lower($"text"))).as("bigram"))
    val uni = docs.select(
      explode(TextFunctions.tokenNgrams(lower($"text"), 1)).as("prefix"))
      .groupBy($"prefix").agg(count(lit(1)).as("uc"))
    // V for smoothing: the vocabulary size scalar (metadata-scale)
    val vocab = uni.count()
    // top-K by (count, bigram): orderBy+limit compiles to
    // TakeOrderedAndProject (per-partition heaps) — NOT a global
    // window, which the registry-wide plan guard forbids
    val lm = bi.groupBy($"bigram").agg(count(lit(1)).as("bc"))
      .orderBy($"bc".desc, $"bigram")
      .limit(maxLm)
      .select($"bigram", $"bc")
    val scored = bi
      .join(lm, Seq("bigram"), "left")
      .withColumn("prefix", substring_index($"bigram", " ", 1))
      .join(uni, "prefix")
      .withColumn("ll",
        log((coalesce($"bc", lit(0L)) + lit(1L)).cast("double") /
          ($"uc" + lit(vocab)).cast("double")))
    scored.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (floor(-sum($"ll") / count(lit(1)) * 10000.0) / 10000.0).as("avg_nll"))
      .orderBy($"doc_id")
  }

  /** CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020,
    * §4.3): the corpus-relative split downstream of [[lmScore]] —
    * documents are banded into equal-mass tertiles of the LM score,
    * and training mixes sample by band (head = most fluent). Cutoffs
    * come from `percentile_approx` — the MERGEABLE quantile sketch,
    * each partition shipping one bounded summary — never a global
    * sort/window; the two cut values are a scalar artifact (the
    * k-means-centroid scalar-pull pattern), and band assignment is a
    * map-side comparison. At this fixture's size the sketch error is
    * zero (accuracy ≫ rows); at 100 TB the bands are approximate by
    * design — CCNet computes its cutoffs on a sample. Rows-only in
    * the driver contract (sketch cutoffs aren't ANSI-SQL);
    * PropertySpec gates band balance, boundary monotonicity and
    * determinism. */
  def ccnetBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val accuracy = 10000
    val scored = lmScore(s, dir)
    // empty corpus: the sketch aggregates to a NULL array — degrade to
    // placeholder cutoffs (the frame is empty, so they band nothing)
    val cuts = Option(scored.agg(percentile_approx($"avg_nll",
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(accuracy)).as("c"))
      .head().getSeq[Double](0)).getOrElse(Seq(0.0, 0.0))
    scored.withColumn("bucket",
        when($"avg_nll" <= cuts(0), "head")
          .when($"avg_nll" <= cuts(1), "middle")
          .otherwise("tail"))
      .select($"doc_id", $"avg_nll", $"bucket")
      .orderBy($"doc_id")
  }

  /** TF-IDF top terms per document — the classical distinctive-term
    * scorer (tf × smoothed idf, Salton & Buckley 1988). Plan shape at
    * scale: one (doc_id, term) count shuffle, REUSED by the
    * document-frequency branch (see below); the df table is
    * vocabulary-sized and re-attaches by an equi-join whose probe side
    * AQE can skew-split; the corpus count is a metadata scalar.
    * Cross-engine determinism: tfidf is floor-truncated to 6 decimals
    * BEFORE ranking, and ties (identical (c, len, df) triples give
    * bit-identical doubles in both engines) break by term order. */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // corpus size for idf: at 100 TB this is table-metadata rowCount,
    // not a scan (same scalar-pull pattern as k-means centroids)
    tfidfOver(s, docs, docs.count(), TfidfTopK)
  }

  /** [[tfidf]] over an arbitrary `(doc_id, text)` frame — the shared
    * core that lets the clean-then-index composition
    * ([[Pipeline.cleanThenIndex]]) run the SAME scorer over the
    * excised corpus. `n` is the corpus row count, passed in so the
    * caller chooses the cheapest source (table metadata for a lake
    * table; the pre-excision document count for the excise frame,
    * which preserves row cardinality by construction). */
  private[graft] def tfidfOver(s: SparkSession, docs: DataFrame, n: Long,
                               topK: Int): DataFrame = {
    import s.implicits._
    // ONE scan/tokenization: document length is computed on the token
    // array BEFORE the explode and rides along. Document frequency is
    // a groupBy(term) partial aggregation over the compact
    // (doc, term) count frame, re-attached by joining back on the SAME
    // exchange (ReusedExchange, the dd_spans marking shape) — NOT
    // `count over (partition by term)`: a stop-word term appears in
    // essentially every document, so its window partition is O(|docs|)
    // rows in ONE unsplittable WindowExec task that sorts and buffers
    // them all (AQE skew-split divides sort-merge JOIN partitions,
    // not window partitions, and no WindowGroupLimit applies to a
    // count). The partial aggregate absorbs that skew map-side, and
    // the re-attach join's probe side IS skew-splittable.
    // explode_outer + null check on the GENERATED attribute, not inner
    // explode: InferFiltersFromGenerate's inferred guards would inline
    // the tokenization into the pushed-down Filter (3 evals/row — the
    // tx_contamination/bm25 class; builtins dodge the graft_* registry
    // guard, so the plan pin in PlanSpec holds the line here)
    val terms = docs
      .select($"doc_id", array_remove(split(lower($"text"), "\\s+"), "").as("toks"))
      .select($"doc_id", size($"toks").cast("long").as("len"),
        explode_outer($"toks").as("term"))
      .filter($"term".isNotNull)
    val tc = terms.groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("c"), first($"len").as("len"))
    // The two trailing max aggregates and their tautological guards
    // (counts, lengths and ids are never negative) are PLAN-SHAPING,
    // not logic: exchange reuse requires the two consumers' subtrees
    // to stay canonically identical, and ColumnPruning would otherwise
    // specialize the df branch's partial aggregate down to {term},
    // planning a SECOND corpus scan+tokenize. Cost: three 8-byte max
    // accumulators per distinct (doc, term), map-side.
    // counts and sizes are provably non-negative; the id guard uses
    // Long.MinValue so a caller feeding synthetic NEGATIVE doc_ids
    // (tfidfOver is reachable with arbitrary frames) can never have
    // terms silently deleted by a plan-shaping trick
    val dfreq = tc.groupBy($"term")
      .agg(count(lit(1)).as("df"),
        max($"c").as("_mc"), max($"len").as("_ml"), max($"doc_id").as("_md"))
      .filter($"_mc" >= 0L && $"_ml" >= 0L && $"_md" >= Long.MinValue)
      .select($"term", $"df")
    val withDf = tc.join(dfreq, Seq("term"))
    // Spark log() is natural log, matching DuckDB ln() (DuckDB log()
    // is log10 — the oracle must NOT use it)
    val scored = withDf.withColumn("tfidf",
      floor($"c".cast("double") / $"len".cast("double") *
        log(lit(n + 1.0) / ($"df".cast("double") + 1.0)) * 1000000.0) / 1000000.0)
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= topK)
      .select($"doc_id", $"term", $"rk", $"tfidf")
      .orderBy($"doc_id", $"rk")
  }

  /** Sequence packing — the LM-training batching prep step: assign
    * docs to fixed-token-budget packs. Offset-based rule (a doc's pack
    * is its starting cumulative-token offset ÷ budget) — deterministic,
    * one window pass, and crucially PER-SHARD: packing is partitioned
    * by a hash shard so there is no global-order single-partition
    * window (the scale-killer a naive global pack would plan). At
    * 100 TB each shard packs independently in parallel; consumers read
    * (shard, pack_id) groups.
    *
    * `shards` caps the window parallelism, so it must scale with the
    * cluster, not sit at a constant: `shards <= 0` (the default)
    * derives it from `spark.graft.pack.shards` if set, else the
    * context's default parallelism. A pinned positive value gives
    * reproducible (shard, pack_id) assignments across cluster sizes —
    * the registry pins 8 to match its DuckDB oracle (`doc_id % 8`);
    * equivalence of the pinned and conf-derived paths at equal shard
    * count is spec-checked in PropertySpec. */
  def sequencePack(s: SparkSession, dir: String, shards: Int = 0): DataFrame = {
    import s.implicits._
    val nShards =
      if (shards > 0) shards
      else s.conf.getOption("spark.graft.pack.shards").map { v =>
        val n = try v.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.pack.shards must be a positive int, got '$v'")
        }
        // 0 here would make `doc_id % shards` fail (ANSI divide-by-zero)
        // or collapse every doc into one single-partition window
        require(n > 0, s"spark.graft.pack.shards must be positive, got $n")
        n
      }.getOrElse(s.sparkContext.defaultParallelism)
    assignPacks(
      Tables.documents(s, dir).select($"doc_id",
        TextFunctions.textStatsCounts($"text").getItem(1).as("n_tokens")),
      PackBudget, nShards)
      .select($"doc_id", $"shard", $"pack_id", $"n_tokens")
      .orderBy($"doc_id")
  }

  /** Offset-based pack assignment — THE packing rule, shared by
    * [[sequencePack]] and the composed pipeline so it cannot silently
    * diverge between oracle-pinned queries: adds (shard, pack_id) to
    * any frame with `doc_id` and `n_tokens` columns (other columns
    * preserved). A doc's pack is its starting cumulative-token offset
    * within its shard ÷ budget — deterministic, one per-shard window
    * pass, never a global-order window. */
  private[operators] def assignPacks(df: DataFrame, budget: Long,
                                     shards: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.withColumn("shard", col("doc_id") % shards)
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("pack_id", floor((col("cum") - col("n_tokens")) / budget).cast("long"))
      .drop("cum")
  }

  /** Temperature-weighted domain mixing — the sampling-weight table
    * every multi-source training run needs (the α-smoothed mixture of
    * GPT-3 / XLM-R: raw token shares p_s are flattened to
    * p_s^α / Σ p_s^α so low-resource domains aren't drowned; α=1 is
    * proportional, α=0 uniform). Emits per source: doc/token counts,
    * raw token share, and the α=`temperature` mixture weight.
    *
    * Plan shape: one per-source partial-agg shuffle over the corpus;
    * the normalizing scalars (total tokens, Σ p^α) come from a second
    * aggregation over the per-source frame that packs the per-source
    * rows into a `collect_list` alongside the two sums, then explodes
    * them back out — a single scan, no join at all. (A constant-key
    * join here constant-folds into a BroadcastNestedLoopJoin and
    * trips the registry NLJ guard; the pack/explode sidesteps it. The
    * list is bounded by the number of SOURCES — a domain constant,
    * ~20 here, ≪10⁴ in any real corpus — not by data volume, so the
    * one-row pack is safe at 100 TB.) Never a global window, never a
    * driver-side collect. Weights round at 6 decimals: the only
    * cross-engine nondeterminism is summation order in Σ p^α, an ulp
    * (~1e-16) against a 1e-6 grid. */
  def mixtureWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val temperature = 0.5
    val per = Tables.documents(s, dir)
      .select($"source", TextFunctions.textStatsCounts($"text").getItem(1).as("nt"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tokens"))
    per.agg(
      collect_list(struct($"source", $"n_docs", $"n_tokens")).as("rows"),
      sum($"n_tokens").cast("double").as("t"),
      sum(pow($"n_tokens".cast("double"), temperature)).as("z"))
      .select(explode($"rows").as("r"), $"t", $"z")
      .select($"r.source", $"r.n_docs", $"r.n_tokens",
        round($"r.n_tokens".cast("double") / $"t", 6).as("token_share"),
        round(pow($"r.n_tokens".cast("double"), temperature) / $"z", 6).as("weight"))
      .orderBy($"source")
  }

  /** Compression-ratio quality signal — the zlib heuristic of
    * Gopher/Dolma-class pipelines (text that deflates far below
    * natural prose is repetitive boilerplate; text that barely
    * deflates is noise/binary): deflated bytes ÷ raw bytes per
    * document via the [[graft.functions.DeflatedLen]] kernel, which
    * emits only the LENGTH (compressed bytes never materialize in a
    * row). Pure map-side — the only shuffle is the contractual ORDER
    * BY. Rows-only in the driver contract (no SQL engine exposes
    * deflate); the kernel is gated in PropertySpec against a direct
    * java.util.zip recompute and on ordering semantics (repetitive ≪
    * natural ≪ incompressible). */
  def compressionRatio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val threshold = 0.5
    Tables.documents(s, dir)
      .select($"doc_id",
        octet_length($"text").cast("long").as("n_bytes"),
        TextFunctions.deflateLen($"text").as("deflate_len"))
      .withColumn("ratio",
        floor($"deflate_len".cast("double") /
          greatest($"n_bytes", lit(1L)).cast("double") * 10000.0) / 10000.0)
      .withColumn("low_entropy", when($"ratio" < threshold, 1L).otherwise(0L))
      .orderBy($"doc_id")
  }

  /** Run-length pass over a SORTED string array, the building block of
    * the Gopher repetition battery: returns `struct(top, dup)` where
    * `top` is the char mass (occurrence count × element char length)
    * of the most frequent element — ties on count break toward the
    * longer element; ties on (count, length) carry identical mass, so
    * no further break is needed — and `dup` is the summed char mass of
    * every element occurring at least twice. One `functions.aggregate`
    * HOF: pure map-side per-row work, no shuffle, no UDF; the array is
    * doc-sized, never corpus-sized. */
  private def runMass(sorted: Column): Column = {
    // close the open run: fold it into best-run / duplicate mass
    def close(acc: Column): (Column, Column, Column) = {
      val run = acc("run")
      val plen = length(acc("prev")).cast("long")
      val better = run > acc("bestRun") ||
        (run === acc("bestRun") && plen > acc("bestLen"))
      (when(better, run).otherwise(acc("bestRun")),
        when(better, plen).otherwise(acc("bestLen")),
        acc("dup") + when(run >= 2L, run * plen).otherwise(lit(0L)))
    }
    aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("bestRun"), lit(0L).as("bestLen"), lit(0L).as("dup")),
      (acc, x) => {
        val (bR, bL, d) = close(acc)
        when(x === acc("prev"),
          struct(acc("prev").as("prev"), (acc("run") + 1L).as("run"),
            acc("bestRun").as("bestRun"), acc("bestLen").as("bestLen"),
            acc("dup").as("dup")))
          .otherwise(struct(x.as("prev"), lit(1L).as("run"),
            bR.as("bestRun"), bL.as("bestLen"), d.as("dup")))
      },
      acc => {
        val (bR, bL, d) = close(acc)
        struct((bR * bL).as("top"), d.as("dup"))
      })
  }

  /** Gopher repetition-rule thresholds (Rae et al. 2021, table A1):
    * a document is removed when any fraction EXCEEDS its threshold. */
  private[operators] val repTopThresholds =
    Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  private[operators] val repDupThresholds =
    Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)

  /** Append the full Gopher repetition signal battery (Rae et al.
    * 2021, appendix A1.2) to ANY frame with a `text` column — the
    * char-mass completion of [[repetition]]'s single duplicate-bigram
    * rule: duplicate-line fraction (count-based) and duplicate-line
    * CHARACTER fraction, the char fraction of the most frequent
    * {2,3,4}-gram, and the char fraction inside duplicated
    * {5..10}-grams, plus the combined `rep_keep` flag at the paper's
    * thresholds. All fractions are over the document's char length,
    * floor-truncated at 4 decimals (multiply-before-divide) and capped
    * at 1.0 — overlapping n-gram occurrences can claim more chars than
    * the document holds, which the paper's prose elides; the cap makes
    * the semantics total. All nine n-gram masses come from ONE
    * [[graft.functions.NgramRepMass]] kernel pass over lowercased text
    * (`[top2, dup2, …, top10, dup10]`); only the line stats use a
    * [[runMass]] HOF fold — documents have few lines, so the
    * interpreted fold is off the hot path there. The whole battery is
    * embarrassingly parallel map-side work — the scale cost is one
    * corpus read, same as [[gopherQuality]]. */
  def withRepetitionSignals(df: DataFrame): DataFrame = {
    def frac(mass: Column, den: Column): Column =
      least(floor(mass.cast("double") * 10000.0 / den.cast("double")) / 10000.0,
        lit(1.0))
    val len = greatest(length(col("text")), lit(1)).cast("long")
    val lines = split(col("text"), "\n")
    val rep = col("__rep")
    def top(n: Int): Column = rep.getItem((n - 2) * 2)
    def dup(n: Int): Column = rep.getItem((n - 2) * 2 + 1)
    val withSigs = df
      .withColumn("__len", len)
      .withColumn("__nl", greatest(size(lines), lit(1)).cast("long"))
      .withColumn("__ndupl",
        (size(lines) - size(array_distinct(lines))).cast("long"))
      .withColumn("__lmass", runMass(array_sort(lines)))
      .withColumn("__rep", TextFunctions.ngramRepMass(lower(col("text"))))
      .withColumn("dup_line_frac", frac(col("__ndupl"), col("__nl")))
      .withColumn("dup_line_char_frac", frac(col("__lmass")("dup"), col("__len")))
    val withFracs = (2 to 4).foldLeft(withSigs) { (d, n) =>
      d.withColumn(s"top${n}_frac", frac(top(n), col("__len")))
    }
    val withDups = (5 to 10).foldLeft(withFracs) { (d, n) =>
      d.withColumn(s"dup${n}_frac", frac(dup(n), col("__len")))
    }
    val keep = (col("dup_line_frac") <= 0.30 &&
      col("dup_line_char_frac") <= 0.20 &&
      repTopThresholds.map { case (n, t) => col(s"top${n}_frac") <= t }
        .reduce(_ && _) &&
      repDupThresholds.map { case (n, t) => col(s"dup${n}_frac") <= t }
        .reduce(_ && _)).cast("long")
    withDups.withColumn("rep_keep", keep)
      .drop("__len", "__nl", "__ndupl", "__lmass", "__rep")
  }

  /** The Gopher repetition battery as a registry query over the
    * documents table — see [[withRepetitionSignals]]. Oracle-checked:
    * DuckDB replicates every fraction cell-exact from exploded n-gram
    * counts; the Spark side never explodes (doc-local HOF folds), so
    * the oracle also cross-checks the [[runMass]] fold against an
    * independent group-and-count formulation. */
  def gopherRepetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withRepetitionSignals(Spread(Tables.documents(s, dir), $"doc_id"))
      .select($"doc_id" +: $"dup_line_frac" +: $"dup_line_char_frac" +:
        $"top2_frac" +: $"top3_frac" +: $"top4_frac" +:
        (5 to 10).map(n => col(s"dup${n}_frac")) :+ $"rep_keep": _*)
      .orderBy($"doc_id")
  }

  /** Model-based quality filter — the classifier stage of a GPT-3 /
    * DCLM-class pipeline (Brown et al. 2020 appendix A; a deployed
    * pipeline scores with a trained LR/fastText model): a linear
    * scorer over the pipeline's OWN heuristic signal columns
    * ([[withQualityScore]] + [[withGopherSignals]], one scan) with the
    * trained coefficient vector shipped as constants — swapping
    * weights is a config change, the plan shape (map-side
    * multiply-add) is the deployment-relevant part. Emits the raw
    * logit rather than a sigmoid: every input feature is already
    * floor-truncated to the 1e-4 grid, so the multiply-add chain is
    * bit-identical cross-engine, while `exp()` is libm-dependent — and
    * the logit carries the same decision boundary (keep ⇔ logit > 0).
    */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val logit = lit(-2.25) + $"len_score" * 1.5 + $"stop_ratio" * 3.0 -
      $"punct_ratio" * 4.0 + $"alpha_frac" * 1.0 - $"symbol_ratio" * 5.0
    withGopherSignals(withQualityScore(Tables.documents(s, dir)))
      .select($"doc_id",
        (floor(logit * 10000.0) / 10000.0).as("logit"),
        (logit > 0.0).cast("long").as("keep"))
      .orderBy($"doc_id")
  }

  /** Per-source document cap — the RefinedWeb-style provenance cap
    * (Penedo et al. 2023 cap pages per domain so no single source
    * dominates the mixture): each source contributes at most `cap`
    * documents, keeping its highest-quality ones (ties → lower
    * doc_id). One scan + ONE hash shuffle on `source`; the rank
    * filter prunes through WindowGroupLimit, so no task ever
    * materializes more than `cap` rows per source — at 100 TB the
    * per-source state is the cap, not the source's document count.
    * The quality column is [[withQualityScore]]'s, riding the same
    * scan (no self-join). */
  def sourceCap(s: SparkSession, dir: String, cap: Int = 10): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"source").orderBy($"quality".desc, $"doc_id")
    withQualityScore(Tables.documents(s, dir))
      .select($"doc_id", $"source", $"quality")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= cap)
      .orderBy($"source", $"rk")
  }

  /** Scrubbing pass (PII-redaction shape): count and redact digit runs
    * of 3+ (the stand-in for phone/SSN patterns — the regex is RE2-safe
    * so the oracle applies the identical pattern). Map-side only. */
  def scrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        size(regexp_extract_all($"text", lit("[0-9]{3,}"), lit(0)))
          .cast("long").as("n_redacted"),
        length(regexp_replace($"text", "[0-9]{3,}", "#")).cast("long")
          .as("scrubbed_len"),
        md5(regexp_replace($"text", "[0-9]{3,}", "#")).as("scrubbed_md5"))
      .orderBy($"doc_id")
  }

  /** Typed PII redaction — the full scrubbing battery every released
    * training set runs (C4/Dolma-class), upgrading [[scrub]]'s single
    * digit-run rule: emails, URLs, IPv4 literals, and residual 3+
    * digit runs, each counted and replaced with a typed placeholder.
    * The four rules CASCADE in that order on the progressively
    * scrubbed text, so a category never double-counts content an
    * earlier rule already claimed (digits inside a URL are `<URL>`,
    * not `<NUM>`; an address inside a URL is caught by the email rule
    * first). Patterns are RE2-safe (no backreferences or lookaround,
    * `[0-9]` classes, leftmost-greedy only) so the DuckDB oracle
    * applies the IDENTICAL strings and the scrubbed md5 hash-matches
    * cell-exact. The IPv4 rule is a scrub, not a validator (999.9.9.9
    * redacts too — by design). Pure map-side; one pass per rule over
    * codegen'd `regexp_replace`/`regexp_extract_all`. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[^ \\t\\n\\r]+"
    val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val num = "[0-9]{3,}"
    Spread(Tables.documents(s, dir), $"doc_id")
      .select($"doc_id", $"text")
      .withColumn("n_email",
        size(regexp_extract_all($"text", lit(email), lit(0))).cast("long"))
      .withColumn("t1", regexp_replace($"text", email, "<EMAIL>"))
      .withColumn("n_url",
        size(regexp_extract_all($"t1", lit(url), lit(0))).cast("long"))
      .withColumn("t2", regexp_replace($"t1", url, "<URL>"))
      .withColumn("n_ip",
        size(regexp_extract_all($"t2", lit(ip), lit(0))).cast("long"))
      .withColumn("t3", regexp_replace($"t2", ip, "<IP>"))
      .withColumn("n_num",
        size(regexp_extract_all($"t3", lit(num), lit(0))).cast("long"))
      .withColumn("scrubbed", regexp_replace($"t3", num, "<NUM>"))
      .select($"doc_id", $"n_email", $"n_url", $"n_ip", $"n_num",
        length($"scrubbed").cast("long").as("scrubbed_len"),
        md5($"scrubbed").as("scrubbed_md5"))
      .orderBy($"doc_id")
  }

  /** Document fingerprinting: full-content hashes (md5/sha2 built-ins,
    * codegen'd) — the exact-dedup join keys. */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(
        $"doc_id",
        md5($"text").as("md5_hex"),
        sha2($"text", 256).as("sha256_hex"))
      .orderBy($"doc_id")
  }
}
