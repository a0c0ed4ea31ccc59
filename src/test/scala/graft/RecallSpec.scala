package graft

import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Systematic recall gates for the queries the driver can only
  * rows-check (not ANSI-expressible): the approximate operators must
  * stay provably close to their exact counterparts, so a refactor that
  * silently destroys recall fails CI instead of shipping.
  *
  * Everything here is deterministic — fixed vectors, fixed hyperplanes,
  * fixed hash seeds — so the measured recalls are exact reproducible
  * numbers, and each threshold is set just under the measured value.
  */
class RecallSpec extends SparkSpec {
  import spark.implicits._

  private def topkPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Full (query_id, vec_id, cos_sim, rk) extraction of a serve-shaped
    * result — ONE copy for every exact-parity gate (review r13: four
    * inline copies made a schema change a four-edit hazard). */
  private def servedRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq

  test("multi-table sign-LSH top-k recall vs exact brute force") {
    val truth = topkPairs(Similarity.bruteForceTopK(spark, sfDir, numQueries = 10, topK = 5))
    val got = topkPairs(Similarity.lshTopK(spark, sfDir, numQueries = 10, topK = 5))
    val recall = (got & truth).size.toDouble / truth.size
    info(f"lsh recall@5 = $recall%.3f (${(got & truth).size}/${truth.size})")
    // measured 0.460 on the isotropic sf0.001 fixture — random vectors
    // are the worst case for sign-LSH (true neighbors sit at cos ≈ 0.5,
    // barely above the bulk); a real embedding corpus with clustered
    // near-dups recalls far higher. The gate protects against silent
    // collapse (e.g. a plane-seeding bug → recall ≈ bucket-collision
    // chance ≈ 0.1), not against the fixture's geometry.
    assert(recall >= 0.40, f"LSH recall collapsed: $recall%.3f")
  }

  test("IVF top-k recall vs exact brute force") {
    val truth = topkPairs(Similarity.bruteForceTopK(spark, sfDir, numQueries = 10, topK = 5))
    val got = topkPairs(Similarity.ivfTopK(spark, sfDir, numQueries = 10, topK = 5))
    val recall = (got & truth).size.toDouble / truth.size
    info(f"ivf recall@5 = $recall%.3f (${(got & truth).size}/${truth.size})")
    // measured 0.940 (nProbe=4 of nLists=16 → 25% of lists probed)
    assert(recall >= 0.85, f"IVF recall collapsed: $recall%.3f")
  }

  test("k-means-trained IVF top-k recall vs exact brute force") {
    val truth = topkPairs(Similarity.bruteForceTopK(spark, sfDir, numQueries = 10, topK = 5))
    val got = topkPairs(Similarity.ivfTrainedTopK(spark, sfDir))
    val recall = (got & truth).size.toDouble / truth.size
    // measured 0.860: k-means balances list sizes on isotropic data, so
    // probing 4/16 lists covers slightly fewer true neighbors than the
    // unbalanced seed assignment (0.940) — the win appears on clustered
    // corpora; the gate catches collapse, not geometry
    info(f"trained ivf recall@5 = $recall%.3f (${(got & truth).size}/${truth.size})")
    assert(recall >= 0.80, f"trained IVF recall collapsed: $recall%.3f")
  }

  test("MinHash-LSH pair recall vs exact n-gram Jaccard on planted near-dups") {
    // 40 unrelated docs + 20 planted near-dup pairs. Doc bodies are
    // hex words derived from the doc index so documents with different
    // indices share almost no 5-gram shingles — the planted pairs (one
    // appended word on a ~100-char doc, true Jaccard ≈ 0.9) are the
    // ONLY true near-dups.
    val dir = tempDir("recall-lsh")
    def words(seed: Long, n: Int): String =
      (0 until n).map(j => ((seed * 31 + j + 1) * 2654435761L).toHexString).mkString(" ")
    val fillers = (0L until 40L).map(i => (i, s"bg ${words(i, 10)}"))
    val pairs = (0 until 20).flatMap { p =>
      val base = s"dup ${words(1000L + p, 10)}"
      Seq((100L + 2 * p, base), (101L + 2 * p, base + " nightly"))
    }
    (fillers ++ pairs).toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    // ground truth: exact 5-gram Jaccard ≥ 0.7 over ALL pairs (same
    // shingle size as the minhash signature)
    val truth = Dedup.ngramJaccard(spark, dir, k = 5, maxId = 1000, threshold = 0.7)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size == 20, s"fixture must plant exactly 20 true pairs, got ${truth.size}")
    val got = Dedup.minhashLsh(spark, dir)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & truth).size.toDouble / truth.size
    info(f"minhash-lsh pair recall = $recall%.3f (${(got & truth).size}/${truth.size})")
    assert(recall >= 0.90, f"MinHash-LSH recall collapsed: $recall%.3f")
  }

  test("embedding near-dup recall vs brute-force pair scan at the same threshold") {
    // exact truth: every pair with cosine >= 0.4, computed driver-side
    // over the full 500-vector fixture (125k pairs — trivial here, the
    // thing the LSH-bucketed operator exists to avoid at scale)
    val emb = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as e")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length && i < b.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // round the truth-side cosine exactly like the operator
    // (round(cos, 6) >= threshold): comparing a rounded operator score
    // against an unrounded truth would misclassify pairs in the
    // half-ulp band below the threshold as false positives
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val truth = (for {
      i <- emb.indices.iterator; j <- (i + 1) until emb.length
      if r6(cos(emb(i)._2, emb(j)._2)) >= 0.4
    } yield (emb(i)._1, emb(j)._1)).toSet
    assert(truth.nonEmpty, "fixture yields no true near-dup pairs — gate is vacuous")
    val got = Similarity.embeddingNearDup(spark, sfDir)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision must be exact: candidates are rescored with true cosine
    assert((got -- truth).isEmpty, s"false positives: ${(got -- truth).take(5)}")
    val recall = (got & truth).size.toDouble / truth.size
    info(f"embedding near-dup recall = $recall%.3f (${(got & truth).size}/${truth.size})")
    // measured on the isotropic fixture; like lshTopK's gate this guards
    // against silent collapse (plane-seeding bug → near-zero), not the
    // fixture's worst-case geometry
    assert(recall >= 0.35, f"embedding near-dup recall collapsed: $recall%.3f")
  }

  test("semantic dedup: precision exactly 1, recall gated vs brute-force domination") {
    // exact truth: v is dominated iff some u < v has cos(u, v) >= 0.4
    // anywhere in the corpus; the operator only sees within-cluster
    // pairs, so it can miss cross-cluster dominators (the SemDeDup
    // recall trade) but every vector it flags must be truly dominated
    val emb = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as e")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length && i < b.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val truthDominated = (for {
      j <- emb.indices.iterator
      if emb.indices.exists(i => i < j && cos(emb(i)._2, emb(j)._2) >= 0.4)
    } yield emb(j)._1).toSet
    assert(truthDominated.nonEmpty, "fixture yields no dominated vectors — gate is vacuous")
    val flagged = Similarity.semanticDedup(spark, sfDir)
      .filter("is_dup = 1").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert((flagged -- truthDominated).isEmpty,
      s"false positives: ${(flagged -- truthDominated).take(5)}")
    val recall = (flagged & truthDominated).size.toDouble / truthDominated.size
    info(f"semantic-dedup recall = $recall%.3f (${(flagged & truthDominated).size}/${truthDominated.size})")
    // isotropic fixture, k=16 clusters: measured 0.323 (deterministic —
    // seeded k-means), and non-monotone in k on this geometry
    // (k=4 → 0.53, k=8 → 0.29: isotropic k-means partitions are
    // arbitrary). The gate guards collapse (empty-cluster or
    // assignment bugs → near zero), not the fixture's geometry; real
    // embedding corpora cluster semantically, which is the regime the
    // operator exists for.
    assert(recall >= 0.25, f"semantic-dedup recall collapsed: $recall%.3f")
  }

  test("SQ8-quantized top-k overlaps the exact float top-k (quantization loss only)") {
    // same scan shape as the exact baseline, so any loss is pure
    // quantization noise — 8-bit per-dim error on this fixture should
    // barely perturb the ranking
    def topIds(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val exact = topIds(Similarity.bruteForceTopK(spark, sfDir))
    val sq8 = topIds(Similarity.sq8TopK(spark, sfDir))
    assert(exact.keySet == sq8.keySet)
    val overlaps = exact.keySet.toSeq.map(q =>
      (sq8(q) & exact(q)).size.toDouble / exact(q).size)
    val recall = overlaps.sum / overlaps.size
    info(f"sq8 top-k overlap = $recall%.3f")
    assert(recall >= 0.85, f"sq8 quantization recall collapsed: $recall%.3f")
  }

  test("IVF×SQ8 composed: recall vs brute force; quantization adds ≈no loss over trained IVF") {
    val truth = topkPairs(Similarity.bruteForceTopK(spark, sfDir, numQueries = 10, topK = 5))
    val ivf = topkPairs(Similarity.ivfTrainedTopK(spark, sfDir))
    val got = topkPairs(Similarity.ivfSq8TopK(spark, sfDir))
    val recall = (got & truth).size.toDouble / truth.size
    val vsIvf = (got & ivf).size.toDouble / ivf.size
    info(f"ivf×sq8 recall@5 vs brute = $recall%.3f, vs trained ivf = $vsIvf%.3f")
    // combined loss should be the trained-IVF bucketing loss alone:
    // pure SQ8 measured overlap 1.000, so the composition must sit at
    // ≈ the trained-IVF level (0.860); both gates catch collapse
    assert(recall >= 0.80, f"composed IVF×SQ8 recall collapsed: $recall%.3f")
    assert(vsIvf >= 0.85,
      f"quantization inside IVF lists lost recall it shouldn't: $vsIvf%.3f")
  }

  test("PQ top-k recall vs exact brute force (pure quantization loss)") {
    // same scan shape as the float brute force, so any loss is PQ
    // quantization alone. Measured 0.840 at the m=16/ksub=256 defaults
    // (the published 8-bit-per-subquantizer FAISS shape) on the
    // isotropic fixture — the geometry where PQ is weakest (no
    // subspace structure to exploit, true neighbors barely above the
    // bulk). Round 7's untested 4-bit config (ksub=16) measured 0.20;
    // this gate makes that class of regression unshippable.
    val truth = topkPairs(Similarity.bruteForceTopK(spark, sfDir, numQueries = 10, topK = 5))
    val got = topkPairs(Similarity.pqTopK(spark, sfDir))
    val recall = (got & truth).size.toDouble / truth.size
    info(f"pq recall@5 = $recall%.3f (${(got & truth).size}/${truth.size})")
    assert(recall >= 0.75, f"PQ recall collapsed: $recall%.3f")
  }

  test("IVF×PQ composed: recall vs brute force and vs the unquantized trained IVF") {
    val truth = topkPairs(Similarity.bruteForceTopK(spark, sfDir, numQueries = 10, topK = 5))
    val ivf = topkPairs(Similarity.ivfTrainedTopK(spark, sfDir))
    val got = topkPairs(Similarity.ivfPqTopK(spark, sfDir))
    val recall = (got & truth).size.toDouble / truth.size
    val vsIvf = (got & ivf).size.toDouble / ivf.size
    info(f"ivf×pq recall@5 vs brute = $recall%.3f, vs trained ivf = $vsIvf%.3f")
    // measured 0.780 vs brute / 0.880 vs the trained IVF: the
    // composition loses the IVF bucketing (trained IVF = 0.860) plus a
    // small PQ ranking perturbation — unlike SQ8 (lossless overlap),
    // 16-byte codes do reorder near-ties. Both gates catch collapse.
    assert(recall >= 0.70, f"composed IVF×PQ recall collapsed: $recall%.3f")
    assert(vsIvf >= 0.75,
      f"PQ inside IVF lists lost more recall than measured headroom: $vsIvf%.3f")
  }

  test("MRL funnel: recall vs brute force; rerank scores are exact full-dim cosines") {
    // isotropic embeddings are truncation's worst case (the 16-dim
    // prefix cosine is a noisy quarter-sample estimate of the full
    // cosine; MRL-trained embeddings concentrate signal in the prefix
    // and recall far higher) — like the sign-LSH gate, this catches
    // collapse, not the fixture's geometry. Measured: 0.380 at
    // shortlistK = 4×topK, 0.520 at the 8×topK default — the funnel
    // width is the recall knob, paid in stage-2 fetches only.
    val truth = topkPairs(Similarity.bruteForceTopK(spark, sfDir, numQueries = 10, topK = 5))
    val got = Similarity.mrlTopK(spark, sfDir)
    val gotPairs = topkPairs(got)
    val recall = (gotPairs & truth).size.toDouble / truth.size
    info(f"mrl recall@5 = $recall%.3f (${(gotPairs & truth).size}/${truth.size})")
    assert(recall >= 0.45, f"MRL funnel recall collapsed: $recall%.3f")
    // stage-2 contract: every returned score is the TRUE full-dim
    // cosine (the funnel only prunes candidates, never approximates
    // the final metric)
    val emb = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as e")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    got.collect().foreach { r =>
      val expected = BigDecimal(cos(emb(r.getLong(0)), emb(r.getLong(1))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(2) - expected) < 1e-9,
        s"(${r.getLong(0)},${r.getLong(1)})")
    }
    // ULP-TIE MARGIN (r13 advisory): ann_mrl_topk's DuckDB oracle
    // ranks the stage-1 shortlist on the UNROUNDED prefix cosine —
    // safe only while no two candidates sit within engine-fold ulp
    // distance of the shortlist boundary. Measure the smallest
    // nonzero adjacent gap around the cut so a future engine-upgrade
    // hash flake is immediately diagnosable as ulp drift (gap below
    // this floor) rather than a kernel bug. Exact ties are fine —
    // both engines break them on vec_id.
    val shortlistK = 40
    val prefixGaps = (0L until 10L).flatMap { q =>
      val qv = emb(q).take(16)
      val ranked = emb.toSeq.filter(_._1 != q)
        .map { case (id, e) => (cos(qv, e.take(16)), -id) }.sorted.reverse
        .map(_._1)
      ranked.sliding(2).toSeq
        .slice(shortlistK - 3, shortlistK + 2) // the cut neighborhood
        .collect { case Seq(a, b) if a != b => a - b }
    }
    // minOption: a degenerate fixture where every adjacent pair in the
    // cut neighborhood ties exactly would otherwise throw
    // NoSuchElementException instead of failing legibly (r13 advisory)
    val minGap = prefixGaps.minOption.getOrElse(
      fail("every adjacent pair in the shortlist-cut neighborhood is an " +
        "exact tie — the ulp-margin gauge is degenerate; regenerate fixtures"))
    info(f"mrl stage-1 shortlist-boundary min nonzero gap = $minGap%.3e")
    assert(minGap > 1e-12,
      f"shortlist boundary sits within ulp noise ($minGap%.3e) — the unrounded oracle is fragile")
  }

  test("q20 sketches stay inside their error bounds vs exact counterparts") {
    import org.apache.spark.sql.functions._
    val got = graft.operators.Relational.q20Sketches(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    // exact distinct counts per group (what q10 oracle-checks for parts)
    val exact = Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("parts"),
        countDistinct($"l_orderkey").as("orders"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val prices = Tables.lineitem(spark, sfDir)
      .select($"l_returnflag", $"l_extendedprice")
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    assert(got.keySet == exact.keySet)
    got.foreach { case (flag, r) =>
      val (exParts, exOrders) = exact(flag)
      // approx_count_distinct default rsd = 0.05; 4×rsd ≈ a 1-in-10⁵
      // excursion — beyond it the sketch is broken, not unlucky
      assert(math.abs(r.getLong(1) - exParts) <= 0.2 * exParts,
        s"$flag approx_parts ${r.getLong(1)} vs exact $exParts")
      assert(math.abs(r.getLong(2) - exOrders) <= 0.2 * exOrders,
        s"$flag approx_orders ${r.getLong(2)} vs exact $exOrders")
      // percentile_approx(accuracy=1000) bounds RANK error by
      // 1/accuracy; assert the returned value's true rank sits within
      // a 1% band of the requested quantile (10× the contract)
      val sortedPrices = prices(flag)
      def rankOf(v: Double): Double =
        sortedPrices.count(_ <= v).toDouble / sortedPrices.length
      assert(math.abs(rankOf(r.getDouble(3)) - 0.5) <= 0.01,
        s"$flag p50=${r.getDouble(3)} rank=${rankOf(r.getDouble(3))}")
      assert(math.abs(rankOf(r.getDouble(4)) - 0.95) <= 0.01,
        s"$flag p95=${r.getDouble(4)} rank=${rankOf(r.getDouble(4))}")
    }
  }

  test("hybrid RRF with ANN dense arm: fused top-k overlap vs exact tx_rrf") {
    // tx_rrf_ann swaps only the dense arm (exact brute scan → MRL
    // prefix-shortlist funnel); lexical arm, fusion rule and rounding
    // are shared code. The gate is the fused-result overlap against
    // the exact query — the same exact-vs-approx twinning every other
    // approximate path here carries.
    def fused(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = fused(TextAnalysis.hybridRrf(spark, sfDir))
    val ann = fused(TextAnalysis.hybridRrfAnn(spark, sfDir))
    val overlap = (ann & exact).size.toDouble / exact.size
    info(f"rrf-ann fused overlap@10 = $overlap%.3f (${(ann & exact).size}/${exact.size})")
    // measured 0.767 (23/30) at shortlistK=100 on the isotropic
    // fixture — the worst case for prefix truncation (see the mrlTopK
    // gate: prefix cosine of a random vector is a noisy 1/4-sample
    // estimate), and the shared lexical arm anchors roughly half the
    // fused list. MRL-trained embeddings recall far higher. The gate
    // catches collapse (a broken funnel → lexical-only overlap ≈ 0.5),
    // not the fixture's geometry.
    assert(overlap >= 0.70, f"RRF-ANN fused overlap collapsed: $overlap%.3f")
  }

  test("IVF lifecycle: drift detected, retrain fires, fit strictly recovers, recall holds") {
    // pipe_ivf_retrain's gate. Measured at r12 on all three SFs:
    // drift 900-937k ppm, fit recovery +127-140k ppm, recall delta
    // within ±4pp (920k→900k / 540k→680k / 560k→520k) — the fixture's
    // drifted batch is a tight cluster the OLD history-trained index
    // has no centroid near, so the k-means objective (fit) must
    // strictly improve after retraining BY CONSTRUCTION, while probe
    // recall on isotropic vectors wobbles; the recall gate is
    // non-degradation with 10pp slack, guarding collapse, not noise.
    val m = operators.Similarity.ivfLifecycle(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    info(m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    assert(m("max_abs_drift_ppm") >= 500000L,
      "the planted drifted batch must dominate at least one list's share")
    assert(m("retrained") == 1L, "drift past threshold must trigger the retrain")
    assert(m("fit_new_ppm") > m("fit_old_ppm"),
      s"retrained fit must strictly recover: ${m("fit_old_ppm")} -> ${m("fit_new_ppm")}")
    assert(m("fit_recovery_ppm") == m("fit_new_ppm") - m("fit_old_ppm"))
    assert(m("recall_new_ppm") >= m("recall_old_ppm") - 100000L,
      s"retrained recall collapsed: ${m("recall_old_ppm")} -> ${m("recall_new_ppm")}")
    // deterministic end-to-end (frozen split, seeded training)
    val again = operators.Similarity.ivfLifecycle(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == m)
  }

  test("persisted-index serving ≡ in-session trained IVF; recall holds; deterministic") {
    // pipe_ivf_serve's gate. Parquet round-trips doubles bit-exactly,
    // so reading the centroid artifact back and serving from the
    // cid-partitioned lists must reproduce ivfTrainedTopK's result
    // EXACTLY — same centroids, same assignment kernel, same rescoring
    // — while the serving plan does no training or corpus-assignment
    // work (PlanSpec pins that shape). A mismatch here means the
    // artifact write/read mangled the index.
    val served = servedRows(Similarity.ivfServeTopK(spark, sfDir))
    val trained = servedRows(Similarity.ivfTrainedTopK(spark, sfDir))
    assert(served == trained,
      "serving from the persisted artifact must equal the in-session trained index")
    // recall vs exact brute force — same measured floor as trained IVF
    val truth = topkPairs(Similarity.bruteForceTopK(spark, sfDir, numQueries = 10, topK = 5))
    val got = served.map(t => (t._1, t._2)).toSet
    val recall = (got & truth).size.toDouble / truth.size
    info(f"served-ivf recall@5 = $recall%.3f")
    assert(recall >= 0.40, f"served recall collapsed: $recall%.3f")
    // deterministic: a second serve reads the same artifact
    val again = servedRows(Similarity.ivfServeTopK(spark, sfDir))
    assert(again == served)
  }

  test("append-grown index: served ≡ frozen-centroid IVF over the combined corpus; history files untouched") {
    // pipe_ivf_append's gate, two claims:
    // (1) PARITY — serving the history-built-then-batch-appended
    //     artifact must equal an in-session IVF over the COMBINED
    //     corpus under the SAME history-trained centroids (the append
    //     changed storage, not semantics);
    // (2) FILE ISOLATION — the ingest wrote ONLY new files: no
    //     parquet data file in lists/ holds both a history row and a
    //     batch row. At 100 TB this is the difference between a daily
    //     ingest writing the batch and rewriting the index.
    val served = servedRows(Similarity.ivfAppendServeTopK(spark, sfDir))
    val hbExpr = graft.operators.Sampling.hashBucket(col("vec_id"))
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"),
        hbExpr.as("hb"))
    val history = emb.filter(col("hb") < 3277L).select("vec_id", "embedding")
    val (cids, cvecs) = Similarity.kmeansCentroids(spark, history, 16, 5)
    val expected = servedRows(Similarity.ivfWithCentroids(spark,
      emb.select("vec_id", "embedding"), cids, cvecs,
      numQueries = 10, topK = 5))
    assert(served == expected,
      "append-grown artifact must serve exactly the frozen-centroid combined-corpus result")
    // batch members must actually be servable (the append is visible)
    val batchIds = emb.filter(col("hb") >= 3277L).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(served.exists(t => batchIds(t._2)),
      "at least one appended batch vector should surface in some top-k")
    // file isolation: group lists rows by physical file, assert no
    // file mixes the two populations
    val idx = Similarity.ivfAppendIndexDir(spark, sfDir)
    val mixed = spark.read.parquet(idx + "/lists")
      .select(col("vec_id"), input_file_name().as("f"))
      .withColumn("is_hist", (hbExpr < 3277L).cast("int"))
      .groupBy("f").agg(countDistinct(col("is_hist")).as("kinds"))
      .filter(col("kinds") > 1)
    assert(mixed.count() == 0L,
      "ingest must append NEW files — history data files may not be rewritten")
  }

  test("persisted SQ8 index: served ≡ in-session IVF×SQ8; lists ~8× smaller than the float artifact") {
    // pipe_ivf_sq8_serve's gate. Quantization state (per-dim bounds)
    // and codes round-trip parquet exactly (doubles and bytes), so
    // serving the stored artifact must reproduce the in-session
    // composition bit-for-bit.
    val served = servedRows(Similarity.ivfSq8ServeTopK(spark, sfDir))
    val inSession = servedRows(Similarity.ivfSq8TopK(spark, sfDir))
    assert(served == inSession,
      "stored SQ8 artifact must serve exactly the in-session IVF×SQ8 result")
    // the footprint claim, MEASURED on the actual artifacts: the SQ8
    // lists (1 byte/dim codes) vs the float lists (8-byte doubles) —
    // parquet encoding overhead eats some of the raw 8×, so gate a
    // conservative 3× while reporting the real ratio
    def listsBytes(idx: String): Long = {
      val root = java.nio.file.Paths.get(idx, "lists")
      val walk = java.nio.file.Files.walk(root)
      try walk.filter(p => p.toString.endsWith(".parquet"))
        .mapToLong(java.nio.file.Files.size).sum
      finally walk.close()
    }
    val sq8Bytes = listsBytes(Similarity.ivfSq8IndexDir(spark, sfDir))
    val floatBytes = listsBytes(Similarity.ivfIndexDir(spark, sfDir))
    info(f"artifact lists footprint: float $floatBytes%d B, sq8 $sq8Bytes%d B, ratio ${floatBytes.toDouble / sq8Bytes}%.1f x")
    assert(sq8Bytes > 0 && floatBytes / sq8Bytes >= 3,
      s"SQ8 artifact should be several times smaller on disk: $sq8Bytes vs $floatBytes")
    // deterministic: a second serve reads the same artifact
    assert(servedRows(Similarity.ivfSq8ServeTopK(spark, sfDir)) == served)
  }

  test("streaming serve ≡ batch serve from the same persisted index, row for row") {
    // ann_stream_serve's gate (annServeViaStream): a REAL readStream
    // of probe vectors, stream-static joined against the persisted
    // lists, must reproduce pipe_ivf_serve's result EXACTLY — same
    // artifact, same routing kernel, same scorer, so any divergence
    // is a bug in the streaming deployment, not approximation.
    val streamed = servedRows(
      graft.streaming.StreamingOps.annServeViaStream(spark, sfDir))
    val batch = servedRows(Similarity.ivfServeTopK(spark, sfDir))
    assert(streamed == batch,
      "streamed serve must equal the batch serve from the same artifact row-for-row")
    assert(streamed.nonEmpty, "the streamed serve must actually produce matches")
  }

  test("versioned artifact: retrain commits v2 + manifest swing; v1 bytes untouched; served ≡ retrained IVF") {
    // pipe_ivf_reserve's gate — the lifecycle loop closed (r14).
    // Phase-driven on a spec-local root so v1's files can be
    // inventoried BETWEEN build and retrain: the commit must create
    // only a new v2/ directory and append one manifest record.
    import scala.jdk.CollectionConverters._
    val root = tempDir("graft-ivf-ver-spec")
    Similarity.versionedBuildV1(spark, root, sfDir)
    assert(Similarity.manifestVersion(spark, root) == 1L, "build must commit manifest -> v1")
    def inventory(dir: String): Map[String, String] = {
      val p = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { f =>
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(java.nio.file.Files.readAllBytes(f))
        p.relativize(f).toString -> sha.map("%02x".format(_)).mkString
      }.toMap
      finally walk.close()
    }
    val before = inventory(root + "/v1")
    assert(before.nonEmpty, "v1 must contain data files")
    val retrained = Similarity.versionedRetrainIfDrifted(spark, root, sfDir)
    assert(retrained, "the drifted fixture must trigger the retrain")
    assert(Similarity.manifestVersion(spark, root) == 2L, "retrain must swing the manifest to v2")
    assert(inventory(root + "/v1") == before,
      "v1 data files must be BYTE-untouched by the v2 commit (stale readers keep working)")
    // PARITY: serving through the manifest (the registry path, its own
    // cached root) must equal an in-session IVF over the combined
    // corpus under centroids retrained on it — the artifact
    // indirection changed storage, not semantics. The retrain is
    // deterministic in-session (frozen split, seeded k-means), so the
    // spec recomputes the v2 centroids directly.
    val served = servedRows(Similarity.ivfReserveTopK(spark, sfDir))
    val combined = Similarity.driftedTagged(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val (cids2, cvecs2) = Similarity.kmeansCentroids(spark, combined, 16, 5)
    val expected = servedRows(Similarity.ivfWithCentroids(spark, combined, cids2, cvecs2,
      numQueries = 10, topK = 5))
    assert(served == expected,
      "serving through the manifest must equal the in-session retrained IVF exactly")
    // the registry root's manifest also points at v2, and a second
    // serve is deterministic
    assert(Similarity.manifestVersion(spark, Similarity.ivfVersionedDir(spark, sfDir)) == 2L)
    assert(servedRows(Similarity.ivfReserveTopK(spark, sfDir)) == served)
  }

  test("version GC: retires only below the retention floor; serving and survivors byte-unaffected") {
    // pipe_ivf_gc's gate (ivfGcServeTopK) — the lifecycle's last verb.
    // Phase-driven on a spec-local root so the WHOLE-root inventory
    // can bracket the delete: post-GC files must equal pre-GC files
    // minus EXACTLY the retired v1/ subtree (manifest + v2 bytes
    // untouched), and the served frame must be row-identical across
    // the GC.
    import scala.jdk.CollectionConverters._
    val root = tempDir("graft-ivf-gc-spec")
    Similarity.versionedBuildV1(spark, root, sfDir)
    assert(Similarity.versionedRetrainIfDrifted(spark, root, sfDir),
      "the drifted fixture must trigger the retrain")
    def inventory(): Map[String, String] = {
      val p = java.nio.file.Paths.get(root)
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { f =>
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(java.nio.file.Files.readAllBytes(f))
        p.relativize(f).toString -> sha.map("%02x".format(_)).mkString
      }.toMap
      finally walk.close()
    }
    def serve() = servedRows(Similarity.serveThroughManifest(spark, sfDir, root))
    val pre = inventory()
    assert(pre.keySet.exists(_.startsWith("v1/")) && pre.keySet.exists(_.startsWith("v2/")),
      "both generations must exist before the GC")
    val preServe = serve()
    assert(preServe.nonEmpty, "the pre-GC serve must produce matches")
    // keep=1: v1 is WITHIN retention — nothing may be deleted
    assert(Similarity.gcVersions(spark, root, keep = 1).isEmpty, "keep=1 retires nothing here")
    assert(inventory() == pre, "a no-op GC must not touch a byte")
    // keep=0: v1 falls below the floor and is retired
    assert(Similarity.gcVersions(spark, root, keep = 0) == Seq(1L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "v1")),
      "the retired v1/ directory must be gone")
    val post = inventory()
    assert(post == pre.filter { case (path, _) => !path.startsWith("v1/") },
      "deletion must be confined to the retired subtree: survivors (manifest + v2) " +
        "must be the pre-GC inventory minus exactly v1/, byte-for-byte")
    assert(serve() == preServe,
      "serving through the manifest must be row-identical across the GC")
    // idempotent: a second GC finds nothing below the floor
    assert(Similarity.gcVersions(spark, root, keep = 0).isEmpty, "GC must be idempotent")
    assert(inventory() == post)
    // the registry arm runs the same deterministic lifecycle on its
    // own root WITH the GC applied — its output must therefore equal
    // pipe_ivf_reserve's exactly (the GC changed storage, not serving)
    assert(servedRows(Similarity.ivfGcServeTopK(spark, sfDir)) ==
      servedRows(Similarity.ivfReserveTopK(spark, sfDir)),
      "pipe_ivf_gc must serve row-identical to pipe_ivf_reserve")
  }
}
