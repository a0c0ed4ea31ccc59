package graft

import graft.operators.Dedup
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup groups identical texts, keeps min id") {
    val df = Seq(
      (0L, "same text here"), (1L, "same text here"),
      (2L, "different"), (3L, "same text here"))
      .toDF("doc_id", "text")
    val got = df.groupBy(sha2($"text", 256).as("digest"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got == Map(0L -> 3L, 2L -> 1L))
  }

  test("minhash est_jaccard ≈ 1 for identical, high for near-dup, low for unrelated") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val near = base + " tail"
    val far = "completely unrelated content about database query planning"
    val df = Seq((0L, base), (1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val sig = df.select($"doc_id",
      Dedup.minhashSig(Dedup.normText($"text"), 5, 64).as("sig"))
    val sigs = sig.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def est(a: Long, b: Long): Double =
      sigs(a).zip(sigs(b)).count { case (x, y) => x == y }.toDouble / 64
    assert(est(0L, 1L) == 1.0)
    assert(est(0L, 2L) > 0.6)
    assert(est(0L, 3L) < 0.3)
  }

  test("minhashLsh surfaces planted near-duplicates") {
    val dir = tempDir("lsh")
    val base = "spark catalyst optimizer rewrites logical plans into physical plans with codegen"
    val rows = (0L until 40L).map(i => (i, s"unrelated document number $i about topic ${i * 31}")) ++
      Seq((100L, base), (101L, base + " stage"), (102L, base))
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val pairs = Dedup.minhashLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 102L)))
    assert(pairs.contains((100L, 101L)) || pairs.contains((101L, 102L)))
  }

  test("simhash: identical texts equal; near-dups within small hamming") {
    val dir = tempDir("sh")
    val base = "large scale data processing with resilient distributed datasets and dags"
    Seq((0L, base), (1L, base), (2L, base + " extra"), (3L, "zzz qqq www"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val sigs = Dedup.simhash(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(ham(0L, 1L) == 0)
    assert(ham(0L, 2L) <= 8)
    assert(ham(0L, 3L) > 8)
  }

  test("nearDupClusters: transitive chain a~b~c collapses to one component") {
    val dir = tempDir("cc")
    // a~b and b~c are similar (> 0.3 trigram jaccard) but a~c less so:
    // only transitive closure puts all three in one cluster
    val a = "one two three four five six"
    val b = "three four five six seven eight"
    val c = "five six seven eight nine ten"
    Seq((0L, a), (1L, b), (2L, c), (10L, "qqqq"), (11L, "zzzz"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = Dedup.nearDupClusters(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 0L, 3L), (1L, 0L, 3L), (2L, 0L, 3L),
      (10L, 10L, 1L), (11L, 11L, 1L)))
    // pair graph really is a chain (a,c) absent — so this proved closure
    val pairs = Dedup.ngramJaccard(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 2L)) && !pairs.contains((0L, 2L)))
  }

  test("star contraction: adversarial long chain converges in O(log n) rounds") {
    // a 1024-node path graph is the label-propagation worst case
    // (diameter rounds = 1023); large-star/small-star must collapse it
    // logarithmically and still produce the component-min labeling
    val n = 1024
    val vertices = (0L until n.toLong).toDF("v")
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("id1", "id2")
    val (labels, rounds) = Dedup.starContraction(spark, vertices, chain)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == n && got.forall(_._2 == 0L))
    // paper bound is O(log n) alternating rounds; 1024-chain should be
    // well under 3·log2(n)+2 = 32 (empirically ~6-8)
    assert(rounds <= 3 * 10 + 2, s"rounds=$rounds not logarithmic for n=$n")
  }

  test("star contraction ≡ label propagation on the document pair graph") {
    val dir = tempDir("ccstar")
    val a = "one two three four five six"
    val b = "three four five six seven eight"
    val c = "five six seven eight nine ten"
    Seq((0L, a), (1L, b), (2L, c), (10L, "qqqq"), (11L, "zzzz"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    // both algorithms over the same pair frame and vertex set that
    // nearDupClusters feeds label propagation
    val pairs = Dedup.ngramJaccard(spark, dir).select($"id1", $"id2")
    val vertices = spark.read.parquet(s"$dir/documents.parquet")
      .filter($"doc_id" < 50L).select($"doc_id".as("v"))
    // (doc_id, cluster_id, cluster_size), doc_id order
    def clusters(labels: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] = {
      val vl = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val size = vl.groupBy(_._2).map { case (l, m) => l -> m.size.toLong }
      vl.map { case (v, l) => (v, l, size(l)) }.sortBy(_._1)
    }
    val prop = clusters(Dedup.labelPropagation(spark, vertices, pairs))
    val star = clusters(Dedup.starContraction(spark, vertices, pairs)._1)
    assert(star == prop)
    // isolated multi-node components AND singletons both labeled right
    assert(star == Seq((0L, 0L, 3L), (1L, 0L, 3L), (2L, 0L, 3L),
      (10L, 10L, 1L), (11L, 11L, 1L)))
  }

  test("lshClusters == connected components of the LSH pair graph (union-find oracle)") {
    // planted fixture (RecallSpec shape): 40 unrelated hex-word docs +
    // 20 planted near-dup pairs — the LSH pair list is the spec's input,
    // the clustering must equal its exact connected components
    val dir = tempDir("lsh-cc")
    def words(seed: Long, n: Int): String =
      (0 until n).map(j => ((seed * 31 + j + 1) * 2654435761L).toHexString).mkString(" ")
    val fillers = (0L until 40L).map(i => (i, s"bg ${words(i, 10)}"))
    val pairs = (0 until 20).flatMap { p =>
      val base = s"dup ${words(1000L + p, 10)}"
      Seq((100L + 2 * p, base), (101L + 2 * p, base + " nightly"))
    }
    (fillers ++ pairs).toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val edges = Dedup.minhashLsh(spark, dir)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    // driver-side union-find over the identical pair list
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = members.groupBy(find)
    val expected = byRoot.toSeq.flatMap { case (_, ms) =>
      val label = ms.min
      ms.map(m => (m, label, ms.length.toLong))
    }.sortBy(_._1)
    val got = Dedup.lshClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // and the planted pairs dominate: >= 90% of them co-cluster
    val planted = (0 until 20).map(p => (100L + 2 * p, 101L + 2 * p))
    val together = planted.count { case (a, b) =>
      members.contains(a) && members.contains(b) && find(a) == find(b)
    }
    assert(together >= 18, s"only $together/20 planted pairs co-clustered")
  }

  test("survivorsFor composes with lshClusters: one max-quality winner per cluster") {
    val quality = graft.operators.TextAnalysis.qualityScore(spark, sfDir)
      .select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // build the expensive LSH pipeline ONCE for both halves
    val clusters = Dedup.lshClusters(spark, sfDir)
    val byCluster = clusters.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._2)
    assert(byCluster.nonEmpty)
    val got = Dedup.survivorsFor(spark, sfDir, clusters)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    val expected = byCluster.toSeq.map { case (cid, ms) =>
      val winner = ms.map(_._1).minBy(id => (-quality(id), id))
      (cid, winner, ms.length.toLong)
    }.sortBy(_._1)
    assert(got == expected)
  }

  test("clearLabelCache epochs the cluster cache: recompute, identical labels") {
    def labels = Dedup.nearDupClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val warm = labels // populates (or reuses) the cache
    Dedup.clearLabelCache() // Bench's pre-run hook — forces the cold path
    assert(labels == warm)
  }

  test("iterative clustering restores the session shuffle conf (both algorithms)") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    Dedup.clearLabelCache()
    Dedup.nearDupClusters(spark, sfDir).count()                       // label-prop
    Dedup.lshClusters(spark, sfDir).count()                           // star
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("duplicatedSpans: shared passages merge to maximal spans; intra-doc repeats don't count") {
    val dir = tempDir("spans")
    // passages shared across docs; every other token globally unique
    val pA = (1 to 10).map(i => s"pa$i").mkString(" ")   // 10 tokens
    val pB = (1 to 8).map(i => s"pb$i").mkString(" ")    // 8 tokens
    val pB2 = (1 to 8).map(i => s"pc$i").mkString(" ")   // 8 tokens
    val rows = Seq(
      (0L, s"u1 u2 u3 $pA v1 v2"),                       // pA at pos 3..12
      (1L, s"w1 w2 $pA x1"),                             // pA at pos 2..11
      (2L, "only unique tokens here nothing shared at all"),
      (3L, s"$pB m1 m2 m3 m4 m5 m6 $pB2"),               // pB at 0..7, pB2 at 14..21
      (4L, s"$pB2 k1 k2 k3 k4 k5 k6 $pB"),               // reversed order
      (5L, "r1 r2 self self self self self self r3 r4")  // intra-doc only
    )
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = Dedup.duplicatedSpans(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 10-token passage, n=4: window starts span..span+6 → 7 windows,
    // maximal token range [start, start+9]
    assert(got.filter(_._1 == 0L).toSeq == Seq((0L, 3L, 12L, 7L)))
    assert(got.filter(_._1 == 1L).toSeq == Seq((1L, 2L, 11L, 7L)))
    // unique doc and the intra-doc-repeat doc produce NO spans: the
    // dup rule is count(distinct doc_id) >= 2, not total occurrences
    assert(!got.exists(_._1 == 2L) && !got.exists(_._1 == 5L))
    // two shared 8-token passages separated by a 6-token unique middle
    // (> n gap) stay TWO spans per doc, 5 windows each
    assert(got.filter(_._1 == 3L).toSeq == Seq((3L, 0L, 7L, 5L), (3L, 14L, 21L, 5L)))
    assert(got.filter(_._1 == 4L).toSeq == Seq((4L, 0L, 7L, 5L), (4L, 14L, 21L, 5L)))
    // doc-level rollup: exact dup masses/fractions and the keep rule.
    // doc 0: 10 of 15 tokens duplicated (0.6666 ≥ 0.5 → excise);
    // doc 3: two spans, 16 of 22 (0.7272 → excise); clean docs keep.
    val stats = Dedup.spanStats(spark, dir)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(stats(0L) == ((1L, 10L, 0.6666, 0L)), stats(0L).toString)
    assert(stats(1L) == ((1L, 10L, 0.7692, 0L)), stats(1L).toString)
    assert(stats(3L) == ((2L, 16L, 0.7272, 0L)), stats(3L).toString)
    assert(stats(2L) == ((0L, 0L, 0.0, 1L)) && stats(5L) == ((0L, 0L, 0.0, 1L)))
    // excision splices the span token ranges out and rejoins the rest
    // single-spaced; clean docs pass through verbatim (lowercased
    // tokenization is identity on this fixture)
    val ex = Dedup.exciseSpans(spark, dir)
      .collect().map(r => (r.getLong(0),
        (r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(ex(0L) == (("u1 u2 u3 v1 v2", 15L, 10L)), ex(0L).toString)
    assert(ex(1L) == (("w1 w2 x1", 13L, 10L)), ex(1L).toString)
    assert(ex(3L) == (("m1 m2 m3 m4 m5 m6", 22L, 16L)), ex(3L).toString)
    assert(ex(2L) == (("only unique tokens here nothing shared at all", 8L, 0L)))
    assert(ex(5L) == (("r1 r2 self self self self self self r3 r4", 10L, 0L)))
  }

  test("incrementalSpans: batch-vs-history only — batch-internal dups excluded, history absent") {
    // ids picked by the REAL md5-bucket rule so the fixture lands on
    // the intended sides of the split deterministically
    def hb(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 3), 16)
    }
    val ids = (0L to 300L)
    val hist = ids.filter(hb(_) < 3277).take(2)
    val batch = ids.filter(hb(_) >= 3277).take(3)
    assert(hist.size == 2 && batch.size == 3)
    val pA = (1 to 10).map(i => s"pa$i").mkString(" ")
    val pB = (1 to 8).map(i => s"pb$i").mkString(" ")
    val dir = tempDir("inc-spans")
    Seq(
      (hist(0), s"h1 h2 $pA h3"),            // history carries pA
      (hist(1), "hx hy hz entirely unrelated"),
      (batch(0), s"b1 b2 $pA b3"),           // pA at pos 2..11 → span
      (batch(1), s"c1 $pB c2"),              // pB only batch-internal
      (batch(2), s"d1 d2 d3 $pB")
    ).toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = Dedup.incrementalSpans(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // only the history-shared passage reports: 10 tokens at 2..11,
    // 7 windows; batch-internal pB and all history docs are absent
    assert(got.toSeq == Seq((batch(0), 2L, 11L, 7L)), got.mkString(","))
  }

  test("sourceOverlapMinhash estimate tracks exact source-overlap Jaccard") {
    // same gram universe (token 3-grams) on both sides, so the exact
    // query IS the oracle for the signature estimate; MinHash error is
    // binomial with σ = sqrt(J(1-J)/64) ≤ 0.0625, gate at a ~2.5σ band
    val exact = Dedup.sourceOverlap(spark, sfDir)
      .select("s1", "s2", "jaccard").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    val est = Dedup.sourceOverlapMinhash(spark, sfDir)
      .select("s1", "s2", "est_jaccard").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    // the signature grid covers every ordered pair, so every
    // exact-overlap pair must be present
    assert(exact.keySet.subsetOf(est.keySet),
      s"missing pairs: ${exact.keySet -- est.keySet}")
    val errs = exact.map { case (k, j) => math.abs(est(k) - j) }
    info(f"pairs=${exact.size} maxErr=${errs.max}%.4f meanErr=${errs.sum / errs.size}%.4f")
    // measured maxErr 0.0694 / meanErr 0.0155 over the 190 fixture
    // pairs — inside the 64-hash binomial envelope; the gate sits at
    // ~2× measured max to catch seeding/merging bugs (a broken hash
    // family degrades toward uniform-random component matches)
    assert(errs.max <= 0.12, f"MinHash overlap estimate error blew up: ${errs.max}%.4f")
    // pairs with NO exact overlap row share few-to-no grams — their
    // estimate must sit near zero, not drift
    val disjoint = (est.keySet -- exact.keySet).toSeq.map(est)
    if (disjoint.nonEmpty)
      assert(disjoint.max <= 0.12, f"disjoint-pair estimate drift: ${disjoint.max}%.4f")
  }

  test("lshContainment == exact containment over the banded candidate set") {
    // full-value gate: every (pair, containment) the operator emits at
    // sfDir must equal a driver-side recompute of the overlap
    // coefficient over the SAME candidate pairs — shingle sets built
    // independently with plain Scala string ops
    val cand = Dedup.minhashPairs(spark, sfDir, threshold = 0.0)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.nonEmpty)
    val norm = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", Dedup.normText($"text").as("n")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def sh3(t: String): Set[String] =
      if (t.length < 3) Set(t) else (0 to t.length - 3).map(i => t.substring(i, i + 3)).toSet
    val expected = cand.iterator.map { case (a, b) =>
      val (ga, gb) = (sh3(norm(a)), sh3(norm(b)))
      val c = (ga & gb).size.toDouble / math.min(ga.size, gb.size)
      // Spark round(_, 4) is BigDecimal HALF_UP on the double — mirror
      // it exactly (math.rint is HALF_EVEN, wrong at .00005 edges)
      (a, b) -> BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.filter(_._2 > 0.5).toMap
    val got = Dedup.lshContainment(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == expected, s"diff: ${(got.toSet diff expected.toSet) ++ (expected.toSet diff got.toSet)}")
  }

  test("lshContainment surfaces a planted near-superset the Jaccard threshold would drop") {
    val dir = tempDir("lsh-cont")
    // short doc = prefix of the long one: containment 1.0 by
    // construction, Jaccard ≈ r (the length ratio). Banding on
    // Jaccard-minhash is geometry-limited for small r, so the planted
    // ratio is the empirical collision point of the fixed seeds —
    // the gate pins the RESCORING (1.0 exactly), not banding recall.
    val long = (1 to 40).map(i => s"tok${i}word").mkString(" ")
    val short = (1 to 28).map(i => s"tok${i}word").mkString(" ")
    val rows = (0L until 20L).map(i =>
      (i, s"filler document number $i about subject ${i * 37} entirely unrelated")) ++
      Seq((100L, long), (101L, short))
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = Dedup.lshContainment(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.contains((100L, 101L)), s"planted pair missing: $got")
    assert(got((100L, 101L)) == 1.0, s"containment should be exactly 1.0: $got")
  }

  test("low-ratio containment: banding misses it (documented), the index arm finds it") {
    val dir = tempDir("idx-cont")
    // short doc = the first 8 tokens of an 80-token long doc: containment
    // 1.0, length ratio ~0.1, Jaccard ~0.1 — the regime where
    // Jaccard-biased band collision probability ≈ (r/(2-r))^rowsPerBand
    // is effectively zero. The first assert DOCUMENTS lshContainment's
    // structural miss as expected behavior (per the round-10 advisory);
    // the second pins that containmentIndexPairs' bottom-k probe against
    // the posting index recovers exactly this regime (probe hit
    // probability 1 − (1−c)^probeK is ratio-independent; at c = 1.0
    // every probe posts, so recovery is certain, not sampled).
    val long = (1 to 80).map(i => s"tok${i}word").mkString(" ")
    val short = (1 to 8).map(i => s"tok${i}word").mkString(" ")
    val rows = (0L until 20L).map(i =>
      (i, s"filler document number $i about subject ${i * 37} entirely unrelated")) ++
      Seq((100L, long), (101L, short))
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val banded = Dedup.lshContainment(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!banded.contains((100L, 101L)),
      "fixture stale: banding found the low-ratio pair — if seeds/banding changed, " +
        "re-derive the documented-miss ratio so the index arm still has a case to prove")
    val idx = Dedup.containmentIndexPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(idx.contains((100L, 101L)), s"index arm missed the planted pair: $idx")
    assert(idx((100L, 101L)) == 1.0, s"containment should be exactly 1.0: $idx")
  }

  test("containmentIndexPairs values == exact containment recompute; candidates honest") {
    // full-value gate at sfDir, mirroring the lshContainment gate: every
    // (pair, containment) emitted must equal a driver-side recompute of
    // the overlap coefficient from raw strings (independent shingling —
    // a ShingleHashes 64-bit collision or a broken merge would diverge)
    val got = Dedup.containmentIndexPairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.nonEmpty, "index arm emitted nothing at sfDir")
    val norm = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", Dedup.normText($"text").as("n")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def sh3(t: String): Set[String] =
      if (t.length < 3) Set(t) else (0 to t.length - 3).map(i => t.substring(i, i + 3)).toSet
    got.foreach { case ((a, b), v) =>
      val (ga, gb) = (sh3(norm(a)), sh3(norm(b)))
      val c = (ga & gb).size.toDouble / math.min(ga.size, gb.size)
      val exact = BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(v == exact, s"pair ($a,$b): emitted $v, exact $exact")
      assert(v > 0.5, s"pair ($a,$b): below threshold yet emitted")
    }
  }

  test("ngram jaccard: identical=1.0, disjoint filtered out") {
    val dir = tempDir("ng")
    Seq((0L, "abcdefghij"), (1L, "abcdefghij"), (2L, "zzzzyyyyxxxx"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = Dedup.ngramJaccard(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got == Map((0L, 1L) -> 1.0))
  }

  test("incremental dedup ≡ plain anti-join; bloom prunes most of the batch") {
    import graft.Tables
    // ground truth: the same history/batch split, checked with a plain
    // anti-join (no bloom, no routing) — the semantics the oracle pins
    val hb = conv(substring(md5($"doc_id".cast("string")), 1, 3), 16, 10).cast("long")
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text", hb.as("hb"))
    val hist = docs.filter($"hb" < 3277).select(sha2($"text", 256).as("digest"))
    val naive = docs.filter($"hb" >= 3277)
      .select($"doc_id", sha2($"text", 256).as("digest"))
      .groupBy($"digest")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .join(hist, Seq("digest"), "left_anti")
      .select($"keep_id", $"digest", $"n_copies")
    val got = Dedup.incrementalDedup(spark, sfDir)
    val expected = naive.collect().toSeq.sortBy(_.getLong(0))
    assert(got.collect().toSeq.sortBy(_.getLong(0)) == expected)
    // broadcast-filter path (bloomLiteralMax = 0 forces every filter
    // size onto the TorrentBroadcast kernel) must be plan-for-plan
    // equivalent in results
    val bcast = Dedup.incrementalDedup(spark, sfDir, bloomLiteralMax = 0)
    assert(bcast.collect().toSeq.sortBy(_.getLong(0)) == expected)
    // a batch of entirely-new content must be almost all bloom-negative
    // (fpp = 1%): route it through the real operator internals by
    // asserting the survivor count equals the batch count — and that
    // the result is non-trivial in both directions at this sf (some
    // survivors, and at least one cross-split or in-batch duplicate
    // somewhere in the corpus would show as a dropped/collapsed row)
    val batchDigests = docs.filter($"hb" >= 3277)
      .select(sha2($"text", 256).as("digest")).distinct().count()
    val survivors = got.count()
    info(s"batch distinct digests=$batchDigests survivors=$survivors")
    assert(survivors > 0 && survivors <= batchDigests)
  }

  test("incremental dedup bloom admits no false drops on planted cross-batch dups") {
    val dir = tempDir("incr")
    // doc_ids chosen freely: the md5-bucket rule partitions them into
    // history (hb<3277) and batch; plant exact dups across the split
    // and inside the batch, plus unique batch docs
    val rows = (0L until 200L).map { i =>
      val text = if (i % 10 == 0) "shared duplicate payload" // cross-split dups
                 else s"unique document $i"
      (i, text)
    }
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val hb = conv(substring(md5($"doc_id".cast("string")), 1, 3), 16, 10).cast("long")
    val split = rows.toDF("doc_id", "text").select($"doc_id", hb.as("hb"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1) < 3277L)).toMap
    val dupIds = rows.filter(_._2 == "shared duplicate payload").map(_._1)
    val dupInHistory = dupIds.exists(split(_))
    val got = Dedup.incrementalDedup(spark, dir)
      .collect().map(_.getLong(0)).toSet
    // every unique batch doc survives (bloom negatives may skip the
    // join but can never be dropped); the planted dup group survives
    // iff no copy sits in history
    val batchUnique = rows.filter(r => !split(r._1) && r._2 != "shared duplicate payload")
    assert(batchUnique.forall(r => got.contains(r._1)))
    val batchDupMin = dupIds.filter(i => !split(i)).sorted.headOption
    if (dupInHistory) assert(batchDupMin.forall(i => !got.contains(i)))
    else assert(batchDupMin.forall(got.contains))
  }

  test("fuzzy incremental dedup: cross-boundary and in-batch planted near-copies flag") {
    val dir = tempDir("inc-fuzzy")
    def hb(id: Long) = {
      val m = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(m.substring(0, 3), 16)
    }
    // the split rule: hb < 3277 ⟹ history, else batch
    val historyIds = (0L until 10000L).filter(hb(_) < 3277)
    val batchIds = (0L until 10000L).filter(hb(_) >= 3277)
    def words(seed: Long, n: Int): String =
      (0 until n).map(j => ((seed * 31 + j + 1) * 2654435761L).toHexString).mkString(" ")
    // 3 cross-boundary near-pairs: base in history, mutated copy in batch
    val cross = (0 until 3).flatMap { p =>
      val base = s"dup ${words(2000L + p, 10)}"
      Seq((historyIds(p), base), (batchIds(p), base + " nightly"))
    }
    // 3 in-batch near-pairs on fresh ids and fresh word seeds
    val inBatch = (0 until 3).flatMap { p =>
      val base = s"dup ${words(3000L + p, 10)}"
      Seq((batchIds(10 + 2 * p), base), (batchIds(11 + 2 * p), base + " nightly"))
    }
    // clean fillers on both sides
    val clean = (0 until 5).map(i => (historyIds(20 + i), s"hx ${words(20L + i, 10)}")) ++
      (0 until 5).map(i => (batchIds(20 + i), s"bx ${words(40L + i, 10)}"))
    import spark.implicits._
    (cross ++ inBatch ++ clean).toDF("doc_id", "text").write
      .mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.incrementalFuzzyDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // output covers exactly the batch docs
    val expectedBatch = (cross ++ inBatch ++ clean).map(_._1).filter(hb(_) >= 3277).toSet
    assert(got.keySet == expectedBatch)
    // cross-boundary copies flag vs history
    (0 until 3).foreach { p =>
      assert(got(batchIds(p))._1 == 1L, s"cross pair $p must flag vs history")
    }
    // in-batch pairs: larger id dominated, smaller id survives
    (0 until 3).foreach { p =>
      assert(got(batchIds(11 + 2 * p))._2 == 1L, s"in-batch dup $p must flag")
      assert(got(batchIds(10 + 2 * p))._3 == 1L, s"in-batch survivor $p must keep")
    }
    // clean batch docs keep
    (0 until 5).foreach(i => assert(got(batchIds(20 + i))._3 == 1L))
  }

  test("cdc boundaries: partition, cut rule, and no-skipped-cut — vs O(n·w) recompute") {
    import graft.functions.CdcChunks
    // independent reference: recompute the window hash from scratch at
    // every position — shares no state with the kernel's O(n) roll
    def refHash(b: Array[Byte], from: Int, until: Int): Long =
      (from until until).foldLeft(0L)((h, i) => h * 257L + (b(i) & 0xff))
    val rnd = new scala.util.Random(11)
    val samples = Seq(
      Array.empty[Byte], "short".getBytes("UTF-8"),
      Array.fill[Byte](1000)(rnd.nextInt(256).toByte),
      ("the quick brown fox " * 60).getBytes("UTF-8"), // repetitive
      Array.tabulate[Byte](700)(i => (i % 7 + 'a').toByte))
    val (w, mask, minL, maxL) = (16, 0x3fL, 32, 256)
    samples.foreach { b =>
      val bounds = CdcChunks.boundaries(b, w, mask, minL, maxL)
      assert(bounds.head == 0 && bounds.last == b.length)
      assert(bounds.sameElements(bounds.distinct.sorted))
      bounds.sliding(2).foreach { case Array(s, e) =>
        if (b.nonEmpty) {
          val len = e - s
          assert(len <= maxL, "chunk over maxLen")
          // interior cuts satisfy the rule: forced at maxLen, or the
          // window hash masks to zero at sufficient length
          if (e != b.length) {
            assert(len == maxL ||
              (len >= minL && (refHash(b, e - w, e) & mask) == 0L),
              s"cut at $e violates the rule")
          }
          // completeness: no valid cut position was skipped
          ((s + minL) until math.min(e, s + maxL)).foreach { q =>
            assert((refHash(b, q - w, q) & mask) != 0L,
              s"kernel skipped a valid cut at $q")
          }
        }
        case _ =>
      }
    }
  }

  test("cdc chunking is offset-shift invariant; tumbling segments are not the gate") {
    import graft.functions.CdcChunks, graft.functions.HashFunctions
    def hashes(s: String): Set[Long] = {
      val b = s.getBytes("UTF-8")
      CdcChunks.boundaries(b, 16, 0x3fL, 32, 256).sliding(2).collect {
        case Array(x, y) => HashFunctions.fnv1a64Bytes(b, x, y)
      }.toSet
    }
    val rnd = new scala.util.Random(13)
    val vocab = ("lorem ipsum dolor sit amet consectetur adipiscing elit " +
      "sed do eiusmod tempor incididunt labore magna aliqua veniam " +
      "quis nostrud exercitation ullamco laboris nisi aliquip commodo").split(" ")
    def prose(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val passage = prose(300) // ~2 KB shared verbatim
    val docA = prose(17) + " " + passage + " " + prose(9)
    val docB = prose(23) + " " + passage + " " + prose(14) // different offsets
    val common = hashes(docA) & hashes(docB)
    assert(common.size >= 2,
      s"shared passage at different offsets must share interior chunks, got ${common.size}")
    // end-to-end: the registry query flags both docs, not clean ones
    val dir = tempDir("cdc")
    Seq((0L, docA), (1L, docB), (2L, prose(60)), (3L, prose(45)))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = Dedup.cdcSpanDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(0L) >= 2 && got(1L) >= 2, "planted shared passage must flag both docs")
    assert(got(2L) == 0 && got(3L) == 0, "clean docs must not flag")
  }
}
