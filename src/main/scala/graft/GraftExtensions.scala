package graft

import graft.functions._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL front-door for the engine's custom expressions: register once,
  * then `SELECT graft_fnv1a32(word), graft_minhash(text), …` works in
  * plain `spark.sql`. Two registration paths:
  *
  *  - `.withExtensions(new GraftExtensions)` at session build (the
  *    SparkSessionExtensions route, also loadable via
  *    `spark.sql.extensions=graft.GraftExtensions`);
  *  - [[GraftExtensions.register]] on a live session (tests, REPL).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, (info, builder)) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {
  // usage only: arguments, examples, note, group, since, deprecated
  // and source stay empty
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "")

  val builders: Map[String, (ExpressionInfo, Seq[Expression] => Expression)] = Map(
    "graft_fnv1a32" -> ((info("graft_fnv1a32",
      "fnv1a32(str) - FNV-1a 32-bit hash, bit-exact with the reference partitioner"),
      (es: Seq[Expression]) => Fnv1a32(es.head))),
    "graft_fnv1a64" -> ((info("graft_fnv1a64", "fnv1a64(str) - FNV-1a 64-bit hash"),
      (es: Seq[Expression]) => Fnv1a64(es.head))),
    "graft_simhash64" -> ((info("graft_simhash64",
      "simhash64(str) - 64-bit SimHash over whitespace tokens"),
      (es: Seq[Expression]) => SimHash64(es.head))),
    "graft_minhash" -> ((info("graft_minhash",
      "minhash(str) - 16-hash MinHash signature over 5-byte shingles"),
      (es: Seq[Expression]) => MinHashSig(es.head, 5, 16))),
    "graft_cosine" -> ((info("graft_cosine",
      "cosine(arr, arr) - cosine similarity of two double arrays"),
      (es: Seq[Expression]) => CosineSim(es.head, es(1)))),
    "graft_dot" -> ((info("graft_dot", "dot(arr, arr) - dot product"),
      (es: Seq[Expression]) => DotProduct(es.head, es(1)))),
    "graft_jaccard" -> ((info("graft_jaccard",
      "jaccard(arr, arr) - set Jaccard similarity of two string arrays"),
      (es: Seq[Expression]) => JaccardSim(es.head, es(1)))),
    "graft_token_bigrams" -> ((info("graft_token_bigrams",
      "token_bigrams(str) - array of space-joined consecutive whitespace-token pairs"),
      (es: Seq[Expression]) => TokenBigrams(es.head))),
    "graft_word_tokens" -> ((info("graft_word_tokens",
      "word_tokens(str) - whitespace tokens cutset-trimmed and lowercased (the word-count " +
        "tokenizer; tokens that trim to nothing are empty strings)"),
      (es: Seq[Expression]) => WordTokens(es.head))),
    "graft_token_count" -> ((info("graft_token_count",
      "token_count(str) - whitespace-token count (strings.Fields semantics)"),
      (es: Seq[Expression]) => org.apache.spark.sql.catalyst.expressions.GetArrayItem(
        TokenSetCounts(es.head, Seq.empty),
        org.apache.spark.sql.catalyst.expressions.Literal(0)))),
    "graft_zvalue" -> ((info("graft_zvalue",
      "zvalue(a, b) - Morton interleave of two longs' low 32 bits (Z-order clustering key)"),
      (es: Seq[Expression]) => ZValue(es.head, es(1)))),
    "graft_token_ngrams" -> ((info("graft_token_ngrams",
      "token_ngrams(str, n) - array of space-joined consecutive whitespace-token n-grams"),
      (es: Seq[Expression]) => TokenNgrams(es.head,
        es(1).eval(null).asInstanceOf[Number].intValue))),
    "graft_rolling_mink" -> ((info("graft_rolling_mink",
      "rolling_mink(str, window, k) - bottom-k rolling-hash fingerprint (MOSS-style)"),
      (es: Seq[Expression]) => RollingMinK(es.head,
        es(1).eval(null).asInstanceOf[Number].intValue,
        es(2).eval(null).asInstanceOf[Number].intValue))),
    "graft_token_segments" -> ((info("graft_token_segments",
      "token_segments(str, width) - array of space-joined tumbling width-token windows"),
      (es: Seq[Expression]) => TokenSegments(es.head,
        es(1).eval(null).asInstanceOf[Number].intValue))),
    "graft_deflate_len" -> ((info("graft_deflate_len",
      "deflate_len(str) - byte length of the zlib-deflated UTF-8 text"),
      (es: Seq[Expression]) => DeflatedLen(es.head))),
    "graft_gopher_counts" -> ((info("graft_gopher_counts",
      "gopher_counts(str) - the 8 Gopher-rule raw counts [n_words, sum_word_chars, " +
        "n_alpha_words, n_stop_distinct, n_symbols, n_lines, n_bullet_lines, n_ellipsis_lines]"),
      (es: Seq[Expression]) => GopherCounts(es.head))),
    "graft_char_entropy" -> ((info("graft_char_entropy",
      "char_entropy(str) - Shannon entropy (bits, log2) of the codepoint unigram distribution"),
      (es: Seq[Expression]) => CharEntropy(es.head))),
    "graft_ngram_rep_mass" -> ((info("graft_ngram_rep_mass",
      "ngram_rep_mass(str) - [top2, dup2, …, top10, dup10] char masses of the " +
        "most-frequent and duplicated word n-grams, n in 2..10"),
      (es: Seq[Expression]) => NgramRepMass(es.head))),
    "graft_shingle_hashes" -> ((info("graft_shingle_hashes",
      "shingle_hashes(str, k) - sorted xxhash64 longs of the distinct char k-shingles"),
      (es: Seq[Expression]) => ShingleHashes(es.head,
        es(1).eval(null).asInstanceOf[Number].intValue))),
    "graft_overlap_coeff" -> ((info("graft_overlap_coeff",
      "overlap_coeff(arr, arr) - containment |A∩B|/min(|A|,|B|) over two SORTED long arrays"),
      (es: Seq[Expression]) => OverlapCoeffSorted(es.head, es(1)))),
    "graft_percent_normalize" -> ((info("graft_percent_normalize",
      "percent_normalize(str) - RFC 3986 §6.2.2.2 escape normalization (decode unreserved, " +
        "uppercase retained hex) — the robots-compliance comparison form"),
      (es: Seq[Expression]) => PercentNormalize(es.head))),
  )

  /** Register on an already-built session. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, (i, b)) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), i, b)
    }
}
