package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Word-count parity pipeline — the reference's single application,
  * re-expressed as one declarative Spark plan.
  *
  * Reference semantics (`/root/reference/map_reduce/wordcount.go:10-22`):
  *   1. split on whitespace runs (Go `strings.Fields`)
  *   2. strip *runs* of `.,!?"':;()` from both ends (Go `strings.Trim`)
  *   3. lowercase
  *   4. drop empty tokens
  *   5. count per word (`wordcount.go:26-32`)
  *
  * Steps 1-3 are one kernel pass ([[graft.functions.WordTokens]]). It
  * keeps two Java-regex departures from Go on purpose (SURVEY.md §7.5):
  * U+0085/U+00A0/U+2028/… do not split tokens, and a cutset run before
  * a token-final U+0085/U+2028/U+2029 is stripped.
  *
  * This single pipeline covers reference operators O1-O10 (SURVEY.md §2.1):
  * scan, flatMap (explode), project, filter, hash shuffle (groupBy),
  * group, per-key count, sort, sink. The shuffle is preceded by a
  * partial aggregate (map-side combine) that the reference lacks
  * (`worker.go:152-159` ships every ("word","1") pair) — Spark inserts
  * HashAggregate(partial) automatically, which is the single biggest
  * scale win: shuffle volume is O(distinct words per partition), not
  * O(tokens). Zipf skew (SURVEY.md §7.5) is absorbed the same way.
  */
object WordCount {

  /** Tokenize a text column with exact reference semantics; yields one
    * row per non-empty token. Split, trim and lowercase are one kernel
    * pass ([[graft.functions.WordTokens]]); the filter is the
    * reference's "drop empty" step. */
  def tokenize(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextFunctions.wordTokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")

  /** The flagship query: word frequencies over `documents.text`,
    * deterministically ordered. */
  def wordCount(docs: DataFrame): DataFrame =
    wordCountCol(docs, "text")

  /** Word count over raw text files (the Gutenberg corpus path) —
    * `spark.read.text` replaces worker.go:126's whole-file read; one
    * input split per HDFS block at scale, not one task per file. */
  def wordCountText(lines: DataFrame): DataFrame =
    wordCountCol(lines, "value")

  private def wordCountCol(df: DataFrame, textCol: String): DataFrame =
    tokenize(df, textCol)
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word")
}
