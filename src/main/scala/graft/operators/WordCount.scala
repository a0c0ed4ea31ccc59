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
  * Steps 1-3 are one token rule ([[graft.functions.WordTokens.Rule]]).
  * It keeps two Java-regex departures from Go on purpose (SURVEY.md
  * §7.5): U+0085/U+00A0/U+2028/… do not split tokens, and a cutset run
  * before a token-final U+0085/U+2028/U+2029 is stripped.
  *
  * This single pipeline covers reference operators O1-O10 (SURVEY.md §2.1):
  * scan, flatMap, project, filter, hash shuffle (groupBy), group,
  * per-key count, sort, sink. Steps 1-5 run map-side in one kernel
  * ([[graft.functions.WordCounts]]): each task counts its words in a
  * table and emits one `(word, cnt)` row per word, the in-mapper
  * combine the reference lacks (`worker.go:152-159` ships every
  * ("word","1") pair). Shuffle volume is O(distinct words per task),
  * not O(tokens), and Zipf skew (SURVEY.md §7.5) is absorbed the same
  * way; the `sum` after the shuffle merges the tasks' counts.
  */
object WordCount {

  /** Tokenize a text column with exact reference semantics; yields one
    * row per non-empty token. Split, trim and lowercase are one kernel
    * pass ([[graft.functions.WordTokens]]); the filter is the
    * reference's "drop empty" step. */
  def tokenize(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextFunctions.wordTokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")

  /** Per-task `(word, cnt)` counts of a text column, counted inside the
    * tokenizer: a word may appear once per task, or more often when a
    * task's table filled up, so sum `cnt` per word. */
  def counts(df: DataFrame, textCol: String): DataFrame =
    df.select(TextFunctions.wordCounts(col(textCol)))

  /** The flagship query: word frequencies over `documents.text`,
    * deterministically ordered. */
  def wordCount(docs: DataFrame): DataFrame =
    counts(docs, "text")
      .groupBy("word")
      .agg(sum("cnt").as("cnt"))
      .orderBy("word")
}
