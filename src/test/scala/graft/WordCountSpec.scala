package graft

import graft.operators.WordCount
import org.apache.spark.sql.Row

/** Parity goldens from the reference's own fixtures (FIXTURES.md §A):
  * mapper unit fixture (wordcount_test.go:11-20), inline e2e corpus
  * (coordinator_test.go:88-89,145-149), and the Gutenberg corpus
  * (BASELINE.md golden stats). */
class WordCountSpec extends SparkSpec {
  import spark.implicits._

  test("tokenizer matches mapper unit fixture (order-preserving)") {
    val df = Seq("the quick brown fox").toDF("text")
    val toks = WordCount.tokenize(df, "text").as[String].collect()
    assert(toks.toSeq == Seq("the", "quick", "brown", "fox"))
  }

  test("trim strips runs from both ends, lowercases, drops empties") {
    // Go strings.Trim semantics: runs of .,!?"':;() from both ends
    val df = Seq("""..Hello!! (world) it's ''quoted'' ?!?. x""").toDF("text")
    val toks = WordCount.tokenize(df, "text").as[String].collect()
    assert(toks.toSeq == Seq("hello", "world", "it's", "quoted", "x"))
  }

  test("planted tokenizer corners: $ before a final NEL, cutset-only tokens, leading whitespace") {
    def toks(text: String): Seq[String] =
      WordCount.tokenize(Seq(text).toDF("text"), "text").as[String].collect().toSeq
    // Java's `$` matches before a final line terminator, so the trailing
    // cutset run in front of U+0085 is stripped (Go's Trim keeps it)
    assert(toks("word.\u0085") == Seq("word\u0085"))
    assert(toks("hi ?!.() there ''") == Seq("hi", "there"))
    assert(toks(" \t\u000BLeading (Space) ") == Seq("leading", "space"))
  }

  test("inline e2e corpus golden: hello=3 world=2 test=2") {
    val df = Seq("hello world\nthis is a test\nhello test\nworld hello\n").toDF("text")
    val counts = WordCount.wordCount(df).collect()
      .map { case Row(w: String, c: Long) => w -> c }.toMap
    assert(counts == Map(
      "hello" -> 3L, "world" -> 2L, "test" -> 2L,
      "this" -> 1L, "is" -> 1L, "a" -> 1L))
  }

  test("Gutenberg corpus golden: 183,581 tokens / 12,683 distinct / the=9,088") {
    val lines = spark.read.text(
      "/root/reference/pg-being_ernest.txt",
      "/root/reference/pg-dorian_gray.txt",
      "/root/reference/pg-frankenstein.txt")
    val wc = WordCount.wordCountText(lines).cache()
    val distinct = wc.count()
    val total = wc.agg(org.apache.spark.sql.functions.sum($"cnt")).as[Long].head()
    val counts = wc.filter($"word".isin("the", "and", "of", "to", "a")).collect()
      .map { case Row(w: String, c: Long) => w -> c }.toMap
    assert(distinct == 12683L)
    assert(total == 183581L)
    assert(counts == Map("the" -> 9088L, "and" -> 5653L, "of" -> 5568L,
      "to" -> 4938L, "a" -> 3631L))
    wc.unpersist()
  }

  test("result invariant under partition count (shuffle correctness)") {
    val docs = Tables.documents(spark, sfDir)
    val a = WordCount.wordCount(docs).collect().toSeq
    val b = WordCount.wordCount(docs.repartition(13)).collect().toSeq
    assert(a == b)
  }

  test("tsv sink writes key<TAB>value like mr-out-*") {
    val dir = tempDir("wc-tsv")
    val df = Seq("hello world hello").toDF("text")
    WordCount.writeTsv(WordCount.wordCount(df), dir)
    val lines = spark.read.text(dir).as[String].collect().sorted
    assert(lines.toSeq == Seq("hello\t2", "world\t1"))
  }
}
