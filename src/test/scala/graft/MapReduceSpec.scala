package graft

import graft.mr._
import org.apache.spark.sql.Row

/** Typed pluggable Mapper/Reducer surface — the heritage of the
  * reference's two UDF interfaces (types.go:8-14). */
class MapReduceSpec extends SparkSpec {
  import spark.implicits._

  test("WordCountMapper matches reference mapper semantics") {
    val out = WordCountMapper.map("f.txt", "The quick.. (brown) FOX!").toSeq
    assert(out == Seq("the" -> "1", "quick" -> "1", "brown" -> "1", "fox" -> "1"))
  }

  test("index-scan WordCountMapper ≡ the split/dropWhile formula on adversarial docs") {
    val cutset = ".,!?\"':;()".toSet
    def formula(contents: String): Seq[(String, String)] =
      contents.split("\\s+").toSeq
        .map(w => w.dropWhile(cutset).reverse.dropWhile(cutset).reverse
          .toLowerCase(java.util.Locale.ROOT))
        .filter(_.nonEmpty)
        .map(w => (w, "1"))
    val alphabet = Seq("a", "Word", "QUIT", ".", ",", "!", "?", "\"", "'", ":", ";", "(", ")",
      " ", "\t", "\n", "\u000B", "\f", "\r", "\u0085", "\u00A0", "\u2028", "\u3000",
      "\u0130", "\u03A3", "\u00DF", "\u212A", "\uD83D\uDE00")
    val rnd = new scala.util.Random(7)
    val docs = Seq("", " ", "...", "  lead", "trail  ") ++
      (1 to 500).map(_ => Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.size))).mkString)
    docs.foreach(d => assert(WordCountMapper.map("f", d).toSeq == formula(d), d))
  }

  test("WordCountMapper lowercases the same under a Turkish default locale") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
      assert(WordCountMapper.map("f", "TITLE Istanbul").toSeq ==
        Seq("title" -> "1", "istanbul" -> "1"))
    } finally java.util.Locale.setDefault(saved)
  }

  test("WordCountReducer empty-group contract returns \"0\" (wordcount.go:27-29)") {
    assert(WordCountReducer.finish(WordCountReducer.zero) == "0")
  }

  test("end-to-end typed job reproduces inline e2e corpus golden") {
    val docs = Seq(
      ("input.txt", "hello world\nthis is a test\nhello test\nworld hello")).toDS()
    val result = MapReduce.run(spark, docs, WordCountMapper, WordCountReducer)
    val m = result.collect().map { case Row(k: String, v: String) => k -> v }.toMap
    assert(m == Map("hello" -> "3", "world" -> "2", "test" -> "2",
      "this" -> "1", "is" -> "1", "a" -> "1"))
    // sorted-by-key output contract (worker.go:216-221)
    assert(result.collect().map(_.getString(0)).toSeq ==
      m.keys.toSeq.sorted)
  }

  test("explicit nReduce partitioning is honored") {
    val docs = Seq(("a", "x y z x")).toDS()
    val result = MapReduce.run(spark, docs, WordCountMapper, WordCountReducer,
      numPartitions = Some(3))
    val m = result.collect().map { case Row(k: String, v: String) => k -> v }.toMap
    assert(m == Map("x" -> "2", "y" -> "1", "z" -> "1"))
  }

  test("custom reducer plugs in (max-length value fold)") {
    object LongestValue extends Reducer[String] {
      def zero = ""
      def add(b: String, v: String): String = if (v.length > b.length) v else b
      def merge(a: String, b: String): String = if (a.length >= b.length) a else b
      def finish(b: String): String = b
    }
    object IdentityMapper extends Mapper {
      def map(name: String, contents: String): Iterator[(String, String)] =
        contents.split("\n").iterator.map { l =>
          val Array(k, v) = l.split(",", 2); (k, v)
        }
    }
    val docs = Seq(("a", "k1,short\nk1,muchlongervalue\nk2,mid")).toDS()
    val result = MapReduce.run(spark, docs, IdentityMapper, LongestValue)
    val m = result.collect().map { case Row(k: String, v: String) => k -> v }.toMap
    assert(m == Map("k1" -> "muchlongervalue", "k2" -> "mid"))
  }

  test("runOnFiles reads whole files like the reference CLI") {
    val result = MapReduce.runOnFiles(spark,
      Seq("/root/reference/pg-being_ernest.txt"), WordCountMapper, WordCountReducer)
    val m = result.collect().map { case Row(k: String, v: String) => k -> v }.toMap
    // per-file golden from BASELINE.md: being_ernest 23,629 tokens / 3,348 distinct
    assert(m.size == 3348)
    assert(m.values.map(_.toLong).sum == 23629L)
  }
}
