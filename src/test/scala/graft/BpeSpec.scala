package graft

import graft.functions.{BpeFunctions, BpeTokenizer}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Gates for the trained-BPE tokenizer (`tx_bpe`): training pinned on
  * hand-computable dicts, the greedy-by-rank kernel pinned against an
  * independent sequential-merge reference (the two formulations are
  * equivalent for a table learned by BPE training — that equivalence
  * IS the check), and the compression invariants the count exists
  * for. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("training is deterministic and hand-verifiable on a tiny dict") {
    // "abab"×10, "ab"×5: pair (a,b) count 25 beats (b,a) 10 → merge 1;
    // then (ab,ab) count 10 is the only pair → merge 2; then no
    // adjacent pair remains anywhere → early stop
    val merges = BpeTokenizer.train(Seq("abab" -> 10L, "ab" -> 5L), 10)
    assert(merges == Seq(("a", "b"), ("ab", "ab")))
    // tie-break is (count desc, pair lexicographic): "ba"×3 vs "ab"×3
    val tied = BpeTokenizer.train(Seq("ab" -> 3L, "ba" -> 3L), 1)
    assert(tied == Seq(("a", "b")))
  }

  test("kernel ≡ independent sequential-merge reference on trained tables") {
    // reference: Sennrich's formulation — apply each merge in training
    // order, replacing ALL adjacent occurrences, word by word; written
    // against String lists, sharing no code with the kernel's
    // greedy-lowest-rank loop
    def refEncodeLen(word: String, merges: Seq[(String, String)]): Int = {
      var ps: List[String] = word.map(_.toString).toList
      merges.foreach { case (a, b) =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var rest = ps
        while (rest.nonEmpty) rest match {
          case x :: y :: tl if x == a && y == b => out += (a + b); rest = tl
          case x :: tl                          => out += x; rest = tl
          case Nil                              =>
        }
        ps = out.toList
      }
      ps.length
    }
    def refCount(text: String, merges: Seq[(String, String)]): Long =
      text.split("\\s+").filter(_.nonEmpty).map(refEncodeLen(_, merges).toLong).sum

    // train on a Zipf-ish dict of corpus-like words
    val dict = Seq("the" -> 500L, "quick" -> 80L, "brown" -> 70L,
      "fox" -> 60L, "jumps" -> 50L, "over" -> 45L, "lazy" -> 40L,
      "dog" -> 35L, "tokenizer" -> 20L, "tokens" -> 18L, "token" -> 15L)
    val merges = BpeTokenizer.train(dict, 60)
    val gen = Gen.listOfN(30, Gen.frequency(
      8 -> Gen.oneOf(dict.map(_._1)), 2 -> Gen.listOfN(5, Gen.alphaLowerChar).map(_.mkString)))
      .map(_.mkString(" "))
    val samples = (1 to 25).flatMap(n =>
      gen.apply(Gen.Parameters.default, Seed(n.toLong))) ++
      Seq("", "   ", "the", "thequickbrown", "unrelated zxqvw",
        "the  quick\tbrown\nfox")
    val got = samples.toDF("s")
      .select(BpeFunctions.bpeCount(col("s"), merges)).collect().map(_.getLong(0))
    samples.zip(got).foreach { case (s, n) =>
      assert(n == refCount(s, merges), s"bpe count mismatch for '$s'")
    }
  }

  test("compression invariants: no merges = chars; more merges never increase; trained words compress") {
    val dict = Seq("hello" -> 100L, "world" -> 90L, "hold" -> 10L)
    val texts = Seq("hello world", "hello hello world", "held holdout")
    def counts(merges: Seq[(String, String)]): Seq[Long] =
      texts.toDF("s").select(BpeFunctions.bpeCount(col("s"), merges))
        .collect().map(_.getLong(0)).toSeq
    // zero merges → every non-whitespace char is its own piece
    assert(counts(Nil) == texts.map(_.count(!_.isWhitespace).toLong))
    // the merge ladder is monotone non-increasing per text
    val ladder = (0 to 8).map(k => counts(BpeTokenizer.train(dict, k)))
    ladder.sliding(2).foreach { case Seq(prev, next) =>
      prev.zip(next).foreach { case (p, n) => assert(n <= p) }
    }
    // a fully-trained vocab collapses its own words to single pieces
    val full = BpeTokenizer.train(dict, 50)
    val Seq(hw, hhw, _) = counts(full)
    assert(hw == 2L, s"'hello world' should be 2 pieces, got $hw")
    assert(hhw == 3L)
  }

  test("tx_bpe registry query: bounded below by ws_tokens, non-degenerate, deterministic") {
    // the registry's numMerges=48: a PARTIAL vocab over the fixture's
    // 31-word vocabulary — full training collapses every word to one
    // piece and the count degenerates to exactly ws_tokens
    val df = operators.TextAnalysis.bpeTokenCount(spark, sfDir, numMerges = 48)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // at least one piece per whitespace word
      assert(r.getLong(2) >= r.getLong(1),
        s"doc ${r.getLong(0)}: bpe pieces < whitespace words")
    }
    assert(rows.exists(r => r.getLong(2) > r.getLong(1)),
      "48-merge vocab must leave some words multi-piece — degenerate signal")
    val again = operators.TextAnalysis.bpeTokenCount(spark, sfDir, numMerges = 48).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq,
      "trained-BPE count must be deterministic across plan builds")
  }
}
