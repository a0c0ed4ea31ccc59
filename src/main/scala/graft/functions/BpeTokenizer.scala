package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenization with a REAL trained merge table —
  * the upgrade over the `tx_tokens` regex proxy (a BPE-ish count with
  * no vocabulary). Two public pieces, mirroring how production
  * tokenizers split the work:
  *
  *  - [[BpeTokenizer.train]]: learn `numMerges` merges from a
  *    word-frequency table (Sennrich et al. 2016, "Neural Machine
  *    Translation of Rare Words with Subword Units" — the reference
  *    algorithm trains on exactly this word-count dict, not the raw
  *    corpus). Driver-side pure Scala over a BOUNDED artifact: the
  *    top-K word counts, produced by one distributed aggregation.
  *    Deterministic: ties break on (count desc, pair lexicographic).
  *  - [[BpeEncodeCount]]: count the subword pieces a text encodes to
  *    under a trained merge table — per whitespace word, start from
  *    characters and repeatedly merge the LOWEST-RANK adjacent pair
  *    present (the GPT-2 greedy formulation; equivalent to applying
  *    merges in training order, which is what the spec's independent
  *    reference does). Map-side, merge table rides the expression
  *    (vocab-sized — KBs — the same artifact every tokenizer ships).
  *
  * Unseen characters simply never merge — each stays its own piece
  * (char-fallback, no OOV failure). Operates on UTF-16 code units of
  * the lowercased text, consistent with the training side. */
object BpeTokenizer {

  /** Learn `numMerges` merges from `wordCounts` (word → frequency).
    * Returns merges in training order; position = rank. Stops early
    * when no adjacent pair remains (fully merged vocabulary). */
  def train(wordCounts: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    var words: Seq[(Vector[String], Long)] =
      wordCounts.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val merges = Vector.newBuilder[(String, String)]
    var done = false
    var i = 0
    while (i < numMerges && !done) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (ps, c) =>
        var j = 0
        while (j < ps.length - 1) {
          val k = (ps(j), ps(j + 1))
          pairCounts.update(k, pairCounts.getOrElse(k, 0L) + c)
          j += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        val best = pairCounts.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        words = words.map { case (ps, c) => (mergePair(ps, best), c) }
        i += 1
      }
    }
    merges.result()
  }

  /** Replace every adjacent occurrence of `pair` in `ps` (left to
    * right, non-overlapping) with the merged symbol. */
  def mergePair(ps: Vector[String], pair: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var j = 0
    while (j < ps.length) {
      if (j < ps.length - 1 && ps(j) == pair._1 && ps(j + 1) == pair._2) {
        out += (pair._1 + pair._2); j += 2
      } else { out += ps(j); j += 1 }
    }
    out.result()
  }

  /** Number of pieces `word` encodes to under `ranks` (merged pair →
    * rank): greedily merge the lowest-rank adjacent pair until none
    * remains. Shared by the kernel; exercised directly by specs. */
  def encodeLen(word: String, ranks: java.util.HashMap[String, Int]): Int = {
    if (word.isEmpty) return 0
    var ps = new java.util.ArrayList[String](word.length)
    var i = 0
    while (i < word.length) { ps.add(String.valueOf(word.charAt(i))); i += 1 }
    var merged = true
    while (merged && ps.size > 1) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var j = 0
      while (j < ps.size - 1) {
        val r = ranks.getOrDefault(ps.get(j) + " " + ps.get(j + 1), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestAt = j }
        j += 1
      }
      if (bestAt < 0) merged = false
      else {
        ps.set(bestAt, ps.get(bestAt) + ps.get(bestAt + 1))
        ps.remove(bestAt + 1)
      }
    }
    ps.size
  }
}

/** Total BPE piece count of a text under a trained merge table:
  * whitespace-split words encoded independently (pieces never cross a
  * word boundary — the standard pre-tokenization rule), counts summed.
  * Null-safe; empty/blank text counts 0. */
case class BpeEncodeCount(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bpe_count"

  @transient private lazy val ranks: java.util.HashMap[String, Int] = {
    val m = new java.util.HashMap[String, Int](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), r) => m.put(a + " " + b, r) }
    m
  }

  override protected def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    var total = 0L
    var start = -1
    var i = 0
    while (i <= s.length) {
      // repo-wide tokenizer contract (Java \s = ASCII [ \t\n\x0B\f\r]),
      // NOT Character.isWhitespace: the training dict tokenizes with
      // the same rule, and a wider class here (U+2028, NEL, …) would
      // split words the vocabulary never trained on
      val c = if (i == s.length) ' ' else s.charAt(i)
      val ws = i == s.length || c == ' ' || (c >= '\t' && c <= '\r')
      if (!ws && start < 0) start = i
      else if (ws && start >= 0) {
        total += BpeTokenizer.encodeLen(s.substring(start, i), ranks)
        start = -1
      }
      i += 1
    }
    total
  }
  override protected def withNewChildInternal(c: Expression): BpeEncodeCount =
    copy(child = c)
}

object BpeFunctions {
  import org.apache.spark.sql.graft.ColumnBridge
  /** `long`: total trained-BPE piece count of the text. */
  def bpeCount(c: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeEncodeCount(ColumnBridge.expression(c), merges))
}
