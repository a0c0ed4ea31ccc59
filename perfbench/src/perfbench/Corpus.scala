package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}

/** splitmix64: a seeded stream whose output depends on nothing but the
  * seed, so a corpus is byte-identical across JDKs and hosts. */
final class Rng(seed: Long) {
  private var s = seed
  def next(): Long = { s += 0x9e3779b97f4a7c15L; Rng.mix(s) }
  def below(n: Int): Int = java.lang.Long.remainderUnsigned(next(), n.toLong).toInt
  def uniform(): Double = (next() >>> 11) * (1.0 / (1L << 53))
}

object Rng {
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** Seeded text corpora for the word-count workloads. Tokens carry case
  * and `.,!?"':;()` noise so every rule of the reference tokenizer
  * (`wordcount.go:15`: fields, trim runs of the cutset, lowercase, drop
  * empty) changes some token; the generator knows each token's clean
  * form, so the exact expected counts come for free. */
object Corpus {
  private val suffixes = Array(".", ",", "!", "?", ";", ":", "...", "?!", "\"", "'", ")", ".\"", ",'", "!)")
  private val prefixes = Array("\"", "'", "(", "(\"", "'(")
  // whole tokens made of cutset characters only: they trim to "" and drop
  private val noiseTokens = Array("...", "!?", "\"", "(", "'.")

  /** Files written plus the exact expected counts. */
  final case class Staged(files: Seq[Path], bytes: Long, tokens: Long)

  /** Writes tokens until each of `nFiles` files holds about
    * `bytesPerFile` bytes. `emit` appends the next token; a finite stream
    * returns false once exhausted, and its last file takes what is left. */
  private def writeFiles(dir: Path, nFiles: Int, bytesPerFile: Long, rng: Rng,
      finite: Boolean)(emit: StringBuilder => Boolean): Staged = {
    Files.createDirectories(dir)
    var total = 0L
    var tokens = 0L
    var more = true
    val files = (0 until nFiles).map { f =>
      val path = dir.resolve(f"part-$f%03d.txt")
      val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16)
      val line = new StringBuilder
      var written = 0L
      val drain = finite && f == nFiles - 1
      try {
        while (more && (written < bytesPerFile || drain)) {
          line.setLength(0)
          // a leading blank makes split("\\s+") yield an empty first field
          if (rng.below(50) == 0) line.append(' ')
          val n = 8 + rng.below(10)
          var i = 0
          while (i < n && more) {
            if (i > 0) line.append(if (rng.below(50) == 0) "\t " else " ")
            if (rng.below(100) == 0) line.append(noiseTokens(rng.below(noiseTokens.length)))
            else { more = emit(line); if (more) tokens += 1 }
            i += 1
          }
          line.append('\n')
          val bytes = line.toString.getBytes(US_ASCII)
          out.write(bytes)
          written += bytes.length
        }
      } finally out.close()
      total += written
      path
    }
    Staged(files, total, tokens)
  }

  /** Case and punctuation noise around a clean lowercase token. */
  private def noisy(sb: StringBuilder, clean: String, rng: Rng): Unit = {
    val r = rng.below(100)
    if (r < 5) sb.append(prefixes(rng.below(prefixes.length)))
    val c = rng.below(100)
    if (c < 10) sb.append(clean.head.toUpper).append(clean.substring(1))
    else if (c < 12) sb.append(clean.toUpperCase(java.util.Locale.ROOT))
    else sb.append(clean)
    if (rng.below(100) < 15) sb.append(suffixes(rng.below(suffixes.length)))
  }

  /** Zipf(s = 1) word frequencies over a seeded vocabulary. */
  final class Zipf(seed: Long, val vocabSize: Int) {
    val vocab: Array[String] = {
      val rng = new Rng(seed ^ 0x5eed0001L)
      val seen = new java.util.HashSet[String]
      val out = Array.newBuilder[String]
      while (seen.size < vocabSize) {
        val len = 2 + rng.below(10)
        val sb = new StringBuilder
        (0 until len).foreach(_ => sb.append(('a' + rng.below(26)).toChar))
        // an inner apostrophe survives the trim (trim only strips the ends)
        if (len > 3 && rng.below(50) == 0) sb.setCharAt(1 + rng.below(len - 2), '\'')
        val w = sb.toString
        if (seen.add(w)) out += w
      }
      out.result()
    }
    private val cdf: Array[Double] = {
      val c = new Array[Double](vocabSize)
      var acc = 0.0
      var r = 0
      while (r < vocabSize) { acc += 1.0 / (r + 1); c(r) = acc; r += 1 }
      c
    }
    def sample(rng: Rng): Int = {
      val u = rng.uniform() * cdf(vocabSize - 1)
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, vocabSize - 1)
    }

    /** Writes the corpus and returns it with the count of every word. */
    def stage(dir: Path, nFiles: Int, totalBytes: Long): (Staged, Map[String, Long]) = {
      val rng = new Rng(seed)
      val counts = new Array[Long](vocabSize)
      val staged = writeFiles(dir, nFiles, totalBytes / nFiles, rng, finite = false) { sb =>
        val r = sample(rng)
        counts(r) += 1
        noisy(sb, vocab(r), rng)
        true
      }
      val expected = vocab.indices.iterator.filter(counts(_) > 0)
        .map(r => vocab(r) -> counts(r)).toMap
      (staged, expected)
    }
  }

  /** Near-unique keys: key `k` in [0, distinct) renders as `k` + 10 hex
    * digits of a seeded bijection on 40 bits, so keys are distinct, their
    * order in the input looks random for every seed, and the checker can
    * invert a key to `k` and recompute its count without holding a map of
    * every key. */
  final class HighCard(seed: Long, val distinct: Int) {
    private val Mask = (1L << 40) - 1
    private val salt = Rng.mix(seed + 0x9e3779b9L) & Mask
    // odd multipliers and their inverses mod 2^40; x ^= x >>> 20 is its
    // own inverse on 40 bits
    private val (m1, m2) = (0xd6e8feb867L, 0x9fb21c651bL)
    private def inverse(m: Long): Long = {
      var x = m
      (1 to 6).foreach(_ => x = x * (2 - m * x))
      x & Mask
    }
    private val (i1, i2) = (inverse(m1), inverse(m2))
    private def forward(k: Long): Long = {
      var x = ((k ^ salt) * m1) & Mask
      x ^= x >>> 20
      x = (x * m2) & Mask
      x ^ (x >>> 20)
    }
    private def backward(y0: Long): Long = {
      var y = y0 ^ (y0 >>> 20)
      y = (y * i2) & Mask
      y ^= y >>> 20
      ((y * i1) & Mask) ^ salt
    }
    private val countSalt = Rng.mix(seed ^ 0x77777L)
    /** About one key in eight repeats (2-4 times); the rest occur once. */
    def count(k: Long): Long = {
      val h = Rng.mix(k ^ countSalt)
      if ((h & 7) == 0) 2 + java.lang.Long.remainderUnsigned(h >>> 3, 3) else 1
    }
    def key(k: Long): String = {
      val hex = java.lang.Long.toHexString(forward(k))
      "k" + ("0" * (10 - hex.length)) + hex
    }
    /** The k a clean key renders, or -1 if no k < distinct renders it. */
    def index(key: String): Long =
      if (key.length != 11 || key.head != 'k') -1
      else try {
        val k = backward(java.lang.Long.parseLong(key.substring(1), 16))
        if (k < distinct && this.key(k) == key) k else -1
      } catch { case _: NumberFormatException => -1 }
    def totalTokens: Long = (0L until distinct).iterator.map(count).sum

    def stage(dir: Path, nFiles: Int): Staged = {
      val rng = new Rng(seed)
      var k = 0L
      var left = count(0)
      // ~15.5 bytes per key (1.25 tokens of ~12.4 bytes with separators)
      val perFile = distinct.toLong * 31 / 2 / nFiles
      writeFiles(dir, nFiles, perFile, rng, finite = true) { sb =>
        if (k >= distinct) false
        else {
          noisy(sb, key(k), rng)
          left -= 1
          if (left == 0) { k += 1; if (k < distinct) left = count(k) }
          true
        }
      }
    }
  }
}
