package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Output checks, written against the reference contract in plain Scala
  * so that they share no code with the engine they check. Each returns
  * None when the output is right, or the first mismatch found. */
object Check {
  /** Go `fnv.New32a()` over the word's bytes, then `& 0x7fffffff % n`
    * (the reference's ihash routing, worker.go:170-174). */
  def bucket(word: String, n: Int): Int = {
    var h = 0x811c9dc5
    word.getBytes(UTF_8).foreach { b => h = (h ^ (b & 0xff)) * 0x01000193 }
    (h & 0x7fffffff) % n
  }

  private def dataFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("_"))
      .toSeq.sortBy(_.getFileName.toString)

  private def lines(p: Path): Iterator[String] =
    Files.readAllLines(p, UTF_8).iterator.asScala

  private def parseLine(line: String): Option[(String, Long)] = line.split("\t", -1) match {
    case Array(w, c) => c.toLongOption.map(w -> _)
    case _ => None
  }

  /** WordCountMain's layout: `bucket=<b>/part-*` files of `word\tcount`
    * lines. Every expected word must appear once, with its count, under
    * the bucket the reference routes it to, and nothing else may appear. */
  def bucketedCounts(out: Path, expected: Map[String, Long], nReduce: Int): Option[String] = {
    if (!Files.isDirectory(out)) return Some(s"no output directory $out")
    val seen = new java.util.HashSet[String]
    val dirs = Files.list(out).iterator.asScala.filter(Files.isDirectory(_)).toSeq
    for (d <- dirs) {
      val name = d.getFileName.toString
      val b = name.stripPrefix("bucket=").toIntOption
        .getOrElse(return Some(s"unexpected directory $name"))
      for (f <- dataFiles(d); line <- lines(f)) {
        val (w, c) = parseLine(line).getOrElse(return Some(s"malformed line '$line' in $name"))
        if (!seen.add(w)) return Some(s"word '$w' written twice")
        expected.get(w) match {
          case None => return Some(s"unexpected word '$w'")
          case Some(e) if e != c => return Some(s"word '$w': count $c, expected $e")
          case _ =>
        }
        val want = bucket(w, nReduce)
        if (want != b) return Some(s"word '$w' in bucket $b, expected bucket $want")
      }
    }
    if (seen.size != expected.size) Some(s"${expected.size - seen.size} words missing")
    else None
  }

  /** MapReduce.runOnFiles' result written as `key\tvalue` part files:
    * every generated key once, with its count, in ascending key order. */
  def highCardCounts(out: Path, gen: Corpus.HighCard): Option[String] = {
    if (!Files.isDirectory(out)) return Some(s"no output directory $out")
    var n = 0L
    var prev: String = null
    for (f <- dataFiles(out); line <- lines(f)) {
      val (w, c) = parseLine(line).getOrElse(return Some(s"malformed line '$line'"))
      if (prev != null && prev.compareTo(w) >= 0) return Some(s"key '$w' out of order after '$prev'")
      val k = gen.index(w)
      if (k < 0) return Some(s"unexpected key '$w'")
      val e = gen.count(k)
      if (e != c) return Some(s"key '$w': count $c, expected $e")
      prev = w
      n += 1
    }
    if (n != gen.distinct) Some(s"${gen.distinct - n} keys missing") else None
  }
}
