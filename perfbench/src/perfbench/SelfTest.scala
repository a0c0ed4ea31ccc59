package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

/** The benchmark's own tests: seeded generation is reproducible, the
  * output checkers accept a right output and reject planted errors, and
  * the registry subset is complete. Needs no Spark session. Run with
  * `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var failures = 0
  private def expect(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  private def digest(files: Seq[Path]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    files.foreach(f => md.update(Files.readAllBytes(f)))
    md.digest().map("%02x".format(_)).mkString
  }

  private def write(p: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, lines.map(_ + "\n").mkString, UTF_8)
  }

  /** WordCountMain's layout, written directly from the expected counts. */
  private def bucketed(out: Path, counts: Seq[(String, Long)]): Unit =
    counts.groupBy { case (w, _) => Check.bucket(w, 5) }.foreach { case (b, ws) =>
      write(out.resolve(s"bucket=$b/part-00000.txt"), ws.map { case (w, c) => s"$w\t$c" })
    }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val Bytes = 1L << 20

    // same seed: byte-identical corpus and identical counts; other seed: different
    val (a, ca) = new Corpus.Zipf(7, 5000).stage(work.resolve("a"), 3, Bytes)
    val (b, cb) = new Corpus.Zipf(7, 5000).stage(work.resolve("b"), 3, Bytes)
    val (c, cc) = new Corpus.Zipf(8, 5000).stage(work.resolve("c"), 3, Bytes)
    expect(digest(a.files) == digest(b.files), "zipf: same seed, byte-identical corpus")
    expect(ca == cb, "zipf: same seed, identical counts")
    expect(digest(a.files) != digest(c.files), "zipf: other seed, different corpus")
    expect(ca != cc, "zipf: other seed, different counts")
    expect(ca.values.sum == a.tokens, "zipf: counts add up to the tokens written")
    val h1 = new Corpus.HighCard(7, 20000)
    val ha = h1.stage(work.resolve("ha"), 2)
    val hb = new Corpus.HighCard(7, 20000).stage(work.resolve("hb"), 2)
    val hc = new Corpus.HighCard(8, 20000).stage(work.resolve("hc"), 2)
    expect(digest(ha.files) == digest(hb.files), "highcard: same seed, byte-identical corpus")
    expect(digest(ha.files) != digest(hc.files), "highcard: other seed, different corpus")
    expect(ha.tokens == h1.totalTokens, "highcard: every generated token written")

    // the corpus tokenized in plain Scala (wordcount.go:15 semantics)
    // gives exactly the generator's counts
    val cut = ".,!?\"':;()".toSet
    val tokenized = a.files.flatMap(f => Files.readString(f).split("\\s+"))
      .map(w => w.dropWhile(cut).reverse.dropWhile(cut).reverse.toLowerCase)
      .filter(_.nonEmpty).groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    expect(tokenized == ca, "zipf: independent tokenization matches the expected counts")

    // checker: the right output passes, planted errors fail
    val right = ca.toSeq.sorted
    bucketed(work.resolve("ok"), right)
    expect(Check.bucketedCounts(work.resolve("ok"), ca, 5).isEmpty, "check: right output accepted")
    val (w0, n0) = right.head
    bucketed(work.resolve("count"), right.updated(0, w0 -> (n0 + 1)))
    expect(Check.bucketedCounts(work.resolve("count"), ca, 5).exists(_.contains("count")),
      "check: planted wrong count rejected")
    bucketed(work.resolve("moved"), right.tail)
    val wrongBucket = (Check.bucket(w0, 5) + 1) % 5
    write(work.resolve(s"moved/bucket=$wrongBucket/part-99999.txt"), Seq(s"$w0\t$n0"))
    expect(Check.bucketedCounts(work.resolve("moved"), ca, 5).exists(_.contains("bucket")),
      "check: planted wrong bucket rejected")
    bucketed(work.resolve("missing"), right.tail)
    expect(Check.bucketedCounts(work.resolve("missing"), ca, 5).isDefined,
      "check: missing word rejected")

    val keys = (0L until h1.distinct).map(k => h1.key(k) -> h1.count(k)).sortBy(_._1)
    write(work.resolve("hok/part-00000.txt"), keys.map { case (k, n) => s"$k\t$n" })
    expect(Check.highCardCounts(work.resolve("hok"), h1).isEmpty, "check: right highcard output accepted")
    val (k0, m0) = keys(3)
    write(work.resolve("hbad/part-00000.txt"),
      keys.updated(3, k0 -> (m0 + 1)).map { case (k, n) => s"$k\t$n" })
    expect(Check.highCardCounts(work.resolve("hbad"), h1).exists(_.contains("count")),
      "check: planted wrong highcard count rejected")

    // the registry subset covers every module group, and every query in
    // it has a hash to be checked against
    val manifest = Files.readString(Paths.get(args(1)))
    expect(Registry.families.forall(f => Registry.subset.exists(q => Registry.family(q) == f)),
      "registry: subset has a query of every module group")
    expect(Registry.subset.forall(q => manifest.contains(s"\"$q\"")),
      "registry: every subset query is in the manifest")

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
