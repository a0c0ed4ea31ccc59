package graft

/** End-to-end CLI-parity job: mr-out-style bucketed TSV output with
  * reference partition routing. */
class WordCountMainSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed TSV output routes words exactly like the reference ihash") {
    val in = tempDir("wcmain")
    val out = s"$in/out"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/input.txt"),
      "hello world\nthis is a test\nhello test\nworld hello\n")
    WordCountMain.main(Array(s"$in/input.txt", out, "3"))
    val got = spark.read.option("basePath", out).text(s"$out/bucket=*")
      .selectExpr("value", "cast(regexp_extract(input_file_name(), 'bucket=(\\\\d+)', 1) as int) as bucket")
      .as[(String, Int)].collect()
    val counts = got.map { case (line, b) =>
      val Array(w, c) = line.split("\t"); (w, c.toLong, b)
    }
    assert(counts.map(t => t._1 -> t._2).toMap == Map(
      "hello" -> 3L, "world" -> 2L, "test" -> 2L,
      "this" -> 1L, "is" -> 1L, "a" -> 1L))
    counts.foreach { case (w, _, b) =>
      val bytes = w.getBytes("UTF-8")
      val expected = (graft.functions.HashFunctions.fnv1a32Bytes(bytes, 0, bytes.length)
        & 0x7fffffff) % 3
      assert(b == expected, s"$w routed to $b, reference says $expected")
    }
  }

  test("reduce task b writes bucket b: one part-0000b file per bucket, words in byte order") {
    val in = tempDir("wcmain-order")
    val out = s"$in/out"
    // ASCII words plus non-ASCII ones whose UTF-16 order differs from
    // their UTF-8 byte order (an emoji sorts before U+FF21 in UTF-16,
    // after it in UTF-8, where its lead byte is 0xF0)
    val words = (0 until 400).map(i => s"w${(i * 7919) % 400}") ++
      Seq("\uFF21", "\uD83D\uDE00", "\u00E9t\u00E9", "z\u00FF", "zz")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/input.txt"),
      words.grouped(20).map(_.mkString(" ")).mkString("\n"))
    val nReduce = 5
    WordCountMain.main(Array(s"$in/input.txt", out, nReduce.toString))
    val byteOrder = Ordering.fromLessThan[Array[Byte]](java.util.Arrays.compareUnsigned(_, _) < 0)
    var seen = 0
    for (b <- 0 until nReduce) {
      val dir = java.nio.file.Paths.get(out, s"bucket=$b")
      val files = java.nio.file.Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("part-"))
      assert(files.length == 1, s"bucket $b: ${files.mkString(", ")}")
      assert(files.head.getFileName.toString.startsWith(f"part-$b%05d"),
        s"bucket $b written by another reduce task: ${files.head}")
      val ws = java.nio.file.Files.readAllLines(files.head).toArray.map(_.toString.split("\t")(0))
      val bytes = ws.map(_.getBytes("UTF-8")).toSeq
      assert(bytes == bytes.sorted(byteOrder), s"bucket $b not in byte order: ${ws.mkString(" ")}")
      assert(ws.distinct.length == ws.length)
      seen += ws.length
    }
    assert(seen == words.distinct.size)
  }
}
