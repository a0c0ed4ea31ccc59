package graft

import org.apache.spark.sql.functions._

/** A local filesystem registered under a scheme that exists ONLY in
  * the session Hadoop conf (`fs.grafttest.impl`). A writer that
  * default-constructs its executor-side `Configuration` cannot
  * resolve the scheme at all — so a successful write through it
  * PROVES the session conf reached the write tasks (the
  * SerializableHadoopConf contract). Needs the no-arg constructor
  * Hadoop's reflective instantiation requires. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("grafttest:///")
}

/** The crawl sources: WARC/WET containers, their sinks and streams,
  * robots.txt and sitemaps. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("WARC/WET: encode→parse round-trips; per-record gzip members range-read independently") {
    import graft.sources.Warc
    val docs = Seq[(Long, String, String)](
      (3L, Warc.docUri(3), "the quick brown fox\njumps over\r\nCRLF inside a body stays body"),
      (17L, Warc.docUri(17), "second döc — non-ASCII UTF-8 bytes lengthen Content-Length"),
      (40L, Warc.docUri(40), ""),
      (41L, Warc.docUri(41), "x" * 70000)) // spans many gzip deflate blocks
    val wet = Warc.encodeWet(docs)

    // ---- plain parse: warcinfo first, then conversion records whose
    // bodies invert the UTF-8 encode exactly ----
    val recs = Warc.parseWarc(wet)
    assert(recs.length == 1 + docs.length)
    assert(recs.head.headers("warc-type") == "warcinfo")
    recs.tail.zip(docs).foreach { case (r, (_, uri, text)) =>
      assert(r.headers("warc-type") == "conversion")
      assert(r.headers("warc-target-uri") == uri)
      assert(r.headers("content-length").toInt == text.getBytes("UTF-8").length)
      assert(new String(r.body, "UTF-8") == text, uri)
    }

    // ---- per-record gzip: the whole-file walk parses identically,
    // and a member RANGE-READ (slice at magic boundaries, inflate the
    // slice alone) yields exactly its record — the cdx-offset
    // contract Common Crawl range requests rely on ----
    val gz = Warc.gzipPerRecord(wet)
    assert(Warc.parseWarcGz(gz).map(r => new String(r.body, "UTF-8")) ==
      recs.map(r => new String(r.body, "UTF-8")))
    assert(Warc.parseWarcAuto(gz).length == recs.length, "auto must sniff gzip")
    assert(Warc.parseWarcAuto(wet).length == recs.length, "auto must pass plain through")
    locally {
      // member boundaries reconstructed from OUTSIDE the library: a
      // boundary is a magic offset whose preceding slice inflates to
      // exactly one record — then a single member's slice range-read
      // alone must yield exactly its own record (the cdx contract)
      val magics = (0 until gz.length - 2).filter(p =>
        (gz(p) & 0xff) == 0x1f && (gz(p + 1) & 0xff) == 0x8b && (gz(p + 2) & 0xff) == 0x08)
      assert(magics.length >= recs.length, "at least one magic per member")
      val bounds = scala.collection.mutable.ArrayBuffer(0)
      while (bounds.length <= recs.length) {
        val next = (magics.filter(_ > bounds.last) :+ gz.length).find { m =>
          try Warc.parseWarcGz(java.util.Arrays.copyOfRange(gz, bounds.last, m)).length == 1
          catch { case _: Exception => false }
        }.get
        bounds += next
      }
      assert(bounds.last == gz.length, "members must tile the file")
      val slice2 = java.util.Arrays.copyOfRange(gz, bounds(1), bounds(2))
      val only = Warc.parseWarcGz(slice2)
      assert(only.length == 1 && new String(only.head.body, "UTF-8") == docs.head._3,
        "a member slice must inflate to exactly its own record")
    }

    intercept[Exception] { // a magic spray is not a member chain
      Warc.parseWarcGz(Array.fill[Byte](4096)(0x1f).zipWithIndex.map {
        case (_, i) => (Seq(0x1f, 0x8b, 0x08)(i % 3)).toByte })
    }

    // ---- strictness: the parser rejects what the spec rejects ----
    def mutated(f: Array[Byte] => Array[Byte]): Array[Byte] = f(wet.clone())
    intercept[Exception] { Warc.parseWarc(mutated { w => w(5) = '2'; w }) } // WARC/2.0
    intercept[Exception] { Warc.parseWarc(wet.dropRight(3)) }             // truncated trailer
    intercept[Exception] { Warc.parseWarc(wet ++ "junk".getBytes) }       // trailing garbage
    intercept[Exception] { // Content-Length overrunning the file
      val s = new String(wet, "ISO-8859-1")
        .replaceFirst("Content-Length: \\d+", "Content-Length: 999999")
      Warc.parseWarc(s.getBytes("ISO-8859-1"))
    }
    intercept[Exception] { // header line without a colon
      val s = new String(wet, "ISO-8859-1").replaceFirst("WARC-Type: warcinfo", "WARCTypewarcinfo")
      Warc.parseWarc(s.getBytes("ISO-8859-1"))
    }
  }

  test("src_warc: staged WET shards ingest row-identically to documents; corrupt shards quarantine to zero rows") {
    import graft.sources.Warc
    val viaWarc = Warc.srcWarcDocs(spark, sfDir).collect()
    val direct = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").orderBy($"doc_id").collect()
    assert(viaWarc.length == direct.length)
    viaWarc.zip(direct).foreach { case (w, d) =>
      assert(w.getLong(0) == d.getLong(0))
      assert(w.getString(1) == Warc.docUri(d.getLong(0)))
      assert(w.getString(3) == d.getString(1), s"text for doc ${d.getLong(0)}")
    }
    // the lake really is sharded .warc.gz files
    val shardDir = new java.io.File(Warc.wetLakeDir(spark, sfDir))
    val shards = shardDir.list().toSeq
    assert(shards.nonEmpty && shards.forall(_.endsWith(".warc.gz")), shards.toString)
    // planted `metadata` members (r18) really exist in the lake —
    // their absence from the row checks above (and from the cdx, the
    // fetch family and the streaming ingest, all sharing this lake)
    // is the conversion-only FILTER, not a missing fixture
    val planted = shardDir.listFiles().filter(_.getName.endsWith(".warc.gz"))
      .flatMap(f => Warc.parseWarcAuto(java.nio.file.Files.readAllBytes(f.toPath)))
      .count(_.headers.get("warc-type").contains("metadata"))
    assert(planted == direct.map(_.getLong(0)).count(_ % 9 == 4) && planted > 0,
      s"one metadata member per doc = 4 (mod 9), got $planted")
    // totality: a lake with one good and one corrupt shard yields the
    // good shard's rows, no exception — the landing-zone contract
    val mixed = tempDir("graft-wet-mixed")
    val good = Warc.gzipPerRecord(Warc.encodeWet(Seq((7L, Warc.docUri(7), "good text"))))
    java.nio.file.Files.write(java.nio.file.Paths.get(mixed, "wet-00000.warc.gz"), good)
    java.nio.file.Files.write(java.nio.file.Paths.get(mixed, "wet-00001.warc.gz"),
      Array.tabulate[Byte](512)(i => (i * 31).toByte))
    val rows = Warc.docsFromWarcFiles(spark, mixed).collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 7L && rows.head.getString(3) == "good text",
      "corrupt shard must quarantine to zero rows, good shard must survive")
  }

  test("src_warc_html: lossless extractor inverse; all six HTTP envelope shapes decode; raw lake ingests row-identically") {
    import graft.sources.Warc
    // the inverse property extractText(htmlWrap(t)) == t over adversarial
    // text: entities, edge chars, CRLF, empty, 70 kB (r15 verdict #2)
    val texts = Seq(
      "", "&", "&amp;", "a&<>b", "&#65;", "&notanentity;", "a&#;b", "&#xZZ;x",
      "line\nbreaks\r\nCRLF stay body", "quote\"and'apos", "tag <p> inside & text > here",
      "döc — ☃ unicode", "trailing &", "x" * 70000)
    texts.foreach { t =>
      assert(Warc.extractText(Warc.htmlWrap(t)) == t, s"inverse failed for '${t.take(40)}'")
    }
    // encodeRawWarc parse-back across the envelope cycle: ids 0..5 hit
    // identity / chunked / gzip / chunked-around-gzip / zlib-deflate /
    // chunked-around-raw-deflate (both arms of the deflate sniff)
    val docs = (0L to 5L).map(id =>
      (id, Warc.docUri(id), (s"body $id — payload text " * 20) + "end"))
    val recs = Warc.parseWarc(Warc.encodeRawWarc(docs))
    assert(recs.head.headers("warc-type") == "warcinfo")
    recs.tail.zip(docs).foreach { case (r, (id, uri, text)) =>
      assert(r.headers("warc-type") == "response")
      val (status, hh, entity) = Warc.decodeHttpResponse(r.body)
      assert(status == 200)
      if (id % 6 == 1 || id % 6 == 3 || id % 6 == 5)
        assert(hh("transfer-encoding") == "chunked", uri)
      if (id % 6 == 2 || id % 6 == 3) assert(hh("content-encoding") == "gzip", uri)
      if (id % 6 == 4 || id % 6 == 5) assert(hh("content-encoding") == "deflate", uri)
      assert(Warc.extractText(new String(entity, "UTF-8")) == text, uri)
    }
    // the registry query itself: row-identical to the two-paragraph
    // page transform (r18 — even ids carry the appendix after a
    // newline, so the multi-block wrap + separator flush execute on
    // every even doc) across every envelope arm the staged lake cycles
    val via = Warc.srcWarcHtmlDocs(spark, sfDir).collect()
    val direct = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").orderBy($"doc_id").collect()
    assert(via.length == direct.length)
    via.zip(direct).foreach { case (w, d) =>
      assert(w.getLong(0) == d.getLong(0))
      assert(w.getString(1) == Warc.docUri(d.getLong(0)))
      assert(w.getString(3) == Warc.crawlPageText(d.getLong(0), d.getString(1)),
        s"text for doc ${d.getLong(0)}")
    }
    assert(via.exists(_.getString(3).contains("\n" + Warc.crawlAppendix)),
      "the fixture cycle must actually contain multi-block pages")
    val shards = new java.io.File(Warc.rawLakeDir(spark, sfDir)).list().toSeq
    assert(shards.nonEmpty && shards.forall(_.endsWith(".warc.gz")), shards.toString)
  }

  test("extractText hardening: comments, CDATA, quoted attrs, RAWTEXT, same-name nesting, self-close, implicit </p>") {
    import graft.sources.Warc.extractText
    // a '>' inside a comment must not leak the comment tail (the r15
    // verdict's exact finding: comments were consumed to the first '>')
    assert(extractText("<article><p>a<!-- x > y -->b</p></article>") == "ab")
    // unclosed comment consumes to end: no crash, no leak
    assert(extractText("<article><p>a</p><!-- never closed >") == "a")
    // CDATA skipped wholesale
    assert(extractText("<article><p>a<![CDATA[ raw <>&stuff ]]>b</p></article>") == "ab")
    // quoted attribute values may contain '>' without truncating the tag
    assert(extractText("<article><p><a href=\"x>y\" title='p>q'>link</a>text</p></article>")
      == "linktext")
    // same-name nested drop: the inner </nav> must not reopen the outer tail
    assert(extractText("<article><p>a</p><nav>x<nav>y</nav>z</nav><p>b</p></article>") == "a\nb")
    // RAWTEXT: markup-like strings inside script/style never end the element early
    assert(extractText("<article><p>a<script>var s=\"</p>fake\";</script>b</p></article>") == "ab")
    assert(extractText("<article><p>a<style>p::before{content:\"</p>\"}</style>b</p></article>")
      == "ab")
    assert(extractText("<article><p>a<SCRIPT>x</SCRIPT>b</p></article>") == "ab") // case-insensitive close
    // HTML5 ignores '/' on non-void start tags: <script/> OPENS a
    // script element — its code must not leak into extracted text
    assert(extractText("<article><p>a<script src=\"x\"/>if(a<b){go()}</script>b</p></article>")
      == "ab")
    // self-closing keep leaves no depth open: trailing boilerplate stays out
    assert(extractText("<article><p>a</p><section/></article>after") == "a")
    // implicit </p>: the next <p> closes the previous one (emitting the
    // block separator); the article close pops through both without
    // drifting keep-depth open
    assert(extractText("<article><p>one<p>two</article>after") == "one\ntwo")
    // block boundaries (r16 verdict #3): adjacent keep blocks separate
    // with ONE \n, emitted lazily — no leading or trailing newline, no
    // separator for empty blocks, inline content inside a block intact
    assert(extractText("<article><p>a</p><p>b</p></article>") == "a\nb")
    assert(extractText("<section>x</section><section>y</section>") == "x\ny")
    assert(extractText("<article><p></p><p>b</p></article>") == "b") // empty first block: no leading \n
    assert(extractText("<article><p>a</p><p></p></article>") == "a") // empty last block: no trailing \n
    assert(extractText("<article>x<p>y</p>z</article>") == "xy\nz") // boundary only where a block CLOSED
    assert(extractText("<p>&amp;</p><p>&lt;</p>") == "&\n<") // entity text flushes the separator too
    // void elements inside keep content
    assert(extractText("<article><p>a<br>b<br/>c</p></article>") == "abc")
    // unclosed keep tag consumes to end without throwing
    assert(extractText("<article><p>tail<span") == "tail")
    // stray '<' is literal text inside keep content
    assert(extractText("<article><p>1 < 2 > 0</p></article>") == "1 < 2 > 0")
    // a self-closed drop tag must not swallow following content
    assert(extractText("<article><header/><p>kept</p></article>") == "kept")
  }

  test("HTTP envelope decode is strict: chunked framing, trailers, malformation rejections") {
    import graft.sources.Warc
    // hand-built chunked body: extension on the first chunk, a trailer
    // field after the last — both legal, both ignored
    val chunked = "8;ext=v\r\n01234567\r\n8\r\n89abcdef\r\n0\r\nX-T: 1\r\n\r\n".getBytes("US-ASCII")
    assert(Warc.dechunk(chunked).sameElements("0123456789abcdef".getBytes("US-ASCII")))
    intercept[Exception] { Warc.dechunk("g\r\nx\r\n0\r\n\r\n".getBytes("US-ASCII")) } // bad hex
    intercept[Exception] { Warc.dechunk("1\r\nxY\r\n0\r\n\r\n".getBytes("US-ASCII")) } // missing CRLF after data
    intercept[Exception] { Warc.dechunk("1\r\nx\r\n0\r\n\r\nEXTRA".getBytes("US-ASCII")) } // trailing bytes
    intercept[Exception] { Warc.dechunk("1\r\nx\r\n".getBytes("US-ASCII")) } // no terminal chunk
    intercept[Exception] { Warc.dechunk("5\r\nx\r\n0\r\n\r\n".getBytes("US-ASCII")) } // chunk overruns entity
    // decodeHttpResponse rejects an envelope with no blank line
    intercept[Exception] {
      Warc.decodeHttpResponse("HTTP/1.1 200 OK\r\nContent-Type: text/html".getBytes("US-ASCII"))
    }
    intercept[Exception] { // non-HTTP status line
      Warc.decodeHttpResponse("NOTHTTP\r\n\r\nbody".getBytes("US-ASCII"))
    }
    intercept[Exception] { // an undecodable content-coding must throw
      // (→ record-level skip), never pass compressed bytes through
      // as "decoded" text
      Warc.decodeHttpResponse(
        "HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\ncompressed".getBytes("US-ASCII"))
    }
    locally { // identity and x-gzip are fine
      val (_, _, e1) = Warc.decodeHttpResponse(
        "HTTP/1.1 200 OK\r\nContent-Encoding: identity\r\n\r\nplain".getBytes("US-ASCII"))
      assert(new String(e1, "US-ASCII") == "plain")
    }
    // repeated header fields combine per RFC 9110 §5.2 — last-wins
    // would let a trailing 'identity' mask the gzip and ship
    // compressed bytes through as text (r16 ADVICE #1)
    intercept[Exception] {
      Warc.decodeHttpResponse(("HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n" +
        "Content-Encoding: identity\r\n\r\nstill-compressed").getBytes("US-ASCII"))
    }
    // 'Transfer-Encoding: gzip, chunked' must reject the whole record,
    // not dechunk and pass TE-gzip bytes through (r16 ADVICE #2);
    // 'identity, chunked' is a legal no-op prefix and still dechunks
    intercept[Exception] {
      Warc.decodeHttpResponse(("HTTP/1.1 200 OK\r\nTransfer-Encoding: gzip, chunked\r\n" +
        "\r\n5\r\nhello\r\n0\r\n\r\n").getBytes("US-ASCII"))
    }
    locally {
      val (_, _, e2) = Warc.decodeHttpResponse(
        ("HTTP/1.1 200 OK\r\nTransfer-Encoding: identity, chunked\r\n" +
          "\r\n5\r\nhello\r\n0\r\n\r\n").getBytes("US-ASCII"))
      assert(new String(e2, "US-ASCII") == "hello")
    }
    // deflate content-coding (r16 verdict #4): both the zlib framing
    // the spec means and the raw stream confused servers ship decode
    // through the sniff; a truncated stream throws (record-level skip)
    locally {
      def deflate(s: String, zlibWrap: Boolean): Array[Byte] = {
        val d = new java.util.zip.Deflater(-1, !zlibWrap)
        d.setInput(s.getBytes("US-ASCII")); d.finish()
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](256)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        d.end(); out.toByteArray
      }
      def resp(body: Array[Byte]): Array[Byte] =
        "HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n".getBytes("US-ASCII") ++ body
      val (_, _, z) = Warc.decodeHttpResponse(resp(deflate("zlib framed payload", true)))
      assert(new String(z, "US-ASCII") == "zlib framed payload")
      val (_, _, r) = Warc.decodeHttpResponse(resp(deflate("raw deflate payload", false)))
      assert(new String(r, "US-ASCII") == "raw deflate payload")
      intercept[Exception] {
        Warc.decodeHttpResponse(resp(deflate("truncated!", true).dropRight(3)))
      }
    }
  }

  test("WARC record-type breadth: request/revisit/metadata filter; WARC-Truncated and non-200 skip record-level; corrupt shards quarantine") {
    import graft.sources.Warc
    def conv(id: Long, text: String, extra: Seq[(String, String)] = Nil) =
      (Seq("WARC-Type" -> "conversion", "WARC-Target-URI" -> Warc.docUri(id),
        "WARC-Date" -> "2026-01-01T00:00:00Z", "Content-Type" -> "text/plain") ++ extra) ->
        text.getBytes("UTF-8")
    // ---- WET path: a mixed-type shard — only intact conversions emit ----
    val mixed = Warc.encodeRecords(Seq(
      Seq("WARC-Type" -> "warcinfo", "Content-Type" -> "application/warc-fields") ->
        "x\r\n".getBytes("UTF-8"),
      conv(1L, "first"),
      Seq("WARC-Type" -> "request", "WARC-Target-URI" -> Warc.docUri(1)) ->
        "GET / HTTP/1.1\r\nHost: example.org\r\n\r\n".getBytes("US-ASCII"),
      Seq("WARC-Type" -> "revisit", "WARC-Target-URI" -> Warc.docUri(5)) -> Array.empty[Byte],
      Seq("WARC-Type" -> "metadata", "WARC-Target-URI" -> Warc.docUri(1)) ->
        "fetchTimeMs: 7\r\n".getBytes("US-ASCII"),
      conv(2L, "cut sho", extra = Seq("WARC-Truncated" -> "length")),
      conv(3L, "third")))
    val wetDir = tempDir("graft-warc-mixed-types")
    java.nio.file.Files.write(java.nio.file.Paths.get(wetDir, "wet-00000.warc.gz"),
      Warc.gzipPerRecord(mixed))
    val rows = Warc.docsFromWarcFiles(spark, wetDir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 3L),
      "only intact conversion records may emit documents")
    assert(rows.map(_.getString(3)).toSeq == Seq("first", "third"))
    // ---- raw path: 404, truncated, request, malformed-envelope records
    // all skip RECORD-level; the good 200s in the same shard survive;
    // a wholly corrupt sibling shard quarantines FILE-level ----
    def resp(id: Long, status: String, body: Array[Byte], extra: Seq[(String, String)] = Nil) = {
      val http = (s"HTTP/1.1 $status\r\nContent-Type: text/html\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII")
      (Seq("WARC-Type" -> "response", "WARC-Target-URI" -> Warc.docUri(id),
        "Content-Type" -> "application/http; msgtype=response") ++ extra) -> (http ++ body)
    }
    val raw = Warc.encodeRecords(Seq(
      resp(1L, "200 OK", Warc.htmlWrap("good page").getBytes("UTF-8")),
      resp(2L, "404 Not Found", Warc.htmlWrap("not found").getBytes("UTF-8")),
      resp(3L, "200 OK", Warc.htmlWrap("cut").getBytes("UTF-8").take(10),
        extra = Seq("WARC-Truncated" -> "length")),
      Seq("WARC-Type" -> "request", "WARC-Target-URI" -> Warc.docUri(1)) ->
        "GET / HTTP/1.1\r\n\r\n".getBytes("US-ASCII"),
      (Seq("WARC-Type" -> "response", "WARC-Target-URI" -> Warc.docUri(4),
        "Content-Type" -> "application/http; msgtype=response") ->
        "HTTP/1.1 200 OK\r\nContent-Type: text/html".getBytes("US-ASCII")), // no blank line
      resp(6L, "200 OK", Warc.htmlWrap("second good").getBytes("UTF-8"))))
    val rawDir = tempDir("graft-raw-mixed")
    java.nio.file.Files.write(java.nio.file.Paths.get(rawDir, "crawl-00000.warc.gz"),
      Warc.gzipPerRecord(raw))
    java.nio.file.Files.write(java.nio.file.Paths.get(rawDir, "crawl-00001.warc.gz"),
      Array.tabulate[Byte](256)(i => (i * 37).toByte))
    val got = Warc.htmlDocsFromWarcFiles(spark, rawDir).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 6L),
      "non-200 / truncated / malformed-envelope records must skip without costing their shard")
    assert(got.map(_.getString(3)).toSeq == Seq("good page", "second good"))
  }

  test("snk_wet_roundtrip: the WET sink writes per-record-gzip shards that round-trip arbitrary content") {
    import graft.sources.Warc
    val out = tempDir("graft-snk-spec")
    val df = Seq((10L, "alpha"), (11L, "beta"), (12L, "gamma & <delta>"))
      .toDF("doc_id", "text")
    Warc.writeWetLake(df, out, 2)
    val files = new java.io.File(out).list().toSeq
    assert(files.nonEmpty && files.forall(f => f.startsWith("wet-") && f.endsWith(".warc.gz")),
      files.toString)
    val back = Warc.docsFromWarcFiles(spark, out).collect()
    assert(back.map(r => (r.getLong(0), r.getString(3))).toSeq ==
      Seq((10L, "alpha"), (11L, "beta"), (12L, "gamma & <delta>")),
      "sink output must round-trip through the src_warc ingest")
    // the per-member STREAMING encode (r17) is byte-identical to the
    // one-shot whole-shard form: per-record gzip members are
    // independent by construction, so nothing may change on disk
    val one = tempDir("graft-snk-one")
    Warc.writeWetLake(df, one, 1)
    val shardBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(one, "wet-00000.warc.gz"))
    val expectBytes = Warc.gzipPerRecord(Warc.encodeWet(
      Seq((10L, Warc.docUri(10), "alpha"), (11L, Warc.docUri(11), "beta"),
          (12L, Warc.docUri(12), "gamma & <delta>"))))
    assert(java.util.Arrays.equals(shardBytes, expectBytes),
      "streaming per-member encode must produce byte-identical shards")
    // the registry query: even-doc_id filter + suffix transform carried
    // end-to-end through encode -> gzip -> write -> scan -> parse
    val snk = Warc.snkWetRoundtrip(spark, sfDir).collect()
    val expect = Tables.documents(spark, sfDir).filter($"doc_id" % 2 === 0)
      .select($"doc_id", concat($"text", lit("\n-- sunk")).as("text"))
      .orderBy($"doc_id").collect()
    assert(snk.length == expect.length && snk.nonEmpty)
    snk.zip(expect).foreach { case (g, e) =>
      assert(g.getLong(0) == e.getLong(0))
      assert(g.getString(3) == e.getString(1), s"sunk text for doc ${e.getLong(0)}")
    }
  }

  test("the WET sink carries the SESSION Hadoop conf to its write tasks (r16 ADVICE #4)") {
    import graft.sources.Warc
    // register a filesystem scheme ONLY in the session conf — a
    // default-constructed Configuration on the executor has no
    // fs.grafttest.impl and the write would throw
    // UnsupportedFileSystemException before creating any file
    spark.sparkContext.hadoopConfiguration
      .set("fs.grafttest.impl", classOf[GraftTestFs].getName)
    val local = tempDir("graft-conf-carry")
    val df = Seq((1L, "carried"), (2L, "conf")).toDF("doc_id", "text")
    Warc.writeWetLake(df, "grafttest://" + local, 2)
    val back = Warc.docsFromWarcFiles(spark, local).collect()
    assert(back.map(r => (r.getLong(0), r.getString(3))).toSeq ==
      Seq((1L, "carried"), (2L, "conf")),
      "a write through the session-conf-only scheme must land and round-trip")
    // and the wrapper itself round-trips arbitrary session keys
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.set("graft.test.key", "planted-value")
    val ser = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(ser)
    oos.writeObject(new graft.sources.SerializableHadoopConf(conf)); oos.close()
    val des = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(ser.toByteArray))
      .readObject().asInstanceOf[graft.sources.SerializableHadoopConf]
    assert(des.value.get("graft.test.key") == "planted-value")
  }

  test("raw-crawl charset handling: declared ISO-8859-1 / windows-1252 decode correctly; unknown falls back to UTF-8") {
    import graft.sources.Warc
    assert(Warc.charsetOf("text/html; charset=utf-8").name == "UTF-8")
    assert(Warc.charsetOf("text/html; charset=ISO-8859-1").name == "ISO-8859-1")
    assert(Warc.charsetOf("text/html;charset=\"windows-1252\"").name == "windows-1252")
    assert(Warc.charsetOf("text/html; charset=no-such-charset").name == "UTF-8")
    assert(Warc.charsetOf("text/html").name == "UTF-8")
    // a latin-1 page and a windows-1252 page next to a UTF-8 page in
    // one shard: each decodes under ITS declared charset
    def resp(id: Long, charset: String, body: Array[Byte]) = {
      val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=$charset\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("US-ASCII")
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> Warc.docUri(id),
        "Content-Type" -> "application/http; msgtype=response") -> (http ++ body)
    }
    val latin = "caf\u00e9 \u00a1se\u00f1or! \u00df"       // all in ISO-8859-1
    val w1252 = "price \u20ac99 \u2014 \u201cquoted\u201d" // euro/em-dash/quotes: 1252-only
    val utf8  = "d\u00f6c \u2603 unicode"
    val shard = Warc.encodeRecords(Seq(
      resp(1L, "ISO-8859-1", Warc.htmlWrap(latin).getBytes("ISO-8859-1")),
      resp(2L, "windows-1252", Warc.htmlWrap(w1252).getBytes("windows-1252")),
      resp(3L, "utf-8", Warc.htmlWrap(utf8).getBytes("UTF-8"))))
    val dir = tempDir("graft-charset")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "crawl-00000.warc.gz"),
      Warc.gzipPerRecord(shard))
    val got = Warc.htmlDocsFromWarcFiles(spark, dir).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(got.map(_.getString(3)).toSeq == Seq(latin, w1252, utf8),
      "each record must decode under its declared charset")
  }

  test("src_warc_revisit: revisit records resolve across shards; dangling referents drop; corrupt shards quarantine") {
    import graft.sources.Warc
    // registry query: row-identical to the self-join expectation (the
    // oracle's shape, recomputed engine-side)
    val got = Warc.srcWarcRevisitDocs(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = docs.keys.toSeq.sorted.flatMap { id =>
      if (id % 3 == 2) docs.get(id - 1).map(t => (id, t, Some(id - 1))).toSeq
      else Seq((id, docs(id), Option.empty[Long]))
    }
    assert(got.length == expect.length)
    got.zip(expect).foreach { case (g, (id, t, of)) =>
      assert(g.getLong(0) == id)
      assert(g.getString(3) == t, s"text for doc $id")
      assert((if (g.isNullAt(4)) None else Some(g.getLong(4))) == of, s"revisit_of for $id")
    }
    // the cross-shard claim: at least one revisit's referent sits in a
    // DIFFERENT shard file (hash routing makes resolution a real join,
    // not a within-task lookup)
    val lake = new java.io.File(Warc.revisitLakeDir(spark, sfDir))
    val byFile = lake.listFiles().toSeq.flatMap { f =>
      val recs = Warc.parseWarcAuto(java.nio.file.Files.readAllBytes(f.toPath))
      recs.map { r =>
        val uri = r.headers("warc-target-uri")
        (uri.substring(uri.lastIndexOf('/') + 1).toLong, f.getName)
      }
    }.toMap
    val crossShard = byFile.keys.filter(id => id % 3 == 2 && byFile.contains(id - 1))
      .exists(id => byFile(id) != byFile(id - 1))
    assert(crossShard, "at least one revisit must resolve across shard files")
    // dangling referent drops; a resolvable one in the same lake survives
    def conv(id: Long, text: String) =
      Seq("WARC-Type" -> "conversion", "WARC-Target-URI" -> Warc.docUri(id),
        "Content-Type" -> "text/plain") -> text.getBytes("UTF-8")
    def rev(id: Long, refersTo: Long) =
      Seq("WARC-Type" -> "revisit", "WARC-Target-URI" -> Warc.docUri(id),
        "WARC-Refers-To-Target-URI" -> Warc.docUri(refersTo),
        "WARC-Profile" -> "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest",
        "Content-Type" -> "text/plain") -> Array.empty[Byte]
    // a conversion whose payload digest mismatches its body (bit rot)
    // quarantines record-level in THIS ingest too (r16 ADVICE #3 —
    // the WET path already checked; the revisit path now matches)
    val rotted =
      Seq("WARC-Type" -> "conversion", "WARC-Target-URI" -> Warc.docUri(7),
        "WARC-Payload-Digest" -> Warc.payloadDigest("what was captured".getBytes("UTF-8")),
        "Content-Type" -> "text/plain") -> "what rotted on disk".getBytes("UTF-8")
    val dir2 = tempDir("graft-revisit-dangling")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir2, "crawl-00000.warc.gz"),
      Warc.gzipPerRecord(Warc.encodeRecords(Seq(conv(1L, "one"), rev(2L, 99L), rev(5L, 1L),
        rotted))))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir2, "crawl-00001.warc.gz"),
      Array.tabulate[Byte](200)(i => (i * 41).toByte)) // corrupt sibling quarantines
    val rows = Warc.revisitDocsFromWarcFiles(spark, dir2).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 5L),
      "a dangling referent and a digest-mismatched conversion must drop; " +
        "a resolvable revisit must survive")
    assert(rows.map(_.getString(3)).toSeq == Seq("one", "one"))
    assert(rows(1).getLong(4) == 1L, "revisit_of must name the referred capture")
  }

  test("src_warc_fetch: range reads touch ONLY the indexed byte ranges; registry query matches the predicate") {
    import graft.sources.Warc
    // stage a small lake, index it, pick a subset, then GARBLE every
    // byte outside the subset's (offset, length) ranges. A fetch that
    // reads only the indexed ranges returns every selected document; a
    // whole-shard read (gunzip walk, full parse) cannot survive the
    // junk — the bytes-read discipline EXECUTED, not asserted
    val docs = (0L to 9L).map(id => (id, Warc.docUri(id), s"doc $id body " * 12))
    val lake = tempDir("graft-fetch-lake")
    java.nio.file.Files.write(java.nio.file.Paths.get(lake, "wet-00000.warc.gz"),
      Warc.gzipPerRecord(Warc.encodeWet(docs.take(5))))
    java.nio.file.Files.write(java.nio.file.Paths.get(lake, "wet-00001.warc.gz"),
      Warc.gzipPerRecord(Warc.encodeWet(docs.drop(5))))
    val idx = Warc.cdxRows(spark, lake).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(idx.length == 10, "every conversion record must index")
    val selected = idx.filter(_._1 % 3 == 0) // ids 0,3,6,9 — both shards hit
    val junkLake = tempDir("graft-fetch-junk")
    Seq("wet-00000.warc.gz", "wet-00001.warc.gz").foreach { shard =>
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(lake, shard)).clone()
      val keep = selected.filter(_._2 == shard).map(m => (m._3, m._3 + m._4))
      bytes.indices.foreach { i =>
        if (!keep.exists(r => i >= r._1 && i < r._2)) bytes(i) = 0x55.toByte
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(junkLake, shard), bytes)
    }
    val idxDf = selected.toSeq.toDF("doc_id", "shard", "offset", "length")
    val fetched = Warc.fetchByCdx(spark, junkLake, idxDf).collect()
    assert(fetched.map(_.getLong(0)).toSeq == Seq(0L, 3L, 6L, 9L),
      "every selected document must fetch from a lake that is garbage outside its ranges")
    fetched.foreach { r =>
      assert(r.getString(3) == s"doc ${r.getLong(0)} body " * 12, s"text for ${r.getLong(0)}")
    }
    // and the fetch set's byte budget is a small fraction of the lake
    // (the whole point of the index): ~4/10 members here, ≪ total
    val lakeBytes = Seq("wet-00000.warc.gz", "wet-00001.warc.gz")
      .map(sh => java.nio.file.Files.size(java.nio.file.Paths.get(lake, sh))).sum
    val fetchBytes = selected.map(_._4).sum
    assert(fetchBytes < lakeBytes / 2,
      s"fetch reads $fetchBytes of $lakeBytes lake bytes — must stay a fraction")
    // the registry query: row-identical to documents under the predicate
    val got = Warc.srcWarcFetch(spark, sfDir).collect()
    val expect = Tables.documents(spark, sfDir).filter($"doc_id" % 7 === 0)
      .select($"doc_id", $"text").orderBy($"doc_id").collect()
    assert(got.length == expect.length && got.nonEmpty)
    got.zip(expect).foreach { case (g, e) =>
      assert(g.getLong(0) == e.getLong(0))
      assert(g.getString(1) == Warc.docUri(e.getLong(0)))
      assert(g.getString(3) == e.getString(1), s"text for doc ${e.getLong(0)}")
    }
    // a rotted member (bit flip INSIDE an indexed range) skips
    // record-level: flip one payload byte of doc 3's member in the
    // junk lake and re-fetch — 3 drops, siblings survive
    val m3 = selected.find(_._1 == 3L).get
    val shardBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(junkLake, m3._2)).clone()
    shardBytes((m3._3 + m3._4 / 2).toInt) = (shardBytes((m3._3 + m3._4 / 2).toInt) ^ 0x40).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(junkLake, m3._2), shardBytes)
    val refetched = Warc.fetchByCdx(spark, junkLake, idxDf).collect()
    assert(refetched.map(_.getLong(0)).toSeq == Seq(0L, 6L, 9L),
      "a member that no longer inflates to its indexed record must skip record-level")
  }

  test("src_stream_warc: the streaming crawl ingest reproduces documents across REAL multiple micro-batches") {
    val got = graft.streaming.StreamingOps.warcIngestViaStream(spark, sfDir).collect()
    // incremental arrival must actually execute: maxFilesPerTrigger=2
    // over the 8-shard lake means several data-carrying micro-batches,
    // not one catch-up batch
    assert(graft.streaming.StreamingOps.lastNumBatches >= 2,
      s"expected multiple micro-batches, got ${graft.streaming.StreamingOps.lastNumBatches}")
    val direct = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").orderBy($"doc_id").collect()
    assert(got.length == direct.length && got.nonEmpty)
    got.zip(direct).foreach { case (w, d) =>
      assert(w.getLong(0) == d.getLong(0))
      assert(w.getString(1) == graft.sources.Warc.docUri(d.getLong(0)))
      assert(w.getString(3) == d.getString(1), s"text for doc ${d.getLong(0)}")
    }
    // the micro-batch plan is MAP-SIDE: a stateless per-shard flatMap
    // with no Exchange — nothing shuffles per batch, so ingestion cost
    // stays shard-proportional however long the stream runs (the
    // contractual ORDER BY lives on the accumulated table read, not in
    // the stream)
    val sp = graft.streaming.StreamingOps.lastStreamPlan
    assert(sp.nonEmpty, "runToMemory captured no plan")
    assert(!sp.contains("Exchange"), s"the ingest micro-batch must not shuffle:\n$sp")
  }

  test("src_stream_wat: the streamed envelope extraction reproduces the batch WAT across REAL multiple micro-batches") {
    import graft.sources.Warc
    val got = graft.streaming.StreamingOps.watViaStream(spark, sfDir).collect()
    assert(graft.streaming.StreamingOps.lastNumBatches >= 2,
      s"expected multiple micro-batches, got ${graft.streaming.StreamingOps.lastNumBatches}")
    // row-for-row against the batch extraction — the shared walk
    // (watRowsFromShardBytes) plus the shared oracle make divergence
    // structurally impossible, and this pins it executed
    val batch = Warc.srcWarcWat(spark, sfDir).collect()
    assert(got.length == batch.length && got.nonEmpty)
    got.zip(batch).foreach { case (a, b) => assert(a == b, s"row diverged: $a vs $b") }
    // the micro-batch plan is MAP-SIDE (the src_stream_warc rule): a
    // stateless per-shard envelope walk, nothing shuffles per batch
    val sp = graft.streaming.StreamingOps.lastStreamPlan
    assert(sp.nonEmpty, "runToMemory captured no plan")
    assert(!sp.contains("Exchange"), s"the WAT micro-batch must not shuffle:\n$sp")
  }

  test("src_stream_robots: the streamed RAW capture feed reproduces the batch walk across REAL multiple micro-batches; latest-wins is the batch layer") {
    import graft.sources.Robots
    val got = graft.streaming.StreamingOps.robotsViaStream(spark, sfDir).collect()
    assert(graft.streaming.StreamingOps.lastNumBatches >= 2,
      s"expected multiple micro-batches over the four-shard lake, got ${graft.streaming.StreamingOps.lastNumBatches}")
    val batch = Robots.srcWarcRobots(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    val tuples = got.map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
    val older = "2026-01-01T00:00:00Z"
    // the raw feed carries one `redirect` row per 301 capture — value
    // is the TARGET's canonical host key, dated as staged (the four
    // origin 301s a day after the base bodies they supersede)
    val newer = "2026-01-02T00:00:00Z"
    val expectRedirects = Set(
      ("https://h8.example.org", "https://a8.example.org", newer),
      ("https://h0.example.org", "https://b1.example.org", newer),
      ("https://h2.example.org", "https://l2.example.org", newer),
      ("https://h1.example.org", "https://c1.example.org", newer),
      ("https://b1.example.org", "https://b2.example.org", older),
      ("https://l2.example.org", "https://h2.example.org", older)) ++
      (1 to 5).map(i => (s"https://c$i.example.org", s"https://c${i + 1}.example.org", older))
    val redirects = tuples.filter(_._3 == "redirect")
    assert(redirects.map(t => (t._1, t._4, t._5)).toSet == expectRedirects &&
      redirects.length == expectRedirects.size && redirects.forall(_._2 == ""),
      "every 301 capture must surface exactly one redirect row in the raw feed")
    // the planted losers are all present: the r19 multi-capture arms
    // (host 4's half-second-older poison, host 11's older 503
    // synthetic, host 9's older poison, host 9's newer 404 TOMBSTONE)
    // and the r20 superseded base bodies of the redirect origins
    val extras = Set(
      ("https://h4.example.org", "graftbot", "disallow", "/", older),
      ("https://h11.example.org", "*", "disallow", "/", "2025-12-01T00:00:00Z"),
      ("https://h9.example.org", "graftbot", "disallow", "/", "2025-12-01T00:00:00Z"),
      ("https://h9.example.org", "", "unavailable", "", older))
    val oldBase = Seq(0, 1, 2, 8).flatMap { k =>
      val h = s"https://h$k.example.org"
      Seq((h, "", "sitemap", s"$h/sitemap.xml", older),
        (h, "*", "disallow", "/", older),
        (h, "graftbot", "disallow", s"/doc/$k", older),
        (h, "graftbot", "allow", s"/doc/$k$k", older),
        (h, "graftbot", "crawl-delay", s"${k % 5}", older))
    }.toSet
    assert(tuples.filter(extras.contains).toSet == extras,
      "every planted loser (and the tombstone) must appear in the raw feed")
    assert(oldBase.subsetOf(tuples.toSet),
      "the redirect origins' superseded base bodies must still ride the raw feed")
    // …and the remaining rows are exactly the TERMINAL winners: the
    // resolved batch table minus the restamped rows, which are a
    // RESOLUTION product and must never appear in the raw feed.
    // Host 4's winners carry the sub-second instant that PARSED-date
    // resolution must rank above the poison's whole-second one
    // (string order would not).
    val restampHosts = Set("https://h0.example.org", "https://h8.example.org",
      "https://b1.example.org") ++ (1 to 5).map(i => s"https://c$i.example.org")
    val batchTerm = batch.filterNot(r => restampHosts.contains(r._1)).sorted
    val winners = tuples.filterNot(t =>
      t._3 == "redirect" || extras.contains(t) || oldBase.contains(t))
    assert(winners.map(x => (x._1, x._2, x._3, x._4)).sorted.sameElements(batchTerm),
      "the raw feed's terminal winner rows must be exactly the batch table sans restamps")
    assert(winners.filter(_._1 == "https://h4.example.org")
      .forall(_._5 == "2026-01-01T00:00:00.500Z"))
    // the micro-batch plan is MAP-SIDE (the src_stream_warc rule): a
    // stateless per-shard grammar walk, nothing shuffles per batch —
    // which is exactly WHY latest-wins lives batch-side
    val sp = graft.streaming.StreamingOps.lastStreamPlan
    assert(sp.nonEmpty, "runToMemory captured no plan")
    assert(!sp.contains("Exchange"), s"the robots micro-batch must not shuffle:\n$sp")
  }

  test("pipe_stream_robots_filter: streamed verdicts ≡ batch row-for-row across REAL micro-batches; broadcast stream-static join, no shuffle") {
    import graft.sources.Robots
    val got = graft.streaming.StreamingOps.robotsVerdictsViaStream(spark, sfDir).collect()
    assert(graft.streaming.StreamingOps.lastNumBatches >= 2,
      s"expected multiple micro-batches over the four-file docs staging, got ${graft.streaming.StreamingOps.lastNumBatches}")
    // the streamed verdicts are EXACTLY the batch compliance join's —
    // the rule-set artifact plus the scalar verdict expression must
    // reproduce the join + max_by form rule for rule (same grammar
    // arms: wildcards, percent traps, redirect restamps, all of it)
    val batch = Robots.pipeRobotsFilter(spark, sfDir).collect()
    assert(got.length == batch.length && got.nonEmpty)
    got.zip(batch).foreach { case (g, b) =>
      assert((g.getLong(0), g.getString(1), g.getBoolean(2)) ==
        (b.getLong(0), b.getString(1), b.getBoolean(2)),
        s"streamed verdict diverged for doc ${b.getLong(0)}")
    }
    // the micro-batch plan is a BROADCAST stream-static join + scalar
    // evaluation: no per-batch shuffle (this is how an ingestion-time
    // crawler gates — rules are a per-worker map, verdicts are pure
    // compute)
    val sp = graft.streaming.StreamingOps.lastStreamPlan
    assert(sp.nonEmpty, "runToMemory captured no plan")
    assert(sp.contains("BroadcastHashJoin"),
      s"the rule-set join must broadcast the artifact:\n$sp")
    assert(!sp.contains("Exchange hashpartitioning"),
      s"the verdict micro-batch must not shuffle:\n$sp")
  }

  test("robots.txt: RFC 9309 parse — groups, multi-agent, comments, case, tolerated noise") {
    import graft.sources.Robots
    val body =
      """# comment line
        |Sitemap: https://x.example/sitemap.xml
        |USER-AGENT: A
        |User-Agent: B
        |Disallow: /a   # trailing comment
        |Allow: /a/b
        |
        |User-agent: *
        |Crawl-Delay: 7
        |Disallow:
        |bogus line without colon
        |Unknown-Field: ignored
        |Disallow: /z
        |""".stripMargin
    val d = Robots.parseRobots("https://x.example", body)
    // a multi-agent group fans its rules to EVERY named agent
    assert(d.filter(_.userAgent == "a").map(x => (x.directive, x.value)) ==
      Vector(("disallow", "/a"), ("allow", "/a/b")))
    assert(d.filter(_.userAgent == "b").map(x => (x.directive, x.value)) ==
      Vector(("disallow", "/a"), ("allow", "/a/b")))
    // the * group: crawl-delay rides the grammar, an empty Disallow is
    // kept as a directive (matches nothing at evaluation), unknown
    // fields and colonless noise are ignored
    assert(d.filter(_.userAgent == "*").map(x => (x.directive, x.value)) ==
      Vector(("crawl-delay", "7"), ("disallow", ""), ("disallow", "/z")))
    // sitemap is a FILE-scoped record: emitted once, empty user agent,
    // and it neither joins nor interrupts a group
    assert(d.filter(_.directive == "sitemap").map(x => (x.userAgent, x.value)) ==
      Vector(("", "https://x.example/sitemap.xml")))
    val interrupted = Robots.parseRobots("h",
      "User-agent: p\nSitemap: https://h/s.xml\nUser-agent: q\nDisallow: /x")
    assert(interrupted.filter(_.directive == "disallow").map(_.userAgent) ==
      Vector("p", "q"), "a sitemap line must not close the user-agent accumulation")
    // rules before any group are ignored, not misattributed
    assert(Robots.parseRobots("h", "Disallow: /lost\nUser-agent: x\nAllow: /kept")
      .map(x => (x.userAgent, x.directive, x.value)) == Vector(("x", "allow", "/kept")))
  }

  test("robots.txt: host-key normalization — exact /robots.txt path, case, default ports (RFC 3986 §6.2)") {
    import graft.sources.Robots
    assert(Robots.robotsHostKey("https://h1.example.org/robots.txt") ==
      Some("https://h1.example.org"))
    // equivalent authorities normalize to the SAME key
    assert(Robots.robotsHostKey("HTTPS://H1.EXAMPLE.ORG:443/robots.txt") ==
      Some("https://h1.example.org"))
    assert(Robots.robotsHostKey("http://x.org:80/robots.txt") == Some("http://x.org"))
    // a NON-default port is part of the authority and stays
    assert(Robots.robotsHostKey("http://x.org:8080/robots.txt") ==
      Some("http://x.org:8080"))
    // https on port 80 is not the https default: the port stays
    assert(Robots.robotsHostKey("https://x.org:80/robots.txt") ==
      Some("https://x.org:80"))
    // only the EXACT path /robots.txt is a rules location (RFC 9309
    // §2.3) — suffix matches are ordinary pages
    assert(Robots.robotsHostKey("https://x.org/blog/robots.txt").isEmpty)
    assert(Robots.robotsHostKey("https://x.org/robots.txt/extra").isEmpty)
    assert(Robots.robotsHostKey("not a uri at all ::").isEmpty)
    // the parse is TOTAL over real-lake spellings java.net.URI
    // rejects — a compliance plane must not fail open on them (r19)
    assert(Robots.robotsHostKey("https://B\u00dcCHER.example/robots.txt") ==
      Some("https://b\u00fccher.example"), "raw IDN hosts must key, not drop")
    assert(Robots.robotsHostKey("https://user:pw@x.org/robots.txt") ==
      Some("https://x.org"), "userinfo strips out of the key")
    assert(Robots.robotsHostKey("http://[2001:DB8::1]:8080/robots.txt") ==
      Some("http://[2001:db8::1]:8080"))
    assert(Robots.robotsHostKey("http://[::1]/robots.txt") == Some("http://[::1]"))
    assert(Robots.robotsHostKey("https://x.org:notaport/robots.txt").isEmpty,
      "a malformed port rejects rather than mis-keys")
    assert(Robots.robotsHostKey("https://x.org/robots.txt?crawl=1") ==
      Some("https://x.org"), "a query string does not change the rules location")
    // r19 review closes: the path compares percent-normalized (an
    // escaped-dot spelling still keys), userinfo splits at the LAST
    // '@', and a non-ASCII "digit" port is malformed, not 80
    assert(Robots.robotsHostKey("https://x.org/robots%2Etxt") == Some("https://x.org"))
    assert(Robots.robotsHostKey("https://user@mail.com@x.org/robots.txt") ==
      Some("https://x.org"))
    assert(Robots.robotsHostKey("https://x.org:\u0668\u0660/robots.txt").isEmpty)
  }

  test("robots.txt: rule matching — RFC 9309 §2.2.3 wildcards, end anchor, prefix default") {
    import graft.sources.Robots.ruleMatches
    // prefix default (wildcard-free)
    assert(ruleMatches("/doc/123", "/doc/1"))
    assert(!ruleMatches("/doc/2", "/doc/1"))
    // '*' matches any octet sequence, including empty
    assert(ruleMatches("/a.php", "/*.php"))
    assert(ruleMatches("/x/y.php?q=1", "/*.php"))
    assert(ruleMatches("/p.php", "/p*.php"))
    assert(!ruleMatches("/a.png", "/*.php"))
    // trailing '$' anchors the end; without it the rule is a prefix
    assert(ruleMatches("/a.php", "/*.php$"))
    assert(!ruleMatches("/a.php?q=1", "/*.php$"))
    assert(ruleMatches("/doc/163", "/doc/*3$"))
    assert(!ruleMatches("/doc/163x", "/doc/*3$"))
    // a NON-trailing '$' is a literal octet
    assert(ruleMatches("/a$b/x", "/a$b"))
    assert(!ruleMatches("/axb/x", "/a$b"))
    // multiple wildcards; regex metachars in the rule are literal
    assert(ruleMatches("/a/b/c/d", "/a/*/c"))
    assert(!ruleMatches("/a/b/x", "/a/*/c"))
    assert(ruleMatches("/f.o/x", "/f.o"))
    assert(!ruleMatches("/fxo/x", "/f.o"))
    // the empty rule matches nothing
    assert(!ruleMatches("/anything", ""))
    // §2.2.2 percent-normalization (r19): unreserved escapes decode
    // on BOTH sides; reserved escapes stay, case-normalized; invalid
    // and multibyte escapes are literal
    assert(ruleMatches("/doc/14", "/doc/%31%34"))
    assert(ruleMatches("/doc/%31%34", "/doc/14"))
    assert(ruleMatches("/a%2Fb/x", "/a%2fb"))
    assert(!ruleMatches("/doc/140", "/doc%2F140"), "an encoded slash is not a separator")
    assert(!ruleMatches("/doc/15", "/doc/%2A%2A%2A%2A"), "%2A must not become a wildcard")
    assert(!ruleMatches("/doc/106", "/doc/106%24"), "%24 must not become an anchor")
    assert(ruleMatches("/x%zz/y", "/x%zz"))
    assert(ruleMatches("/x%C3%A9/y", "/x%c3%a9"))
  }

  test("robots.txt: compliance semantics — group selection, longest match, allow tie-break, defaults") {
    import graft.sources.Robots
    val rules = Seq(
      ("https://h.example", "*", "disallow", "/"),
      ("https://h.example", "bot", "disallow", "/doc/1"),
      ("https://h.example", "bot", "allow", "/doc/12"),
      ("https://h.example", "bot", "disallow", "/doc/12"), // tie vs the allow above
      ("https://h.example", "bot", "disallow", ""),        // empty: matches nothing
      ("https://nogroups.example", "*", "disallow", "/blocked"),
      ("https://h.example", "bot", "crawl-delay", "3"),    // non-path directive ignored
      // exact group with ONLY a crawl-delay: still SELECTS (§2.2.1) —
      // the * disallow-all must not apply to bot
      ("https://delayonly.example", "*", "disallow", "/"),
      ("https://delayonly.example", "bot", "crawl-delay", "9"),
      // wildcard rules (§2.2.3): * spans octets, trailing $ anchors,
      // and the longer wildcard allow outranks the disallow
      ("https://wild.example", "*", "disallow", "/"),
      ("https://wild.example", "bot", "disallow", "/*.php$"),
      ("https://wild.example", "bot", "allow", "/pub*.php$"),
      // §2.2.2 ranks by OCTETS: these tie at 3 characters, but the
      // disallow is 4 UTF-8 octets — it must outrank the allow
      ("https://uni.example", "bot", "disallow", "/*\u00e9"),
      ("https://uni.example", "bot", "allow", "/p*"),
      // \u00a72.2.1 product tokens: a versioned group name (as the parse
      // stores it, lowercased) must SELECT for the bare token \u2014 not
      // fall through to the * disallow-all
      ("https://vers.example", "*", "disallow", "/"),
      ("https://vers.example", "bot/2.1", "disallow", "/doc/1"))
      .toDF("host", "user_agent", "directive", "value")
    def docs(rows: (Long, String, String)*) = rows.toDF("doc_id", "host", "path")
    def verdicts(ds: org.apache.spark.sql.DataFrame, ua: String) =
      Robots.compliance(ds, rules, ua).collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val v = verdicts(docs(
      (1L, "https://h.example", "/doc/1"),     // disallow /doc/1 → blocked
      (12L, "https://h.example", "/doc/12"),   // allow vs disallow SAME length → allow
      (123L, "https://h.example", "/doc/123"), // longest match is the /doc/12 pair → allow
      (13L, "https://h.example", "/doc/13"),   // /doc/1 only → blocked
      (2L, "https://h.example", "/doc/2"),     // no match → allowed
      (3L, "https://nogroups.example", "/blocked/x"), // no bot group → * applies
      (4L, "https://nogroups.example", "/open"),
      (6L, "https://delayonly.example", "/any/path"), // delay-only group selects → allowed
      (20L, "https://wild.example", "/a.php"),        // /*.php$ → blocked
      (21L, "https://wild.example", "/a.php?q=1"),    // $ anchor: no match → allowed
      (22L, "https://wild.example", "/public.php"),   // /pub*.php$ (10) beats /*.php$ (7) → allowed
      (23L, "https://wild.example", "/a.png"),        // no match → allowed
      (30L, "https://uni.example", "/p\u00e9"),       // 4-OCTET disallow beats 3-octet allow → blocked
      (31L, "https://uni.example", "/px"),            // only the allow matches → allowed
      (40L, "https://vers.example", "/doc/1"),        // versioned group selects for 'bot' → its rule blocks
      (41L, "https://vers.example", "/open")), "bot") // …and ONLY its rules apply (not * disallow-all)
    assert(v == Map(1L -> false, 12L -> true, 123L -> true, 13L -> false,
      2L -> true, 3L -> false, 4L -> true,
      6L -> true, 20L -> false, 21L -> true, 22L -> true, 23L -> true,
      30L -> false, 31L -> true, 40L -> false, 41L -> true))
    // …and the crawler's own configured agent string may carry a
    // version too: 'Bot/9.9' token-matches the same groups (§2.2.1
    // case-insensitive product-token comparison, both sides)
    val vv = verdicts(docs((42L, "https://vers.example", "/doc/1"),
      (43L, "https://vers.example", "/open")), "Bot/9.9")
    assert(vv == Map(42L -> false, 43L -> true))
    // a UA with no exact group anywhere falls to * everywhere: the
    // h.example `Disallow: /` blocks everything
    val w = verdicts(docs((9L, "https://h.example", "/doc/2")), "otherbot")
    assert(w == Map(9L -> false))
    // a host with NO rules at all: allowed by default
    val u = verdicts(docs((5L, "https://unknown.example", "/x")), "bot")
    assert(u == Map(5L -> true))
  }

  test("robots.txt: crawl-delay group selection — exact-else-star, duplicate lines collapse to max") {
    import graft.sources.Robots
    val rules = Seq(
      ("hA", "bot", "crawl-delay", "2"),
      ("hA", "bot", "crawl-delay", "5"),    // duplicate lines → max, never a join fan-out
      ("hA", "*", "crawl-delay", "9"),      // exact group exists → star delay ignored
      ("hB", "*", "crawl-delay", "7"),      // no bot group → star applies
      ("hC", "bot", "disallow", "/x"),      // exact group SELECTED, no delay → no fall-through
      ("hC", "*", "crawl-delay", "4"),
      ("hD", "bot", "crawl-delay", "oops"), // non-numeric → null, tolerated
      ("hE", "bot/3.0", "crawl-delay", "6"), // versioned token SELECTS for 'bot' (§2.2.1)
      ("hE", "*", "crawl-delay", "9"),
      ("hF", "bot", "crawl-delay", "0.5")) // FRACTIONAL seconds survive as ms (r20)
      .toDF("host", "user_agent", "directive", "value")
    val d = Robots.crawlDelays(rules, "bot").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(d == Map("hA" -> 5000L, "hB" -> 7000L, "hD" -> -1L,
      "hE" -> 6000L, "hF" -> 500L))
  }

  test("robots.txt: 3xx Location routing — non-canonical and relative Locations key through the host normalization; self-loops resolve unavailable") {
    import graft.sources.{Robots, Warc}
    def r301(uri: String, loc: String) = {
      val http = (s"HTTP/1.1 301 Moved Permanently\r\nLocation: $loc\r\n" +
        "Content-Length: 0\r\n\r\n").getBytes("US-ASCII")
      Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> uri,
        "WARC-Date" -> "2026-01-01T00:00:00Z",
        "Content-Type" -> "application/http; msgtype=response") -> http
    }
    val shard = Warc.gzipPerRecord(Warc.encodeRecords(Seq(
      // mixed-case + explicit default port: must key to the canonical
      // target host, not a host that doesn't exist
      r301("https://r1.example/robots.txt", "HTTP://R1-TARGET.EXAMPLE:80/robots.txt"),
      // path-relative Location resolves against the origin authority —
      // here the origin itself, a self-loop
      r301("https://r2.example/robots.txt", "/robots.txt"),
      // a relative Location that is NOT a robots location carries no
      // rules: tombstone, as does an unparseable one
      r301("https://r3.example/robots.txt", "/elsewhere"),
      r301("https://r4.example/robots.txt", "not a uri"))))
    val raw = Robots.robotsRowsFromShardBytes(Seq(shard).toDS())
    val rows = raw.select($"host", $"directive", $"value").collect()
      .map(x => (x.getString(0), x.getString(1), x.getString(2))).toSet
    assert(rows == Set(
      ("https://r1.example", "redirect", "http://r1-target.example"),
      ("https://r2.example", "redirect", "https://r2.example"),
      ("https://r3.example", "unavailable", ""),
      ("https://r4.example", "unavailable", "")),
      s"3xx routing produced $rows")
    // through the walk: r1's target was never captured (allowed by
    // absence), r2 chases itself until the hop budget burns, r3/r4
    // are tombstones — ALL resolve to no rules
    assert(Robots.resolveRedirects(Robots.resolveLatest(raw)).collect().isEmpty)
  }

  test("robots.txt: instant-TIED captures resolve deterministically by capture fingerprint, never a merge") {
    import graft.sources.{Robots, Warc}
    // two captures of ONE host stamped the SAME WARC-Date instant but
    // with different bodies — r19 design note: these previously MERGED
    // their directives (the resolution's only nondeterminism-shaped
    // corner); now exactly one capture's rows survive, chosen by the
    // higher 64-bit capture fingerprint, independent of record order
    def capture(rule: String) = {
      val b = s"User-agent: bot\nDisallow: $rule\n".getBytes("UTF-8")
      val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
        s"Content-Length: ${b.length}\r\n\r\n").getBytes("US-ASCII")
      Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> "https://tie.example/robots.txt",
        "WARC-Date" -> "2026-01-01T00:00:00Z",
        "Content-Type" -> "application/http; msgtype=response") -> (http ++ b)
    }
    val (a, b) = (capture("/a"), capture("/b"))
    val expected = Set(("bot", "disallow",
      if (Robots.captureFp(a._2) >= Robots.captureFp(b._2)) "/a" else "/b"))
    for (recs <- Seq(Seq(a, b), Seq(b, a))) {
      val shard = Warc.gzipPerRecord(Warc.encodeRecords(recs))
      val resolved = Robots.resolveLatest(
        Robots.robotsRowsFromShardBytes(Seq(shard).toDS())).collect()
        .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
      assert(resolved == expected,
        s"an instant tie must resolve to the higher-fingerprint capture alone, got $resolved")
    }
  }

  /** The fixture grammar's closed-form verdict (mirrors the arms of
    * [[graft.sources.Robots.fixtureRobotsBody]] and the DuckDB
    * oracle's CASE — see SparkEntry.robotsAllowedCase). */
  private def robotsFixtureAllowed(id: Long): Boolean = {
    val s = id.toString
    (id % 16) match {
      case 13 => false                                  // 503 → complete disallow
      case 0  => false                       // 2-hop redirect to b2: disallow-all
      case 1  => true                        // six-hop redirect chain ⇒ unavailable
      case 2  => true                        // redirect loop ⇒ unavailable
      case 8  => !(s.startsWith("88") && !s.startsWith("888")) // a8's rules via the 1-hop 301
      case 9  => true                                   // 404 → no rules
      case 6  => true                                   // delay-only exact group selects
      case 11 => !(s.startsWith("1") && !s.startsWith("11")) // star fall-through rules
      case 3  => !(s.endsWith("3") && !(s.startsWith("1") && s.endsWith("3")))
      case 7  => !(s.contains("7") && id != 7)
      case k  => val ks = k.toString; !(s.startsWith(ks) && !s.startsWith(ks + ks))
    }
  }

  /** Per-host crawl-delay in MILLISECONDS (the r20 unit: fractional
    * delays stay exact). */
  private def robotsFixtureDelayMs(k: Long): Long = k match {
    case 1 | 2 | 9 => 0L    // unavailable / 404: no rules, no delay
    case 0         => 2000L // b2's delay via the 2-hop chain
    case 8         => 500L  // a8's FRACTIONAL 0.5 s via the 1-hop 301
    case _         => (k % 5) * 1000L
  }

  test("src_warc_robots + pipe_robots_filter: the staged lake parses to the id-keyed grammar arms and the fixture verdicts match the arithmetic") {
    import graft.sources.Robots
    val rules = Robots.srcWarcRobots(spark, sfDir).collect()
    assert(rules.length == 78, s"the arm grammar parses to 78 directives, got ${rules.length}")
    def hostByName(name: String) = rules.filter(_.getString(0) == name)
      .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
    def host(k: Int) = hostByName(s"https://h$k.example.org")
    // availability arms: the 404 host contributes NOTHING; the 503
    // host ONLY the synthetic complete-disallow (RFC 9309 §2.3.1.4)
    assert(host(9).isEmpty,
      "a 404 robots means no rules at all — including the OLDER poison capture its " +
        "tombstone must erase, and the tombstone itself must not surface")
    assert(host(13) == Set(("*", "disallow", "/")),
      "a 503 robots must surface as the synthetic disallow-all")
    // normalization arm: host 5's capture URI is uppercase with an
    // explicit :443 — it must land under the canonical key
    assert(host(5).contains(("graftbot", "disallow", "/doc/5")),
      "the uppercase/default-port capture must normalize onto the canonical host key")
    // wildcard arms parse verbatim (matching is evaluation-side)
    assert(host(3).contains(("graftbot", "disallow", "/doc/*3$")) &&
      host(3).contains(("graftbot", "allow", "/doc/1*3$")))
    assert(host(7).contains(("graftbot", "disallow", "/*7")) &&
      host(7).contains(("graftbot", "allow", "/doc/7$")))
    // star-only host 11 has no graftbot rows; delay-only host 6 has
    // exactly one graftbot row; host 12 ships BOTH delay lines
    assert(!host(11).exists(_._1 == "graftbot"))
    assert(host(6).filter(_._1 == "graftbot") == Set(("graftbot", "crawl-delay", "1")))
    assert(host(12).count(t => t._1 == "graftbot" && t._2 == "crawl-delay") == 2)
    // the decoy capture at /blog/robots.txt must be ABSENT: not a
    // rules location, its poison disallow-all parses to nothing
    assert(!rules.exists(_.getString(0).contains("/blog")))
    // the redirect arms (r20, §2.3.1.2). Host 8's winning 301 means
    // a8's rules govern h8 — including the fractional delay and the
    // malformed delay line, but NOT a8's file-scoped sitemap record
    val a8rules = Set(("*", "disallow", "/"),
      ("graftbot", "disallow", "/doc/88"), ("graftbot", "allow", "/doc/888"),
      ("graftbot", "crawl-delay", "0.5"), ("graftbot", "crawl-delay", "soon"))
    assert(host(8) == a8rules,
      "host 8 must adopt its 1-hop redirect target's rules, sans sitemap")
    assert(hostByName("https://a8.example.org") == a8rules +
      (("", "sitemap", "https://a8.example.org/sitemap.xml")),
      "the redirect target keeps its own rows, sitemap included")
    // 2-hop chain: h0 → b1 → b2; both h0 and the intermediate b1
    // adopt b2's rules
    val b2rules = Set(("*", "disallow", "/"), ("graftbot", "disallow", "/"),
      ("graftbot", "crawl-delay", "2"))
    assert(host(0) == b2rules && hostByName("https://b1.example.org") == b2rules &&
      hostByName("https://b2.example.org") == b2rules,
      "the 2-hop chain must resolve origin AND intermediate to the terminal's rules")
    // the five-hop boundary, both sides: h1 → c1 → … → c6 needs SIX
    // follows ⇒ unavailable (no rows), while c1 reaches c6 in exactly
    // five ⇒ resolves to the poison
    assert(host(1).isEmpty, "a six-follow chain must resolve unavailable (RFC cap is 5)")
    for (i <- 1 to 5)
      assert(hostByName(s"https://c$i.example.org") == Set(("*", "disallow", "/")),
        s"c$i reaches the terminal within five follows and must resolve")
    // the loop: h2 ↔ l2 burns the hop budget ⇒ both unavailable (the
    // decoy must not contribute rows to host 2 either)
    assert(host(2).isEmpty && hostByName("https://l2.example.org").isEmpty,
      "a redirect loop must resolve unavailable, not spin or merge")
    // latest-capture-wins (r19): both planted OLDER captures lost —
    // host 4's poison 200 (disallow-all for graftbot) left no trace,
    // and host 11's 503 synthetic disallow-all did not merge into
    // the star-only grammar
    // host 4's group is NAMED 'GraftBot/1.2' — the directive table
    // carries the versioned token as written (lowercased); group
    // SELECTION must still match it for 'graftbot' (§2.2.1 product
    // tokens), which the verdict assertions below prove
    assert(host(4) == Set(("", "sitemap", "https://h4.example.org/sitemap.xml"),
      ("*", "disallow", "/"), ("graftbot/1.2", "disallow", "/doc/4"),
      ("graftbot/1.2", "allow", "/doc/44"), ("graftbot/1.2", "crawl-delay", "4")),
      "the older poison capture must lose to the newer one wholesale")
    assert(!host(11).contains(("*", "disallow", "/")),
      "the older 503's synthetic disallow-all must lose to the newer 200")
    // percent-encoding arms (r19): the rules parse AS WRITTEN (the
    // normalization is evaluation-side, so the directive table shows
    // the spellings the robots author used)
    assert(host(14).contains(("graftbot", "disallow", "/doc/%31%34")) &&
      host(14).contains(("graftbot", "allow", "/doc/%31%34%31%34")))
    assert(host(12).contains(("graftbot", "disallow", "/doc%2F140")))
    assert(host(10).contains(("graftbot", "allow", "/doc/106%24")))
    assert(host(15).contains(("graftbot", "allow", "/doc/%2A%2A%2A%2A")))
    val verdicts = Robots.pipeRobotsFilter(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir).select($"doc_id").collect().map(_.getLong(0))
    assert(verdicts.length == docs.length)
    verdicts.foreach { r =>
      val id = r.getLong(0)
      assert(r.getBoolean(2) == robotsFixtureAllowed(id),
        s"verdict for doc $id (host h${id % 16})")
    }
    // every arm must DECIDE verdicts in the corpus: wildcard blocks,
    // the wildcard-allow override (163), the 5xx blanket, star
    // fall-through blocks
    assert(verdicts.exists(r => r.getLong(0) % 16 == 3 && !r.getBoolean(2)),
      "host 3's wildcard disallow must block someone")
    assert(verdicts.filter(r => r.getLong(0) == 163L).forall(_.getBoolean(2)) &&
      docs.contains(163L), "doc 163: the longer wildcard allow must win")
    assert(verdicts.filter(_.getLong(0) % 16 == 13).forall(!_.getBoolean(2)),
      "the 503 host blocks everything")
    assert(verdicts.exists(r => r.getLong(0) % 16 == 7 && !r.getBoolean(2)),
      "host 7's floating wildcard must block someone")
    assert(verdicts.exists(r => r.getLong(0) % 16 == 11 && !r.getBoolean(2)),
      "host 11's star rules must apply through the fall-through")
    assert(verdicts.filter(_.getLong(0) % 16 == 6).forall(_.getBoolean(2)),
      "the delay-only exact group must select and allow everything")
    // percent arms decide verdicts: host 14's ENCODED rules must
    // block its decimal-prefix subset (no decode -> all allowed),
    // and the retention traps must leave their targets on the base
    // closed form (%2F decode would block 140; %2A would allow
    // 15/159; %24 would allow 106)
    assert(verdicts.exists(r => r.getLong(0) % 16 == 14 && !r.getBoolean(2)),
      "host 14's percent-encoded disallow must block someone")
    assert(verdicts.filter(r => Set(140L).contains(r.getLong(0))).forall(_.getBoolean(2)))
    assert(verdicts.filter(r => Set(15L, 159L, 106L).contains(r.getLong(0)))
      .forall(!_.getBoolean(2)))
    // the redirect arms DECIDE verdicts (r20): host 0 is blanket-
    // blocked by its 2-hop target, hosts 1/2 (six-hop chain, loop)
    // resolve unavailable → allowed — where their superseded base
    // bodies would have blocked their decimal-prefix subsets — and
    // host 8 blocks a8's 88-prefix subset instead of its old 8-prefix
    // one (doc 8 itself flips to ALLOWED)
    assert(verdicts.filter(_.getLong(0) % 16 == 0).forall(!_.getBoolean(2)),
      "host 0: the 2-hop redirect target's disallow-all must govern")
    assert(verdicts.filter(r => r.getLong(0) % 16 == 1 || r.getLong(0) % 16 == 2)
      .forall(_.getBoolean(2)),
      "loop and six-hop chains resolve unavailable → everything allowed")
    assert(verdicts.filter(_.getLong(0) == 8L).forall(_.getBoolean(2)) &&
      docs.contains(8L),
      "doc 8: the superseded base disallow must NOT apply through the redirect")
    assert(verdicts.filter(_.getLong(0) == 88L).forall(!_.getBoolean(2)) &&
      docs.contains(88L),
      "doc 88: the redirect target's disallow must apply")
  }

  test("pipe_fetch_schedule + sharded twin: politeness slots match the closed form; the two forms are row-identical") {
    import graft.sources.Robots
    val slots = Robots.pipeFetchSchedule(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir).select($"doc_id").collect().map(_.getLong(0))
    val allowedByHost = docs.filter(robotsFixtureAllowed)
      .groupBy(_ % 16).map { case (k, ids) => k -> ids.sorted }
    assert(slots.length == docs.count(robotsFixtureAllowed),
      "exactly the allowed docs get scheduled")
    slots.foreach { r =>
      val id = r.getLong(0); val k = id % 16
      val rank = allowedByHost(k).indexOf(id)
      assert(rank >= 0 && r.getLong(2) == rank.toLong * robotsFixtureDelayMs(k),
        s"slot for doc $id on host h$k")
    }
    // the delay arms really schedule: host 11 (star-group delay) and
    // host 6 (delay-only group) must show nonzero slots; host 9 (404,
    // no delay) must be all-zero; host 13 never appears
    assert(slots.exists(r => r.getLong(0) % 16 == 11 && r.getLong(2) > 0),
      "host 11's crawl-delay must ride the star fall-through")
    assert(slots.exists(r => r.getLong(0) % 16 == 6 && r.getLong(2) > 0),
      "host 6's delay-only group must throttle")
    assert(slots.filter(_.getLong(0) % 16 == 9).forall(_.getLong(2) == 0),
      "the 404 host fetches immediately")
    assert(!slots.exists(_.getLong(0) % 16 == 13), "the 503 host never schedules")
    // host 12's duplicate delay lines collapse to max(1,2)=2 s — and
    // to ONE row: no join fan-out (row count already asserted above)
    assert(slots.exists(r => r.getLong(0) % 16 == 12 && r.getLong(2) % 2000 == 0 && r.getLong(2) > 0))
    // the FRACTIONAL arm (r20): host 8's delay is a8's 0.5 s via the
    // redirect — the rank-1 fetch slots at exactly 500 ms, which an
    // integral-seconds cast would have dropped to 0 and a
    // round-to-seconds would have made 1000
    assert(slots.exists(r => r.getLong(0) % 16 == 8 && r.getLong(2) == 500L),
      "the fractional 0.5 s crawl-delay must throttle at 500 ms")
    // the redirect availability arms: hosts 1/2 (unavailable) fetch
    // immediately; host 0 (blanket-blocked by its target) never
    // schedules
    assert(slots.filter(r => r.getLong(0) % 16 == 1 || r.getLong(0) % 16 == 2)
      .forall(_.getLong(2) == 0))
    assert(!slots.exists(_.getLong(0) % 16 == 0),
      "host 0 is blanket-blocked by its redirect target")
    // the sharded twin is row-identical at the default width AND at a
    // width small enough to force multi-bucket offsets per host
    val byId = slots.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    for (width <- Seq(64L, 3L)) {
      val sharded = Robots.pipeFetchScheduleSharded(spark, sfDir, bucketWidth = width)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
      assert(sharded.sameElements(byId), s"sharded form (width $width) must be row-identical")
    }
  }

  test("pipe_robots_audit: the per-host governance rollup matches the closed form") {
    import graft.sources.Robots
    val rows = Robots.pipeRobotsAudit(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir).select($"doc_id").collect().map(_.getLong(0))
    assert(rows.length == 16, "every fixture host appears exactly once")
    rows.foreach { r =>
      val host = r.getString(0)
      val k = host.stripPrefix("https://h").stripSuffix(".example.org").toLong
      val hostDocs = docs.filter(_ % 16 == k)
      val allowed = hostDocs.count(robotsFixtureAllowed)
      assert(r.getLong(1) == hostDocs.length, s"n_docs for h$k")
      assert(r.getLong(2) == allowed, s"n_allowed for h$k")
      assert(r.getLong(3) == hostDocs.length - allowed, s"n_blocked for h$k")
      // host 13's synthetic disallow-all carries no delay; hosts 9
      // (404) and 1/2 (redirect loop / six-hop chain) have no rules
      // at all (allowed by ABSENCE — has_robots false)
      val delay = if (k == 13) 0L else robotsFixtureDelayMs(k)
      assert(r.getLong(4) == delay, s"crawl_delay_ms for h$k")
      assert(r.getBoolean(5) == !Set(1L, 2L, 9L).contains(k), s"has_robots for h$k")
    }
    // the rollup's trust distinction is live in the fixture: an
    // allowed-by-absence host (9), a fully-blocked host (13), and
    // rule-governed hosts with both verdicts
    assert(rows.exists(r => !r.getBoolean(5) && r.getLong(3) == 0))
    assert(rows.exists(r => r.getBoolean(5) && r.getLong(2) == 0))
  }

  test("src_sitemap_urls + pipe_sitemap_schedule: announced walk, one-level index rule, parsed-lastmod freshness, decoy and poison-capture resolution") {
    import graft.sources.Sitemaps
    // unit layer: the tolerant tag scan and the W3C instant parse
    val (kind, es) = Sitemaps.parseSitemap(
      "<?xml version=\"1.0\"?><urlset><url><loc> https://x/a </loc>" +
        "<lastmod>2026-01-01</lastmod></url><url><!-- no loc --></url>" +
        "<url><loc>https://x/b</loc></url></urlset>")
    assert(kind == "urlset" &&
      es == Vector(("https://x/a", "2026-01-01"), ("https://x/b", "")),
      "loc-less entries skip; whitespace trims; missing lastmod is empty")
    assert(Sitemaps.parseSitemap("<sitemapindex><sitemap><loc>https://x/s.xml</loc>" +
      "</sitemap></sitemapindex>")._1 == "sitemapindex")
    assert(Sitemaps.parseSitemap("not xml at all") == (("", Vector.empty)))
    // the mixed-precision trap the fixture plants: the sub-second
    // instant is LATER though its string sorts lower
    assert(Sitemaps.lastmodOrd("2026-01-03T06:00:00.500Z") >
      Sitemaps.lastmodOrd("2026-01-03T06:00:00Z"))
    assert("2026-01-03T06:00:00.500Z" < "2026-01-03T06:00:00Z",
      "trap precondition: string order must disagree with instant order")
    assert(Sitemaps.lastmodOrd("2026-01-04") > Sitemaps.lastmodOrd("2026-01-01") &&
      Sitemaps.lastmodOrd("") == -1L && Sitemaps.lastmodOrd("soon") == -1L)
    // the walk: exactly the six announced-and-captured URLs — h3's
    // winning urlset (its older poison page/666 LOST latest-wins),
    // h7's two urlset children via the index (the nested index child
    // must not double page/70-71), the h9 decoy absent (no robots ⇒
    // no announcement ⇒ unreachable), host 6 announced-but-uncaptured
    // contributes nothing
    val urls = Sitemaps.srcSitemapUrls(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getString(3)))
    val h3 = "https://h3.example.org"; val h7 = "https://h7.example.org"
    assert(urls.toSeq == Seq(
      (h3, s"$h3/sitemap.xml", s"$h3/page/30", "2026-01-02T23:00:00Z"),
      (h3, s"$h3/sitemap.xml", s"$h3/page/31", "2026-01-03T06:00:00Z"),
      (h3, s"$h3/sitemap.xml", s"$h3/page/32", "2026-01-03T06:00:00.500Z"),
      (h7, s"$h7/sitemap-a.xml", s"$h7/page/70", "2026-01-01"),
      (h7, s"$h7/sitemap-a.xml", s"$h7/page/71", "2026-01-04"),
      (h7, s"$h7/sitemap-b.xml", s"$h7/page/72", null)))
    // the composition: freshness rank × the robots crawl-delay in ms
    // — h3's rank 0 is decided by the parsed-instant trap, h7's tail
    // by NULLS-LAST on the undated URL
    val slots = graft.sources.Sitemaps.pipeSitemapSchedule(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(slots.toSeq == Seq(
      (h3, s"$h3/page/32", 0L), (h3, s"$h3/page/31", 3000L), (h3, s"$h3/page/30", 6000L),
      (h7, s"$h7/page/71", 0L), (h7, s"$h7/page/70", 2000L), (h7, s"$h7/page/72", 4000L)))
  }

  test("src_warc_serve: the persisted cdx artifact serves the pushed range row-identically; built once") {
    import graft.sources.Warc
    val got = Warc.srcWarcServe(spark, sfDir).collect()
    val expect = Tables.documents(spark, sfDir)
      .filter($"doc_id" >= 100 && $"doc_id" < 150)
      .select($"doc_id", $"text").orderBy($"doc_id").collect()
    assert(got.length == expect.length && got.nonEmpty)
    got.zip(expect).foreach { case (g, e) =>
      assert(g.getLong(0) == e.getLong(0))
      assert(g.getString(1) == Warc.docUri(e.getLong(0)))
      assert(g.getString(3) == e.getString(1), s"text for doc ${e.getLong(0)}")
    }
    // built once: a second serve reuses the SAME artifact directory
    // (the session-scoped cache — rebuilding per fetch would be the
    // corpus re-scan the index exists to avoid)
    val dir1 = Warc.cdxIndexDir(spark, sfDir)
    val files1 = new java.io.File(dir1).listFiles().map(f => (f.getName, f.lastModified)).toSet
    Warc.srcWarcServe(spark, sfDir).collect()
    val dir2 = Warc.cdxIndexDir(spark, sfDir)
    val files2 = new java.io.File(dir2).listFiles().map(f => (f.getName, f.lastModified)).toSet
    assert(dir1 == dir2 && files1 == files2,
      "the artifact must be built once and reused, files untouched across serves")
  }

  test("cdx artifact files carry pairwise-DISJOINT doc_id envelopes and cover the corpus (row-group pruning contract)") {
    import graft.sources.Warc
    // r17 verdict note #2: MIN/MAX pruning of a served doc_id range
    // must be a CONTRACT of the artifact layout, not an accident of
    // write order. Range partitioning + within-partition sort make
    // each parquet file's (min, max) doc_id envelope disjoint from
    // every other file's — a served range touches only its own files.
    val dir = Warc.cdxIndexDir(spark, sfDir)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    assert(parts.length >= 2, s"need several files to prove disjointness, got ${parts.length}")
    val envelopes = parts.map { p =>
      val r = spark.read.parquet(p)
        .agg(org.apache.spark.sql.functions.min($"doc_id"),
          org.apache.spark.sql.functions.max($"doc_id"),
          org.apache.spark.sql.functions.count($"doc_id")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }.sortBy(_._1)
    envelopes.sliding(2).foreach {
      case Seq((_, hi, _), (lo2, _, _)) =>
        assert(hi < lo2, s"file envelopes overlap: max $hi is not below next min $lo2")
      case _ => ()
    }
    // coverage: the envelopes' union is the whole corpus, nothing lost
    val total = envelopes.map(_._3).sum
    val docs = Tables.documents(spark, sfDir).count()
    assert(total == docs, s"artifact rows $total must cover all $docs documents")
  }

  test("src_warc_wat: envelope metadata matches per-arm recompute; the wrap-overhead constant is pinned") {
    import graft.sources.Warc
    // the oracle's boilerplate constant must BE htmlWrap's overhead —
    // a wrap edit without an oracle bump is a red suite, not a silent
    // hash drift
    assert(Warc.htmlWrap("").length == 241,
      "htmlWrap boilerplate changed — update the src_warc_wat oracle's 241")
    // the multi-block split contract (r18): an INTERIOR newline costs
    // +6 (−1 newline from content, +7 for '</p><p>'); a leading or
    // trailing newline cannot split (the extractor's join would drop
    // it) and stays literal inside one block at +0
    assert(Warc.htmlWrap("a\nb").length == 241 + 3 + 6,
      "htmlWrap interior-newline split changed — update the oracle's +6 CASE")
    assert(Warc.htmlWrap("\nab").length == 241 + 3 &&
      Warc.htmlWrap("ab\n").length == 241 + 3 &&
      Warc.htmlWrap("\n").length == 241 + 1,
      "edge newlines must NOT split — the join could not reconstruct them")
    // and the split really is what the extractor sees: two blocks
    assert(Warc.extractText(Warc.htmlWrap("a\nb")) == "a\nb")
    assert(Warc.htmlWrap("a\nb").contains("<p>a</p><p>b</p>"))
    val all = Warc.srcWarcWat(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").orderBy($"doc_id").collect()
    // the 200 rows: one per document, the envelope-cycle facts
    val got = all.filter(_.getLong(2) == 200L)
    assert(got.length == docs.length && got.nonEmpty)
    got.zip(docs).foreach { case (g, d) =>
      val id = d.getLong(0)
      val page = Warc.crawlPageText(id, d.getString(1))
      val win = Warc.isWin1252Arm(id, page)
      assert(g.getLong(0) == id)
      assert(g.getLong(2) == 200L && g.getString(3) == "text/html" &&
        g.getString(4) == (if (win) "windows-1252" else "UTF-8"),
        s"constants for doc $id")
      assert(g.getString(5) == (if (id % 6 == 1 || id % 6 == 3 || id % 6 == 5) "chunked" else ""),
        s"transfer_encoding for doc $id")
      assert(g.getString(6) == (if (id % 6 == 2 || id % 6 == 3) "gzip"
        else if (id % 6 == 4 || id % 6 == 5) "deflate" else ""),
        s"content_encoding for doc $id")
      assert(g.getLong(7) == (if (id % 6 <= 1) 2L else 3L), s"n_headers for doc $id")
      val wrapped = Warc.htmlWrap(page, if (win) Warc.win1252Title else "fixture")
      assert(g.getLong(8) == wrapped.codePointCount(0, wrapped.length).toLong,
        s"entity_chars for doc $id")
    }
    // the windows-1252 arm must actually occur AND be misdecode-
    // detectable: the title's windows-1252 bytes read as valid UTF-8
    // with a DIFFERENT code-point count, so a fallback decode cannot
    // hash-match entity_chars
    assert(got.zip(docs).exists { case (_, d) =>
      Warc.isWin1252Arm(d.getLong(0), Warc.crawlPageText(d.getLong(0), d.getString(1))) })
    val titleBytes = Warc.win1252Title.getBytes("windows-1252")
    assert(new String(titleBytes, "windows-1252") == Warc.win1252Title)
    assert(new String(titleBytes, "UTF-8").length == Warc.win1252Title.length - 1,
      "the arm title must decode to a different length under a UTF-8 fallback")
    // the non-200 arms (r18): counted here, id-keyed, closed-form —
    // and the total is exactly 200s + planted, nothing else
    val ids = docs.map(_.getLong(0)).toSet
    val got404 = all.filter(_.getLong(2) == 404L)
    assert(got404.map(_.getLong(0)).toSet == ids.filter(_ % 10 == 3) && got404.nonEmpty)
    got404.foreach { g =>
      assert(g.getString(3) == "text/plain" && g.getString(4) == "UTF-8" &&
        g.getString(5) == "" && g.getString(6) == "" &&
        g.getLong(7) == 2L && g.getLong(8) == 4L, s"404 facts for doc ${g.getLong(0)}")
    }
    val got301 = all.filter(_.getLong(2) == 301L)
    assert(got301.map(_.getLong(0)).toSet == ids.filter(_ % 10 == 8) && got301.nonEmpty)
    got301.foreach { g =>
      assert(g.getString(3) == "" && g.getLong(7) == 2L && g.getLong(8) == 0L,
        s"301 facts for doc ${g.getLong(0)}")
    }
    assert(all.length == got.length + got404.length + got301.length)
    // and the DOCUMENT ingest excludes them: same lake, 2xx only
    assert(Warc.srcWarcHtmlDocs(spark, sfDir).count() == docs.length.toLong,
      "non-200 captures must not become documents")
    // the truncated and request arms (r18) really exist in the lake —
    // their absence from WAT above is a FILTER, not a missing fixture
    val types = new java.io.File(Warc.rawLakeDir(spark, sfDir)).listFiles()
      .filter(_.getName.endsWith(".warc.gz"))
      .flatMap(f => Warc.parseWarcAuto(java.nio.file.Files.readAllBytes(f.toPath)))
      .groupBy(r => (r.headers.getOrElse("warc-type", "?"),
        r.headers.contains("warc-truncated")))
      .map { case (k, v) => k -> v.length }
    assert(types.getOrElse(("response", true), 0) == ids.count(_ % 10 == 5),
      s"one truncated capture per id = 5 (mod 10): $types")
    assert(types.getOrElse(("request", false), 0) == ids.count(i => i % 10 == 0 && i > 0),
      s"one request record per nonzero id = 0 (mod 10): $types")
  }

  test("src_stream_fetch: streamed point lookups resolve the request predicate across REAL multiple micro-batches") {
    graft.streaming.StreamingOps.clearFetchStreamCache() // fresh run so the batch count below is THIS run's
    val got = graft.streaming.StreamingOps.fetchViaStream(spark, sfDir).collect()
    assert(graft.streaming.StreamingOps.lastNumBatches >= 2,
      s"expected multiple micro-batches, got ${graft.streaming.StreamingOps.lastNumBatches}")
    val expect = Tables.documents(spark, sfDir)
      .filter($"doc_id" % 13 === 0)
      .select($"doc_id", $"text").orderBy($"doc_id").collect()
    assert(got.length == expect.length && got.nonEmpty)
    got.zip(expect).foreach { case (w, d) =>
      assert(w.getLong(0) == d.getLong(0))
      assert(w.getString(1) == graft.sources.Warc.docUri(d.getLong(0)))
      assert(w.getString(3) == d.getString(1), s"text for doc ${d.getLong(0)}")
    }
  }

  test("compactBatchDirs: folds below the floor row-identically; no-op when nothing moves; idempotent") {
    import graft.streaming.StreamingOps
    val out = tempDir("graft-compact")
    (0 to 3).foreach { b =>
      spark.range(b * 10L, b * 10L + 10L).selectExpr("id AS doc_id")
        .repartition(2).write.parquet(s"$out/batch_id=$b")
    }
    def batchDirs() = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq
    def rows() = spark.read.parquet(out).select($"doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val before = rows()
    assert(batchDirs() == Seq("batch_id=0", "batch_id=1", "batch_id=2", "batch_id=3"))
    StreamingOps.compactBatchDirs(spark, out, keepLast = 1)
    // batches 0..2 folded into ONE directory named by the highest
    // folded id; the newest stays; serving is row-identical
    assert(batchDirs() == Seq("batch_id=2", "batch_id=3"), batchDirs().toString)
    assert(rows() == before, "the fold must be row-invisible")
    // the folded directory really is compact: one data file
    assert(new java.io.File(s"$out/batch_id=2").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
    // idempotent: a second fold with the same floor moves nothing
    def inventory() = new java.io.File(out).listFiles().flatMap(d =>
      Option(d.listFiles()).getOrElse(Array.empty).map(f => (f.getPath, f.lastModified))).toSet
    val inv1 = inventory()
    StreamingOps.compactBatchDirs(spark, out, keepLast = 1)
    assert(inventory() == inv1, "a fold that moves nothing must be a no-op")
    // no-op when every directory is inside the keep window
    StreamingOps.compactBatchDirs(spark, out, keepLast = 10)
    assert(inventory() == inv1)
    assert(rows() == before)
  }

  test("compactBatchDirs: an interrupted publish completes FORWARD — the staged fold is never destroyed (r19, the ADVICE crash window)") {
    import graft.streaming.StreamingOps
    def rm(p: String): Unit = {
      def go(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(go)); f.delete(); ()
      }
      go(new java.io.File(p))
    }
    def stage(): String = {
      val out = tempDir("graft-compact-crash")
      (0 to 3).foreach { b =>
        spark.range(b * 10L, b * 10L + 10L).selectExpr("id AS doc_id")
          .write.parquet(s"$out/batch_id=$b")
      }
      out
    }
    def rows(out: String) = spark.read.parquet(out).select($"doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    def batchDirs(out: String) = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq

    // crash window 1 (the data-loss window the r18 docstring waved
    // at): staging written AND marked, SOME folded sources already
    // deleted, rename never ran — `.compact-tmp` holds the ONLY copy
    // of batches 0..2. Re-running the verb must complete the publish,
    // not start by deleting tmp.
    val out1 = stage()
    val before1 = rows(out1)
    spark.read.parquet(s"$out1/batch_id=0", s"$out1/batch_id=1", s"$out1/batch_id=2")
      .repartition(1).write.parquet(s"$out1/.compact-tmp")
    assert(new java.io.File(s"$out1/.compact-tmp/_FOLD_TARGET_2").createNewFile())
    rm(s"$out1/batch_id=0"); rm(s"$out1/batch_id=2")
    StreamingOps.compactBatchDirs(spark, out1, keepLast = 1)
    assert(rows(out1) == before1, "forward recovery must preserve every folded row")
    assert(batchDirs(out1) == Seq("batch_id=2", "batch_id=3"),
      s"recovery must land the fold at its staged target: ${batchDirs(out1)}")
    assert(!new java.io.File(s"$out1/.compact-tmp").exists())

    // crash window 2: an UNMARKED staging dir (write aborted before
    // the commit point) — sources are intact, the partial staging is
    // garbage: discard it and fold normally.
    val out2 = stage()
    val before2 = rows(out2)
    new java.io.File(s"$out2/.compact-tmp").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out2/.compact-tmp/part-garbage.parquet"),
      Array[Byte](1, 2, 3))
    StreamingOps.compactBatchDirs(spark, out2, keepLast = 1)
    assert(rows(out2) == before2)
    assert(batchDirs(out2) == Seq("batch_id=2", "batch_id=3"),
      s"the normal fold must run after discarding the aborted staging: ${batchDirs(out2)}")
    assert(!new java.io.File(s"$out2/.compact-tmp").exists())
  }

  test("src_stream_fetch_gc: the retention verb serves the request predicate row-identically over a REAL fold") {
    import graft.streaming.StreamingOps
    StreamingOps.clearFetchGcCache()
    val got = StreamingOps.fetchStreamGc(spark, sfDir).collect()
    // the gc run narrows the trigger to one request file per batch, so
    // several below-floor directories existed and the fold moved data
    assert(StreamingOps.lastNumBatches >= 3,
      s"expected >= 3 micro-batches for a real fold, got ${StreamingOps.lastNumBatches}")
    val outDir = StreamingOps.fetchGcDirs.get(spark, sfDir).get
    val dirs = new java.io.File(outDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).map(_.getName).sorted
    assert(dirs.length == 2, s"fold must leave compacted + newest, got ${dirs.mkString(",")}")
    val expect = Tables.documents(spark, sfDir)
      .filter($"doc_id" % 13 === 0)
      .select($"doc_id", $"text").orderBy($"doc_id").collect()
    assert(got.length == expect.length && got.nonEmpty)
    got.zip(expect).foreach { case (w, d) =>
      assert(w.getLong(0) == d.getLong(0))
      assert(w.getString(1) == graft.sources.Warc.docUri(d.getLong(0)))
      assert(w.getString(3) == d.getString(1), s"text for doc ${d.getLong(0)}")
    }
  }

  test("snk_stream_wet: the streaming WET export reproduces documents exactly and is idempotent") {
    // every micro-batch appends batch-id-prefixed shards; a collision
    // or a re-export would surface as duplicate rows here
    val got = graft.streaming.StreamingOps.wetExportViaStream(spark, sfDir).collect()
    val direct = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").orderBy($"doc_id").collect()
    assert(got.length == direct.length)
    got.zip(direct).foreach { case (w, d) =>
      assert(w.getLong(0) == d.getLong(0))
      assert(w.getString(3) == d.getString(1), s"text for doc ${d.getLong(0)}")
    }
    val again = graft.streaming.StreamingOps.wetExportViaStream(spark, sfDir).collect()
    assert(again.length == got.length, "the session-scoped export must not re-append")
  }

  test("WET sink write is retry-idempotent: a partial shard from a failed attempt is overwritten") {
    // the fault-tolerance envelope (SessionSpec) re-runs a crashed
    // write task; the sink's contract is that the retry fully
    // replaces whatever partial bytes the dead attempt left behind
    // (fs.create(path, overwrite=true)) — plant a garbage file on
    // the exact shard name the task will claim
    import graft.sources.Warc
    val out = tempDir("graft-snk-retry")
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "wet-00000.warc.gz"),
      Array.tabulate[Byte](100)(i => (i * 7).toByte))
    val df = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    Warc.writeWetLake(df, out, 1)
    val back = Warc.docsFromWarcFiles(spark, out).collect()
    assert(back.map(r => (r.getLong(0), r.getString(3))).toSeq ==
      Seq((1L, "alpha"), (2L, "beta")),
      "the retry's overwrite must fully replace the partial shard")
  }

  test("WARC payload digests: sha1 base32 stamped on fixtures, verified on ingest; a mismatch quarantines the record") {
    import graft.sources.Warc
    // independent recompute of the base32 form via BigInteger digits
    // (a different implementation shape than the encoder's bit loop)
    val sha = java.security.MessageDigest.getInstance("SHA-1").digest("abc".getBytes("US-ASCII"))
    val alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    var n = new java.math.BigInteger(1, sha)
    val digits = new StringBuilder
    for (_ <- 0 until 32) {
      digits.insert(0, alphabet(n.mod(java.math.BigInteger.valueOf(32)).intValue))
      n = n.divide(java.math.BigInteger.valueOf(32))
    }
    assert(Warc.payloadDigest("abc".getBytes("US-ASCII")) == "sha1:" + digits.toString)
    // fixture records carry the digest, and it verifies against the body
    val wet = Warc.parseWarc(Warc.encodeWet(Seq((1L, Warc.docUri(1), "payload"))))
    assert(wet(1).headers("warc-payload-digest") ==
      Warc.payloadDigest("payload".getBytes("UTF-8")))
    // a record whose digest does not match its body (bit rot) skips
    // RECORD-level; intact siblings survive
    def conv(id: Long, text: String, digest: String) =
      Seq("WARC-Type" -> "conversion", "WARC-Target-URI" -> Warc.docUri(id),
        "WARC-Payload-Digest" -> digest,
        "Content-Type" -> "text/plain") -> text.getBytes("UTF-8")
    val dir = tempDir("graft-digest")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "wet-00000.warc.gz"),
      Warc.gzipPerRecord(Warc.encodeRecords(Seq(
        conv(1L, "good", Warc.payloadDigest("good".getBytes("UTF-8"))),
        conv(2L, "rotted", Warc.payloadDigest("pristine".getBytes("UTF-8"))),
        conv(3L, "also good", Warc.payloadDigest("also good".getBytes("UTF-8")))))))
    val rows = Warc.docsFromWarcFiles(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 3L),
      "a digest mismatch must quarantine its record, not its shard")
  }

  test("src_warc_cdx: the range-read index — every (offset, length) slice inflates to exactly its record; members tile each shard") {
    import graft.sources.Warc
    val rows = Warc.srcWarcCdx(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == docs.size, "one index row per document")
    assert(rows.map(_.getLong(0)).toSeq == docs.keys.toSeq.sorted, "index covers every doc exactly once")
    val lake = Warc.wetLakeDir(spark, sfDir)
    rows.groupBy(_.getString(2)).foreach { case (shard, rs) =>
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(lake, shard))
      rs.foreach { r =>
        val off = r.getLong(3).toInt; val len = r.getLong(4).toInt
        // the cdx contract: the slice ALONE inflates to its own record
        val recs = Warc.parseWarcGz(java.util.Arrays.copyOfRange(bytes, off, off + len))
        assert(recs.length == 1, s"$shard@$off must hold exactly one record")
        assert(recs.head.headers("warc-target-uri") == r.getString(1), s"$shard@$off uri")
        assert(new String(recs.head.body, "UTF-8") == docs(r.getLong(0)), s"$shard@$off body")
        assert(recs.head.headers("warc-payload-digest") == r.getString(5), s"$shard@$off digest")
      }
      // member geometry: conversion members are disjoint, ascending
      // and in-bounds; the gaps (the leading warcinfo member and,
      // since r18, the planted trailing `metadata` members) must
      // THEMSELVES be clean member chains of non-conversion records —
      // every byte of the shard is accounted for, nothing unindexed
      // that should have been
      val sorted = rs.sortBy(_.getLong(3))
      sorted.sliding(2).foreach { w =>
        if (w.length == 2)
          assert(w(0).getLong(3) + w(0).getLong(4) <= w(1).getLong(3), s"$shard overlap")
      }
      val tail = (sorted.last.getLong(3) + sorted.last.getLong(4)).toInt
      assert(tail <= bytes.length, s"$shard: members overrun the shard")
      if (tail < bytes.length) {
        val gap = Warc.parseWarcGz(java.util.Arrays.copyOfRange(bytes, tail, bytes.length))
        assert(gap.nonEmpty &&
          gap.forall(r => !r.headers.get("warc-type").contains("conversion")),
          s"$shard: the tail gap must hold only non-conversion members")
      }
    }
    // a shard with a broken member chain indexes as ZERO rows (an
    // index with holes is worse than no index)
    val dir2 = tempDir("graft-cdx-broken")
    val good = Warc.gzipPerRecord(Warc.encodeWet(Seq((7L, Warc.docUri(7), "ok"))))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir2, "wet-00000.warc.gz"), good)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir2, "wet-00001.warc.gz"),
      good.dropRight(3)) // truncated final member: chain breaks
    val idx = Warc.cdxFromWarcFiles(spark, dir2).collect()
    assert(idx.length == 1 && idx.head.getString(2) == "wet-00000.warc.gz",
      "the broken shard must contribute zero index rows; the intact one survives")
  }

  test("pipe_crawl_e2e: the crawl-rooted prep chain reproduces the table-rooted pipeline over the page transform row-for-row") {
    // the lossless-extraction argument EXECUTED end-to-end: container
    // parse + envelope decode + MULTI-BLOCK extraction feeding the
    // same quality -> dedup -> pack tail must be indistinguishable
    // from reading the two-paragraph page transform directly (r18:
    // even ids carry the crawl appendix, so this is pipe_e2e's tail
    // over the transformed corpus, not over documents verbatim)
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val transformed = Tables.documents(spark, sfDir).select(col("doc_id"),
      when(col("doc_id") % 2 === 0,
        concat(col("text"), lit("\n" + graft.sources.Warc.crawlAppendix)))
        .otherwise(col("text")).as("text"))
    val table = graft.operators.Pipeline.prepPipelineOver(spark, transformed).collect()
    val crawl = graft.operators.Pipeline.crawlPrepPipeline(spark, sfDir).collect()
    assert(crawl.length == table.length && table.nonEmpty)
    table.zip(crawl).foreach { case (t, c) => assert(t == c, s"row diverged: $t vs $c") }
  }
}
