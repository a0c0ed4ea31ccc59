package graft

import graft.operators.{MediaCodec, Multimodal}
import graft.operators.MediaCodec.{AudioMedia, ImageMedia, UnknownMedia, VideoMedia}

/** Gates for the REAL multimodal codec chain. The hash/decode gates
  * recompute everything through [[Ref]] — spec-local reference parsers
  * written independently of [[MediaCodec]] (ByteBuffer/regex style vs
  * the codec's manual byte twiddling), so a bug the codec's encoder
  * and decoder share cannot self-certify through a round-trip. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference parsers + hash recomputes. */
  private object Ref {
    import java.nio.{ByteBuffer, ByteOrder}
    private def le(b: Array[Byte]) = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)

    def ppm(b: Array[Byte]): (Int, Int, Array[Byte]) = {
      val text = new String(b, "ISO-8859-1")
      val m = """^P6\s+(\d+)\s+(\d+)\s+(\d+)\s""".r.findFirstMatchIn(text).get
      require(m.group(3).toInt == 255)
      val (w, h) = (m.group(1).toInt, m.group(2).toInt)
      (w, h, b.slice(m.end, m.end + 3 * w * h)) // ISO-8859-1: char off == byte off
    }

    /** Independent PNG read: ByteBuffer big-endian chunk scan (no CRC
      * math — corruption detection is the codec's job, not the
      * reference recompute's), `Inflater` for the zlib stream, and a
      * functional unfilter whose Paeth arm picks via `minBy` over the
      * (distance, predictor) triple — first-minimal tie-breaking in
      * a/up/up-left order IS the spec rule, arrived at by a different
      * construction than the codec's if-chain. */
    def png(b: Array[Byte]): (Int, Int, Array[Byte]) = {
      val bb = ByteBuffer.wrap(b) // big-endian by default
      require(bb.getLong(0) == 0x89504e470d0a1a0aL)
      var p = 8; var w = 0; var h = 0; var chans = 0
      var colorType = -1
      var plte: Array[Byte] = null
      val idat = Seq.newBuilder[Array[Byte]]
      var stop = false
      while (!stop) {
        val len = bb.getInt(p)
        new String(b, p + 4, 4, "US-ASCII") match {
          case "IHDR" =>
            w = bb.getInt(p + 8); h = bb.getInt(p + 12)
            require(b(p + 16) == 8, "8-bit only")
            colorType = b(p + 17) & 0xff
            chans = colorType match {
              case 2 => 3
              case 0 => 1 // grayscale (r13): one channel, expanded below
              case 3 => 1 // palette (r14): index bytes, PLTE lookup below
              case 6 => 4 // RGBA (r15): white-composited below
              case other => sys.error(s"color type $other")
            }
          case "PLTE" => plte = b.slice(p + 8, p + 8 + len)
          case "IDAT" => idat += b.slice(p + 8, p + 8 + len)
          case "IEND" => stop = true
          case _      => // ancillary
        }
        p += 12 + len
      }
      val inf = new java.util.zip.Inflater()
      inf.setInput(idat.result().toArray.flatten)
      val rowLen = chans * w
      val raw = new Array[Byte](h * (1 + rowLen))
      var got = 0
      while (got < raw.length) got += inf.inflate(raw, got, raw.length - got)
      inf.end()
      val rec = new Array[Byte](h * rowLen)
      for (y <- 0 until h; x <- 0 until rowLen) {
        def at(yy: Int, xx: Int): Int = if (yy < 0 || xx < 0) 0 else rec(yy * rowLen + xx) & 0xff
        val (a, u, c) = (at(y, x - chans), at(y - 1, x), at(y - 1, x - chans))
        val pp = a + u - c
        val pred = (raw(y * (1 + rowLen)) & 0xff) match {
          case 0 => 0
          case 1 => a
          case 2 => u
          case 3 => (a + u) / 2
          case 4 => Seq((math.abs(pp - a), a), (math.abs(pp - u), u), (math.abs(pp - c), c)).minBy(_._1)._2
        }
        rec(y * rowLen + x) = ((raw(y * (1 + rowLen) + 1 + x) & 0xff) + pred).toByte
      }
      val rgb =
        if (chans == 3) rec
        else if (colorType == 3) // palette lookup (r14): functional
          rec.flatMap { iv => val e = iv & 0xff; plte.slice(3 * e, 3 * e + 3) }
        else if (colorType == 6) // RGBA (r15): the alpha contract —
          // composite over opaque white, round-half-up integer math
          rec.grouped(4).flatMap { px =>
            val a = px(3) & 0xff
            px.take(3).map(c => ((a * (c & 0xff) + (255 - a) * 255 + 127) / 255).toByte)
          }.toArray
        else rec.flatMap(v => Array(v, v, v)) // grayscale expansion
      (w, h, rgb)
    }

    /** Independent GIF read (r15): little-endian ByteBuffer walk,
      * then a FUNCTIONAL LZW — the whole data stream is exploded to
      * a bit vector up front, codes are sliced off by width, and the
      * dictionary is an immutable Map[Int, Vector[Byte]] grown by
      * fold-style recursion — no prefix/suffix arrays, no output
      * stack, a different construction from the codec's decoder.
      * Transparency composites to white (the alpha contract) and
      * interlaced rows de-scatter through the same four-pass order
      * recomputed locally. */
    def gif(b: Array[Byte]): (Int, Int, Array[Byte]) = {
      val bb = le(b)
      require(new String(b, 0, 6, "US-ASCII").matches("GIF8[79]a"))
      val sw = bb.getShort(6) & 0xffff; val sh = bb.getShort(8) & 0xffff
      val pk = b(10) & 0xff
      var p = 13
      var gct: Array[Byte] = null
      if ((pk & 0x80) != 0) { val n = 1 << ((pk & 7) + 1); gct = b.slice(p, p + 3 * n); p += 3 * n }
      var transparent = -1
      var result: Array[Byte] = null
      while (result == null) {
        (b(p) & 0xff) match {
          case 0x21 =>
            if ((b(p + 1) & 0xff) == 0xf9 && (b(p + 3) & 1) != 0) transparent = b(p + 6) & 0xff
            p += 2
            while ((b(p) & 0xff) != 0) p += 1 + (b(p) & 0xff)
            p += 1
          case 0x2c =>
            val iw = bb.getShort(p + 5) & 0xffff; val ih = bb.getShort(p + 7) & 0xffff
            val ip = b(p + 9) & 0xff
            p += 10
            var pal = gct
            if ((ip & 0x80) != 0) { val n = 1 << ((ip & 7) + 1); pal = b.slice(p, p + 3 * n); p += 3 * n }
            val mcs = b(p) & 0xff; p += 1
            val data = Array.newBuilder[Byte]
            while ((b(p) & 0xff) != 0) {
              val k = b(p) & 0xff; data ++= b.slice(p + 1, p + 1 + k); p += 1 + k
            }
            p += 1
            val bits = data.result().toVector.flatMap(x => (0 until 8).map(i => (x >> i) & 1))
            val clear = 1 << mcs; val eoi = clear + 1
            def codeAt(off: Int, width: Int): Int =
              (0 until width).map(i => bits(off + i) << i).sum
            val base = (0 until clear).map(c => c -> Vector(c.toByte)).toMap
            @annotation.tailrec
            def run(off: Int, width: Int, dict: Map[Int, Vector[Byte]], next: Int,
                    prev: Vector[Byte], acc: Vector[Byte]): Vector[Byte] = {
              val c = codeAt(off, width)
              if (c == eoi) acc
              else if (c == clear) run(off + width, mcs + 1, base, eoi + 1, Vector.empty, acc)
              else {
                val s = if (c == next) prev :+ prev.head else dict(c)
                val (d2, n2) =
                  if (prev.nonEmpty && next < 4096) (dict + (next -> (prev :+ s.head)), next + 1)
                  else (dict, next)
                val w2 = if (n2 == (1 << width) && width < 12) width + 1 else width
                run(off + width, w2, d2, n2, s, acc ++ s)
              }
            }
            val idx = run(0, mcs + 1, base, eoi + 1, Vector.empty, Vector.empty)
            require(idx.length == iw * ih, s"lzw yielded ${idx.length} of ${iw * ih}")
            val order =
              if ((ip & 0x40) == 0) (0 until ih).toArray
              else Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap { case (s0, st) =>
                Iterator.iterate(s0)(_ + st).takeWhile(_ < ih)
              }.toArray
            val rgb = new Array[Byte](3 * iw * ih)
            for (k <- 0 until ih; x <- 0 until iw) {
              val v = idx(k * iw + x) & 0xff
              val d = (order(k) * iw + x) * 3
              if (v == transparent) { rgb(d) = -1; rgb(d + 1) = -1; rgb(d + 2) = -1 }
              else { rgb(d) = pal(3 * v); rgb(d + 1) = pal(3 * v + 1); rgb(d + 2) = pal(3 * v + 2) }
            }
            result = rgb
          case 0x3b => sys.error("trailer before image")
        }
      }
      (sw, sh, result)
    }

    def bmp(b: Array[Byte]): (Int, Int, Array[Byte]) = {
      val bb = le(b)
      val off = bb.getInt(10); val w = bb.getInt(18); val h = bb.getInt(22)
      require(bb.getShort(28) == 24 && bb.getInt(30) == 0)
      val stride = (3 * w + 3) / 4 * 4
      val rgb = new Array[Byte](3 * w * h)
      for (y <- 0 until h; x <- 0 until w) {
        val ro = off + (h - 1 - y) * stride + 3 * x // bottom-up rows
        rgb(3 * (y * w + x)) = b(ro + 2)            // BGR -> RGB
        rgb(3 * (y * w + x) + 1) = b(ro + 1)
        rgb(3 * (y * w + x) + 2) = b(ro)
      }
      (w, h, rgb)
    }

    def wav(b: Array[Byte]): (Int, Array[Short]) = {
      val bb = le(b)
      require(new String(b, 0, 4, "US-ASCII") == "RIFF" &&
        new String(b, 8, 4, "US-ASCII") == "WAVE")
      var p = 12; var rate = -1; var data: Array[Short] = null
      while (p + 8 <= b.length) {
        val id = new String(b, p, 4, "US-ASCII")
        val sz = bb.getInt(p + 4)
        if (id == "fmt ") { require(bb.getShort(p + 8) == 1); rate = bb.getInt(p + 12) }
        if (id == "data") data = Array.tabulate(sz / 2)(i => bb.getShort(p + 8 + 2 * i))
        p += 8 + sz + (sz & 1)
      }
      (rate, data)
    }

    /** Independent FLAC read for the fixture profile — one fixed-
      * blocking frame with a single VERBATIM mono-16 subframe.
      * Construction differs from the codec on purpose: STREAMINFO
      * fields come out of ONE BigInt shift/mask over the whole
      * 34-byte block (vs the codec's per-byte assembly), the frame
      * header is asserted as the profile's literal byte shape, and
      * samples are read as byte-aligned big-endian shorts (no bit
      * reader anywhere). No CRC math — corruption detection is the
      * codec's job, not the reference recompute's. */
    def flac(b: Array[Byte]): (Int, Array[Short]) = {
      require(new String(b, 0, 4, "ISO-8859-1") == "fLaC")
      require((b(4) & 0xff) == 0x80 && b(7) == 34, "single STREAMINFO block")
      val info = BigInt(1, b.slice(8, 42)) // 272 bits, MSB-first
      val rate = ((info >> 172) & 0xfffff).toInt
      require(((info >> 169) & 7).toInt == 0, "mono")
      require(((info >> 164) & 31).toInt == 15, "16-bit")
      val total = ((info >> 128) & BigInt("fffffffff", 16)).toInt
      require((b(42) & 0xff) == 0xff && (b(43) & 0xff) == 0xf8)
      require((b(44) & 0xff) == 0x70 && (b(45) & 0xff) == 0x08 && b(46) == 0,
        "fixture frame header shape")
      val bs = (((b(47) & 0xff) << 8) | (b(48) & 0xff)) + 1
      require(bs == total, "one frame carrying the whole signal")
      require((b(50) & 0xff) == 0x02, "verbatim subframe")
      require(b.length == 53 + 2 * bs, "closed-form size")
      (rate, Array.tabulate(bs)(i =>
        (((b(51 + 2 * i) & 0xff) << 8) | (b(52 + 2 * i) & 0xff)).toShort))
    }

    def y4m(b: Array[Byte]): (Int, Int, Seq[Array[Byte]]) = {
      val nl = b.indexOf('\n'.toByte)
      val tags = new String(b, 0, nl, "US-ASCII").split(" ")
      require(tags.contains("C444"))
      val w = tags.find(_.startsWith("W")).get.tail.toInt
      val h = tags.find(_.startsWith("H")).get.tail.toInt
      val fs = 3 * w * h
      val frames = Seq.newBuilder[Array[Byte]]
      var p = nl + 1
      while (p < b.length) {
        require(new String(b, p, 5, "US-ASCII") == "FRAME")
        p = b.indexOf('\n'.toByte, p) + 1
        frames += b.slice(p, p + fs)
        p += fs
      }
      (w, h, frames.result())
    }

    /** Functional aHash recompute over a grayscale accessor — shares
      * the 8×8 integer-box + EXACT-rational-threshold CONTRACT with
      * the codec, none of its code: cell means are compared to the
      * mean of means via an LCM cross-multiplication (the codec uses
      * a product of distinct counts — same mathematics, different
      * construction, so a shared arithmetic bug cannot
      * self-certify). */
    def exactBits(cells: Seq[(Long, Long)]): Long = {
      val norm = cells.map { case (s, c) => if (c == 0) (0L, 1L) else (s, c) }
      val lcm = norm.map(_._2).map(BigInt(_)).reduce((a, b) => a / a.gcd(b) * b)
      val scaled = norm.map { case (s, c) => BigInt(s) * (lcm / c) }
      val total = scaled.sum
      scaled.zipWithIndex.foldLeft(0L) { case (acc, (v, i)) =>
        if (v * 64 > total) acc | (1L << i) else acc
      }
    }

    def aHashGray(w: Int, h: Int, gray: (Int, Int) => Int): Long =
      exactBits(for (cy <- 0 until 8; cx <- 0 until 8) yield {
        val xs = (cx * w / 8) until math.min(math.max((cx + 1) * w / 8, cx * w / 8 + 1), w)
        val ys = (cy * h / 8) until math.min(math.max((cy + 1) * h / 8, cy * h / 8 + 1), h)
        val vals = for (y <- ys; x <- xs) yield gray(x, y).toLong
        (vals.sum, vals.size.toLong)
      })

    def aHashImage(w: Int, h: Int, rgb: Array[Byte]): Long =
      aHashGray(w, h, (x, y) => {
        val i = 3 * (y * w + x)
        ((rgb(i) & 0xff) + (rgb(i + 1) & 0xff) + (rgb(i + 2) & 0xff)) / 3
      })

    def aHashAudio(rate: Int, samples0: Array[Short]): Long = {
      // canonical-rate view FIRST (the r13 rate-invariance contract):
      // independent recompute via a tabulated index map rather than
      // the codec's while-loop fill. Mirrors the codec's UPSAMPLING
      // cap (canonical form > 2^26 AND > input length hashes raw) —
      // the contract's fallback must live in the mirror too, or a
      // cap-triggering signal desyncs the reference from the codec
      val samples =
        if (rate == 8000 || rate <= 0) samples0 // codec's identity paths
        else {
          val outLen = samples0.length.toLong * 8000 / rate
          // cap path AND the zero-length floor (rate > 8000·n) both
          // hash raw — r13 advisory: an empty canonical form would
          // hash to 0, colliding with UnknownMedia
          if ((outLen > (1L << 26) && outLen > samples0.length) ||
              (outLen == 0 && samples0.nonEmpty)) samples0
          else Array.tabulate(outLen.toInt)(j =>
            samples0((j.toLong * rate / 8000).toInt))
        }
      val n = samples.length
      if (n == 0) return 0L
      exactBits((0 until 64).map { i =>
        val span = samples.slice((i.toLong * n / 64).toInt, ((i + 1).toLong * n / 64).toInt)
        (span.map(s => ((s + 128) & 0xff).toLong).sum, span.length.toLong)
      })
    }

    /** Reference hash of a PAYLOAD: independent parse, then the
      * matching per-kind recompute. */
    def hash(payload: Array[Byte]): Long = new String(payload.take(2), "ISO-8859-1") match {
      case "P6" => val (w, h, rgb) = ppm(payload); aHashImage(w, h, rgb)
      case "BM" => val (w, h, rgb) = bmp(payload); aHashImage(w, h, rgb)
      case "\u0089P" => val (w, h, rgb) = png(payload); aHashImage(w, h, rgb)
      case "GI" => val (w, h, rgb) = gif(payload); aHashImage(w, h, rgb)
      case "RI" => val (r, s) = wav(payload); aHashAudio(r, s)
      case "fL" => val (r, s) = flac(payload); aHashAudio(r, s)
      case "YU" =>
        val (w, h, frames) = y4m(payload)
        aHashGray(w, h, (x, y) => frames.head(y * w + x) & 0xff) // first-frame Y plane
      case _ => 0L
    }
  }

  test("media table carries real containers with cycling kinds") {
    val media = Multimodal.mediaTable(spark, sfDir).collect()
    assert(media.length == 500)
    media.foreach { r =>
      assert(r.kind == Seq("image", "audio", "video")((r.media_id % 3).toInt))
      val fmt = MediaCodec.sniff(r.payload)
      r.kind match {
        case "image" =>
          val slot = ((r.media_id / 3) % 3).toInt
          if (slot < 2) assert(fmt == Seq("ppm", "bmp")(slot), s"container for id ${r.media_id}")
          else {
            // the third container slot sub-cycles PNG truecolor /
            // palette / RGBA / GIF by (id/9)%4 (r15); the PNG color
            // type byte sits at offset 25 (sig 8 + IHDR len/type 8 +
            // 9 data bytes), and the GIF arm alternates interlace by
            // (id/36)%2 — flag bit 6 of the image descriptor's packed
            // byte at offset 13+768+9
            val sub = ((r.media_id / 9) % 4).toInt
            if (sub == 3) {
              assert(fmt == "gif", s"gif slot for id ${r.media_id}")
              assert(((r.payload(13 + 768 + 9) >> 6) & 1) ==
                ((r.media_id / 36) % 2).toInt, s"gif interlace for id ${r.media_id}")
            } else
              assert(fmt == "png" && r.payload(25) == Seq(2, 3, 6)(sub),
                s"png color type for id ${r.media_id}")
          }
        // the audio slot sub-cycles wav / flac by (id/3)%2 (r15)
        case "audio" => assert(fmt == Seq("wav", "flac")(((r.media_id / 3) % 2).toInt),
          s"audio container for id ${r.media_id}")
        case "video" =>
          // the video slot sub-cycles Y4M / ANIMATED GIF by (id/3)%2
          // (r17): the gif arm must really be an animation — more than
          // one image descriptor behind the 768-byte GCT
          if ((r.media_id / 3) % 2 == 1) {
            assert(fmt == "gif", s"video container for id ${r.media_id}")
            assert(MediaCodec.decode(r.payload).isInstanceOf[MediaCodec.VideoMedia],
              s"video-slot gif must decode as an animation for id ${r.media_id}")
          } else assert(fmt == "y4m")
      }
    }
  }

  test("codec round-trips + container parity: PPM, BMP and PNG agree on the logical pixels") {
    val rnd = new scala.util.Random(11)
    // odd widths exercise BMP's 4-byte row padding (w=9 -> stride 28);
    // heights ≥ 5 exercise every PNG row filter (the encoder cycles
    // None/Sub/Up/Average/Paeth by y % 5)
    for (w <- Seq(1, 3, 8, 9, 17); h <- Seq(1, 2, 8, 13)) {
      val rgb = Array.fill[Byte](3 * w * h)(rnd.nextInt(256).toByte)
      val viaPpm = MediaCodec.decode(MediaCodec.encodePpm(w, h, rgb))
      val viaBmp = MediaCodec.decode(MediaCodec.encodeBmp(w, h, rgb))
      val viaPng = MediaCodec.decode(MediaCodec.encodePng(w, h, rgb))
      (viaPpm, viaBmp, viaPng) match {
        case (ImageMedia(pw, ph, "ppm", prgb), ImageMedia(bw, bh, "bmp", brgb),
              ImageMedia(nw, nh, "png", nrgb)) =>
          assert(pw == w && ph == h && bw == w && bh == h && nw == w && nh == h)
          assert(java.util.Arrays.equals(prgb, rgb), s"ppm $w x $h")
          assert(java.util.Arrays.equals(brgb, rgb), s"bmp $w x $h")
          assert(java.util.Arrays.equals(nrgb, rgb), s"png $w x $h")
        case other => fail(s"$w x $h decoded to $other")
      }
      // the PNG codec's independent size contract (what the oracle
      // computes closed-form): stored-deflate layout, 63 + h(1+3w) + 5/block
      val rawLen = h * (1 + 3 * w)
      assert(MediaCodec.encodePng(w, h, rgb).length ==
        63 + rawLen + 5 * ((rawLen + 65534) / 65535))
    }
    // multi-block stored stream: raw > 65535 forces a second deflate block
    {
      val w = 200; val h = 150 // raw = 150·601 = 90150 -> 2 stored blocks
      val rgb = Array.fill[Byte](3 * w * h)(rnd.nextInt(256).toByte)
      val png = MediaCodec.encodePng(w, h, rgb)
      assert(png.length == 63 + 90150 + 10)
      MediaCodec.decode(png) match {
        case ImageMedia(`w`, `h`, "png", got) => assert(java.util.Arrays.equals(got, rgb))
        case other => fail(s"multi-block png: $other")
      }
    }
    // the decoder accepts REAL compressed streams, not just the
    // encoder's stored blocks: re-deflate the same scanlines with
    // Huffman compression and rebuild the IDAT chunk
    {
      val w = 17; val h = 13
      val rgb = Array.fill[Byte](3 * w * h)(rnd.nextInt(256).toByte)
      val stored = MediaCodec.encodePng(w, h, rgb)
      // extract the scanline stream by inflating the stored IDAT
      // (sig 8 + IHDR 25 + IDAT header 8 = offset 41 to zlib data)
      val zlen = stored.length - 41 - 4 - 12
      val inf = new java.util.zip.Inflater()
      inf.setInput(stored, 41, zlen)
      val raw = new Array[Byte](h * (1 + 3 * w))
      var got = 0
      while (got < raw.length) got += inf.inflate(raw, got, raw.length - got)
      inf.end()
      val packed = {
        val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_COMPRESSION)
        d.setInput(raw); d.finish()
        val buf = new Array[Byte](raw.length + 64)
        val n = d.deflate(buf)
        assert(d.finished, "deflate buffer too small for fixture")
        d.end()
        buf.take(n)
      }
      val rebuilt = stored.take(33) ++ pngChunkBytes("IDAT", packed) ++
        stored.takeRight(12) // sig + IHDR, swapped IDAT, IEND
      MediaCodec.decode(rebuilt) match {
        case ImageMedia(`w`, `h`, "png", dec) => assert(java.util.Arrays.equals(dec, rgb))
        case other => fail(s"huffman png: $other")
      }
    }
    // CONSECUTIVE multi-IDAT is valid (real writers emit 8 KB IDAT
    // windows): the same zlib stream split across two adjacent chunks
    // must decode identically
    locally {
      val w = 5; val h = 4
      val rgb2 = Array.tabulate[Byte](3 * w * h)(i => (i * 11).toByte)
      val one = MediaCodec.encodePng(w, h, rgb2)
      val z = one.slice(41, one.length - 16)
      val split = one.take(33) ++
        pngChunkBytes("IDAT", z.take(7)) ++ pngChunkBytes("IDAT", z.drop(7)) ++
        one.takeRight(12)
      MediaCodec.decode(split) match {
        case ImageMedia(`w`, `h`, "png", got) => assert(java.util.Arrays.equals(got, rgb2))
        case other => fail(s"split-IDAT png: $other")
      }
    }
    // audio: full signed 16-bit range round-trips through LE encoding
    val samples = Array.tabulate(2000)(i => ((i * 37) % 65536 - 32768).toShort)
    MediaCodec.decode(MediaCodec.encodeWav(44100, samples)) match {
      case AudioMedia(rate, got) =>
        assert(rate == 44100 && java.util.Arrays.equals(got, samples))
      case other => fail(s"wav decoded to $other")
    }
    // video: multi-frame with distinct frame content
    val frames = Array.tabulate(3)(f => Array.fill[Byte](3 * 10 * 6)((f * 50 + 1).toByte))
    MediaCodec.decode(MediaCodec.encodeY4m(10, 6, frames)) match {
      case VideoMedia(w, h, got) =>
        assert(w == 10 && h == 6 && got.length == 3)
        got.zip(frames).foreach { case (a, b) => assert(java.util.Arrays.equals(a, b)) }
      case other => fail(s"y4m decoded to $other")
    }
  }

  test("parsers handle real container variants: comments, top-down BMP, foreign RIFF chunks, Y4M tags") {
    // PPM with header comments (legal between tokens)
    val rgb = Array.tabulate[Byte](3 * 4 * 2)(_.toByte)
    val commented = ("P6\n# camera model X\n4 2\n# gamma 2.2\n255\n").getBytes("US-ASCII") ++ rgb
    MediaCodec.decode(commented) match {
      case ImageMedia(4, 2, "ppm", got) => assert(java.util.Arrays.equals(got, rgb))
      case other => fail(other.toString)
    }
    // top-down BMP (negative height): rows stored first-row-first
    val base = MediaCodec.encodeBmp(4, 2, rgb)
    val bottomUp = MediaCodec.decode(base).asInstanceOf[ImageMedia]
    val topDown = base.clone()
    // height := -2 (little-endian at offset 22) and flip the stored rows
    topDown(22) = (-2 & 0xff).toByte; topDown(23) = (-2 >> 8).toByte
    topDown(24) = (-2 >> 16).toByte; topDown(25) = (-2 >> 24).toByte
    val stride = (3 * 4 + 3) / 4 * 4
    for (i <- 0 until stride) {
      val t = topDown(54 + i)
      topDown(54 + i) = topDown(54 + stride + i)
      topDown(54 + stride + i) = t
    }
    MediaCodec.decode(topDown) match {
      case ImageMedia(4, 2, "bmp", got) =>
        assert(java.util.Arrays.equals(got, bottomUp.rgb), "top-down must decode to the same logical pixels")
      case other => fail(other.toString)
    }
    // BMP whose pixel array does NOT start at byte 54 (a palette/ICC
    // gap — real writers ship these): the parser must honor the
    // pixel-array offset field, not assume the canonical layout
    val gapped = {
      val canonicalBmp = MediaCodec.encodeBmp(4, 2, rgb)
      val gap = 16
      val out = new Array[Byte](canonicalBmp.length + gap)
      System.arraycopy(canonicalBmp, 0, out, 0, 54)
      java.util.Arrays.fill(out, 54, 54 + gap, 0x5a.toByte) // junk gap
      System.arraycopy(canonicalBmp, 54, out, 54 + gap, canonicalBmp.length - 54)
      // patch pixel-array offset (LE at 10) and file size (LE at 2)
      val off = 54 + gap
      out(10) = off.toByte; out(11) = (off >> 8).toByte
      out(12) = (off >> 16).toByte; out(13) = (off >> 24).toByte
      val fsz = out.length
      out(2) = fsz.toByte; out(3) = (fsz >> 8).toByte
      out(4) = (fsz >> 16).toByte; out(5) = (fsz >> 24).toByte
      out
    }
    MediaCodec.decode(gapped) match {
      case ImageMedia(4, 2, "bmp", got) =>
        assert(java.util.Arrays.equals(got, rgb),
          "pixel-array offset must be honored, not assumed 54")
      case other => fail(s"gapped BMP: $other")
    }
    // WAV with a foreign odd-size LIST chunk before fmt/data (pad byte walk)
    val samples = Array.tabulate(100)(i => (i - 50).toShort)
    val canonical = MediaCodec.encodeWav(8000, samples)
    val listChunk = "LIST".getBytes("US-ASCII") ++ Array[Byte](3, 0, 0, 0, 'I', 'N', 'F', 0) // size 3 + pad
    val withList = canonical.take(12) ++ listChunk ++ canonical.drop(12)
    // fix RIFF size
    val riffSize = withList.length - 8
    withList(4) = riffSize.toByte; withList(5) = (riffSize >> 8).toByte
    withList(6) = (riffSize >> 16).toByte; withList(7) = (riffSize >> 24).toByte
    MediaCodec.decode(withList) match {
      case AudioMedia(8000, got) => assert(java.util.Arrays.equals(got, samples))
      case other => fail(s"chunk walk failed: $other")
    }
    // Y4M with an X extension tag and frame params
    val f0 = Array.fill[Byte](3 * 4 * 2)(7)
    val y4m = "YUV4MPEG2 W4 H2 F30:1 Ip A1:1 C444 XYSCSS=444\nFRAME Ixxx\n".getBytes("US-ASCII") ++ f0
    MediaCodec.decode(y4m) match {
      case VideoMedia(4, 2, frames) =>
        assert(frames.length == 1 && java.util.Arrays.equals(frames(0), f0))
      case other => fail(other.toString)
    }
    // C420 (subsampled) is a different plane geometry -> honest Unknown, not garbage
    val c420 = "YUV4MPEG2 W4 H2 C420\nFRAME\n".getBytes("US-ASCII") ++ Array.fill[Byte](12)(0)
    assert(MediaCodec.decode(c420) == UnknownMedia(c420.length))
    // PNG with an ancillary tEXt chunk between IHDR and IDAT (real
    // writers ship these): CRC-validated, then skipped — pixels intact
    val pngRgb = Array.tabulate[Byte](3 * 4 * 3)(i => (i * 7).toByte)
    val basePng = MediaCodec.encodePng(4, 3, pngRgb)
    val withText = basePng.take(33) ++
      pngChunkBytes("tEXt", "Comment made by graft".getBytes("ISO-8859-1")) ++
      basePng.drop(33) // after IHDR
    MediaCodec.decode(withText) match {
      case ImageMedia(4, 3, "png", got) => assert(java.util.Arrays.equals(got, pngRgb))
      case other => fail(s"tEXt-bearing png: $other")
    }
  }

  test("payload content cycles CODE POINTS, non-ASCII folding to '?' (the oracle's exact rule)") {
    // r12 self-review: a raw-UTF-8-byte rule silently diverges from
    // the DuckDB oracle (codepoint-based length/substr/ascii) the
    // moment a fixture ships non-ASCII text. The astral emoji is the
    // sharp case: 2 UTF-16 chars but ONE code point — a char-based
    // rule would shift every subsequent unit. Cross-engine equality
    // of the full oracle SQL on a non-ASCII corpus was additionally
    // validated end-to-end against DuckDB when this rule landed.
    val text = "a😀é!" // a 😀 é !  -> units 97, 63, 63, 33
    val (_, payload) = Multimodal.genPayload(0L, text) // id 0 -> 8x8 ppm
    MediaCodec.decode(payload) match {
      case ImageMedia(8, 8, "ppm", rgb) =>
        val expected = Array[Byte](97, 63, 63, 33)
        rgb.zipWithIndex.foreach { case (b, i) =>
          assert(b == expected(i % 4), s"unit $i")
        }
      case other => fail(other.toString)
    }
  }

  test("decode is total: truncated and foreign bytes report UnknownMedia, never throw") {
    val good = Multimodal.genPayload(0L, "some document text here")._2
    val cases = Seq(
      Array.empty[Byte],
      "garbage that is not a container".getBytes("UTF-8"),
      good.take(5),                       // truncated header
      good.take(good.length - 3),         // truncated raster
      "P6\n-4 2\n255\n".getBytes("US-ASCII"),  // negative dims
      "P6\n4 2\n65535\n".getBytes("US-ASCII"), // 16-bit maxval unsupported
      "RIFF1234WAVE".getBytes("US-ASCII"),     // chunkless wav
      "YUV4MPEG2 W4 H2 C444\nNOPE\n".getBytes("US-ASCII"), // bad frame marker
      // Int-overflow headers (max-effort review, r12): 3*46341² wraps
      // negative — a plain length check passes and copyOfRange throws
      // IllegalArgumentException, which the total-decode catch does
      // NOT cover; these must reject via the LONG bounds instead
      "P6\n46341 46341\n255\n".getBytes("US-ASCII"),
      "YUV4MPEG2 W46341 H46341 C444\nFRAME\n".getBytes("US-ASCII"),
      // declared chunk size near 2^31: pos+8+size wraps Int, and the
      // data branch would allocate a ~2 GB Array[Short] (OOM Error,
      // uncatchable by design) — must reject via the LONG bounds
      "RIFF\u0010\u0000\u0000\u0000WAVEdata".getBytes("ISO-8859-1") ++
        Array[Byte](0xf0.toByte, 0xff.toByte, 0xff.toByte, 0x7f.toByte),
      // BMP header declaring a raster past Int range
      MediaCodec.encodeBmp(4, 2, Array.tabulate[Byte](24)(_.toByte))
        .patch(18, Array[Byte](0x00, 0x00, 0x00, 0x40), 4), // w = 2^30
      // BMP height = Int.MinValue: math.abs stays negative, 3L*w*h
      // goes negative past the sign check, and the old code leaked an
      // ImageMedia with height -2^31 (r13 advisory)
      MediaCodec.encodeBmp(4, 2, Array.tabulate[Byte](24)(_.toByte))
        .patch(22, Array[Byte](0x00, 0x00, 0x00, 0x80.toByte), 4),
      // ~20-digit PPM dimension: v*10+d wraps Int and can alias a
      // small positive value (r12 verdict #3) — must reject, not parse
      "P6\n99999999999999999999 2\n255\n".getBytes("US-ASCII"),
      // maxval abutting the raster (no single-whitespace terminator):
      // the old parser silently ate the first raster byte (r13
      // advisory) — malformed header must reject
      ("P6\n2 2\n255" + "x" * 12).getBytes("US-ASCII"),
      // PNG: truncated mid-IDAT, corrupt byte (CRC mismatch), and a
      // wrapped-dimension IHDR with a VALID CRC (the CRC walk must
      // not be the only line of defense)
      MediaCodec.encodePng(8, 8, Array.tabulate[Byte](192)(_.toByte)).take(50),
      { val p = MediaCodec.encodePng(8, 8, Array.tabulate[Byte](192)(_.toByte))
        p(45) = (p(45) ^ 0x55).toByte; p },
      pngWithHeader(46341, 46341),
      // any chunk BEFORE IHDR (even ancillary, CRC-valid) violates
      // the spec's IHDR-first rule — libpng rejects, so do we
      {
        val base = MediaCodec.encodePng(2, 2, Array.tabulate[Byte](12)(_.toByte))
        base.take(8) ++ pngChunkBytes("tEXt", "early".getBytes("US-ASCII")) ++ base.drop(8)
      },
      // IDAT chunks must be CONSECUTIVE: an IDAT resuming after a
      // foreign chunk is spec-invalid (libpng rejects; review r13).
      // Split the valid IDAT's zlib data across two chunks with a
      // tEXt wedged between — all CRCs valid, still malformed
      {
        val base = MediaCodec.encodePng(2, 2, Array.tabulate[Byte](12)(_.toByte))
        val z = base.slice(41, base.length - 16) // zlib stream inside IDAT
        base.take(33) ++
          pngChunkBytes("IDAT", z.take(4)) ++
          pngChunkBytes("tEXt", "wedge".getBytes("US-ASCII")) ++
          pngChunkBytes("IDAT", z.drop(4)) ++
          base.takeRight(12)
      },
      // PNG whose declared chunk length is near 2^31: pos+12+len
      // wraps Int — the LONG bounds must reject before any read
      MediaCodec.encodePng(2, 2, Array.tabulate[Byte](12)(_.toByte))
        .patch(8, Array[Byte](0x7f, 0xff.toByte, 0xff.toByte, 0xf0.toByte), 4),
      // PPM dimension whose DIGIT-WISE accumulation wraps Int onto a
      // small positive value (review r13: 21474836485 = prefix
      // 2147483648 wrapping to -2^31, then *10+5 landing on exactly 5
      // — an Int accumulator with a pre-multiply clamp parses this as
      // a "valid" 5-wide image); the Long accumulator must reject
      ("P6\n21474836485 2\n255\n" + "x" * 30).getBytes("US-ASCII"),
      // trailing foreign bytes after IEND: the payload is not the PNG
      // it claims to be (review r13 — the docstring promised this)
      MediaCodec.encodePng(2, 2, Array.tabulate[Byte](12)(_.toByte)) ++
        "trailing junk".getBytes("US-ASCII"),
      // IDAT inflating to MORE than the declared raster (libpng
      // rejects surplus data; review r13): a 3x2 image's IDAT behind
      // a valid 2x2 IHDR must reject, not decode from a prefix
      {
        val donor = MediaCodec.encodePng(3, 2, Array.tabulate[Byte](18)(_.toByte))
        val idatChunk = donor.slice(33, donor.length - 12)
        val ihdr = new Array[Byte](13)
        ihdr(3) = 2; ihdr(7) = 2; ihdr(8) = 8; ihdr(9) = 2 // 2x2, depth 8, RGB
        Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
          pngChunkBytes("IHDR", ihdr) ++ idatChunk ++
          pngChunkBytes("IEND", Array.emptyByteArray)
      })
    cases.foreach { b =>
      MediaCodec.decode(b) match {
        case UnknownMedia(n) => assert(n == b.length)
        case other => fail(s"expected UnknownMedia, got $other for ${b.length} bytes")
      }
    }
    // WAV declaring a NONSENSE sample rate (1 Hz): canonical-rate
    // resampling would want 8000x the input — the cap must hash the
    // raw samples instead of allocating unboundedly (or, past Int
    // range, throwing NegativeArraySizeException outside decode's
    // catch — max-effort review r13)
    locally {
      val hostile = MediaCodec.encodeWav(1, Array.tabulate(10000)(i => (i % 251).toShort))
      MediaCodec.decode(hostile) match {
        case m @ AudioMedia(1, got) =>
          assert(got.length == 10000)
          val h = MediaCodec.aHash64(m) // must not throw, must not blow memory
          // cap fallback = hash of the raw samples (identity view) —
          // and the INDEPENDENT mirror must take the same fallback
          assert(h == MediaCodec.aHash64(AudioMedia(8000, got)))
          assert(h == Ref.hash(hostile))
        case other => fail(s"hostile-rate wav: $other")
      }
      // DOWNSAMPLING must never cap (no allocation hazard: output is
      // shorter than input) — a high-rate signal keeps its canonical
      // rate-invariant hash (review r13: an unconditional cap broke
      // invariance exactly here). 48 kHz NN-upsample of an 8 kHz
      // base still collides at Hamming 0.
      val base = Array.tabulate(2000)(i => ((i * 29) % 256 - 128).toShort)
      val hi = Array.tabulate(12000)(i => base(i / 6)) // 48 kHz view
      assert(MediaCodec.aHash64(MediaCodec.decode(MediaCodec.encodeWav(48000, hi))) ==
        MediaCodec.aHash64(MediaCodec.decode(MediaCodec.encodeWav(8000, base))))
      // the cap DECISION at its boundary, on the extracted predicate
      // (an in-vivo fixture needs a >2^26-sample array; review r13:
      // the in-vivo case above cannot discriminate the direction
      // logic because its canonical form is far below the bound):
      // growing past the bound caps; a long DOWNSAMPLED signal whose
      // canonical form exceeds the bound but not its own input never
      // caps — the exact regression an unconditional bound had
      val bound = (1L << 26)
      assert(MediaCodec.canonicalCapApplies(bound + 1, 1000), "upsampling past the bound must cap")
      assert(!MediaCodec.canonicalCapApplies(bound + 1, Int.MaxValue),
        "downsampling must NEVER cap, whatever its canonical length")
      assert(!MediaCodec.canonicalCapApplies(bound, 1000), "at the bound: no cap")
    }
    // WAV with TWO data chunks: first chunk wins (common-reader
    // convention, r13 advisory) — the second must not overwrite it
    val first = Array.tabulate(40)(i => i.toShort)
    val second = Array.tabulate(40)(i => (1000 + i).toShort)
    val w1 = MediaCodec.encodeWav(8000, first)
    val extra = {
      val d = new Array[Byte](8 + 80)
      "data".getBytes("US-ASCII").copyToArray(d, 0)
      d(4) = 80.toByte
      (0 until 40).foreach { i =>
        d(8 + 2 * i) = second(i).toByte; d(9 + 2 * i) = (second(i) >> 8).toByte
      }
      d
    }
    val doubled = w1 ++ extra
    val riffSize = doubled.length - 8
    doubled(4) = riffSize.toByte; doubled(5) = (riffSize >> 8).toByte
    doubled(6) = (riffSize >> 16).toByte; doubled(7) = (riffSize >> 24).toByte
    MediaCodec.decode(doubled) match {
      case AudioMedia(8000, got) =>
        assert(java.util.Arrays.equals(got, first), "first data chunk must win")
      case other => fail(s"double-data wav: $other")
    }
  }

  /** One PNG chunk as bytes (BE length + type + data + CRC-32) — the
    * single chunk writer every fixture-building site in this spec
    * shares (Huffman re-encode, tEXt injection, adversarial headers).
    * Independence from the codec applies to DECODING; triplicated
    * chunk-emit boilerplate was just boilerplate (review r13). */
  /** Minimal Adam7-interlaced truecolor PNG (filter-0 rows) for the
    * corruption fuzz — the full-featured interlacer lives in the
    * Adam7 test. */
  private def adam7FuzzSeed: Array[Byte] = {
    val w = 9; val h = 7
    val rgb = Array.tabulate[Byte](3 * w * h)(i => ((i * 31 + 5) % 256).toByte)
    val x0 = Array(0, 4, 0, 2, 0, 1, 0); val y0 = Array(0, 0, 4, 0, 2, 0, 1)
    val dx = Array(8, 8, 4, 4, 2, 2, 1); val dy = Array(8, 8, 8, 4, 4, 2, 2)
    val raw = new java.io.ByteArrayOutputStream()
    for (p <- 0 until 7) {
      val pw = if (w > x0(p)) (w - x0(p) + dx(p) - 1) / dx(p) else 0
      val ph = if (h > y0(p)) (h - y0(p) + dy(p) - 1) / dy(p) else 0
      if (pw > 0 && ph > 0) for (py <- 0 until ph) {
        raw.write(0)
        for (px <- 0 until pw; c <- 0 until 3)
          raw.write(rgb(((y0(p) + py * dy(p)) * w + (x0(p) + px * dx(p))) * 3 + c) & 0xff)
      }
    }
    val d = new java.util.zip.Deflater(6)
    d.setInput(raw.toByteArray); d.finish()
    val buf = new Array[Byte](raw.size + 64)
    val n = d.deflate(buf)
    d.end()
    val ihdr = new Array[Byte](13)
    ihdr(3) = w.toByte; ihdr(7) = h.toByte; ihdr(8) = 8; ihdr(9) = 2; ihdr(12) = 1
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      pngChunkBytes("IHDR", ihdr) ++ pngChunkBytes("IDAT", buf.take(n)) ++
      pngChunkBytes("IEND", Array.emptyByteArray)
  }

  private def pngChunkBytes(typ: String, data: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](12 + data.length)
    out(0) = (data.length >>> 24).toByte; out(1) = (data.length >>> 16).toByte
    out(2) = (data.length >>> 8).toByte; out(3) = data.length.toByte
    typ.getBytes("US-ASCII").copyToArray(out, 4)
    data.copyToArray(out, 8)
    val crc = new java.util.zip.CRC32()
    crc.update(out, 4, 4 + data.length)
    val cv = crc.getValue
    out(8 + data.length) = (cv >>> 24).toByte
    out(9 + data.length) = (cv >>> 16).toByte
    out(10 + data.length) = (cv >>> 8).toByte
    out(11 + data.length) = cv.toByte
    out
  }

  /** A syntactically valid PNG (correct signature, chunk layout and
    * CRCs) whose IHDR declares the given dimensions — the adversarial
    * wrapped-dimension shape. */
  private def pngWithHeader(w: Int, h: Int): Array[Byte] = {
    val ihdr = new Array[Byte](13)
    ihdr(0) = (w >>> 24).toByte; ihdr(1) = (w >>> 16).toByte
    ihdr(2) = (w >>> 8).toByte; ihdr(3) = w.toByte
    ihdr(4) = (h >>> 24).toByte; ihdr(5) = (h >>> 16).toByte
    ihdr(6) = (h >>> 8).toByte; ihdr(7) = h.toByte
    ihdr(8) = 8; ihdr(9) = 2
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      pngChunkBytes("IHDR", ihdr) ++
      pngChunkBytes("IDAT", Array[Byte](0x78, 0x01)) ++
      pngChunkBytes("IEND", Array.emptyByteArray)
  }

  test("decoded facts match the generation formulas; decode is deterministic") {
    val media = Multimodal.mediaTable(spark, sfDir)
    val decoded = Multimodal.decodeAll(media).collect().map(d => d.media_id -> d).toMap
    assert(decoded.size == 500)
    decoded.values.foreach { d =>
      val id = d.media_id
      (id % 3) match {
        case 0 =>
          val expectFmt = ((id / 3) % 3).toInt match {
            case 2 => if ((id / 9) % 4 == 3) "gif" else "png"
            case s => Seq("ppm", "bmp")(s)
          }
          assert(d.format == expectFmt, s"format for id $id")
          assert(d.width == 8 + id % 57 && d.height == 8 + (id * 7) % 57)
          assert(d.n_frames == 1 && d.n_samples == 0)
        case 1 =>
          assert(d.format == Seq("wav", "flac")(((id / 3) % 2).toInt))
          assert(d.sample_rate == 8000 + (id % 5) * 1000)
          assert(d.n_samples == 1024 + (id % 777) * 4)
          assert(d.width == 0 && d.height == 0 && d.n_frames == 0)
        case _ =>
          // the video slot sub-cycles y4m / animated GIF by (id/3)%2 (r17)
          assert(d.format == Seq("y4m", "gif")(((id / 3) % 2).toInt), s"format for id $id")
          assert(d.width == 8 + id % 25 && d.height == 8 + (id * 7) % 25)
          assert(d.n_frames == 2 + id % 7)
      }
      assert(d.payload_sha.length == 16)
    }
    val again = Multimodal.decodeAll(media).collect().map(d => d.media_id -> d).toMap
    assert(again == decoded)
  }

  test("resize is pixel-exact against an independent NN reference") {
    val media = Multimodal.mediaTable(spark, sfDir)
    val orig = media.collect().map(m => m.media_id -> m).toMap
    val small = Multimodal.resize(media, targetWidth = 24).collect()
    assert(small.length == 500)
    small.foreach { r =>
      (MediaCodec.decode(orig(r.media_id).payload), MediaCodec.decode(r.payload)) match {
        case (ImageMedia(w, h, _, src), ImageMedia(ow, oh, "ppm", got)) =>
          assert(ow == math.min(24, w) && oh == math.max(h * ow / w, 1), s"media ${r.media_id}")
          // independent NN recompute: out(x,y) = src(x*w/ow, y*h/oh)
          val exp = (for (y <- 0 until oh; x <- 0 until ow; c <- 0 until 3)
            yield src(((y * h / oh) * w + (x * w / ow)) * 3 + c)).toArray
          assert(java.util.Arrays.equals(got, exp), s"media ${r.media_id} pixels")
        case (AudioMedia(rate, src), AudioMedia(orate, got)) =>
          assert(orate == rate)
          assert(got.toSeq == src.indices.collect { case j if j % 2 == 0 => src(j) }.toSeq)
        case (VideoMedia(w, h, srcF), VideoMedia(ow, oh, gotF)) =>
          assert(ow == math.min(24, w) && oh == math.max(h * ow / w, 1))
          assert(gotF.length == srcF.length)
          gotF.zip(srcF).foreach { case (g, s) =>
            val exp = (for (p <- 0 until 3; y <- 0 until oh; x <- 0 until ow)
              yield s(p * w * h + (y * h / oh) * w + (x * w / ow))).toArray
            assert(java.util.Arrays.equals(g, exp), s"media ${r.media_id} frame")
          }
        case other => fail(s"media ${r.media_id}: $other")
      }
    }
  }

  test("frame sampling matches an independent per-frame recompute") {
    val media = Multimodal.mediaTable(spark, sfDir)
    val got = Multimodal.frameSample(media, stride = 2).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val expected = media.collect().flatMap { r =>
      MediaCodec.decode(r.payload) match {
        case ImageMedia(_, _, _, rgb) =>
          Seq((r.media_id, 0L) -> (rgb.length.toLong, rgb.length.toLong,
            rgb.map(_ & 0xff).map(_.toLong).sum))
        case AudioMedia(_, samples) =>
          (0 until (samples.length + 1023) / 1024).collect {
            case f if f % 2 == 0 =>
              val win = samples.slice(f * 1024, math.min((f + 1) * 1024, samples.length))
              (r.media_id, f.toLong) -> (win.length.toLong, 2L * win.length,
                win.map(s => ((s + 128) & 0xff).toLong).sum)
          }
        case VideoMedia(_, _, frames) =>
          frames.indices.collect {
            case f if f % 2 == 0 =>
              (r.media_id, f.toLong) -> (frames(f).length.toLong, frames(f).length.toLong,
                frames(f).map(_ & 0xff).map(_.toLong).sum)
          }
        case _ => Seq.empty
      }
    }.toMap
    assert(got == expected)
  }

  test("query phash ≡ independent-parser recompute; container-invariant across PPM, BMP and PNG; rate-invariant") {
    val byId = Multimodal.mediaTable(spark, sfDir).collect()
      .map(r => r.media_id -> r.payload).toMap
    val queryHashes = Multimodal.phashDedup(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byId.foreach { case (id, payload) =>
      assert(queryHashes(id) == Ref.hash(payload), s"media $id")
    }
    // container invariance: the same pixels hash identically from all
    // THREE image containers — uncompressed (PPM), flipped-BGR (BMP)
    // and compressed (PNG) — at Hamming 0 (what makes the hash
    // PERCEPTUAL, not a byte hash)
    val rnd = new scala.util.Random(5)
    val rgb = Array.fill[Byte](3 * 16 * 16)(rnd.nextInt(256).toByte)
    val viaPpm = MediaCodec.aHash64(MediaCodec.decode(MediaCodec.encodePpm(16, 16, rgb)))
    val viaBmp = MediaCodec.aHash64(MediaCodec.decode(MediaCodec.encodeBmp(16, 16, rgb)))
    val viaPng = MediaCodec.aHash64(MediaCodec.decode(MediaCodec.encodePng(16, 16, rgb)))
    assert(viaPpm == viaBmp && viaBmp == viaPng && viaPpm != 0L)
    // RATE invariance (the audio twin, r13): the same signal shipped
    // at 8 kHz and NN-upsampled to 16 kHz must collide at Hamming 0 —
    // both canonicalize to the identical 8 kHz sample sequence
    val s8 = Array.tabulate(1500)(i => ((i * 37) % 256 - 128).toShort)
    val s16 = Array.tabulate(3000)(i => s8(i / 2))
    val h8 = MediaCodec.aHash64(MediaCodec.decode(MediaCodec.encodeWav(8000, s8)))
    val h16 = MediaCodec.aHash64(MediaCodec.decode(MediaCodec.encodeWav(16000, s16)))
    assert(h8 == h16 && h8 != 0L, "audio hash must be sample-rate invariant")
    // and the independent recompute agrees on the upsampled variant
    assert(Ref.aHashAudio(16000, s16) == h16)
  }

  test("animated-GIF fixture (r17): decoded planes ≡ the closed-form canvas rule the mm oracles rebuild; n_bytes closed form") {
    // the r16 composition paths (canvas, disposal-2 rect clear,
    // disposal-3 restore, transparency show-through, within-box
    // interlace) finally cross the DuckDB oracle — this gate pins the
    // fixture⇄decoder side of that rotation: the REAL decoder's
    // composited output must equal the closed-form displayed-pixel
    // rule D(k, x, y) the oracle SQL encodes, for every frame of every
    // nfr arm (2..8), plus the container-size closed form
    val text = "The quick brown fox jumps over the lazy dog 0123456789."
    val tb = text.codePoints.toArray.map(cp => if (cp <= 127) cp else 63)
    val n = tb.length
    def unit(i: Long): Int = tb((i % n).toInt)
    // gif-video ids: ≡ 2 (mod 3) with (id/3)%2 == 1 — nfr covers 2..8
    Seq(5L, 11L, 17L, 23L, 29L, 35L, 41L).foreach { id =>
      val (kind, payload) = Multimodal.genPayload(id, text)
      assert(kind == "video" && MediaCodec.sniff(payload) == "gif", s"id $id")
      val w = (8 + id % 25).toInt; val h = (8 + (id * 7) % 25).toInt
      val nf = (2 + id % 7).toInt
      val bw = w / 2; val bh = h / 2
      def bytes(nPix: Int): Int = {
        val b = (9 * (nPix + (nPix + 253) / 254 + 1) + 7) / 8
        b + (b + 254) / 255
      }
      assert(payload.length == 794 + bytes(w * h) + (nf - 1) * (20 + bytes(bw * bh))
          + (if (nf >= 4) 768 else 0) // frame 3's local color table
          + (if ((id / 4) % 2 == 1) 17 else 0), // r18 comment rotation
        s"closed-form n_bytes for id $id")
      val v = MediaCodec.decode(payload) match {
        case m: MediaCodec.VideoMedia => m
        case other => fail(s"id $id decoded to $other")
      }
      assert(v.width == w && v.height == h && v.frames.length == nf)
      // D(k, x, y): frame k's displayed gray value — the SQL oracle's
      // rule, incl. the r17 depth arms: frame 3 paints through its
      // INVERTED local table; the disposal-2 base is the declared bg
      // gray 200 on the (id/6)%2==1 arm, white otherwise
      val bgv = if ((id / 6) % 2 == 1) 200 else 255
      def d(k: Int, x: Int, y: Int): Int = {
        val lk = (3 * k) % (w - bw + 1); val tk = (5 * k) % (h - bh + 1)
        val l1 = 3 % (w - bw + 1); val t1 = 5 % (h - bh + 1)
        val j = (y - tk) * bw + (x - lk)
        if (k >= 1 && x >= lk && x < lk + bw && y >= tk && y < tk + bh && j % 5 != 4) {
          val v = unit(k.toLong * bw * bh + j)
          if (k == 3) 255 - v else v
        }
        else if (k >= 2 && x >= l1 && x < l1 + bw && y >= t1 && y < t1 + bh) bgv
        else unit((y * w + x).toLong)
      }
      for (k <- 0 until nf) {
        val f = v.frames(k)
        assert(f.length == 3 * w * h, s"id $id frame $k plane size")
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val i = y * w + x
            assert((f(i) & 0xff) == d(k, x, y), s"id $id frame $k Y($x,$y)")
            assert((f(w * h + i) & 0xff) == 128, s"id $id frame $k Cb($x,$y)")
            assert((f(2 * w * h + i) & 0xff) == 128, s"id $id frame $k Cr($x,$y)")
            x += 1
          }
          y += 1
        }
      }
    }
  }

  test("GIF background-color base + local color table (r17): codec walks") {
    val pal = Array.tabulate(768)(j => (j / 3).toByte) // grayscale
    // nonzero LSD background index: the canvas initializes to it AND
    // disposal-2 clears to it; index 0 keeps the r16 white contract
    val f0 = MediaCodec.GifFrame(1, 1, 2, 2, Array[Byte](10, 20, 30, 40), disposal = 2)
    val f1 = MediaCodec.GifFrame(0, 0, 1, 1, Array[Byte](50))
    val v = MediaCodec.decode(MediaCodec.encodeAnimatedGif(4, 4, pal, Seq(f0, f1),
      bgIndex = 77)) match {
      case m: MediaCodec.VideoMedia => m
      case other => fail(s"decoded to $other")
    }
    def yAt(f: Array[Byte], x: Int, y: Int) = f(y * 4 + x) & 0xff
    assert(v.frames.length == 2)
    // frame 0 displayed: bg 77 around the 2x2 box at (1,1)
    assert(yAt(v.frames(0), 0, 0) == 77 && yAt(v.frames(0), 3, 3) == 77)
    assert(yAt(v.frames(0), 1, 1) == 10 && yAt(v.frames(0), 2, 2) == 40)
    // frame 1: disposal 2 cleared frame 0's rect to 77, not white
    assert(yAt(v.frames(1), 0, 0) == 50)
    assert(yAt(v.frames(1), 1, 1) == 77 && yAt(v.frames(1), 2, 2) == 77)
    val white = MediaCodec.decode(MediaCodec.encodeAnimatedGif(4, 4, pal, Seq(f0, f1)))
      .asInstanceOf[MediaCodec.VideoMedia]
    assert((white.frames(0)(0) & 0xff) == 255, "bg index 0 keeps the white base")
    // an out-of-table bg index also falls back to white (2-entry GCT
    // can't happen through our encoder; hand-patch the byte instead)
    val patched = MediaCodec.encodeAnimatedGif(4, 4, pal, Seq(f0, f1))
    patched(11) = 77.toByte // declared AFTER encode: in-table here, honored
    assert((MediaCodec.decode(patched).asInstanceOf[MediaCodec.VideoMedia]
      .frames(0)(0) & 0xff) == 77)
    // local color table: a frame shipping its own table decodes
    // through IT; the sibling frame still reads the GCT
    val inv = Array.tabulate(768)(j => (255 - j / 3).toByte)
    val g0 = MediaCodec.GifFrame(0, 0, 2, 1, Array[Byte](10, 20))
    val g1 = MediaCodec.GifFrame(0, 0, 2, 1, Array[Byte](10, 20), localPalette = inv)
    val lv = MediaCodec.decode(MediaCodec.encodeAnimatedGif(2, 1, pal, Seq(g0, g1)))
      .asInstanceOf[MediaCodec.VideoMedia]
    assert((lv.frames(0)(0) & 0xff) == 10 && (lv.frames(0)(1) & 0xff) == 20)
    assert((lv.frames(1)(0) & 0xff) == 245 && (lv.frames(1)(1) & 0xff) == 235)
  }

  test("phash dedup banding ≡ brute-force Hamming scan (complete by pigeonhole)") {
    // 4 bands × 16 bits: any pair within Hamming ≤ 3 differs in at most
    // 3 bands, so at least one band matches exactly — candidate recall
    // for the verify step is 1.0 BY CONSTRUCTION, and the query's dup
    // set must equal the all-pairs scan exactly
    val hashed = Multimodal.mediaTable(spark, sfDir).collect()
      .map(r => r.media_id -> MediaCodec.aHash64(MediaCodec.decode(r.payload)))
    val brute = (for {
      (i1, h1) <- hashed; (i2, h2) <- hashed
      if i1 < i2 && java.lang.Long.bitCount(h1 ^ h2) <= 3
    } yield Seq(i1, i2)).flatten.toSet
    val got = Multimodal.phashDedup(spark, sfDir).collect()
      .filter(_.getLong(2) == 1L).map(_.getLong(0)).toSet
    assert(got == brute, "banded dup set must equal the brute-force Hamming scan")
  }

  test("phash dedup flags planted content dups across containers, not clean media") {
    val dir = tempDir("phash")
    // ids 0, 57, 114 are all 8x8 IMAGES (w = 8 + id%57, h = 8 + (id*7)%57
    // both collapse to 8 when id ≡ 0 mod 57·... — 57 | id and 57 | 7id),
    // and the r13 container rotation places one in EACH container:
    // 0 -> ppm (0%3), 57 -> bmp (19%3=1), 114 -> png (38%3=2). An 8x8
    // image reads its 192 pixel bytes from the first 192 text bytes, so:
    //   id 57: same text as id 0      -> same pixels, DIFFERENT container
    //   id 114: same first 192 bytes, different tail -> same pixels,
    //           THIRD container (compressed)
    // All three must flag at Hamming 0 — content dedup across all three
    // containers and through trailing-text change. ids 3, 6 are images
    // with different content -> clean.
    val base = "The quick brown fox jumps over the lazy dog while seventeen " +
      "zebras inspect 42 crates of parquet files stacked neatly beside " +
      "the columnar warehouse entrance on a bright Tuesday morning in " +
      "early autumn as forklifts hum between the loading bays."
    assert(base.length >= 192)
    val tailChanged = base.substring(0, 192) + " ENTIRELY DIFFERENT TAIL CONTENT HERE"
    val rows = Seq(
      (0L, base), (57L, base), (114L, tailChanged),
      (3L, "completely different content about catalyst query planners " +
        "and the physical operators they choose under adaptive execution"),
      (6L, "yet another unrelated document on parquet footer statistics " +
        "and the row-group pruning they unlock during scans"))
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val flags = Multimodal.phashDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(flags(0L) == 1L && flags(57L) == 1L,
      "same pixels in different containers (ppm vs bmp) must flag")
    assert(flags(114L) == 1L,
      "same pixels from tail-edited text in the COMPRESSED container must flag")
    assert(flags(3L) == 0L && flags(6L) == 0L, "unrelated images must not flag")
  }

  test("embedMedia ≡ driver-side decode+encode; embedAnnTopK scores are true cosines") {
    val media = Multimodal.mediaTable(spark, sfDir).collect()
      .map(r => r.media_id -> r.payload).toMap
    // embedding kernel ≡ driver recompute (decode -> content units ->
    // span means -> unit norm)
    val got = Multimodal.embedMedia(Multimodal.mediaTable(spark, sfDir))
      .collect().map(e => e.media_id -> e.embedding.toSeq).toMap
    media.foreach { case (id, payload) =>
      val content = MediaCodec.contentUnits(MediaCodec.decode(payload))
      assert(got(id) == Multimodal.spanEmbed(content).toSeq, s"media $id")
    }
    got.values.foreach { e =>
      val n = math.sqrt(e.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9 || n == 0.0)
    }
    // every returned top-k score is the exact cosine of the two content
    // embeddings, recomputed driver-side
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val topk = Multimodal.embedAnnTopK(spark, sfDir, numQueries = 5, topK = 3).collect()
    assert(topk.nonEmpty)
    topk.foreach { r =>
      val expected = BigDecimal(cos(got(r.getLong(0)), got(r.getLong(1))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(2) - expected) < 1e-9,
        s"(${r.getLong(0)},${r.getLong(1)})")
    }
    topk.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to rows.length))
    }
  }

  test("binaryFile ingest round-trips payload bytes and feeds the real codec chain") {
    val dir = java.nio.file.Paths.get(tempDir("media-lake"))
    val rgb = Array.tabulate[Byte](3 * 6 * 4)(i => (i * 3).toByte)
    val wavBytes = MediaCodec.encodeWav(16000, Array.tabulate(500)(i => (i * 11).toShort))
    val y4mBytes = MediaCodec.encodeY4m(5, 4,
      Array.tabulate(2)(f => Array.fill[Byte](3 * 5 * 4)((f + 1).toByte)))
    val files = Map(
      "photo.ppm" -> MediaCodec.encodePpm(6, 4, rgb),
      "scan.bmp" -> MediaCodec.encodeBmp(6, 4, rgb),
      "song.wav" -> wavBytes,
      "clip.y4m" -> y4mBytes,
      "cat.jpg" -> Array[Byte](1, 2, 3, 4, 5), // foreign format -> Unknown
      "notes.bin" -> "opaque".getBytes("UTF-8"))
    files.foreach { case (name, bytes) =>
      java.nio.file.Files.write(dir.resolve(name), bytes)
    }
    // camera-style UPPERCASE extension must classify, not fall through
    java.nio.file.Files.write(dir.resolve("photo2.PPM"),
      MediaCodec.encodePpm(1, 1, Array[Byte](9, 9, 9)))
    // numeric filename stem => that id verbatim (the oracle-joinable
    // media-lake convention, r13); PNG classifies image
    java.nio.file.Files.write(dir.resolve("123.png"),
      MediaCodec.encodePng(1, 1, Array[Byte](5, 5, 5)))
    // a stem LONGER than Long must fall back to the path hash, not
    // ANSI-overflow the cast and kill the whole scan (review r13)
    java.nio.file.Files.write(dir.resolve("99999999999999999999.png"),
      MediaCodec.encodePng(1, 1, Array[Byte](7, 7, 7)))
    val media = Multimodal.mediaFromFiles(spark, dir.toString).collect()
    assert(media.length == 9)
    assert(media.count(_.kind == "image") == 6, "ppm/bmp/jpg/PPM/png must classify image")
    assert(media.exists(r => r.media_id == 123L && r.kind == "image"),
      "numeric stem must become the media_id")
    assert(media.length == media.map(_.media_id).distinct.length,
      "overlong stem must hash-fallback to a distinct id, not crash or collide")
    assert(media.count(_.kind == "audio") == 1 && media.count(_.kind == "video") == 1)
    // payload bytes round-trip exactly
    media.foreach { r =>
      assert(files.values.exists(java.util.Arrays.equals(_, r.payload)) ||
        java.util.Arrays.equals(r.payload, MediaCodec.encodePpm(1, 1, Array[Byte](9, 9, 9))) ||
        java.util.Arrays.equals(r.payload, MediaCodec.encodePng(1, 1, Array[Byte](5, 5, 5))) ||
        java.util.Arrays.equals(r.payload, MediaCodec.encodePng(1, 1, Array[Byte](7, 7, 7))))
    }
    // deterministic ids: same directory, same ids
    val again = Multimodal.mediaFromFiles(spark, dir.toString).collect()
    assert(media.map(_.media_id).sorted.sameElements(again.map(_.media_id).sorted))
    // file-ingested media runs the REAL decode: dims parse from headers,
    // foreign bytes report unknown instead of throwing
    val decoded = Multimodal.decodeAll(
      Multimodal.mediaFromFiles(spark, dir.toString)).collect()
    assert(decoded.length == 9)
    val byFormat = decoded.groupBy(_.format)
    assert(byFormat("ppm").exists(d => d.width == 6 && d.height == 4))
    assert(byFormat("bmp").exists(d => d.width == 6 && d.height == 4))
    assert(byFormat("wav").head.n_samples == 500 && byFormat("wav").head.sample_rate == 16000)
    assert(byFormat("y4m").head.n_frames == 2)
    assert(byFormat("png").exists(d => d.width == 1 && d.height == 1),
      "file-lake PNG must decode through the compressed-container parser")
    assert(byFormat("unknown").length == 2) // jpg + bin
    decoded.foreach(d => assert(d.n_bytes > 0))
  }

  test("grayscale PNG (color type 0): decodes with r=g=b expansion, filters invert, hash matches the RGB twin") {
    // foreign scientific/medical writers ship 8-bit grayscale PNGs;
    // the decoder expands the single channel so every downstream
    // consumer (hash, resize, embed) sees ONE pixel format. Fixture
    // built INDEPENDENTLY of the codec's encoder: gray scanlines with
    // a cycling filter type, deflated with java.util.zip.Deflater
    // (Huffman path, not the codec's stored blocks), chunked via the
    // spec-local writer.
    val w = 11; val h = 9
    val gray = Array.tabulate[Byte](w * h)(i => ((i * 37 + 5) % 256).toByte)
    // apply PNG filters 0..4 cycling by row, bpp = 1
    val rowLen = w
    val raw = new Array[Byte](h * (1 + rowLen))
    for (y <- 0 until h) {
      val f = (y + 2) % 5 // different phase than the codec's encoder
      raw(y * (1 + rowLen)) = f.toByte
      for (x <- 0 until rowLen) {
        def at(yy: Int, xx: Int): Int =
          if (yy < 0 || xx < 0) 0 else gray(yy * rowLen + xx) & 0xff
        val cur = at(y, x); val left = at(y, x - 1)
        val up = at(y - 1, x); val ul = at(y - 1, x - 1)
        val pp = left + up - ul
        val paeth = Seq((math.abs(pp - left), left), (math.abs(pp - up), up),
          (math.abs(pp - ul), ul)).minBy(_._1)._2
        val v = f match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case _ => cur - paeth
        }
        raw(y * (1 + rowLen) + 1 + x) = v.toByte
      }
    }
    val packed = {
      val d = new java.util.zip.Deflater(6)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 64)
      val n = d.deflate(buf)
      assert(d.finished); d.end()
      buf.take(n)
    }
    val ihdr = new Array[Byte](13)
    ihdr(3) = w.toByte; ihdr(7) = h.toByte; ihdr(8) = 8; ihdr(9) = 0 // color type 0
    val png = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      pngChunkBytes("IHDR", ihdr) ++ pngChunkBytes("IDAT", packed) ++
      pngChunkBytes("IEND", Array.emptyByteArray)
    MediaCodec.decode(png) match {
      case m @ ImageMedia(`w`, `h`, "png", rgb) =>
        assert(rgb.length == 3 * w * h)
        for (i <- 0 until w * h; c <- 0 until 3)
          assert(rgb(3 * i + c) == gray(i), s"pixel $i channel $c")
        // hash equivalence: a grayscale image IS its (v,v,v) RGB twin
        val twin = Array.tabulate[Byte](3 * w * h)(j => gray(j / 3))
        assert(MediaCodec.aHash64(m) ==
          MediaCodec.aHash64(MediaCodec.decode(MediaCodec.encodePpm(w, h, twin))))
        // and the INDEPENDENT reference parser agrees end-to-end
        // (review r13: codec-vs-codec alone could self-certify)
        assert(MediaCodec.aHash64(m) == Ref.hash(png))
      case other => fail(s"grayscale png: $other")
    }
  }

  test("palette PNG (color type 3): PLTE lookup decodes, filters invert, hash matches the RGB twin") {
    // the most common indexed profile on the real web. Fixture built
    // INDEPENDENTLY of the codec's encoder (the grayscale-precedent
    // discipline): index scanlines with a cycling filter phase the
    // codec's encoder never uses, deflated with java.util.zip.Deflater
    // (Huffman path, not stored blocks), chunked via the spec-local
    // writer — and a NON-TRIVIAL palette whose three channels differ,
    // so a transposed PLTE read or single-channel decode cannot pass.
    val w = 13; val h = 7
    val nEntries = 40
    val plte = Array.tabulate[Byte](3 * nEntries) { j =>
      val e = j / 3
      (j % 3 match { case 0 => e * 6; case 1 => 250 - e; case _ => e * e % 251 }).toByte
    }
    val idxs = Array.tabulate[Byte](w * h)(i => ((i * 17 + 3) % nEntries).toByte)
    def packIdx(phase: Int): Array[Byte] = {
      val raw = new Array[Byte](h * (1 + w))
      for (y <- 0 until h) {
        val f = (y + phase) % 5
        raw(y * (1 + w)) = f.toByte
        for (x <- 0 until w) {
          def at(yy: Int, xx: Int): Int =
            if (yy < 0 || xx < 0) 0 else idxs(yy * w + xx) & 0xff
          val cur = at(y, x); val left = at(y, x - 1)
          val up = at(y - 1, x); val ul = at(y - 1, x - 1)
          val pp = left + up - ul
          val paeth = Seq((math.abs(pp - left), left), (math.abs(pp - up), up),
            (math.abs(pp - ul), ul)).minBy(_._1)._2
          val v = f match {
            case 0 => cur
            case 1 => cur - left
            case 2 => cur - up
            case 3 => cur - (left + up) / 2
            case _ => cur - paeth
          }
          raw(y * (1 + w) + 1 + x) = v.toByte
        }
      }
      val d = new java.util.zip.Deflater(6)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 64)
      val n = d.deflate(buf)
      assert(d.finished); d.end()
      buf.take(n)
    }
    val ihdr = new Array[Byte](13)
    ihdr(3) = w.toByte; ihdr(7) = h.toByte; ihdr(8) = 8; ihdr(9) = 3 // color type 3
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    def build(palChunk: Array[Byte], idat: Array[Byte], plteAfterIdat: Boolean = false,
              dupPlte: Boolean = false): Array[Byte] = {
      val pc = pngChunkBytes("PLTE", palChunk)
      val ic = pngChunkBytes("IDAT", idat)
      val mid =
        if (plteAfterIdat) ic ++ pc
        else if (dupPlte) pc ++ pc ++ ic
        else pc ++ ic
      sig ++ pngChunkBytes("IHDR", ihdr) ++ mid ++
        pngChunkBytes("IEND", Array.emptyByteArray)
    }
    val png = build(plte, packIdx(2))
    MediaCodec.decode(png) match {
      case m @ ImageMedia(`w`, `h`, "png", rgb) =>
        for (i <- 0 until w * h; c <- 0 until 3)
          assert(rgb(3 * i + c) == plte(3 * (idxs(i) & 0xff) + c), s"pixel $i channel $c")
        // hash equivalence: a palette image IS its pre-expanded RGB twin
        val twin = Array.tabulate[Byte](3 * w * h)(j => plte(3 * (idxs(j / 3) & 0xff) + j % 3))
        assert(MediaCodec.aHash64(m) ==
          MediaCodec.aHash64(MediaCodec.decode(MediaCodec.encodePpm(w, h, twin))))
        // and the INDEPENDENT reference parser agrees end-to-end
        assert(MediaCodec.aHash64(m) == Ref.hash(png))
      case other => fail(s"palette png: $other")
    }
    // codec encoder round-trip + the closed-form size the oracle uses
    val enc = MediaCodec.encodePalettePng(w, h, idxs, plte)
    assert(java.util.Arrays.equals(
      MediaCodec.contentUnits(MediaCodec.decode(enc)),
      MediaCodec.contentUnits(MediaCodec.decode(png))))
    val rawLen = h * (1 + w)
    assert(enc.length ==
      63 + (12 + plte.length) + rawLen + 5 * ((rawLen + 65534) / 65535))
    // adversarial profile violations — each must reject, never decode:
    val outOfRange = Array.tabulate[Byte](w * h)(i =>
      if (i == 5) nEntries.toByte else idxs(i)) // index == nEntries
    assert(MediaCodec.decode(build(plte, {
      val d = new java.util.zip.Deflater(6)
      val raw = new Array[Byte](h * (1 + w))
      for (y <- 0 until h; x <- 0 until w) raw(y * (1 + w) + 1 + x) = outOfRange(y * w + x)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 64); val n = d.deflate(buf); d.end()
      buf.take(n)
    })).isInstanceOf[UnknownMedia], "out-of-range palette index must reject")
    val idat = packIdx(2)
    assert(MediaCodec.decode(sig ++ pngChunkBytes("IHDR", ihdr) ++
      pngChunkBytes("IDAT", idat) ++ pngChunkBytes("IEND", Array.emptyByteArray))
      .isInstanceOf[UnknownMedia], "color type 3 without PLTE must reject")
    assert(MediaCodec.decode(build(plte, idat, plteAfterIdat = true))
      .isInstanceOf[UnknownMedia], "PLTE after IDAT must reject")
    assert(MediaCodec.decode(build(plte, idat, dupPlte = true))
      .isInstanceOf[UnknownMedia], "duplicate PLTE must reject")
    assert(MediaCodec.decode(build(plte.take(4), idat))
      .isInstanceOf[UnknownMedia], "PLTE length not divisible by 3 must reject")
    assert(MediaCodec.decode(build(Array.emptyByteArray, idat))
      .isInstanceOf[UnknownMedia], "empty PLTE must reject")
    assert(MediaCodec.decode(build(new Array[Byte](771), idat))
      .isInstanceOf[UnknownMedia], "257-entry PLTE must reject")
    // PLTE on a GRAYSCALE image is forbidden by spec §11.2.3
    val gihdr = ihdr.clone(); gihdr(9) = 0
    assert(MediaCodec.decode(sig ++ pngChunkBytes("IHDR", gihdr) ++
      pngChunkBytes("PLTE", plte) ++ pngChunkBytes("IDAT", packIdx(0)) ++
      pngChunkBytes("IEND", Array.emptyByteArray))
      .isInstanceOf[UnknownMedia], "PLTE on grayscale must reject")
    // the fixture-cycle generator: palette rows decode to the SAME
    // facts the oracle rebuilds (chan(unit, c) raster)
    locally {
      val text = "palette fixture text!"
      val id = 15L // id%3=0 image; (id/3)%3=2 png slot; (id/9)%3=1 palette
      val (_, payload) = Multimodal.genPayload(id, text)
      assert(payload(25) == 3, "fixture id 15 must be a palette PNG (color type byte)")
      val units = text.codePoints().toArray.map(cp => if (cp <= 127) cp else 63)
      val pw = (8 + id % 57).toInt; val ph = (8 + id * 7 % 57).toInt
      MediaCodec.decode(payload) match {
        case ImageMedia(`pw`, `ph`, "png", rgb) =>
          for (i <- 0 until pw * ph; c <- 0 until 3)
            assert((rgb(3 * i + c) & 0xff) ==
              Multimodal.paletteChan(units(i % units.length), c), s"pixel $i chan $c")
        case other => fail(s"fixture palette png: $other")
      }
    }
  }

  test("16-bit PNG: grayscale and truecolor down-shift to sample high bytes; 16-bit palette rejects") {
    // deep rasters from scientific writers: each sample is two bytes,
    // MSB first (spec 7.2) — the decoder's 8-bit view is the high
    // byte. The filter runs at the WIDER byte-per-pixel offset (2 for
    // 16-bit gray, 6 for 16-bit RGB), so a filtered fixture proves
    // the unfilter offset switched with the depth. Low bytes are
    // deliberately non-zero noise: a decoder reading the wrong half
    // shows immediately.
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(6)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 64)
      val n = d.deflate(buf)
      assert(d.finished); d.end()
      buf.take(n)
    }
    def png16(w: Int, h: Int, colorType: Int, samples: Array[Int]): Array[Byte] = {
      val channels = if (colorType == 2) 3 else 1
      val bpp = 2 * channels
      val rowLen = bpp * w
      val raw = new Array[Byte](h * (1 + rowLen))
      for (y <- 0 until h) {
        val f = y % 2 // None / Sub rows — enough to pin the offset
        raw(y * (1 + rowLen)) = f.toByte
        for (x <- 0 until rowLen) {
          val si = y * w * channels + x / 2
          val cur = if (x % 2 == 0) samples(si) else (si * 89 + 17) % 256 // hi : lo-noise
          val left = if (x >= bpp) {
            val lsi = y * w * channels + (x - bpp) / 2
            if (x % 2 == 0) samples(lsi) else (lsi * 89 + 17) % 256
          } else 0
          raw(y * (1 + rowLen) + 1 + x) = (if (f == 0) cur else cur - left).toByte
        }
      }
      val ihdr = new Array[Byte](13)
      ihdr(3) = w.toByte; ihdr(7) = h.toByte; ihdr(8) = 16; ihdr(9) = colorType.toByte
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
        pngChunkBytes("IHDR", ihdr) ++ pngChunkBytes("IDAT", deflate(raw)) ++
        pngChunkBytes("IEND", Array.emptyByteArray)
    }
    val w = 9; val h = 6
    val gray = Array.tabulate(w * h)(i => (i * 41 + 3) % 256)
    MediaCodec.decode(png16(w, h, 0, gray)) match {
      case ImageMedia(`w`, `h`, "png", rgb) =>
        for (i <- 0 until w * h; c <- 0 until 3)
          assert((rgb(3 * i + c) & 0xff) == gray(i), s"16-bit gray pixel $i channel $c")
      case other => fail(s"16-bit grayscale png: $other")
    }
    val color = Array.tabulate(3 * w * h)(i => (i * 23 + 11) % 256)
    MediaCodec.decode(png16(w, h, 2, color)) match {
      case ImageMedia(`w`, `h`, "png", rgb) =>
        for (i <- 0 until 3 * w * h)
          assert((rgb(i) & 0xff) == color(i), s"16-bit rgb byte $i")
      case other => fail(s"16-bit truecolor png: $other")
    }
    // 16-bit palette is illegal (spec Table 11.1) — flip a valid
    // 8-bit palette fixture's depth byte to 16; the CRC must be
    // recomputed or the walk rejects for the wrong reason, so rebuild
    // the IHDR chunk wholesale
    val pal8 = MediaCodec.encodePalettePng(8, 8,
      Array.tabulate[Byte](64)(i => (i % 30).toByte),
      Array.tabulate[Byte](90)(j => (j * 3).toByte))
    val ihdr16 = {
      val d = java.util.Arrays.copyOfRange(pal8, 16, 29) // IHDR payload
      d(8) = 16
      d
    }
    val pal16 = pal8.take(8) ++ pngChunkBytes("IHDR", ihdr16) ++ pal8.drop(33)
    assert(MediaCodec.decode(pal16).isInstanceOf[UnknownMedia],
      "16-bit palette must reject")
  }

  test("Adam7 interlaced PNG: all seven passes decode and scatter correctly across profiles and sizes") {
    // Spec 8.2: the IDAT stream is seven independently-filtered
    // sub-images; empty passes (small dims) contribute no scanlines.
    // The spec-local interlacer gathers pixels into pass order with
    // None/Sub filter rows, so a decoder that mis-walks pass
    // geometry, filters a pass against the wrong neighbors, or
    // scatters to wrong positions diverges from the original raster.
    val x0 = Array(0, 4, 0, 2, 0, 1, 0); val y0 = Array(0, 0, 4, 0, 2, 0, 1)
    val dx = Array(8, 8, 4, 4, 2, 2, 1); val dy = Array(8, 8, 8, 4, 4, 2, 2)
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(6)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 64)
      val n = d.deflate(buf)
      assert(d.finished); d.end()
      buf.take(n)
    }
    // interlace `pix` (w*h logical pixels of `bpp` bytes) into the
    // Adam7 scanline stream
    def adam7Idat(w: Int, h: Int, bpp: Int, pix: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      for (p <- 0 until 7) {
        val pw = if (w > x0(p)) (w - x0(p) + dx(p) - 1) / dx(p) else 0
        val ph = if (h > y0(p)) (h - y0(p) + dy(p) - 1) / dy(p) else 0
        if (pw > 0 && ph > 0) {
          val prow = bpp * pw
          val rows = Array.tabulate(ph, prow) { (py, x) =>
            val px = x / bpp; val c = x % bpp
            pix(((y0(p) + py * dy(p)) * w + (x0(p) + px * dx(p))) * bpp + c)
          }
          for (py <- 0 until ph) {
            val f = py % 2 // None / Sub — pins per-pass filtering
            out.write(f)
            for (x <- 0 until prow) {
              val cur = rows(py)(x) & 0xff
              val left = if (x >= bpp) rows(py)(x - bpp) & 0xff else 0
              out.write((if (f == 0) cur else cur - left) & 0xff)
            }
          }
        }
      }
      deflate(out.toByteArray)
    }
    def png(w: Int, h: Int, depth: Int, colorType: Int, idat: Array[Byte],
            plte: Array[Byte] = null): Array[Byte] = {
      val ihdr = new Array[Byte](13)
      ihdr(3) = w.toByte; ihdr(7) = h.toByte
      ihdr(8) = depth.toByte; ihdr(9) = colorType.toByte; ihdr(12) = 1 // Adam7
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
        pngChunkBytes("IHDR", ihdr) ++
        (if (plte != null) pngChunkBytes("PLTE", plte) else Array.emptyByteArray) ++
        pngChunkBytes("IDAT", idat) ++ pngChunkBytes("IEND", Array.emptyByteArray)
    }
    // sizes chosen to cover: every pass nonempty (>=8x8), most passes
    // empty (1x1 has only pass 1; 4x4 misses pass 3's y0=4; 3x2, 9x5
    // ragged pass widths)
    for ((w, h) <- Seq((1, 1), (3, 2), (4, 4), (8, 8), (9, 5), (13, 11))) {
      // truecolor 8-bit
      val rgb = Array.tabulate[Byte](3 * w * h)(i => ((i * 37 + 11) % 256).toByte)
      MediaCodec.decode(png(w, h, 8, 2, adam7Idat(w, h, 3, rgb))) match {
        case ImageMedia(`w`, `h`, "png", out) =>
          assert(java.util.Arrays.equals(out, rgb), s"truecolor $w x $h")
        case other => fail(s"truecolor $w x $h: $other")
      }
      // grayscale 8-bit (r = g = b expansion)
      val gray = Array.tabulate[Byte](w * h)(i => ((i * 41 + 3) % 256).toByte)
      MediaCodec.decode(png(w, h, 8, 0, adam7Idat(w, h, 1, gray))) match {
        case ImageMedia(`w`, `h`, "png", out) =>
          for (i <- 0 until w * h; c <- 0 until 3)
            assert(out(3 * i + c) == gray(i), s"gray $w x $h pixel $i")
        case other => fail(s"gray $w x $h: $other")
      }
      // palette through the interlaced path
      val plte = Array.tabulate[Byte](90)(j => (j * 3).toByte)
      val idx = Array.tabulate[Byte](w * h)(i => (i % 30).toByte)
      MediaCodec.decode(png(w, h, 8, 3, adam7Idat(w, h, 1, idx), plte)) match {
        case ImageMedia(`w`, `h`, "png", out) =>
          for (i <- 0 until w * h; c <- 0 until 3)
            assert(out(3 * i + c) == plte(3 * (idx(i) & 0xff) + c), s"palette $w x $h pixel $i")
        case other => fail(s"palette $w x $h: $other")
      }
    }
    // 16-bit truecolor through the interlaced path: the pass filter
    // offset must be the WIDER 6-byte bpp
    locally {
      val w = 9; val h = 6
      val hi = Array.tabulate(3 * w * h)(i => (i * 23 + 7) % 256)
      val pix16 = Array.tabulate[Byte](6 * w * h) { x =>
        (if (x % 2 == 0) hi(x / 2) else (x * 89 + 17) % 256).toByte // hi : lo-noise
      }
      MediaCodec.decode(png(w, h, 16, 2, adam7Idat(w, h, 6, pix16))) match {
        case ImageMedia(`w`, `h`, "png", out) =>
          for (i <- 0 until 3 * w * h)
            assert((out(i) & 0xff) == hi(i), s"16-bit interlaced byte $i")
        case other => fail(s"16-bit interlaced: $other")
      }
    }
    // surplus / truncated interlaced streams reject like sequential
    locally {
      val rgb = Array.tabulate[Byte](192)(_.toByte)
      val good = adam7Idat(8, 8, 3, rgb)
      assert(MediaCodec.decode(png(8, 8, 8, 2, deflateConcat(good)))
        .isInstanceOf[UnknownMedia], "surplus interlaced raw data must reject")
    }
    def deflateConcat(z: Array[Byte]): Array[Byte] = {
      // re-deflate the inflated stream plus one surplus byte
      val inf = new java.util.zip.Inflater()
      inf.setInput(z)
      val buf = new Array[Byte](1 << 16)
      val n = inf.inflate(buf)
      inf.end()
      deflate2(buf.take(n) :+ 0x55.toByte)
    }
    def deflate2(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(6)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 64)
      val n = d.deflate(buf)
      d.end()
      buf.take(n)
    }
  }

  test("PNG strictness: unknown critical chunks and payload-bearing IEND reject (r13 advisories)") {
    val base = MediaCodec.encodePng(6, 5, Array.tabulate[Byte](90)(_.toByte))
    // sig(8) + IHDR(25) = 33: splice a chunk between IHDR and IDAT
    def splice(chunk: Array[Byte]): Array[Byte] =
      base.take(33) ++ chunk ++ base.drop(33)
    // ancillary (bit 5 of first type byte SET — lowercase) is skipped
    assert(!MediaCodec.decode(splice(pngChunkBytes("teXt", Array[Byte](1, 2, 3))))
      .isInstanceOf[UnknownMedia], "ancillary chunk must still be skipped")
    // critical (uppercase first byte) but unknown: libpng errors — so do we
    assert(MediaCodec.decode(splice(pngChunkBytes("CrIT", Array[Byte](1, 2, 3))))
      .isInstanceOf[UnknownMedia], "unknown critical chunk must reject")
    // IEND carrying payload bytes: spec requires length 0
    val iendAt = base.length - 12
    val fatIend = base.take(iendAt) ++ pngChunkBytes("IEND", Array[Byte](7))
    assert(MediaCodec.decode(fatIend).isInstanceOf[UnknownMedia],
      "IEND with nonzero length must reject")
    // tRNS is alpha through an ancillary chunk (the common
    // transparent-PNG form): silently dropping it would hash pixels a
    // conforming decoder treats as transparent, so it rejects like
    // the alpha color types do (review r14)
    assert(MediaCodec.decode(splice(pngChunkBytes("tRNS", Array[Byte](0, 10))))
      .isInstanceOf[UnknownMedia], "tRNS (transparency) must reject, not silently drop")
  }

  test("tiny high-rate audio keeps a non-degenerate hash (canonical length floors to 0 — r13 advisory)") {
    // 3 samples at 48 kHz: outLen = 3·8000/48000 = 0 — the canonical
    // form is EMPTY, and hashing it returned 0, colliding with
    // UnknownMedia and with every other such clip in phashDedup's
    // banding. The rule: a zero-length canonical form falls back to
    // the raw samples (like the cap path).
    val clip = MediaCodec.decode(MediaCodec.encodeWav(48000, Array[Short](100, -50, 7)))
    val raw8k = MediaCodec.decode(MediaCodec.encodeWav(8000, Array[Short](100, -50, 7)))
    assert(MediaCodec.aHash64(clip) != 0L, "few-sample high-rate clip must not hash to 0")
    assert(MediaCodec.aHash64(clip) == MediaCodec.aHash64(raw8k),
      "zero-length canonical form must hash the raw samples")
  }

  test("baseline JPEG: block-constant fixtures round-trip bit-exactly across gray/444/420 + restarts") {
    // The mm_jpeg_meta contract, recomputed independently: the
    // expected raster comes straight from the generation rule (code
    // points → per-block values), NEVER through the codec — so the
    // Huffman tables, DC prediction chain, MCU interleave, 4:2:0
    // subsample/upsample, restart markers and the integer color
    // transforms all have to reproduce it bit-for-bit.
    for (id <- 0L until 18L) {
      val text = s"jpeg fixture text for document $id with mixed content ${id * 37} end"
      val payload = Multimodal.genJpegPayload(id, text)
      val tb = text.codePoints().toArray.map(cp => if (cp <= 127) cp.toByte else 63.toByte)
      val n = tb.length
      val w = 16 * (1 + java.lang.Math.floorMod(java.lang.Math.floorDiv(id, 3L), 3L)).toInt
      val h = 16 * (1 + java.lang.Math.floorMod(java.lang.Math.floorDiv(id, 5L), 3L)).toInt
      val expected = Array.tabulate[Byte](3 * w * h) { i =>
        val p = i / 3; val y = p / w; val x = p % w
        tb(((y / 8) * (w / 8) + (x / 8)) % n)
      }
      val expProfile = (java.lang.Math.floorMod(id, 3L) match {
        case 0L => "gray"; case 1L => "444"; case _ => "420"
      }) + (if (java.lang.Math.floorMod(java.lang.Math.floorDiv(id, 7L), 2L) == 1L) "p" else "")
      assert(MediaCodec.jpegProfile(payload) == expProfile,
        s"id $id: SOF profile must parse back as $expProfile")
      MediaCodec.decode(payload) match {
        case ImageMedia(dw, dh, "jpg", rgb) =>
          assert(dw == w && dh == h, s"id $id: dims $dw x $dh != $w x $h")
          assert(java.util.Arrays.equals(rgb, expected),
            s"id $id ($expProfile): decoded raster differs from the generation rule")
        case other => fail(s"id $id decoded to $other")
      }
    }
  }

  test("baseline JPEG: textured content bounds round-trip error; MCU padding crops; color decodes") {
    val rnd = new scala.util.Random(7)
    // gray textured (R=G=B → chroma 128): the only loss is luma DCT
    // rounding under the all-ones quantizer — a 1-count bound. 24×24
    // is NOT a multiple of 16, so the 420 arm also exercises MCU edge
    // padding + crop.
    for (profile <- Seq("gray", "444", "420")) {
      val w = 24; val h = 24
      val gray = Array.tabulate(w * h)(_ => rnd.nextInt(256))
      val rgb = Array.tabulate[Byte](3 * w * h)(i => gray(i / 3).toByte)
      MediaCodec.decode(MediaCodec.encodeJpeg(w, h, rgb, profile)) match {
        case ImageMedia(dw, dh, _, drgb) =>
          assert(dw == w && dh == h)
          val maxErr = drgb.indices.map(i => math.abs((drgb(i) & 0xff) - (rgb(i) & 0xff))).max
          assert(maxErr <= 2, s"textured gray $profile: maxErr $maxErr > 2")
        case other => fail(s"textured $profile decoded to $other")
      }
    }
    // full-color textured through 4:4:4: adds per-pixel chroma DCT
    // rounding + the YCbCr round trip (both a few counts)
    locally {
      val w = 16; val h = 16
      val rgb = Array.fill[Byte](3 * w * h)(rnd.nextInt(256).toByte)
      MediaCodec.decode(MediaCodec.encodeJpeg(w, h, rgb, "444")) match {
        case ImageMedia(_, _, _, drgb) =>
          val maxErr = drgb.indices.map(i => math.abs((drgb(i) & 0xff) - (rgb(i) & 0xff))).max
          assert(maxErr <= 5, s"textured color 444: maxErr $maxErr > 5")
        case other => fail(s"textured color decoded to $other")
      }
    }
    // constant COLOR through 4:2:0: a nonzero chroma DC must survive
    // subsample (average of a constant) → quantize → IDCT → NN
    // upsample, leaving only the color-transform round trip (≤ 2)
    locally {
      val w = 16; val h = 16
      val rgb = Array.tabulate[Byte](3 * w * h)(i =>
        (i % 3 match { case 0 => 200; case 1 => 30; case _ => 90 }).toByte)
      MediaCodec.decode(MediaCodec.encodeJpeg(w, h, rgb, "420")) match {
        case ImageMedia(_, _, _, drgb) =>
          val maxErr = drgb.indices.map(i => math.abs((drgb(i) & 0xff) - (rgb(i) & 0xff))).max
          assert(maxErr <= 2, s"const-color 420: maxErr $maxErr > 2")
        case other => fail(s"const-color 420 decoded to $other")
      }
    }
  }

  test("baseline JPEG: phashDedup collides a planted JPEG/PPM pixel-identical pair") {
    // The cross-codec-family dedup claim: the same pixels shipped as
    // an uncompressed PPM and as a Huffman-coded JPEG must land in
    // the same phash band buckets (aHash runs over DECODED content,
    // and block-constant grayscale JPEG decode is bit-exact). Planted
    // alongside a different-content image that must stay clean.
    val w = 16; val h = 16
    val rgb = Array.tabulate[Byte](3 * w * h) { i =>
      val p = i / 3
      (40 + 20 * ((p / w / 8) * 2 + (p % w) / 8)).toByte
    }
    val other = Array.tabulate[Byte](3 * w * h)(i => ((i * 31) % 256).toByte)
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", MediaCodec.encodePpm(w, h, rgb)),
      Multimodal.MediaRow(2L, "image", MediaCodec.encodeJpeg(w, h, rgb, "444")),
      Multimodal.MediaRow(3L, "image", MediaCodec.encodePpm(w, h, other)))
    val flags = Multimodal.phashDedupOver(spark.createDataset(rows)).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(flags(1L) == 1L && flags(2L) == 1L,
      "pixel-identical PPM and JPEG must flag as dups")
    assert(flags(3L) == 0L, "different content must stay clean")
  }

  test("baseline JPEG strictness: non-baseline and malformed containers reject") {
    val rgb = Array.fill[Byte](768)(100.toByte)
    val good = MediaCodec.encodeJpeg(16, 16, rgb, "444")
    assert(!MediaCodec.decode(good).isInstanceOf[UnknownMedia], "the fixture itself decodes")
    // trailing bytes after EOI: not the JPEG it claims to be (PNG rule)
    assert(MediaCodec.decode(good :+ 0.toByte).isInstanceOf[UnknownMedia],
      "trailing byte must reject")
    // truncated mid-scan
    assert(MediaCodec.decode(good.take(good.length / 2)).isInstanceOf[UnknownMedia],
      "truncation must reject")
    // an EMPTY DQT (Lq=2, zero tables) is not a segment B.2.4.1
    // allows — spliced right after SOI it must reject in the MAIN
    // header walk, the same rule the progressive tables-misc arm
    // enforces (review r15)
    assert(MediaCodec.decode(
      good.take(2) ++ Array[Byte](0xff.toByte, 0xdb.toByte, 0, 2) ++ good.drop(2))
      .isInstanceOf[UnknownMedia], "empty DQT must reject")
    def flipMarker(from: Int, to: Int): Array[Byte] = {
      val m = good.clone()
      var p = 2
      while (!((m(p) & 0xff) == 0xff && (m(p + 1) & 0xff) == from)) p += 1
      m(p + 1) = to.toByte
      m
    }
    // SOF2 decodes since r15 — but flipping a BASELINE stream's SOF
    // marker to SOF2 leaves a baseline SOS (Ss=0, Se=63), which the
    // progressive scan-header rules reject (a DC scan has Se=0); the
    // extended-sequential and arithmetic SOFs stay honest unknowns
    assert(MediaCodec.decode(flipMarker(0xc0, 0xc2)).isInstanceOf[UnknownMedia],
      "baseline scan under a SOF2 marker must reject")
    assert(MediaCodec.decode(flipMarker(0xc0, 0xc1)).isInstanceOf[UnknownMedia],
      "extended-sequential SOF1 must reject")
    assert(MediaCodec.decode(flipMarker(0xc0, 0xc9)).isInstanceOf[UnknownMedia],
      "arithmetic SOF9 must reject")
    // 16-bit DQT (Pq=1): not baseline-8
    locally {
      val m = good.clone()
      var p = 2
      while (!((m(p) & 0xff) == 0xff && (m(p + 1) & 0xff) == 0xdb)) p += 1
      m(p + 4) = 0x10.toByte // Pq=1, Tq=0
      assert(MediaCodec.decode(m).isInstanceOf[UnknownMedia], "16-bit DQT must reject")
    }
    // SOS component selectors must NAME the SOF components in order
    // (T.81 B.2.3): swap the first selector to a wrong id — a decoder
    // assigning tables positionally would decode luma with chroma
    // tables and return garbage as "valid" (review r14)
    locally {
      val m = good.clone()
      var p = 2
      while (!((m(p) & 0xff) == 0xff && (m(p + 1) & 0xff) == 0xda)) p += 1
      // SOS payload: len(2) ns(1) then [Cs, TdTa]×ns — Cs1 at p+5
      assert((m(p + 5) & 0xff) == 1, "fixture layout: first selector is component 1")
      m(p + 5) = 7.toByte
      assert(MediaCodec.decode(m).isInstanceOf[UnknownMedia],
        "SOS selector naming a non-SOF component must reject")
    }
    // out-of-sequence restart marker: RST0 expected first, RST1 found
    // (FF in entropy data is always stuffed FF00, so the first FFD0
    // in the byte stream IS the first restart marker)
    locally {
      val wide = Array.tabulate[Byte](3 * 32 * 16)(i => (((i / 3) % 32 / 8) * 40 + 20).toByte)
      val withRst = MediaCodec.encodeJpeg(32, 16, wide, "gray", 2)
      var p = 2
      while (!((withRst(p) & 0xff) == 0xff && (withRst(p + 1) & 0xff) == 0xd0)) p += 1
      val m = withRst.clone()
      m(p + 1) = 0xd1.toByte
      assert(MediaCodec.decode(withRst) match {
        case ImageMedia(32, 16, _, _) => true; case _ => false
      }, "the restart fixture itself decodes")
      assert(MediaCodec.decode(m).isInstanceOf[UnknownMedia],
        "out-of-sequence RSTn must reject")
    }
  }

  test("baseline JPEG: restart-interval fixtures decode to their no-restart twin's raster; slack before RSTn rejects") {
    // T.81 resets DC prediction and bit alignment at every RSTn, so a
    // restart interval changes the entropy bytes but not the quantized
    // coefficients: each fixture must decode bit-identical to the same
    // pixels encoded with restartInterval = 0.
    val rnd = new scala.util.Random(19)
    val fixtures = Seq(
      ("gray blocky", 32, 16,
        Array.tabulate[Byte](3 * 32 * 16)(i => ((((i / 3) % 32) / 8 * 40) + 30).toByte),
        "gray", 2),                  // 8 MCUs -> 4 segments
      ("420 blocky", 48, 32,
        Array.tabulate[Byte](3 * 48 * 32)(i => (((i / 3) / 48 / 8 * 2 + ((i / 3) % 48) / 8) * 13 + 20).toByte),
        "420", 2),                   // 6 MCUs -> 3 segments
      ("444 textured", 24, 24,
        Array.fill[Byte](3 * 24 * 24)(rnd.nextInt(256).toByte),
        "444", 3))                   // 9 MCUs -> 3 segments
    fixtures.foreach { case (name, w, h, rgb, profile, ri) =>
      def rgbOf(m: MediaCodec.Media, what: String): Array[Byte] = m match {
        case ImageMedia(`w`, `h`, _, px) => px
        case other                       => fail(s"$name $what decoded to $other")
      }
      val withRst = MediaCodec.encodeJpeg(w, h, rgb, profile, ri)
      val noRst = MediaCodec.encodeJpeg(w, h, rgb, profile)
      assert(java.util.Arrays.equals(rgbOf(MediaCodec.decode(withRst), s"ri=$ri"),
        rgbOf(MediaCodec.decode(noRst), "ri=0")),
        s"$name: restart intervals must not change the decoded raster")
    }
    // the interval must END exactly at its RSTn: a slack byte before
    // the first restart marker rejects
    val (_, w0, h0, rgb0, profile0, ri0) = fixtures.head
    val base = MediaCodec.encodeJpeg(w0, h0, rgb0, profile0, ri0)
    var p = 2
    while (!((base(p) & 0xff) == 0xff && (base(p + 1) & 0xff) == 0xd0)) p += 1
    val slack = base.take(p) ++ Array(0.toByte) ++ base.drop(p)
    assert(MediaCodec.decode(slack).isInstanceOf[UnknownMedia],
      "slack bytes before a restart marker must reject")
  }

  test("JPEG fill bytes before markers decode; ZRL overrun and undefined run/size reject (r14 advisories)") {
    // T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
    // marker. A conforming foreign writer that pads before RSTn/EOI
    // must decode — bit-identical to the unpadded twin (the r14
    // conformance nit, closed).
    val rgb = Array.tabulate[Byte](3 * 32 * 16)(i => ((((i / 3) % 32) / 8 * 40) + 30).toByte)
    val plain = MediaCodec.encodeJpeg(32, 16, rgb, "gray", 2) // 4 restart segments
    def padBeforeMarkers(b: Array[Byte], nFill: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var p = 0
      var inScan = false
      while (p < b.length) {
        val isMarker = p + 1 < b.length && (b(p) & 0xff) == 0xff && {
          val n = b(p + 1) & 0xff
          (n >= 0xd0 && n <= 0xd7) || n == 0xd9
        }
        if (inScan && isMarker) { var i = 0; while (i < nFill) { out.write(0xff); i += 1 } }
        if (p + 1 < b.length && (b(p) & 0xff) == 0xff && (b(p + 1) & 0xff) == 0xda) inScan = true
        out.write(b(p) & 0xff)
        p += 1
      }
      out.toByteArray
    }
    val padded = padBeforeMarkers(plain, 2)
    assert(padded.length == plain.length + 2 * 4, "3 RSTn + EOI each got 2 fill bytes")
    def rgbOf(m: MediaCodec.Media, what: String): Array[Byte] = m match {
      case ImageMedia(32, 16, _, px) => px
      case other                     => fail(s"$what decoded to $other")
    }
    val want = rgbOf(MediaCodec.decode(plain), "unpadded")
    assert(java.util.Arrays.equals(rgbOf(MediaCodec.decode(padded), "padded"), want),
      "fill-byte-padded file must decode bit-identical")
    // a non-fill byte in the same position is still slack → reject
    val slack = padBeforeMarkers(plain, 1).clone()
    var sp = 2
    while (!((slack(sp) & 0xff) == 0xff && (slack(sp + 1) & 0xff) == 0xff)) sp += 1
    slack(sp) = 0x41.toByte
    assert(MediaCodec.decode(slack).isInstanceOf[UnknownMedia],
      "non-fill slack before a marker must still reject")

    // Hand-built single-block grayscale container with a custom AC
    // table whose short codes include ZRL (0xF0) and the UNDEFINED
    // composite 0x10 (r=1, s=0 — EOBn exists only in progressive
    // scans): the strict decoder must reject a ZRL chain overrunning
    // index 63 and any s=0/r∈1..14 symbol, while the EOB control twin
    // proves the container skeleton itself decodes.
    def seg(marker: Int, payload: Array[Int]): Array[Byte] = {
      val len = payload.length + 2
      (Array(0xff, marker, (len >> 8) & 0xff, len & 0xff) ++ payload).map(_.toByte)
    }
    val dqt = seg(0xdb, 0 +: Array.fill(64)(1))
    val sof = seg(0xc0, Array(8, 0, 8, 0, 8, 1, 1, 0x11, 0))
    val dhtDc = seg(0xc4, Array(0x00, 1) ++ Array.fill(15)(0) ++ Array(0x00))
    // AC: three length-2 codes in canonical order: 0x00→00 0xF0→01 0x10→10
    val dhtAc = seg(0xc4, Array(0x10, 0, 3) ++ Array.fill(14)(0) ++ Array(0x00, 0xf0, 0x10))
    val sos = seg(0xda, Array(1, 1, 0x00, 0, 63, 0))
    def jpegWith(entropy: Array[Int]): Array[Byte] =
      Array(0xff.toByte, 0xd8.toByte) ++ dqt ++ sof ++ dhtDc ++ dhtAc ++ sos ++
        entropy.map(_.toByte) ++ Array(0xff.toByte, 0xd9.toByte)
    // DC "0" + EOB "00" + pad 11111 = 0x1F — the valid control
    assert(jpegWith(Array(0x1f)).length > 0 && (MediaCodec.decode(jpegWith(Array(0x1f))) match {
      case ImageMedia(8, 8, "jpg", px) => px.forall(_ == 128.toByte)
      case other                       => fail(s"control fixture decoded to $other")
    }), "EOB control twin decodes to the flat DC raster")
    // DC "0" + ZRL "01" ×4 = 001010101 + pad → 0x2A 0xFF(stuffed)00:
    // the 4th ZRL pushes k past 63 → reject
    assert(MediaCodec.decode(jpegWith(Array(0x2a, 0xff, 0x00))).isInstanceOf[UnknownMedia],
      "ZRL chain overrunning the block must reject")
    // DC "0" + 0x10 "10" = 010 + pad 11111 → 0x5F: undefined run/size
    assert(MediaCodec.decode(jpegWith(Array(0x5f))).isInstanceOf[UnknownMedia],
      "s=0, r=1 composite (sequential-undefined) must reject")
  }

  test("alpha PNG (types 4/6 + tRNS): composites over white at full depth; filters invert") {
    // THE ALPHA CONTRACT: every alpha form resolves at decode by
    // compositing over an opaque white background with round-half-up
    // integer math, c' = (a·c + (255−a)·255 + 127)/255 — recomputed
    // here independently of the codec for every profile.
    def comp(v: Int, a: Int): Int = (a * v + (255 - a) * 255 + 127) / 255
    // RGBA 8-bit through the codec encoder (all five filters, bpp 4)
    locally {
      val w = 13; val h = 11
      val rgba = Array.tabulate[Byte](4 * w * h)(i => ((i * 29 + 3) % 256).toByte)
      MediaCodec.decode(MediaCodec.encodeAlphaPng(w, h, rgba)) match {
        case ImageMedia(`w`, `h`, "png", rgb) =>
          for (i <- 0 until w * h; c <- 0 until 3)
            assert((rgb(3 * i + c) & 0xff) ==
              comp(rgba(4 * i + c) & 0xff, rgba(4 * i + 3) & 0xff), s"rgba px $i ch $c")
        case other => fail(s"rgba: $other")
      }
    }
    // spec-local builder (filter-0 rows, Deflater stream — the
    // Huffman path, independent of the codec's stored blocks)
    def buildPng(w: Int, h: Int, depth: Int, colorType: Int, rowBytes: Int,
                 raster: Array[Byte],
                 preIdat: Seq[(String, Array[Byte])] = Nil,
                 postIdat: Seq[(String, Array[Byte])] = Nil): Array[Byte] = {
      val raw = new Array[Byte](h * (1 + rowBytes))
      for (y <- 0 until h) {
        raw(y * (1 + rowBytes)) = 0
        System.arraycopy(raster, y * rowBytes, raw, y * (1 + rowBytes) + 1, rowBytes)
      }
      val d = new java.util.zip.Deflater(6)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 128)
      val n = d.deflate(buf)
      assert(d.finished); d.end()
      val ihdr = new Array[Byte](13)
      ihdr(2) = (w >> 8).toByte; ihdr(3) = w.toByte
      ihdr(6) = (h >> 8).toByte; ihdr(7) = h.toByte
      ihdr(8) = depth.toByte; ihdr(9) = colorType.toByte
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
        pngChunkBytes("IHDR", ihdr) ++
        preIdat.flatMap { case (t, p) => pngChunkBytes(t, p) } ++
        pngChunkBytes("IDAT", buf.take(n)) ++
        postIdat.flatMap { case (t, p) => pngChunkBytes(t, p) } ++
        pngChunkBytes("IEND", Array.emptyByteArray)
    }
    // gray+alpha 8-bit (type 4): both channels cycle independently
    locally {
      val w = 9; val h = 7
      val ga = Array.tabulate[Byte](2 * w * h)(i => ((i * 41 + 11) % 256).toByte)
      MediaCodec.decode(buildPng(w, h, 8, 4, 2 * w, ga)) match {
        case ImageMedia(`w`, `h`, _, rgb) =>
          for (i <- 0 until w * h) {
            val g = comp(ga(2 * i) & 0xff, ga(2 * i + 1) & 0xff)
            for (c <- 0 until 3) assert((rgb(3 * i + c) & 0xff) == g, s"graya px $i ch $c")
          }
        case other => fail(s"graya: $other")
      }
    }
    // RGBA 16-bit: composite of the folded HIGH bytes; low bytes are
    // noise that must not leak into the result
    locally {
      val w = 6; val h = 5
      val px = Array.tabulate[Byte](8 * w * h)(i => ((i * 53 + 7) % 256).toByte)
      MediaCodec.decode(buildPng(w, h, 16, 6, 8 * w, px)) match {
        case ImageMedia(`w`, `h`, _, rgb) =>
          for (i <- 0 until w * h; c <- 0 until 3)
            assert((rgb(3 * i + c) & 0xff) ==
              comp(px(8 * i + 2 * c) & 0xff, px(8 * i + 6) & 0xff), s"rgba16 px $i ch $c")
        case other => fail(s"rgba16: $other")
      }
    }
    // tRNS color key on 8-bit truecolor: keyed pixels go fully
    // transparent (white), everything else stays opaque
    locally {
      val w = 8; val h = 6
      val key = (10, 20, 30)
      val rgb0 = Array.tabulate[Byte](3 * w * h) { i =>
        val p = i / 3
        if (p % 5 == 0) Array(10, 20, 30)(i % 3).toByte // keyed pixels
        else ((i * 19 + 40) % 256).toByte
      }
      val trns = Array[Byte](0, key._1.toByte, 0, key._2.toByte, 0, key._3.toByte)
      MediaCodec.decode(buildPng(w, h, 8, 2, 3 * w, rgb0, preIdat = Seq("tRNS" -> trns))) match {
        case ImageMedia(`w`, `h`, _, rgb) =>
          for (p <- 0 until w * h) {
            val keyed = (rgb0(3 * p) & 0xff) == key._1 &&
              (rgb0(3 * p + 1) & 0xff) == key._2 && (rgb0(3 * p + 2) & 0xff) == key._3
            for (c <- 0 until 3) {
              val want = if (keyed) 255 else rgb0(3 * p + c) & 0xff
              assert((rgb(3 * p + c) & 0xff) == want, s"trns px $p ch $c keyed=$keyed")
            }
          }
        case other => fail(s"trns truecolor: $other")
      }
    }
    // tRNS gray key at 16-BIT depth compares the FULL sample: a pixel
    // matching only in its high byte must stay opaque
    locally {
      val w = 4; val h = 3
      // samples: pixel 0 = 0x1234 (the key), pixel 1 = 0x12FF (high
      // byte matches, full value doesn't), rest cycle
      val px = new Array[Byte](2 * w * h)
      for (i <- 0 until w * h) {
        val v = if (i == 0) 0x1234 else if (i == 1) 0x12ff else 0x4000 + i
        px(2 * i) = (v >> 8).toByte; px(2 * i + 1) = v.toByte
      }
      val trns = Array[Byte](0x12, 0x34)
      MediaCodec.decode(buildPng(w, h, 16, 0, 2 * w, px, preIdat = Seq("tRNS" -> trns))) match {
        case ImageMedia(`w`, `h`, _, rgb) =>
          assert((rgb(0) & 0xff) == 255, "keyed 16-bit pixel must be transparent → white")
          assert((rgb(3) & 0xff) == 0x12, "high-byte-only match must stay opaque")
        case other => fail(s"trns gray16: $other")
      }
    }
    // tRNS on palette: per-entry alpha, entries past the table opaque
    locally {
      val w = 8; val h = 4
      val plte = Array.tabulate[Byte](3 * 5)(j => ((j * 31 + 9) % 256).toByte)
      val idx = Array.tabulate[Byte](w * h)(i => (i % 5).toByte)
      val trns = Array[Byte](0, 128.toByte, 255.toByte) // entries 3,4 opaque
      MediaCodec.decode(buildPng(w, h, 8, 3, w, idx,
        preIdat = Seq("PLTE" -> plte, "tRNS" -> trns))) match {
        case ImageMedia(`w`, `h`, _, rgb) =>
          for (p <- 0 until w * h; c <- 0 until 3) {
            val e = p % 5
            val a = if (e < 3) trns(e) & 0xff else 255
            assert((rgb(3 * p + c) & 0xff) == comp(plte(3 * e + c) & 0xff, a),
              s"palette-trns px $p ch $c")
          }
        case other => fail(s"trns palette: $other")
      }
    }
    // adversarial rejections: the spec's ordering/shape rules
    val w9 = 4; val h9 = 4
    val solid = Array.fill[Byte](3 * w9 * h9)(50.toByte)
    val keyOk = Array[Byte](0, 1, 0, 2, 0, 3)
    assert(MediaCodec.decode(buildPng(w9, h9, 8, 2, 3 * w9, solid,
      postIdat = Seq("tRNS" -> keyOk))).isInstanceOf[UnknownMedia],
      "tRNS AFTER IDAT must reject")
    assert(MediaCodec.decode(buildPng(w9, h9, 8, 6, 4 * w9,
      Array.fill[Byte](4 * w9 * h9)(9), preIdat = Seq("tRNS" -> keyOk)))
      .isInstanceOf[UnknownMedia], "tRNS on an alpha color type must reject")
    assert(MediaCodec.decode(buildPng(w9, h9, 8, 2, 3 * w9, solid,
      preIdat = Seq("tRNS" -> Array[Byte](0, 1, 0)))).isInstanceOf[UnknownMedia],
      "a 3-byte truecolor tRNS must reject")
    assert(MediaCodec.decode(buildPng(w9, h9, 8, 2, 3 * w9, solid,
      preIdat = Seq("tRNS" -> Array[Byte](1, 1, 0, 2, 0, 3)))).isInstanceOf[UnknownMedia],
      "an 8-bit key with a nonzero high byte (out of range) must reject")
    assert(MediaCodec.decode(buildPng(w9, h9, 8, 2, 3 * w9, solid,
      preIdat = Seq("tRNS" -> keyOk, "tRNS" -> keyOk))).isInstanceOf[UnknownMedia],
      "a duplicate tRNS must reject")
    locally {
      val plte = Array.tabulate[Byte](3 * 4)(j => j.toByte)
      val idx = Array.fill[Byte](w9 * h9)(1)
      assert(MediaCodec.decode(buildPng(w9, h9, 8, 3, w9, idx,
        preIdat = Seq("PLTE" -> plte, "tRNS" -> Array.fill[Byte](5)(7))))
        .isInstanceOf[UnknownMedia], "type-3 tRNS longer than the palette must reject")
      assert(MediaCodec.decode(buildPng(w9, h9, 8, 3, w9, idx,
        preIdat = Seq("tRNS" -> Array.fill[Byte](2)(7), "PLTE" -> plte)))
        .isInstanceOf[UnknownMedia], "type-3 tRNS before PLTE must reject")
      assert(MediaCodec.decode(buildPng(w9, h9, 8, 4, 2 * w9,
        Array.fill[Byte](2 * w9 * h9)(3), preIdat = Seq("PLTE" -> plte)))
        .isInstanceOf[UnknownMedia], "PLTE on gray+alpha (type 4) must reject")
    }
  }

  /** Spec-local INDEPENDENT FLAC builder: an MSB-first bit
    * writer and hand-assembled frames exercising decode paths the
    * fixture encoder never emits (constant, fixed predictors, LPC,
    * Rice partitions + escapes, wasted bits, both blocking
    * strategies, multi-frame streams) plus adversarial shapes the
    * decoder must reject. Residuals are computed from
    * the DESIRED samples; lossless means decode must invert
    * exactly. */
  private object FlacBuild {
    class BW {
      private val buf = scala.collection.mutable.ArrayBuffer[Byte]()
      private var cur = 0; private var n = 0
      def bit(v: Int): Unit = {
        cur = (cur << 1) | (v & 1); n += 1
        if (n == 8) { buf += cur.toByte; cur = 0; n = 0 }
      }
      def bits(v: Long, w: Int): Unit = (w - 1 to 0 by -1).foreach(k => bit(((v >> k) & 1L).toInt))
      def align(): Unit = while (n != 0) bit(0)
      def bytes: Array[Byte] = { align(); buf.toArray }
    }
    def crc8(b: Array[Byte]): Int = b.foldLeft(0) { (c0, x) =>
      (0 until 8).foldLeft(c0 ^ (x & 0xff)) { (c, _) =>
        if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xff else (c << 1) & 0xff }
    }
    def crc16(b: Array[Byte]): Int = b.foldLeft(0) { (c0, x) =>
      (0 until 8).foldLeft(c0 ^ ((x & 0xff) << 8)) { (c, _) =>
        if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xffff else (c << 1) & 0xffff }
    }
    def codedNumber(bw: BW, v: Long): Unit =
      if (v < 0x80) bw.bits(v, 8)
      else if (v < 0x800) { bw.bits(0xc0L | (v >> 6), 8); bw.bits(0x80L | (v & 0x3f), 8) }
      else { bw.bits(0xe0L | (v >> 12), 8); bw.bits(0x80L | ((v >> 6) & 0x3f), 8); bw.bits(0x80L | (v & 0x3f), 8) }
    def rice(bw: BW, res: Int, param: Int): Unit = {
      val u = ((res.toLong << 1) ^ (res.toLong >> 63)) & 0xffffffffL // zigzag
      val q = (u >>> param).toInt
      (0 until q).foreach(_ => bw.bit(0)); bw.bit(1)
      bw.bits(u & ((1L << param) - 1), param)
    }
    // one frame: header + CRC-8, subframe bits via `body`, CRC-16
    def frame(number: Long, blockSize: Int, variable: Boolean)(body: BW => Unit): Array[Byte] = {
      val h = new BW
      h.bits(0xff, 8); h.bits(if (variable) 0xf9 else 0xf8, 8)
      // 192 = table code; else 8- or 16-bit trailing value
      val bsCode = if (blockSize == 192) 1 else if (blockSize <= 256) 6 else 7
      h.bits(bsCode.toLong, 4); h.bits(0, 4)      // rate from STREAMINFO
      h.bits(0, 4); h.bits(4, 3); h.bit(0)        // mono, 16-bit, reserved
      codedNumber(h, number)
      if (bsCode == 6) h.bits(blockSize - 1, 8)
      else if (bsCode == 7) h.bits(blockSize - 1, 16)
      val header = h.bytes
      val f = new BW
      header.foreach(x => f.bits(x & 0xffL, 8))
      f.bits(crc8(header).toLong, 8)
      body(f)
      f.align()
      val bodyBytes = f.bytes
      val c = crc16(bodyBytes)
      val out = new BW
      bodyBytes.foreach(x => out.bits(x & 0xffL, 8))
      out.bits(c.toLong, 16)
      out.bytes
    }
    def stream(rate: Int, minB: Int, maxB: Int, all: Array[Short],
               frames: Seq[Array[Byte]],
               totalOverride: Long = -1L, zeroMd5: Boolean = false): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      all.foreach { s => md.update(s.toByte); md.update((s >> 8).toByte) }
      val si = new BW
      si.bits(minB.toLong, 16); si.bits(maxB.toLong, 16)
      si.bits(0, 24); si.bits(0, 24) // frame sizes unknown
      si.bits(rate.toLong, 20); si.bits(0, 3); si.bits(15, 5)
      si.bits(if (totalOverride >= 0) totalOverride else all.length.toLong, 36)
      (if (zeroMd5) new Array[Byte](16) else md.digest())
        .foreach(x => si.bits(x & 0xffL, 8))
      val head = new BW
      "fLaC".getBytes("US-ASCII").foreach(x => head.bits(x & 0xffL, 8))
      head.bits(0x80, 8); head.bits(34, 24)
      head.bytes ++ si.bytes ++ frames.flatten
    }
    def residual(bw: BW, s: Array[Int], order: Int, partOrder: Int,
                 params: Int => Int, escaped: Set[Int] = Set()): Unit = {
      def pred(i: Int): Long = order match {
        case 0 => 0L
        case 1 => s(i - 1).toLong
        case 2 => 2L * s(i - 1) - s(i - 2)
        case 3 => 3L * s(i - 1) - 3L * s(i - 2) + s(i - 3)
        case _ => 4L * s(i - 1) - 6L * s(i - 2) + 4L * s(i - 3) - s(i - 4)
      }
      bw.bits(0, 2); bw.bits(partOrder.toLong, 4)
      val parts = 1 << partOrder
      val perPart = s.length / parts
      var i = order
      for (part <- 0 until parts) {
        val count = if (part == 0) perPart - order else perPart
        if (escaped(part)) {
          bw.bits(15, 4); bw.bits(12, 5) // raw 12-bit escape
          (0 until count).foreach { _ =>
            bw.bits(((s(i) - pred(i)) & 0xfff).toLong, 12); i += 1 }
        } else {
          bw.bits(params(part).toLong, 4)
          (0 until count).foreach { _ => rice(bw, (s(i) - pred(i)).toInt, params(part)); i += 1 }
        }
      }
    }
  }

  test("FLAC: round-trips losslessly; spec-built constant/fixed/LPC/Rice frames decode exactly; strictness rejects") {
    import FlacBuild._
    // ---- lossless round trip vs the codec encoder, and vs the WAV
    // twin of the same samples (the container-invariance the fixture
    // rotation rests on) ----
    for ((rate, ns) <- Seq((8000, 1024), (11000, 2053), (12000, 4128), (9000, 16))) {
      val samples = Array.tabulate[Short](ns)(i => ((i * 37 + rate) % 256 - 128).toShort)
      val enc = MediaCodec.encodeFlac(rate, samples)
      assert(enc.length == 53 + 2 * ns, "closed-form container size")
      MediaCodec.decode(enc) match {
        case AudioMedia(r, out) =>
          assert(r == rate && java.util.Arrays.equals(out, samples), s"flac roundtrip $rate/$ns")
        case other => fail(s"flac $rate/$ns: $other")
      }
      assert(MediaCodec.aHash64(MediaCodec.decode(enc)) ==
        MediaCodec.aHash64(MediaCodec.decode(MediaCodec.encodeWav(rate, samples))),
        "lossless: the FLAC and WAV twins must hash identically")
    }
    // ---- spec-local INDEPENDENT builder: an MSB-first bit writer and
    // hand-assembled frames exercising every decode path the fixture
    // encoder never emits (constant, fixed predictors, LPC, Rice
    // partitions + escapes, wasted bits, both blocking strategies,
    // multi-frame streams). The builder computes residuals from the
    // DESIRED samples; lossless means decode must invert exactly. ----
    // fixed-blocking stream: constant | fixed-2 | fixed-4 partitioned
    // with an escape | LPC-3 | verbatim(wasted=2) | short final frame
    val fA = Array.fill(192)(-77)
    val fB = Array.tabulate(192)(i => 40 + 3 * i - (i * i) / 64)
    val fC = Array.tabulate(192)(i => ((i * 29) % 200) - 100)
    val fD = Array.tabulate(192)(i => ((i * 17 + 5) % 160) - 80)
    val fE = Array.tabulate(192)(i => 4 * (((i * 13) % 120) - 60)) // multiples of 4: wasted=2
    val fF = Array.tabulate(48)(i => i - 24)
    val lpcCoefs = Array(3, -3, 1) // with shift 0: the order-3 fixed polynomial, as LPC
    val frames = Seq(
      frame(0, 192, variable = false) { bw =>
        bw.bit(0); bw.bits(0, 6); bw.bit(0) // CONSTANT
        bw.bits((fA(0) & 0xffff).toLong, 16)
      },
      frame(1, 192, variable = false) { bw =>
        bw.bit(0); bw.bits(10, 6); bw.bit(0) // FIXED order 2
        bw.bits((fB(0) & 0xffff).toLong, 16); bw.bits((fB(1) & 0xffff).toLong, 16)
        residual(bw, fB, 2, 0, _ => 4)
      },
      frame(2, 192, variable = false) { bw =>
        bw.bit(0); bw.bits(12, 6); bw.bit(0) // FIXED order 4, 4 partitions, one escaped
        (0 until 4).foreach(i => bw.bits((fC(i) & 0xffff).toLong, 16))
        residual(bw, fC, 4, 2, p => 3 + p, escaped = Set(2))
      },
      frame(3, 192, variable = false) { bw =>
        bw.bit(0); bw.bits(32 + 2, 6); bw.bit(0) // LPC order 3
        (0 until 3).foreach(i => bw.bits((fD(i) & 0xffff).toLong, 16))
        bw.bits(4, 4)  // precision-1 = 4 -> 5-bit coefficients
        bw.bits(0, 5)  // shift 0
        lpcCoefs.foreach(c => bw.bits((c & 0x1f).toLong, 5))
        residual(bw, fD, 3, 0, _ => 5)
      },
      frame(4, 192, variable = false) { bw =>
        bw.bit(0); bw.bits(1, 6); bw.bit(1) // VERBATIM, wasted bits
        bw.bit(0); bw.bit(1)                // unary 1 -> wasted = 2
        fE.foreach(v => bw.bits(((v / 4) & 0x3fff).toLong, 14))
      },
      frame(5, 48, variable = false) { bw =>
        bw.bit(0); bw.bits(1, 6); bw.bit(0)
        fF.foreach(v => bw.bits((v & 0xffff).toLong, 16))
      })
    val allFixed = (fA ++ fB ++ fC ++ fD ++ fE ++ fF).map(_.toShort)
    MediaCodec.decode(stream(8000, 48, 192, allFixed, frames)) match {
      case AudioMedia(8000, out) =>
        assert(java.util.Arrays.equals(out, allFixed),
          "spec-built fixed-blocking stream must decode to the exact samples")
      case other => fail(s"spec-built fixed stream: $other")
    }
    // variable-blocking stream: sample-number coding, 2nd number > 127
    // exercises the multi-byte coded-number path
    val vA = Array.tabulate(200)(i => ((i * 11) % 100) - 50)
    val vB = Array.tabulate(60)(i => ((i * 7) % 90) - 45)
    val vFrames = Seq(
      frame(0, 200, variable = true) { bw =>
        bw.bit(0); bw.bits(1, 6); bw.bit(0)
        vA.foreach(v => bw.bits((v & 0xffff).toLong, 16))
      },
      frame(200, 60, variable = true) { bw =>
        bw.bit(0); bw.bits(9, 6); bw.bit(0) // FIXED order 1
        bw.bits((vB(0) & 0xffff).toLong, 16)
        residual(bw, vB, 1, 0, _ => 4)
      })
    val allVar = (vA ++ vB).map(_.toShort)
    MediaCodec.decode(stream(9000, 60, 200, allVar, vFrames)) match {
      case AudioMedia(9000, out) =>
        assert(java.util.Arrays.equals(out, allVar),
          "variable-blocking stream must decode to the exact samples")
      case other => fail(s"spec-built variable stream: $other")
    }
    // ---- strictness: the spec's own integrity machinery must bite ----
    val base = MediaCodec.encodeFlac(8000, Array.tabulate[Short](300)(i => (i - 150).toShort))
    def flip(off: Int): Array[Byte] = { val m = base.clone(); m(off) = (m(off) ^ 1).toByte; m }
    assert(MediaCodec.decode(flip(49)).isInstanceOf[UnknownMedia], "CRC-8 mismatch must reject")
    assert(MediaCodec.decode(flip(base.length - 1)).isInstanceOf[UnknownMedia],
      "CRC-16 mismatch must reject")
    assert(MediaCodec.decode(flip(30)).isInstanceOf[UnknownMedia],
      "STREAMINFO MD5 mismatch must reject (FLAC's own lossless gate)")
    assert(MediaCodec.decode(base ++ Array[Byte](0)).isInstanceOf[UnknownMedia],
      "trailing bytes must reject")
    assert(MediaCodec.decode(base.dropRight(1)).isInstanceOf[UnknownMedia],
      "truncation must reject")
    locally { // stereo and 24-bit are out of the pipeline's audio model
      val stereo = base.clone(); stereo(20) = (stereo(20) | 0x02).toByte
      assert(MediaCodec.decode(stereo).isInstanceOf[UnknownMedia], "stereo must reject")
      val wide = base.clone(); wide(21) = ((wide(21) & 0x0f) | 0x70).toByte // bps-1 -> 7
      assert(MediaCodec.decode(wide).isInstanceOf[UnknownMedia], "8-bit must reject")
    }
    locally { // a non-STREAMINFO leading metadata block violates §8.1
      val m = base.clone(); m(4) = (0x80 | 4).toByte // VORBIS_COMMENT first
      assert(MediaCodec.decode(m).isInstanceOf[UnknownMedia], "STREAMINFO must lead")
    }
    locally { // wrong coded frame number (sequence break)
      val m = base.clone(); m(46) = 1
      assert(MediaCodec.decode(m).isInstanceOf[UnknownMedia], "frame number must be sequential")
    }
    locally { // reserved subframe type and invalid rate code
      val t = frame(0, 192, variable = false) { bw =>
        bw.bit(0); bw.bits(2, 6); bw.bit(0); bw.bits(0, 16) } // type 2 reserved
      assert(MediaCodec.decode(stream(8000, 192, 192, Array.fill[Short](192)(0), Seq(t)))
        .isInstanceOf[UnknownMedia], "reserved subframe type must reject")
      val m = base.clone(); m(44) = (m(44) | 0x0f).toByte // rate code 1111
      assert(MediaCodec.decode(m).isInstanceOf[UnknownMedia], "rate code 1111 must reject")
    }
    locally { // coded-number strictness (review r15): shortest-form
      // only, and the 7-byte form is sample-number-exclusive
      val samples = Array.fill[Short](192)(7)
      // frame 0 with its number coded OVER-LONG (2 bytes for 0)
      val overlong = frame(0, 192, variable = false) { bw =>
        bw.bit(0); bw.bits(1, 6); bw.bit(0)
        samples.foreach(v => bw.bits((v & 0xffff).toLong, 16))
      }
      // splice: replace the 1-byte number (offset 3) with C0 80, then
      // re-fix BOTH CRCs so the ONLY non-conformance is the encoding
      // (header = bytes 0..4, CRC-8 at byte 5 in the spliced layout)
      val m = overlong.take(3) ++ Array[Byte](0xc0.toByte, 0x80.toByte) ++ overlong.drop(4)
      m(5) = crc8(m.take(5)).toByte
      val c = crc16(m.dropRight(2)); m(m.length - 2) = (c >> 8).toByte; m(m.length - 1) = c.toByte
      assert(MediaCodec.decode(stream(8000, 192, 192, samples, Seq(m)))
        .isInstanceOf[UnknownMedia], "an over-long coded number must reject")
      // the 1-byte twin decodes — the reject is the encoding, not the value
      assert(!MediaCodec.decode(stream(8000, 192, 192, samples, Seq(overlong)))
        .isInstanceOf[UnknownMedia])
    }
    locally { // empty first partition at partOrder>0 violates §9.2.7:
      // LPC order 32 over blockSize 128 with partition order 2 makes
      // perPart = 32 == order, so partition 0 would hold 0 samples
      val samples = Array.tabulate[Short](128)(i => (i % 30).toShort)
      val g = frame(0, 128, variable = false) { bw =>
        bw.bit(0); bw.bits(32 + 31, 6); bw.bit(0) // LPC order 32
        (0 until 32).foreach(i => bw.bits((samples(i) & 0xffff).toLong, 16))
        bw.bits(4, 4); bw.bits(0, 5) // precision 5, shift 0
        (0 until 32).foreach(_ => bw.bits(0, 5)) // zero coefficients
        bw.bits(0, 2); bw.bits(2, 4) // residual method 0, partOrder 2
        // rejection must fire at the partition split — parts 1-3's
        // params/residuals are never read
      }
      assert(MediaCodec.decode(stream(8000, 128, 128, samples, Seq(g)))
        .isInstanceOf[UnknownMedia], "blockSize>>partOrder == order must reject (empty first partition)")
    }
    locally { // amplification bound (review r15): totalSamples=0 means
      // "unknown", which used to skip every output bound — thousands
      // of 15-byte CONSTANT frames then amplify to gigabytes and kill
      // the JVM with an OutOfMemoryError outside decode()'s totality
      // net. The decoder now carries the 2^26-sample ceiling the
      // canonical-hash path already uses.
      def constFrame(n: Long) = frame(n, 65535, variable = false) { bw =>
        bw.bit(0); bw.bits(0, 6); bw.bit(0); bw.bits(0, 16)
      }
      val nFrames = (1 << 26) / 65535 + 2 // first frame past the cap
      val frames1 = (0L until nFrames.toLong).map(constFrame)
      val hostile = stream(8000, 65535, 65535,
        Array.emptyShortArray, frames1, totalOverride = 0L, zeroMd5 = true)
      assert(MediaCodec.decode(hostile).isInstanceOf[UnknownMedia],
        "an unknown-total stream must stop at the output ceiling, not OOM")
    }
    locally { // a coded header rate that contradicts STREAMINFO
      // rebuild the fixture frame with rate code 0100 (8 kHz) against
      // a 9 kHz STREAMINFO: both fields are authoritative, so the
      // disagreement must reject
      val samples = Array.tabulate[Short](300)(i => (i % 50).toShort)
      val f = frame(0, 300, variable = false) { bw =>
        bw.bit(0); bw.bits(1, 6); bw.bit(0)
        samples.foreach(v => bw.bits((v & 0xffff).toLong, 16))
      }
      // patch the rate nibble in the built frame header (byte 2 low
      // nibble), then re-fix CRC-8/CRC-16 so ONLY the contradiction
      // differs
      val pf = f.clone()
      pf(2) = ((pf(2) & 0xf0) | 0x04).toByte
      pf(7) = crc8(pf.take(7)).toByte
      val c = crc16(pf.dropRight(2))
      pf(pf.length - 2) = (c >> 8).toByte; pf(pf.length - 1) = c.toByte
      assert(MediaCodec.decode(stream(9000, 300, 300, samples, Seq(pf)))
        .isInstanceOf[UnknownMedia], "header rate contradicting STREAMINFO must reject")
      // sanity: the unpatched twin decodes — the reject above is the
      // contradiction, not a builder artifact
      assert(!MediaCodec.decode(stream(9000, 300, 300, samples, Seq(f)))
        .isInstanceOf[UnknownMedia])
    }
  }

  test("FLAC multi-frame decode: planted sync bytes round-trip; corrupt, trailing, wrong-magic and fat-frame-bomb streams reject") {
    import FlacBuild._
    // FLAC does not byte-stuff, so the fixtures deliberately PLANT the
    // sync shape (FF F8/F9) inside entropy bytes: the decoder must walk
    // frame ends, never resynchronize on a sync pattern.
    def expectSamples(m: MediaCodec.Media): Array[Short] = m match {
      case AudioMedia(_, s) => s
      case other            => fail(s"expected audio, got $other")
    }
    for ((ns, bs) <- Seq((10000, 256), (5000, 192), (999, 65), (64, 64), (4096, 4096))) {
      // -8 encodes as FF F8 (a bare in-entropy sync); 0x7ff8/0x58ff
      // plant misaligned FF-F8 byte pairs across sample boundaries
      val samples = Array.tabulate[Short](ns)(i =>
        if (i % 97 == 0) -8 else if (i % 131 == 0) 0x7ff8.toShort
        else if (i % 173 == 0) 0x58ff.toShort else ((i * 37 + 11) % 4096 - 2048).toShort)
      val enc = MediaCodec.encodeFlac(11000, samples, blockSize = bs)
      assert(java.util.Arrays.equals(expectSamples(MediaCodec.decode(enc)), samples),
        s"multi-frame roundtrip ns=$ns bs=$bs")
    }
    // a flipped byte anywhere in the frames rejects: CRC-16 covers
    // every one of these offsets
    locally {
      val samples = Array.tabulate[Short](3000)(i => (i % 100 - 50).toShort)
      val enc = MediaCodec.encodeFlac(9000, samples, blockSize = 192)
      for (off <- Seq(50, 200, enc.length / 2, enc.length - 3)) {
        val m = enc.clone(); m(off) = (m(off) ^ 1).toByte
        assert(MediaCodec.decode(m).isInstanceOf[UnknownMedia], s"corrupt byte $off must reject")
      }
    }
    // trailing garbage and a wrong magic reject
    locally {
      val base = MediaCodec.encodeFlac(8000, Array.fill[Short](300)(0))
      assert(MediaCodec.decode(base ++ Array[Byte](0)).isInstanceOf[UnknownMedia])
      val noMagic = base.clone(); noMagic(0) = 'X'
      assert(MediaCodec.decode(noMagic).isInstanceOf[UnknownMedia],
        "a wrong magic must reject")
    }
    // sparse fat-frame bomb (review r15): valid CONSTANT frames, each
    // claiming a FAT blockSize and all numbered 0, spaced by filler —
    // the decoder must reject without an OOM
    locally {
      // hand-build a tiny constant frame claiming a FAT blockSize,
      // then repeat it under a stream() shell whose STREAMINFO
      // advertises maxBlock 65535
      val bw0 = new BW
      bw0.bits(0xff, 8); bw0.bits(0xf8, 8)
      bw0.bits(7, 4); bw0.bits(0, 4)  // 16-bit block size, rate from STREAMINFO
      bw0.bits(0, 4); bw0.bits(4, 3); bw0.bit(0)
      bw0.bits(0, 8)                  // frame number 0 (every repetition!)
      bw0.bits(65534, 16)             // blockSize 65535
      val hdr0 = bw0.bytes
      val f0 = new BW
      hdr0.foreach(x => f0.bits(x & 0xffL, 8))
      f0.bits(crc8(hdr0).toLong, 8)
      f0.bit(0); f0.bits(0, 6); f0.bit(0) // CONSTANT subframe
      f0.bits(0, 16)
      val body0 = f0.bytes
      val c0 = crc16(body0)
      val tiny = body0 ++ Array[Byte]((c0 >> 8).toByte, c0.toByte)
      val filler = Array.fill[Byte](20)(0)
      val bomb = stream(8000, 16, 65535, Array.emptyShortArray,
        Seq.fill(2200)(tiny ++ filler), totalOverride = 0L, zeroMd5 = true)
      assert(MediaCodec.decode(bomb).isInstanceOf[UnknownMedia],
        "a sparse fat-frame bomb must reject, not OOM")
    }
    // a dense sync flood ending in a truncated frame rejects, never
    // throws (review r15)
    locally {
      val syncs = Array.fill[Byte](4096)(0)
      var i = 0
      while (i + 1 < syncs.length) { syncs(i) = 0xff.toByte; syncs(i + 1) = 0xf8.toByte; i += 2 }
      val flood = stream(8000, 16, 65535, Array.emptyShortArray,
        Seq(syncs), totalOverride = 0L, zeroMd5 = true)
      assert(MediaCodec.decode(flood).isInstanceOf[UnknownMedia],
        "a dense sync flood must reject, not escape an exception")
    }
    // the multi-frame encoder fails loudly past its coded-number range
    intercept[IllegalArgumentException] {
      MediaCodec.encodeFlac(8000, new Array[Short](16 * 65536 + 1), blockSize = 16)
    }
  }

  /** Spec-local GIF machinery: a REAL LZW compressor (the codec's
    * encoder is deliberately literal-only, so the decoder's
    * code-growth / KwKwK / deferred-clear paths need independently
    * built streams) and a knobbed container assembler for the
    * adversarial shapes. The compressor's code-size rule is derived
    * from the decoder's: the encoder's table runs one entry AHEAD of
    * the decoder's, so it widens at next == (1<<codeSize)+1 where
    * the decoder widens at (1<<codeSize). */
  private object GifBuild {
    def lzw(pixels: Array[Byte], mcs: Int, deferFor: Int = 0): Array[Byte] = {
      val clear = 1 << mcs; val eoi = clear + 1
      val out = new java.io.ByteArrayOutputStream()
      var acc = 0L; var nbits = 0
      var codeSize = mcs + 1
      def emit(c: Int): Unit = {
        acc |= c.toLong << nbits; nbits += codeSize
        while (nbits >= 8) { out.write((acc & 0xff).toInt); acc >>= 8; nbits -= 8 }
      }
      val dict = scala.collection.mutable.Map[List[Byte], Int]()
      var next = eoi + 1
      var deferred = 0
      def codeOf(s: List[Byte]): Int = if (s.tail.isEmpty) s.head & 0xff else dict(s)
      emit(clear)
      var cur: List[Byte] = Nil // reversed current string
      pixels.foreach { px =>
        if (cur.isEmpty) cur = px :: Nil
        else {
          val ext = px :: cur
          if (dict.contains(ext)) cur = ext
          else if (next >= 4096) {
            emit(codeOf(cur))
            if (deferred < deferFor) deferred += 1 // deferred clear: emit at 12 bits, add nothing
            else { emit(clear); dict.clear(); next = eoi + 1; codeSize = mcs + 1; deferred = 0 }
            cur = px :: Nil
          } else {
            emit(codeOf(cur))
            dict(ext) = next; next += 1
            if (next == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
            cur = px :: Nil
          }
        }
      }
      if (cur.nonEmpty) emit(codeOf(cur))
      emit(eoi)
      if (nbits > 0) out.write((acc & 0xff).toInt)
      out.toByteArray
    }

    class GB {
      private val o = new java.io.ByteArrayOutputStream()
      def b(v: Int): Unit = o.write(v & 0xff)
      def u16(v: Int): Unit = { o.write(v & 0xff); o.write((v >> 8) & 0xff) }
      def raw(a: Array[Byte]): Unit = o.write(a, 0, a.length)
      def subBlocks(data: Array[Byte]): Unit = {
        var off = 0
        while (off < data.length) {
          val k = math.min(255, data.length - off)
          b(k); o.write(data, off, k); off += k
        }
        b(0)
      }
      def bytes: Array[Byte] = o.toByteArray
    }
    def header(g: GB, sw: Int, sh: Int, gct: Array[Byte], field: Int,
               version: String = "89a"): Unit = {
      g.raw(s"GIF$version".getBytes("US-ASCII")); g.u16(sw); g.u16(sh)
      g.b(if (gct != null) 0x80 | field else 0x00); g.b(0); g.b(0)
      if (gct != null) g.raw(gct)
    }
    def gce(g: GB, flags: Int, tIdx: Int): Unit = {
      g.b(0x21); g.b(0xf9); g.b(4); g.b(flags); g.u16(0); g.b(tIdx); g.b(0)
    }
    def image(g: GB, left: Int, top: Int, iw: Int, ih: Int, mcs: Int,
              data: Array[Byte], interlace: Boolean = false,
              lct: Array[Byte] = null, lctField: Int = 0): Unit = {
      g.b(0x2c); g.u16(left); g.u16(top); g.u16(iw); g.u16(ih)
      g.b((if (lct != null) 0x80 | lctField else 0) | (if (interlace) 0x40 else 0))
      if (lct != null) g.raw(lct)
      g.b(mcs); g.subBlocks(data)
    }
    /** one-call assembler for the common single-image shape */
    def simple(sw: Int, sh: Int, gct: Array[Byte], field: Int, mcs: Int,
               pixels: Array[Byte], deferFor: Int = 0,
               interlace: Boolean = false, version: String = "89a",
               gceFlags: Int = -1, tIdx: Int = 0): Array[Byte] = {
      val g = new GB
      header(g, sw, sh, gct, field, version)
      if (gceFlags >= 0) gce(g, gceFlags, tIdx)
      image(g, 0, 0, sw, sh, mcs, lzw(pixels, mcs, deferFor), interlace)
      g.b(0x3b)
      g.bytes
    }
  }

  test("GIF: real LZW decodes — code growth, KwKwK, deferred clear, interlace, LCT, transparency; ≡ independent parser") {
    import GifBuild._
    val gct256 = Multimodal.palettePlte
    def expectRgb(pixels: Array[Byte], pal: Array[Byte], transparent: Int = -1): Array[Byte] =
      pixels.flatMap { p =>
        val v = p & 0xff
        if (v == transparent) Array[Byte](-1, -1, -1)
        else Array(pal(3 * v), pal(3 * v + 1), pal(3 * v + 2))
      }
    def check(bytes: Array[Byte], w: Int, h: Int, want: Array[Byte], tag: String): Unit = {
      MediaCodec.decode(bytes) match {
        case MediaCodec.ImageMedia(dw, dh, fmt, rgb) =>
          assert(dw == w && dh == h && fmt == "gif", tag)
          assert(java.util.Arrays.equals(rgb, want), s"$tag pixels")
        case other => fail(s"$tag: $other")
      }
      val (rw, rh, rrgb) = Ref.gif(bytes)
      assert(rw == w && rh == h && java.util.Arrays.equals(rrgb, want),
        s"$tag: independent parser disagrees")
    }

    // ---- codec encoder round trip vs the palette-PNG twin: same
    // index raster, same 256-entry table ⇒ identical ImageMedia and
    // identical downstream hash; the container size is closed-form ----
    for ((w, h) <- Seq((8, 8), (23, 17), (64, 9), (1, 1), (255, 3))) {
      val idx = Array.tabulate[Byte](w * h)(i => ((i * 31 + w) % 256).toByte)
      val gifB = MediaCodec.encodeGif(w, h, idx, gct256)
      val n = w * h; val groups = (n + 253) / 254
      val bBytes = (9 * (n + groups + 1) + 7) / 8
      assert(gifB.length == 794 + bBytes + (bBytes + 254) / 255,
        s"closed-form container size $w x $h")
      val want = expectRgb(idx, gct256)
      check(gifB, w, h, want, s"roundtrip $w x $h")
      val png = MediaCodec.decode(MediaCodec.encodePalettePng(w, h, idx, gct256))
      assert(MediaCodec.aHash64(MediaCodec.decode(gifB)) == MediaCodec.aHash64(png),
        "gif and palette-png twins must hash identically")
      // interlaced twin: same byte count (literal-only LZW is
      // row-permutation-invariant), same decoded pixels
      val inter = MediaCodec.encodeGif(w, h, idx, gct256, interlaced = true)
      assert(inter.length == gifB.length, "interlace is size-invariant")
      check(inter, w, h, want, s"interlaced $w x $h")
      // comment twin (r18): 4 + len extra bytes, decoded pixels
      // UNCHANGED — a decoder must skip a comment, never reject it
      val com = MediaCodec.encodeGif(w, h, idx, gct256, comment = "hello gif")
      assert(com.length == gifB.length + 4 + 9, "comment extension size closed form")
      check(com, w, h, want, s"comment $w x $h")
    }

    // ---- extension SKIP hardening (r18): real GIFs carry comment /
    // plain-text / application extensions; the decoder's generic
    // sub-block walk must skip ALL of them — splice each between the
    // color table and the image data and the decode must not change ----
    locally {
      val (w, h) = (11, 7)
      val idx = Array.tabulate[Byte](w * h)(i => ((i * 13 + 5) % 256).toByte)
      val base = MediaCodec.encodeGif(w, h, idx, gct256)
      val want = expectRgb(idx, gct256)
      val at = 13 + 768 // header 6 + LSD 7 + GCT: splice point
      // plain-text extension (GIF89a §25): label 0x01, a 12-byte
      // header sub-block, text sub-blocks, terminator
      val plainText = Array[Int](0x21, 0x01, 12, 0,0, 0,0, 40,0, 20,0, 8, 8, 0, 0,
        5, 'g','r','a','f','t', 0).map(_.toByte)
      // application extension (§26): label 0xFF, 11-byte app block,
      // data sub-blocks, terminator (the NETSCAPE loop shape)
      val app = (Array[Int](0x21, 0xff, 11) ++
        "NETSCAPE2.0".getBytes("US-ASCII").map(_.toInt) ++
        Array[Int](3, 1, 0, 0, 0)).map(_.toByte)
      // a comment with MULTIPLE sub-blocks (the walk must chain them)
      val multiComment = (Array[Int](0x21, 0xfe, 3) ++ "abc".getBytes("US-ASCII").map(_.toInt) ++
        Array[Int](2) ++ "de".getBytes("US-ASCII").map(_.toInt) ++ Array[Int](0)).map(_.toByte)
      Seq(("plain-text", plainText), ("application", app),
          ("multi-subblock comment", multiComment)).foreach { case (tag, ext) =>
        val spliced = base.take(at) ++ ext ++ base.drop(at)
        check(spliced, w, h, want, s"spliced $tag extension")
      }
      // all three at once, in sequence
      val allThree = base.take(at) ++ plainText ++ app ++ multiComment ++ base.drop(at)
      check(allThree, w, h, want, "all three extensions chained")
    }

    // ---- REAL compression: a run-heavy raster drives dictionary
    // growth through the 512/1024/2048 code-size boundaries; a long
    // constant run is the KwKwK shape by construction ----
    locally {
      val w = 100; val h = 100
      val px = Array.tabulate[Byte](w * h)(i =>
        if ((i / 7) % 3 == 0) (i % 11).toByte else ((i * 131 + i / 400) % 256).toByte)
      val data = lzw(px, 8)
      val literalBytes = (9 * (w * h + (w * h + 253) / 254 + 1) + 7) / 8
      assert(data.length < literalBytes / 2,
        s"the compressor must actually compress (got ${data.length} vs literal $literalBytes) — otherwise code growth never runs")
      check(simple(w, h, gct256, 7, 8, px), w, h, expectRgb(px, gct256), "compressed 100x100")
      // interlaced + compressed (row permutation changes the stream)
      val g = new GB
      header(g, w, h, gct256, 7)
      val order = Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap { case (s0, st) =>
        Iterator.iterate(s0)(_ + st).takeWhile(_ < h) }
      val permuted = order.flatMap(y => px.slice(y * w, y * w + w)).toArray
      image(g, 0, 0, w, h, 8, lzw(permuted, 8), interlace = true)
      g.b(0x3b)
      check(g.bytes, w, h, expectRgb(px, gct256), "compressed interlaced")
    }
    locally { // constant raster: back-to-back KwKwK codes
      val px = Array.fill[Byte](40 * 30)(7)
      check(simple(40, 30, gct256, 7, 8, px), 40, 30, expectRgb(px, gct256), "KwKwK run")
    }

    // ---- table exhaustion: a high-novelty raster fills all 4096
    // entries; clear-at-full and deferred-clear variants must both
    // decode, and the stream must really have hit the boundary ----
    locally {
      val w = 160; val h = 160
      var s = 12345
      val px = Array.tabulate[Byte](w * h) { _ =>
        s = s * 1103515245 + 12345; ((s >>> 16) & 0xff).toByte
      }
      check(simple(w, h, gct256, 7, 8, px), w, h, expectRgb(px, gct256), "clear-at-full")
      check(simple(w, h, gct256, 7, 8, px, deferFor = 700), w, h,
        expectRgb(px, gct256), "deferred clear")
      assert(lzw(px, 8).length != lzw(px, 8, deferFor = 700).length,
        "the two full-table strategies must produce different streams (else the defer knob is dead)")
    }

    // ---- small palette at mcs 2 (the spec minimum), GIF87a shell ----
    locally {
      val pal4 = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
      val px = Array.tabulate[Byte](9 * 5)(i => (i % 4).toByte)
      check(simple(9, 5, pal4, 1, 2, px, version = "87a"), 9, 5, expectRgb(px, pal4), "mcs2 87a")
    }

    // ---- a local color table overrides the GCT ----
    locally {
      val wrongGct = Array.fill[Byte](768)(1)
      val g = new GB
      header(g, 6, 4, wrongGct, 7)
      val px = Array.tabulate[Byte](24)(i => (i * 9).toByte)
      image(g, 0, 0, 6, 4, 8, lzw(px, 8), lct = gct256, lctField = 7)
      g.b(0x3b)
      check(g.bytes, 6, 4, expectRgb(px, gct256), "LCT override")
    }

    // ---- transparency: GCE-flagged index composites to WHITE — and
    // must agree bit-for-bit with an alpha-PNG twin whose a=0 pixels
    // sit at the same positions (the cross-format alpha contract) ----
    locally {
      val w = 12; val h = 7
      val px = Array.tabulate[Byte](w * h)(i => (i % 5).toByte)
      val bytes = simple(w, h, gct256, 7, 8, px, gceFlags = 1, tIdx = 3)
      check(bytes, w, h, expectRgb(px, gct256, transparent = 3), "transparency")
      val rgba = Array.tabulate[Byte](4 * w * h) { j =>
        val i = j / 4
        val v = px(i) & 0xff
        (j % 4) match {
          case 3 => if (v == 3) 0 else -1 // alpha: 0 at the transparent index, 255 elsewhere
          case c => gct256(3 * v + c)
        }
      }
      val pngTwin = MediaCodec.decode(MediaCodec.encodeAlphaPng(w, h, rgba))
      val gifRgb = MediaCodec.decode(bytes).asInstanceOf[MediaCodec.ImageMedia].rgb
      assert(java.util.Arrays.equals(gifRgb,
        pngTwin.asInstanceOf[MediaCodec.ImageMedia].rgb),
        "GIF transparency and PNG alpha must share the white-composite contract")
      // a GCE with the transparency flag OFF leaves the index opaque
      check(simple(w, h, gct256, 7, 8, px, gceFlags = 0, tIdx = 3), w, h,
        expectRgb(px, gct256), "gce without transparency flag")
    }

    // ---- comment / application extensions skip; a stream with no
    // lead clear code decodes (the spec says SHOULD, not MUST) ----
    locally {
      val g = new GB
      header(g, 2, 1, gct256, 7)
      g.b(0x21); g.b(0xfe); g.subBlocks("a comment".getBytes("US-ASCII"))
      g.b(0x21); g.b(0xff); g.subBlocks("NETSCAPE2.0".getBytes("US-ASCII"))
      // hand-packed 9-bit codes [5, 9, EOI] — no lead clear
      val d = new java.io.ByteArrayOutputStream()
      var acc = 0L; var nb = 0
      Seq(5, 9, 257).foreach { c =>
        acc |= c.toLong << nb; nb += 9
        while (nb >= 8) { d.write((acc & 0xff).toInt); acc >>= 8; nb -= 8 }
      }
      if (nb > 0) d.write((acc & 0xff).toInt)
      image(g, 0, 0, 2, 1, 8, d.toByteArray)
      g.b(0x3b)
      check(g.bytes, 2, 1, expectRgb(Array[Byte](5, 9), gct256), "no lead clear + extensions")
    }
  }

  test("GIF strictness: undefined disposal, out-of-bounds boxes, LZW malformations and trailing bytes reject") {
    import GifBuild._
    val gct256 = Multimodal.palettePlte
    def rejects(bytes: Array[Byte], tag: String): Unit =
      assert(MediaCodec.decode(bytes).isInstanceOf[MediaCodec.UnknownMedia], tag)
    val px = Array.tabulate[Byte](6 * 4)(i => (i * 3).toByte)
    val good = simple(6, 4, gct256, 7, 8, px)
    assert(MediaCodec.decode(good).isInstanceOf[MediaCodec.ImageMedia], "baseline sanity")

    // disposal 4..7 are undefined by GIF89a §23 — reject at the GCE
    // (disposal 2/3 are REAL semantics since r16's box composition —
    // covered in their own test below)
    for (disposal <- Seq(4, 5, 6, 7)) {
      val g = new GB
      header(g, 6, 4, gct256, 7)
      gce(g, disposal << 2, 0)
      image(g, 0, 0, 6, 4, 8, lzw(px, 8))
      image(g, 0, 0, 6, 4, 8, lzw(px, 8))
      g.b(0x3b)
      rejects(g.bytes, s"undefined disposal $disposal")
    }
    // disposal on the LAST frame is render-irrelevant: accept 2 there
    locally {
      val g = new GB
      header(g, 6, 4, gct256, 7)
      image(g, 0, 0, 6, 4, 8, lzw(px, 8))
      gce(g, 2 << 2, 0)
      image(g, 0, 0, 6, 4, 8, lzw(px, 8))
      g.b(0x3b)
      assert(MediaCodec.decode(g.bytes).isInstanceOf[MediaCodec.VideoMedia],
        "disposal on the last frame is render-irrelevant")
    }
    // a frame after the animation output ceiling (2^28 decoded plane
    // bytes) rejects BEFORE its parse: 560 copies of one
    // constant-color 400x400 frame (~1 KB each compressed) would
    // inflate past the ceiling
    locally {
      val w = 400; val h = 400
      val frameData = lzw(Array.fill[Byte](w * h)(3), 8)
      val g = new GB
      header(g, w, h, gct256, 7)
      var f = 0
      while (f < 560) { image(g, 0, 0, w, h, 8, frameData); f += 1 }
      g.b(0x3b)
      rejects(g.bytes, "animation output ceiling")
    }
    // sub-screen placement is composed since r16, but the box must
    // FIT the logical screen
    locally {
      val g = new GB
      header(g, 6, 4, gct256, 7)
      image(g, 3, 0, 5, 4, 8, lzw(px.take(20), 8))
      g.b(0x3b)
      rejects(g.bytes, "box past the right edge")
    }
    locally {
      val g = new GB
      header(g, 6, 4, gct256, 7)
      image(g, 0, 2, 6, 3, 8, lzw(px.take(18), 8))
      g.b(0x3b)
      rejects(g.bytes, "box past the bottom edge")
    }
    // no color table anywhere
    locally {
      val g = new GB
      header(g, 6, 4, null, 0)
      image(g, 0, 0, 6, 4, 8, lzw(px, 8))
      g.b(0x3b)
      rejects(g.bytes, "no palette")
    }
    // a literal beyond the palette: mcs 3 makes literals 0..7 legal
    // LZW but entries 4..7 point past a 4-entry table
    locally {
      val pal4 = Array.fill[Byte](12)(9)
      val bad = Array.tabulate[Byte](8)(i => (i % 6).toByte) // index 5 > 3
      rejects(simple(8, 1, pal4, 1, 3, bad), "index past palette")
    }
    // LZW malformations, hand-packed at 9 bits
    def packed(codes: Seq[Int]): Array[Byte] = {
      val d = new java.io.ByteArrayOutputStream()
      var acc = 0L; var nb = 0
      codes.foreach { c =>
        acc |= c.toLong << nb; nb += 9
        while (nb >= 8) { d.write((acc & 0xff).toInt); acc >>= 8; nb -= 8 }
      }
      if (nb > 0) d.write((acc & 0xff).toInt)
      d.toByteArray
    }
    def withData(codes: Seq[Int], w: Int = 2, h: Int = 1): Array[Byte] = {
      val g = new GB
      header(g, w, h, gct256, 7)
      image(g, 0, 0, w, h, 8, packed(codes))
      g.b(0x3b)
      g.bytes
    }
    rejects(withData(Seq(256, 0, 300, 257)), "code beyond the table")
    rejects(withData(Seq(256, 258, 1, 257)), "first code after clear not literal")
    rejects(withData(Seq(256, 0, 1, 2, 257)), "pixels overflow the raster")
    rejects(withData(Seq(256, 0, 257)), "pixels short of the raster")
    rejects(withData(Seq(256, 0, 1)), "missing EOI")
    rejects(withData(Seq(256, 0, 1, 257, 0, 0, 0)), "data bytes after EOI")
    // container malformations
    rejects(good ++ Array[Byte](0), "trailing byte after trailer")
    rejects(good.dropRight(1), "missing trailer")
    rejects(good.take(40), "truncated mid-GCT")
    locally { // stray byte between blocks
      val g = new GB
      header(g, 6, 4, gct256, 7)
      g.b(0x00)
      image(g, 0, 0, 6, 4, 8, lzw(px, 8))
      g.b(0x3b)
      rejects(g.bytes, "stray zero byte between blocks")
    }
    locally { // GCE with a wrong block size
      val g = new GB
      header(g, 6, 4, gct256, 7)
      g.b(0x21); g.b(0xf9); g.b(5); g.raw(Array[Byte](0, 0, 0, 0, 0)); g.b(0)
      image(g, 0, 0, 6, 4, 8, lzw(px, 8))
      g.b(0x3b)
      rejects(g.bytes, "gce block size 5")
    }
    locally { // two GCEs before one image
      val g = new GB
      header(g, 6, 4, gct256, 7)
      gce(g, 1, 2); gce(g, 1, 3)
      image(g, 0, 0, 6, 4, 8, lzw(px, 8))
      g.b(0x3b)
      rejects(g.bytes, "double gce")
    }
    // header-level: zero dims, raster past Int, bad LZW min code size
    locally {
      val g = new GB
      header(g, 0, 4, gct256, 7)
      rejects(g.bytes, "zero width")
    }
    locally {
      val g = new GB
      header(g, 65535, 65535, gct256, 7) // 3·w·h > Int.MaxValue
      rejects(g.bytes, "raster bound")
    }
    for (mcs <- Seq(1, 9, 12)) {
      val g = new GB
      header(g, 2, 1, gct256, 7)
      g.b(0x2c); g.u16(0); g.u16(0); g.u16(2); g.u16(1); g.b(0)
      g.b(mcs); g.subBlocks(packed(Seq(256, 0, 1, 257)))
      g.b(0x3b)
      rejects(g.bytes, s"lzw min code size $mcs")
    }
    // the encoder's own guards
    intercept[IllegalArgumentException] {
      MediaCodec.encodeGif(2, 1, Array[Byte](0, 1, 2), gct256)
    }
    intercept[IllegalArgumentException] {
      MediaCodec.encodeGif(2, 1, Array[Byte](0, 1), gct256.take(765))
    }
  }

  test("GIF box composition: sub-screen frames paint the canvas; disposal 2/3 restore; interlace de-scatters within the box") {
    import GifBuild._
    val gct256 = Multimodal.palettePlte
    def rgbOf(v: Int): Array[Byte] =
      Array(gct256(3 * v), gct256(3 * v + 1), gct256(3 * v + 2))
    val W: Array[Byte] = Array(-1, -1, -1) // the white canvas base (a=0 contract)
    // independent recompute of the published fixed-point BT.601 over a
    // composed RGB canvas (the animated-GIF test's helper, RGB-direct)
    def yuvOfRgb(rgb: Array[Byte]): Array[Byte] = {
      val n = rgb.length / 3
      val out = new Array[Byte](3 * n)
      for (i <- 0 until n) {
        val r = rgb(3 * i) & 0xff; val g = rgb(3 * i + 1) & 0xff; val bl = rgb(3 * i + 2) & 0xff
        val y = (19595 * r + 38470 * g + 7471 * bl + 32768) >> 16
        val cb = 128 + ((-11059 * r - 21709 * g + 32768 * bl + 32768) >> 16)
        val cr = 128 + ((32768 * r - 27439 * g - 5329 * bl + 32768) >> 16)
        out(i) = math.min(255, math.max(0, y)).toByte
        out(n + i) = math.min(255, math.max(0, cb)).toByte
        out(2 * n + i) = math.min(255, math.max(0, cr)).toByte
      }
      out
    }

    // ---- a single sub-screen image composes onto the white base and
    // reports SCREEN dims ----
    locally {
      val g = new GB
      header(g, 4, 2, gct256, 7)
      image(g, 1, 1, 2, 1, 8, lzw(Array[Byte](5, 6), 8))
      g.b(0x3b)
      MediaCodec.decode(g.bytes) match {
        case MediaCodec.ImageMedia(w, h, fmt, rgb) =>
          assert(w == 4 && h == 2 && fmt == "gif")
          val want = Array.concat(W, W, W, W, W, rgbOf(5), rgbOf(6), W)
          assert(java.util.Arrays.equals(rgb, want),
            "offset single image must sit in a white canvas at screen dims")
        case other => fail(s"$other")
      }
    }

    // ---- animation on a 3×1 screen: full base, a disposal-2 box, a
    // disposal-3 box, then an all-transparent full frame. Each emitted
    // frame is the canvas AFTER its paint; each disposal decides what
    // the NEXT frame composites against:
    //   F1 paints [1 2 3]              → emit [1 2 3]
    //   F2 paints box@1 (7)            → emit [1 7 3]; disposal 2 clears the box → canvas [1 W 3]
    //   F3 paints box@0 (9)            → emit [9 W 3]; disposal 3 restores       → canvas [1 W 3]
    //   F4 all-transparent             → emit [1 W 3]
    locally {
      val g = new GB
      header(g, 3, 1, gct256, 7)
      image(g, 0, 0, 3, 1, 8, lzw(Array[Byte](1, 2, 3), 8))
      gce(g, 2 << 2, 0)
      image(g, 1, 0, 1, 1, 8, lzw(Array[Byte](7), 8))
      gce(g, 3 << 2, 0)
      image(g, 0, 0, 1, 1, 8, lzw(Array[Byte](9), 8))
      gce(g, 1, 0) // transparency flag, index 0
      image(g, 0, 0, 3, 1, 8, lzw(Array[Byte](0, 0, 0), 8))
      g.b(0x3b)
      val want = Seq(
        Array.concat(rgbOf(1), rgbOf(2), rgbOf(3)),
        Array.concat(rgbOf(1), rgbOf(7), rgbOf(3)),
        Array.concat(rgbOf(9), W, rgbOf(3)),
        Array.concat(rgbOf(1), W, rgbOf(3)))
      MediaCodec.decode(g.bytes) match {
        case MediaCodec.VideoMedia(w, h, frames) =>
          assert(w == 3 && h == 1 && frames.length == 4)
          want.zipWithIndex.foreach { case (rgb, i) =>
            assert(java.util.Arrays.equals(frames(i), yuvOfRgb(rgb)), s"frame $i")
          }
        case other => fail(s"$other")
      }
    }

    // ---- an interlaced sub-screen box de-scatters WITHIN the box:
    // 2×5 box at (1,1) on 4×7; pass order for h=5 is rows 0,4,2,1,3 ----
    locally {
      val boxW = 2; val boxH = 5
      val box = Array.tabulate[Byte](boxW * boxH)(i => ((i * 3 + 11) % 256).toByte)
      val order = Seq(0, 4, 2, 1, 3)
      val permuted = order.flatMap(y => box.slice(y * boxW, y * boxW + boxW)).toArray
      val g = new GB
      header(g, 4, 7, gct256, 7)
      image(g, 1, 1, boxW, boxH, 8, lzw(permuted, 8), interlace = true)
      g.b(0x3b)
      MediaCodec.decode(g.bytes) match {
        case MediaCodec.ImageMedia(w, h, _, rgb) =>
          assert(w == 4 && h == 7)
          for (y <- 0 until 7; x <- 0 until 4) {
            val d = (y * 4 + x) * 3
            val exp: Array[Byte] =
              if (y >= 1 && y < 6 && x >= 1 && x < 3)
                rgbOf(box((y - 1) * boxW + (x - 1)) & 0xff)
              else W
            assert(rgb(d) == exp(0) && rgb(d + 1) == exp(1) && rgb(d + 2) == exp(2),
              s"pixel ($x,$y)")
          }
        case other => fail(s"$other")
      }
    }
  }

  test("animated GIF: full-frame replace decodes to VideoMedia ≡ the Y4M twin; transparency shows the previous frame") {
    import GifBuild._
    val gct256 = Multimodal.palettePlte
    val w = 11; val h = 6
    // independent recompute of the decoder's contract: palette lookup
    // then the SAME published fixed-point BT.601 (coefficients from
    // ITU-T T.871 §7 scaled by 65536), planar C444
    def yuvPlanes(pixels: Array[Byte], pal: Array[Byte],
                  resolve: Int => Array[Byte]): Array[Byte] = {
      val n = pixels.length
      val out = new Array[Byte](3 * n)
      for (i <- 0 until n) {
        val Array(r0, g0, b0) = resolve(i)
        val r = r0 & 0xff; val g = g0 & 0xff; val bl = b0 & 0xff
        val y = (19595 * r + 38470 * g + 7471 * bl + 32768) >> 16
        val cb = 128 + ((-11059 * r - 21709 * g + 32768 * bl + 32768) >> 16)
        val cr = 128 + ((32768 * r - 27439 * g - 5329 * bl + 32768) >> 16)
        out(i) = math.min(255, math.max(0, y)).toByte
        out(n + i) = math.min(255, math.max(0, cb)).toByte
        out(2 * n + i) = math.min(255, math.max(0, cr)).toByte
      }
      out
    }
    def palRgb(pal: Array[Byte])(v: Int): Array[Byte] =
      Array(pal(3 * v), pal(3 * v + 1), pal(3 * v + 2))

    // ---- three frames, the middle one interlaced, the third through
    // a local color table — decoded planes must equal the per-frame
    // recompute, and the whole animation must hash identically to the
    // Y4M twin built from those exact planes ----
    val f1 = Array.tabulate[Byte](w * h)(i => ((i * 13 + 1) % 256).toByte)
    val f2 = Array.tabulate[Byte](w * h)(i => ((i * 29 + 7) % 256).toByte)
    val f3 = Array.tabulate[Byte](w * h)(i => ((i * 5 + 99) % 256).toByte)
    val lct = Array.tabulate[Byte](768)(j => ((j * 11 + 4) % 256).toByte)
    val g = new GB
    header(g, w, h, gct256, 7)
    image(g, 0, 0, w, h, 8, lzw(f1, 8))
    gce(g, 1 << 2, 0) // disposal 1 (do not dispose), no transparency
    locally { // interlaced middle frame: permute rows into pass order
      val order = Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap { case (s0, st) =>
        Iterator.iterate(s0)(_ + st).takeWhile(_ < h) }
      val permuted = order.flatMap(y => f2.slice(y * w, y * w + w)).toArray
      image(g, 0, 0, w, h, 8, lzw(permuted, 8), interlace = true)
    }
    image(g, 0, 0, w, h, 8, lzw(f3, 8), lct = lct, lctField = 7)
    g.b(0x3b)
    val want = Array(
      yuvPlanes(f1, gct256, i => palRgb(gct256)(f1(i) & 0xff)),
      yuvPlanes(f2, gct256, i => palRgb(gct256)(f2(i) & 0xff)),
      yuvPlanes(f3, lct, i => palRgb(lct)(f3(i) & 0xff)))
    val decoded = MediaCodec.decode(g.bytes) match {
      case v @ MediaCodec.VideoMedia(dw, dh, frames) =>
        assert(dw == w && dh == h && frames.length == 3)
        frames.zip(want).zipWithIndex.foreach { case ((got, exp), i) =>
          assert(java.util.Arrays.equals(got, exp), s"frame $i planes")
        }
        v
      case other => fail(s"animated gif decoded to $other")
    }
    val y4mTwin = MediaCodec.decode(MediaCodec.encodeY4m(w, h, want))
    assert(MediaCodec.aHash64(decoded) == MediaCodec.aHash64(y4mTwin),
      "the animation and its Y4M twin must hash identically")
    assert(java.util.Arrays.equals(MediaCodec.contentUnits(decoded),
      MediaCodec.contentUnits(y4mTwin)), "content units must agree with the twin")

    // ---- transparency in a later frame shows the COMPOSITED
    // previous frame (replace semantics' only cross-frame state);
    // the composite then feeds frame 3's transparency transitively ----
    locally {
      val base = Array.tabulate[Byte](w * h)(i => (i % 7).toByte)
      val over = Array.tabulate[Byte](w * h)(i => if (i % 3 == 0) 9 else (i % 5).toByte)
      val g2 = new GB
      header(g2, w, h, gct256, 7)
      image(g2, 0, 0, w, h, 8, lzw(base, 8))
      gce(g2, 1, 9) // transparency flag, index 9
      image(g2, 0, 0, w, h, 8, lzw(over, 8))
      g2.b(0x3b)
      val expFrame2 = Array.tabulate[Byte](w * h)(i =>
        if ((over(i) & 0xff) == 9) base(i) else over(i))
      val exp = Array(
        yuvPlanes(base, gct256, i => palRgb(gct256)(base(i) & 0xff)),
        yuvPlanes(expFrame2, gct256, i => palRgb(gct256)(expFrame2(i) & 0xff)))
      MediaCodec.decode(g2.bytes) match {
        case MediaCodec.VideoMedia(_, _, frames) =>
          assert(frames.length == 2)
          assert(java.util.Arrays.equals(frames(0), exp(0)), "base frame")
          assert(java.util.Arrays.equals(frames(1), exp(1)),
            "transparent pixels must show the previous frame")
        case other => fail(s"$other")
      }
    }

    // ---- downstream operators consume the animation generically:
    // frame sampling sees nfr parsed frames, resize re-encodes Y4M
    // (now color-correct: the planes ARE Y/Cb/Cr) ----
    locally {
      val media = MediaCodec.decode(g.bytes).asInstanceOf[MediaCodec.VideoMedia]
      assert(media.frames.length == 3 && media.frames.forall(_.length == 3 * w * h))
      // the lake's describe kernel reports the CONTAINER for video
      // media (review r15): an animated gif must not masquerade as
      // y4m now that y4m is not the only video container
      import spark.implicits._
      val row = Multimodal.decodeAll(
        spark.createDataset(Seq(Multimodal.MediaRow(1L, "image", g.bytes)))).collect().head
      assert(row.format == "gif" && row.n_frames == 3 && row.width == w && row.height == h,
        s"describe must report the gif container: $row")
      // gray content maps to Y=v, Cb=Cr=128 exactly (the shared
      // fixed-point rows sum 65536/0/0) — the invariant that makes
      // a grayscale animation's Y plane equal its palette values
      val grayPal = Array.tabulate[Byte](768)(j => (j / 3).toByte)
      val gpx = Array.tabulate[Byte](w * h)(i => ((i * 3) % 256).toByte)
      val g3 = new GB
      header(g3, w, h, grayPal, 7)
      image(g3, 0, 0, w, h, 8, lzw(gpx, 8))
      image(g3, 0, 0, w, h, 8, lzw(gpx, 8))
      g3.b(0x3b)
      MediaCodec.decode(g3.bytes) match {
        case MediaCodec.VideoMedia(_, _, frames) =>
          assert(frames(0).slice(0, w * h).sameElements(gpx), "gray Y plane = palette value")
          assert(frames(0).drop(w * h).forall(_ == -128), "gray chroma = 128 exactly")
        case other => fail(s"$other")
      }
    }
  }

  test("progressive JPEG: decode ≡ baseline decode of the same raster across profiles, dims and restarts") {
    // The decisive parity property: the progressive encoder shares
    // the baseline's color transform, FDCT and all-ones quantizer, so
    // the QUANTIZED COEFFICIENTS are identical — only their entropy
    // organization (Annex G's spectral-selection + successive-
    // approximation scans) differs. A correct progressive decoder
    // must therefore reproduce the baseline decode BIT-FOR-BIT on any
    // raster — every DC/AC first/refine path, EOBn run, ZRL-in-
    // refinement, band split, padded-vs-non-interleaved grid and
    // per-scan restart is inside this equality.
    val rnd = new scala.util.Random(31)
    for {
      (w, h) <- Seq((16, 16), (24, 24), (48, 32), (17, 9), (8, 8), (40, 24), (30, 20))
      profile <- Seq("gray", "444", "420")
      if profile != "420" || (w % 2 == 0 && h % 2 == 0)
      ri <- Seq(0, 2)
    } {
      val rgb = Array.fill[Byte](3 * w * h)(rnd.nextInt(256).toByte)
      val base = MediaCodec.encodeJpeg(w, h, rgb, profile, ri)
      val prog = MediaCodec.encodeJpegProgressive(w, h, rgb, profile, ri)
      val want = MediaCodec.decode(base) match {
        case ImageMedia(`w`, `h`, _, px) => px
        case other                       => fail(s"baseline $profile ${w}x$h ri=$ri: $other")
      }
      MediaCodec.decode(prog) match {
        case ImageMedia(`w`, `h`, "jpg", px) =>
          assert(java.util.Arrays.equals(px, want),
            s"$profile ${w}x$h ri=$ri: progressive decode must equal baseline bit-for-bit")
        case other => fail(s"progressive $profile ${w}x$h ri=$ri decoded to $other")
      }
      // the profile walk reports sampling + the progressive suffix
      val wantProfile = (if (profile == "gray") "gray" else profile) + "p"
      assert(MediaCodec.jpegProfile(prog) == wantProfile,
        s"jpegProfile must report ${wantProfile}")
      assert(MediaCodec.jpegProfile(base) == profile)
      // SUBSET-interleaved DC (review r15): a Y+Cb interleaved scan
      // followed by a single-component Cr scan is conforming B.2.3
      // shape (the MCU grid is a frame property) — same bit-for-bit
      // parity through a different scan script
      if (profile != "gray") {
        val split = MediaCodec.encodeJpegProgressive(w, h, rgb, profile, ri, dcSplit = true)
        MediaCodec.decode(split) match {
          case ImageMedia(`w`, `h`, "jpg", px) =>
            assert(java.util.Arrays.equals(px, want),
              s"$profile ${w}x$h ri=$ri: subset-DC progressive must equal baseline")
          case other => fail(s"subset-DC progressive $profile ${w}x$h ri=$ri: $other")
        }
      }
    }
    // DQT between scans (review r15): tables-misc re-emission of the
    // IDENTICAL table decodes (B.2.4.1); changing a USED table rejects
    // (G.1.1.1); defining an UNUSED slot is skipped. Splice the
    // stream's own DQT segment (bytes 2..70: FFDB len 0x0043 + Pq/Tq +
    // 64 values) right before the LAST SOS marker — a position between
    // scans (entropy FF-stuffing makes a bare FF DA unambiguous).
    locally {
      val rgb = Array.tabulate[Byte](3 * 16 * 16)(i => ((i * 31 + 7) % 256).toByte)
      val prog = MediaCodec.encodeJpegProgressive(16, 16, rgb, "444")
      val want = MediaCodec.decode(prog).asInstanceOf[ImageMedia].rgb
      val dqtSeg = prog.slice(2, 2 + 69) // FF DB 00 43 PqTq + 64 values
      assert((dqtSeg(0) & 0xff) == 0xff && (dqtSeg(1) & 0xff) == 0xdb)
      var lastSos = -1
      for (i <- 0 until prog.length - 1)
        if ((prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xda) lastSos = i
      assert(lastSos > 0)
      def splice(seg: Array[Byte]): Array[Byte] =
        prog.take(lastSos) ++ seg ++ prog.drop(lastSos)
      MediaCodec.decode(splice(dqtSeg)) match {
        case ImageMedia(16, 16, "jpg", px) =>
          assert(java.util.Arrays.equals(px, want), "identical DQT re-emission must decode unchanged")
        case other => fail(s"re-emitted DQT: $other")
      }
      val changed = dqtSeg.clone(); changed(10) = 2 // a used table's value changes
      assert(MediaCodec.decode(splice(changed)).isInstanceOf[UnknownMedia],
        "changing a USED quantization table between scans must reject")
      val unused = dqtSeg.clone(); unused(4) = 2 // Tq=2: no component uses it
      unused(10) = 9 // arbitrary different values are fine on an unused slot
      MediaCodec.decode(splice(unused)) match {
        case ImageMedia(16, 16, "jpg", px) =>
          assert(java.util.Arrays.equals(px, want), "an unused-slot DQT must be skipped")
        case other => fail(s"unused-slot DQT: $other")
      }
      val wide = dqtSeg.clone(); wide(4) = 0x10 // Pq=1: 16-bit precision
      assert(MediaCodec.decode(splice(wide)).isInstanceOf[UnknownMedia],
        "a 16-bit DQT between scans must reject (8-bit decoder)")
    }
  }

  test("progressive JPEG: block-constant fixtures reconstruct closed-form; fill bytes tolerated") {
    // The oracle-bearing profile: block-constant grayscale content is
    // DC-only, and a DC-only progressive stream (DC first at Al=1,
    // refine to 0, AC scans all EOB runs) reconstructs the input
    // EXACTLY — same closed form the mm_jpeg_meta oracle rebuilds.
    val vals = Array(40, 63, 99, 200, 255, 0)
    for ((w, h) <- Seq((32, 16), (48, 48)); ri <- Seq(0, 2)) {
      val nbx = w / 8
      val rgb = Array.tabulate[Byte](3 * w * h) { i =>
        val p = i / 3; val y = p / w; val x = p % w
        vals(((y / 8) * nbx + (x / 8)) % vals.length).toByte
      }
      val prog = MediaCodec.encodeJpegProgressive(w, h, rgb, "gray", ri)
      MediaCodec.decode(prog) match {
        case ImageMedia(`w`, `h`, "jpg", px) =>
          assert(java.util.Arrays.equals(px, rgb),
            s"${w}x$h ri=$ri: block-constant progressive must round-trip bit-exactly")
        case other => fail(s"${w}x$h ri=$ri decoded to $other")
      }
      if (ri > 0) {
        // T.81 B.1.1.2 fill bytes before RSTn/EOI, progressive form
        val padded = {
          val out = new java.io.ByteArrayOutputStream()
          var p = 0
          var scans = 0
          while (p < prog.length) {
            if (p + 1 < prog.length && (prog(p) & 0xff) == 0xff) {
              val n = prog(p + 1) & 0xff
              if (n == 0xda) scans += 1
              if (scans > 0 && ((n >= 0xd0 && n <= 0xd7) || n == 0xd9)) out.write(0xff)
            }
            out.write(prog(p) & 0xff)
            p += 1
          }
          out.toByteArray
        }
        MediaCodec.decode(padded) match {
          case ImageMedia(`w`, `h`, _, px) => assert(java.util.Arrays.equals(px, rgb),
            "fill-padded progressive must decode identically")
          case other => fail(s"fill-padded decoded to $other")
        }
      }
    }
  }

  test("progressive JPEG strictness: progression-rule and structural violations reject") {
    val rgb = Array.tabulate[Byte](3 * 32 * 16)(i => ((i / 3 % 32) * 8 % 251).toByte)
    val good = MediaCodec.encodeJpegProgressive(32, 16, rgb, "444")
    assert(!MediaCodec.decode(good).isInstanceOf[UnknownMedia], "the fixture itself decodes")
    // trailing bytes after EOI / truncation: the baseline discipline
    assert(MediaCodec.decode(good :+ 0.toByte).isInstanceOf[UnknownMedia])
    assert(MediaCodec.decode(good.take(good.length / 2)).isInstanceOf[UnknownMedia])
    def nthSos(b: Array[Byte], n: Int): Int = {
      var found = 0; var p = 2
      while (p + 1 < b.length) {
        if ((b(p) & 0xff) == 0xff && (b(p + 1) & 0xff) == 0xda) {
          found += 1
          if (found == n) return p
        }
        p += 1
      }
      fail(s"fixture has no SOS #$n")
    }
    // scan 2 is the DC refine (FF DA len₂ ns [Cs TdTa]×3 Ss Se AhAl
    // — AhAl at sos+13 for ns=3): Ah=2 breaks the Ah = Al+1 chain
    locally {
      val m = good.clone()
      val sos = nthSos(m, 2)
      assert((m(sos + 13) & 0xff) == 0x10, "fixture layout: DC refine has AhAl=0x10")
      m(sos + 13) = 0x20.toByte
      assert(MediaCodec.decode(m).isInstanceOf[UnknownMedia],
        "a refinement skipping a bit (Ah=2 after Al=1) must reject")
    }
    // replay scan 1's header params on scan 2 (Ah=0 over delivered
    // coefficients): first-pass-on-non-virgin must reject
    locally {
      val m = good.clone()
      val sos = nthSos(m, 2)
      m(sos + 13) = 0x01.toByte // Ah=0, Al=1 again
      assert(MediaCodec.decode(m).isInstanceOf[UnknownMedia],
        "a second first-pass over a delivered band must reject")
    }
    // an AC scan before the component's DC scan: move scan 1's AhAl…
    // simpler: truncate the file right after the first scan and close
    // with EOI — coefficients not delivered to full precision
    locally {
      val sos2 = nthSos(good, 2)
      val m = good.take(sos2) ++ Array(0xff.toByte, 0xd9.toByte)
      assert(MediaCodec.decode(m).isInstanceOf[UnknownMedia],
        "a spectrally-truncated file (DC still at Al=1, no AC) must reject")
    }
    // DQT between scans: CHANGING a used table rejects (G.1.1.1) —
    // identical re-emission and unused slots are covered in the
    // parity test (review r15 relaxed the old reject-everything arm)
    locally {
      val sos2 = nthSos(good, 2)
      val dqt = Array(0xff, 0xdb, 0x00, 0x43, 0x00).map(_.toByte) ++ Array.fill[Byte](64)(2)
      val m = good.take(sos2) ++ dqt ++ good.drop(sos2)
      assert(MediaCodec.decode(m).isInstanceOf[UnknownMedia],
        "a DQT changing a used table between scans must reject")
    }
    // hand-built: an AC scan with no prior DC scan must reject
    locally {
      def seg(marker: Int, payload: Array[Int]): Array[Byte] = {
        val len = payload.length + 2
        (Array(0xff, marker, (len >> 8) & 0xff, len & 0xff) ++ payload).map(_.toByte)
      }
      val dqt = seg(0xdb, 0 +: Array.fill(64)(1))
      val sof = seg(0xc2, Array(8, 0, 8, 0, 8, 1, 1, 0x11, 0))
      val dhtAc = seg(0xc4, Array(0x10, 1) ++ Array.fill(15)(0) ++ Array(0x00))
      val sosAc = seg(0xda, Array(1, 1, 0x00, 1, 63, 0))
      val m = Array(0xff.toByte, 0xd8.toByte) ++ dqt ++ sof ++ dhtAc ++ sosAc ++
        Array(0x00.toByte, 0xff.toByte, 0xd9.toByte)
      assert(MediaCodec.decode(m).isInstanceOf[UnknownMedia],
        "an AC scan before the component's DC scan must reject")
    }
  }

  test("corruption fuzz: decode NEVER throws over seeded mutations of every container") {
    // The totality contract, exercised adversarially at volume: take
    // one valid payload per container, then hammer it with seeded
    // random mutations — byte flips anywhere (headers, chunk lengths,
    // CRCs, raster), truncations at arbitrary offsets, and random
    // prefixes — asserting decode() returns a Media (usually
    // UnknownMedia, sometimes a still-valid parse) and never escapes
    // an exception. 100 TB framing: this is the property that lets
    // one executor survive a corrupt object instead of failing the
    // stage. Deterministic seed — failures replay exactly.
    val rnd = new scala.util.Random(42)
    val seeds = Seq(
      MediaCodec.encodePpm(9, 7, Array.tabulate[Byte](189)(_.toByte)),
      MediaCodec.encodeBmp(9, 7, Array.tabulate[Byte](189)(_.toByte)),
      MediaCodec.encodePng(9, 7, Array.tabulate[Byte](189)(_.toByte)),
      MediaCodec.encodePalettePng(9, 7, Array.tabulate[Byte](63)(i => (i % 40).toByte),
        Array.tabulate[Byte](120)(j => (j * 5).toByte)),
      MediaCodec.encodeWav(8000, Array.tabulate(300)(i => (i * 13 - 150).toShort)),
      MediaCodec.encodeY4m(5, 4, Array.tabulate(2)(f =>
        Array.fill[Byte](60)((f * 9 + 1).toByte))),
      // the Huffman-coded container, with restarts: bit-level damage
      // in the entropy segment must land in UnknownMedia, never escape
      MediaCodec.encodeJpeg(32, 16, Array.tabulate[Byte](3 * 32 * 16)(i =>
        ((((i / 3) / 32 / 8) * 2 + ((i / 3) % 32) / 8) * 17 + 20).toByte), "420", 2),
      // an Adam7-interlaced PNG: damage to pass geometry bytes or the
      // multi-sub-image stream must stay total too
      adam7FuzzSeed,
      // a progressive JPEG (4:2:0 + restarts): damage across its
      // many scan headers, per-scan DHTs and refinement bitstreams
      // must stay total too
      MediaCodec.encodeJpegProgressive(32, 16, Array.tabulate[Byte](3 * 32 * 16)(i =>
        ((((i / 3) / 32 / 8) * 2 + ((i / 3) % 32) / 8) * 17 + 20).toByte), "420", 2),
      // a FLAC stream (r15): damage to STREAMINFO, frame headers,
      // the Rice/verbatim bit layer or either CRC must stay total
      MediaCodec.encodeFlac(9000, Array.tabulate(300)(i => (i * 13 - 150).toShort)),
      // GIF (r15), both entropy shapes: the codec's literal-only
      // stream and a really-compressed one from the spec's LZW —
      // damage to sub-block lengths, code bits or the GCT must land
      // in UnknownMedia through the general LZW decoder
      MediaCodec.encodeGif(9, 7, Array.tabulate[Byte](63)(i => (i % 40).toByte),
        Multimodal.palettePlte),
      GifBuild.simple(16, 12, Multimodal.palettePlte, 7, 8,
        Array.tabulate[Byte](192)(i => if (i % 5 < 3) (i % 9).toByte else (i * 37).toByte),
        gceFlags = 1, tIdx = 2, interlace = true),
      // an animated GIF (r15): damage across frame boundaries, GCE
      // disposal/transparency bytes and per-frame LZW must stay total
      locally {
        val g = new GifBuild.GB
        GifBuild.header(g, 10, 8, Multimodal.palettePlte, 7)
        GifBuild.image(g, 0, 0, 10, 8, 8, GifBuild.lzw(
          Array.tabulate[Byte](80)(i => (i % 23).toByte), 8))
        GifBuild.gce(g, (1 << 2) | 1, 5)
        GifBuild.image(g, 0, 0, 10, 8, 8, GifBuild.lzw(
          Array.tabulate[Byte](80)(i => (i % 6).toByte), 8))
        g.b(0x3b)
        g.bytes
      },
      // a BOX-COMPOSITED animation (r16): mutations to the image
      // descriptor's left/top/iw/ih, the disposal bits and the
      // sub-screen LZW must exercise the composition paths —
      // canvas init, rect clears, restore-to-previous — and stay
      // total (out-of-screen boxes land in UnknownMedia)
      locally {
        val g = new GifBuild.GB
        GifBuild.header(g, 12, 9, Multimodal.palettePlte, 7)
        GifBuild.image(g, 0, 0, 12, 9, 8, GifBuild.lzw(
          Array.tabulate[Byte](108)(i => (i % 17).toByte), 8))
        GifBuild.gce(g, 2 << 2, 0) // disposal 2: restore-to-background
        GifBuild.image(g, 3, 2, 5, 4, 8, GifBuild.lzw(
          Array.tabulate[Byte](20)(i => (i % 7 + 30).toByte), 8))
        GifBuild.gce(g, (3 << 2) | 1, 4) // disposal 3 + transparency
        GifBuild.image(g, 1, 1, 6, 5, 8, GifBuild.lzw(
          Array.tabulate[Byte](30)(i => (i % 5).toByte), 8), interlace = true)
        g.b(0x3b)
        g.bytes
      })
    var decodedOk = 0
    seeds.foreach { base =>
      (1 to 400).foreach { i =>
        val mutated = rnd.nextInt(3) match {
          case 0 => // flip 1-4 bytes anywhere
            val m = base.clone()
            (0 until 1 + rnd.nextInt(4)).foreach { _ =>
              val p = rnd.nextInt(m.length)
              m(p) = (m(p) ^ (1 << rnd.nextInt(8))).toByte
            }
            m
          case 1 => base.take(rnd.nextInt(base.length + 1)) // truncate
          case 2 => // random garbage splice at a random offset
            val p = rnd.nextInt(base.length)
            base.take(p) ++ Array.fill[Byte](rnd.nextInt(16))(rnd.nextInt(256).toByte) ++
              base.drop(p)
        }
        // the WHOLE derived-op chain must be total, not just decode:
        // aHash64/contentUnits run on decoded media outside decode()'s
        // catch (phashDedup's mapPartitions has no net — the r13
        // max-effort review found canonicalSamples could throw there)
        val media = try MediaCodec.decode(mutated) catch {
          case e: Throwable => fail(s"decode threw ${e.getClass.getSimpleName} on mutation $i: ${e.getMessage}")
        }
        try { MediaCodec.aHash64(media); MediaCodec.contentUnits(media) } catch {
          case e: Throwable => fail(s"hash/units threw ${e.getClass.getSimpleName} on mutation $i: ${e.getMessage}")
        }
        if (!media.isInstanceOf[UnknownMedia]) decodedOk += 1
      }
    }
    // sanity: the fuzz isn't vacuous — some mutations still decode
    // (e.g. a flipped raster byte in a CRC-less container)
    info(s"fuzz survivors decoded as valid media: $decodedOk / ${seeds.size * 400}")
    assert(decodedOk > 0)
  }

  test("staged media lake: filesMeta ≡ mediaMeta row-for-row (the binaryFile ingest contract)") {
    // mm_files_meta's whole promotion argument: the file-lake path
    // (stage real files -> binaryFile scan -> stem ids -> decode)
    // must produce EXACTLY the typed-map generation path's rows, so
    // the two share one DuckDB oracle and cannot drift apart
    val viaFiles = Multimodal.filesMeta(spark, sfDir).collect().toSeq
    val viaDocs = Multimodal.mediaMeta(spark, sfDir).collect().toSeq
    assert(viaFiles.size == 500)
    assert(viaFiles == viaDocs)
    // and the staged lake carries every container the generator emits,
    // including the compressed one
    val exts = new java.io.File(Multimodal.mediaLakeDir(spark, sfDir)).list()
      .map(_.split('.').last).toSet
    assert(exts == Set("ppm", "bmp", "png", "gif", "wav", "flac", "y4m"))
  }

  test("staged JPEG lake: jpegFilesMeta ≡ jpegMeta row-for-row (the compressed-container lake contract)") {
    // mm_jpeg_files' promotion argument, the filesMeta precedent for
    // the Huffman-coded container: real .jpg files -> binaryFile scan
    // -> stem ids -> the SAME describe kernel must reproduce the
    // generation path exactly, so one DuckDB oracle serves both
    val viaFiles = Multimodal.jpegFilesMeta(spark, sfDir).collect().toSeq
    val viaDocs = Multimodal.jpegMeta(spark, sfDir).collect().toSeq
    assert(viaFiles.size == 500)
    assert(viaFiles == viaDocs)
    val exts = new java.io.File(Multimodal.jpegLakeDir(spark, sfDir)).list()
      .map(_.split('.').last).toSet
    assert(exts == Set("jpg"))
  }
}
