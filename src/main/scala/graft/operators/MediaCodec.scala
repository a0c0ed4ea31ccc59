package graft.operators

/** Self-contained media codec — the REAL decode path behind the
  * multimodal operators (no external codec library exists in this
  * environment, so the formats are the classic zero-dependency ones
  * every toolchain can read, plus PNG via `java.util.zip`):
  *
  *  - images: binary PPM (P6, Netpbm), 24-bit uncompressed BMP
  *    (BITMAPINFOHEADER, bottom-up rows, 4-byte row padding, BGR byte
  *    order — the container details a real parser must invert), and
  *    PNG (ISO/IEC 15948: chunk walk with CRC-32 verification, zlib
  *    IDAT inflate, all five row filters None/Sub/Up/Average/Paeth
  *    unfiltered — the first COMPRESSED container in the codec)
  *  - audio: RIFF/WAVE, 16-bit little-endian PCM (chunk-walking
  *    parser: fmt /data discovery, odd-size pad bytes)
  *  - video: YUV4MPEG2 (Y4M), C444 planar frames behind `FRAME`
  *    markers — the uncompressed interchange format ffmpeg/mjpegtools
  *    pipe between stages
  *
  * Decoding is TOTAL: malformed or foreign bytes decode to
  * [[MediaCodec.UnknownMedia]] instead of throwing, because one
  * corrupt object must never abort a 100 TB scan (the same
  * null-not-error contract as `try_parse_json` on the events side).
  * Every parser reads the fields it needs from the actual header
  * bytes — dimensions, sample counts and frame counts reported
  * upstream are parsed, not assumed.
  *
  * Perceptual hashing ([[aHash64]]) and feature extraction
  * ([[contentUnits]]) operate on DECODED content (pixels, samples,
  * planes), not container bytes — so the same logical image hashes
  * identically whether it shipped as PPM or BMP (container-invariance
  * is what makes the hash *perceptual*; MultimodalSpec pins it).
  */
object MediaCodec extends Serializable {

  sealed trait Media extends Serializable
  /** Row-major, top-down, RGB interleaved — container order (BMP's
    * bottom-up BGR, …) is normalized away by the decoder. */
  final case class ImageMedia(width: Int, height: Int, format: String,
                              rgb: Array[Byte]) extends Media
  final case class AudioMedia(sampleRate: Int, samples: Array[Short]) extends Media
  /** One frame = 3 planes (Y,U,V) of width*height bytes each. */
  final case class VideoMedia(width: Int, height: Int,
                              frames: Array[Array[Byte]]) extends Media
  final case class UnknownMedia(nBytes: Int) extends Media

  // ---------------------------------------------------------------- sniff

  def sniff(b: Array[Byte]): String = {
    def at(i: Int): Int = if (i < b.length) b(i) & 0xff else -1
    if (at(0) == 'P' && at(1) == '6') "ppm"
    else if (at(0) == 0x89 && at(1) == 'P' && at(2) == 'N' && at(3) == 'G' &&
      at(4) == 0x0d && at(5) == 0x0a && at(6) == 0x1a && at(7) == 0x0a) "png"
    else if (at(0) == 'B' && at(1) == 'M') "bmp"
    else if (at(0) == 0xff && at(1) == 0xd8 && at(2) == 0xff) "jpg"
    else if (b.length >= 12 && new String(b, 0, 4, "US-ASCII") == "RIFF" &&
      new String(b, 8, 4, "US-ASCII") == "WAVE") "wav"
    else if (at(0) == 'f' && at(1) == 'L' && at(2) == 'a' && at(3) == 'C') "flac"
    else if (at(0) == 'G' && at(1) == 'I' && at(2) == 'F' && at(3) == '8' &&
      (at(4) == '7' || at(4) == '9') && at(5) == 'a') "gif"
    else if (b.length >= 9 && new String(b, 0, 9, "US-ASCII") == "YUV4MPEG2") "y4m"
    else "unknown"
  }

  // -------------------------------------------------------------- encoders

  /** `P6\n{w} {h}\n255\n` + 3wh RGB bytes. */
  def encodePpm(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == 3 * w * h, s"rgb length ${rgb.length} != 3*$w*$h")
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + rgb.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(rgb, 0, out, header.length, rgb.length)
    out
  }

  private def putIntLE(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
    b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
  }
  private def putShortLE(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
  }
  private def getIntLE(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def getShortLE(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** 24 bpp uncompressed BMP: 14-byte file header + 40-byte
    * BITMAPINFOHEADER, rows bottom-up, each padded to 4 bytes, pixels
    * stored BGR. `rgb` is logical (top-down RGB); the flip and channel
    * swap are the encoder's job, inverted by [[decodeBmp]]. */
  def encodeBmp(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == 3 * w * h, s"rgb length ${rgb.length} != 3*$w*$h")
    val stride = ((3 * w + 3) / 4) * 4
    val dataSize = stride * h
    val out = new Array[Byte](54 + dataSize)
    out(0) = 'B'; out(1) = 'M'
    putIntLE(out, 2, 54 + dataSize) // file size
    putIntLE(out, 10, 54)           // pixel-array offset
    putIntLE(out, 14, 40)           // BITMAPINFOHEADER size
    putIntLE(out, 18, w)
    putIntLE(out, 22, h)            // positive height = bottom-up
    putShortLE(out, 26, 1)          // planes
    putShortLE(out, 28, 24)         // bpp
    putIntLE(out, 30, 0)            // BI_RGB (uncompressed)
    putIntLE(out, 34, dataSize)
    var y = 0
    while (y < h) {
      val rowOff = 54 + (h - 1 - y) * stride // bottom-up
      var x = 0
      while (x < w) {
        val src = (y * w + x) * 3
        out(rowOff + x * 3) = rgb(src + 2)     // B
        out(rowOff + x * 3 + 1) = rgb(src + 1) // G
        out(rowOff + x * 3 + 2) = rgb(src)     // R
        x += 1
      }
      y += 1
    }
    out
  }

  private def putIntBE(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >>> 24).toByte; b(off + 1) = (v >>> 16).toByte
    b(off + 2) = (v >>> 8).toByte; b(off + 3) = v.toByte
  }
  private def getIntBE(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  /** PNG Paeth predictor (spec §9.4): nearest of left/up/up-left to
    * the linear prediction a + b − c, ties broken left, up, up-left. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Bytes as a VALID zlib stream of STORED (BTYPE=00) deflate blocks
    * — hand-written rather than `Deflater` because the stored layout
    * makes the stream length CLOSED-FORM (2 + n + 5·⌈n/65535⌉ + 4),
    * which is what lets the DuckDB oracle predict an encoded PNG's
    * exact byte count; any inflater (including [[decodePng]]'s
    * `java.util.zip.Inflater`) reads it back, and the decoder equally
    * accepts real Huffman-compressed streams from foreign writers. */
  private def zlibStored(data: Array[Byte]): Array[Byte] = {
    val nBlocks = math.max(1, (data.length + 65534) / 65535)
    val out = new Array[Byte](2 + data.length + 5 * nBlocks + 4)
    out(0) = 0x78.toByte; out(1) = 0x01.toByte // CM=8/CINFO=7, FCHECK: 0x7801 % 31 == 0
    var src = 0; var dst = 2; var blk = 0
    while (blk < nBlocks) {
      val len = math.min(65535, data.length - src)
      out(dst) = if (blk == nBlocks - 1) 1 else 0 // BFINAL on the last block
      out(dst + 1) = len.toByte; out(dst + 2) = (len >> 8).toByte
      out(dst + 3) = (~len).toByte; out(dst + 4) = ((~len) >> 8).toByte // NLEN
      System.arraycopy(data, src, out, dst + 5, len)
      src += len; dst += 5 + len; blk += 1
    }
    val ad = new java.util.zip.Adler32()
    ad.update(data, 0, data.length)
    putIntBE(out, dst, ad.getValue.toInt)
    out
  }

  private def pngChunk(out: java.io.ByteArrayOutputStream, typ: String,
                       data: Array[Byte]): Unit = {
    val head = new Array[Byte](8)
    putIntBE(head, 0, data.length)
    typ.getBytes("US-ASCII").copyToArray(head, 4)
    out.write(head)
    out.write(data)
    val crc = new java.util.zip.CRC32()
    crc.update(head, 4, 4); crc.update(data, 0, data.length)
    val tail = new Array[Byte](4)
    putIntBE(tail, 0, crc.getValue.toInt)
    out.write(tail)
  }

  /** The fixture encoders' shared scanline pass: per-row filter type
    * cycling y % 5 so every fixture taller than four rows exercises
    * all five row filters (None/Sub/Up/Average/Paeth) — the decoder
    * must invert each to recover the pixels. `bpp` is bytes per pixel
    * (1 palette, 3 RGB, 4 RGBA), which moves the Sub/Paeth left-
    * neighbor offset so each profile exercises the filters at its own
    * stride. ONE implementation for all three encoders (review r15 —
    * three hand-copies of this loop could silently diverge). */
  private def pngFilterRows(data: Array[Byte], w: Int, h: Int, bpp: Int): Array[Byte] = {
    val rowLen = bpp * w
    val raw = new Array[Byte](h * (1 + rowLen))
    var y = 0
    while (y < h) {
      val f = y % 5
      val o = y * (1 + rowLen)
      raw(o) = f.toByte
      var x = 0
      while (x < rowLen) {
        val cur = data(y * rowLen + x) & 0xff
        val left = if (x >= bpp) data(y * rowLen + x - bpp) & 0xff else 0
        val up = if (y > 0) data((y - 1) * rowLen + x) & 0xff else 0
        val ul = if (x >= bpp && y > 0) data((y - 1) * rowLen + x - bpp) & 0xff else 0
        val v = f match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case _ => cur - paeth(left, up, ul)
        }
        raw(o + 1 + x) = v.toByte
        x += 1
      }
      y += 1
    }
    raw
  }

  /** Signature + IHDR + optional PLTE + one stored-deflate IDAT +
    * IEND — the container shell shared by all three fixture
    * encoders. */
  private def pngAssemble(w: Int, h: Int, colorType: Int, raw: Array[Byte],
                          plte: Array[Byte] = null): Array[Byte] = {
    val ihdr = new Array[Byte](13)
    putIntBE(ihdr, 0, w); putIntBE(ihdr, 4, h)
    ihdr(8) = 8; ihdr(9) = colorType.toByte
    // bytes 10-12 stay 0: deflate, adaptive filtering, no interlace
    val out = new java.io.ByteArrayOutputStream(
      63 + (if (plte == null) 0 else 12 + plte.length) + raw.length + 5)
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    pngChunk(out, "IHDR", ihdr)
    if (plte != null) pngChunk(out, "PLTE", plte)
    pngChunk(out, "IDAT", zlibStored(raw))
    pngChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** PNG, 8-bit truecolor RGB: [[pngFilterRows]] at bpp 3 in a
    * color-type-2 shell. The IDAT zlib stream uses stored blocks
    * ([[zlibStored]]) so the total size is closed-form:
    * 63 + h·(1+3w) + 5·⌈h·(1+3w)/65535⌉. */
  def encodePng(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == 3 * w * h, s"rgb length ${rgb.length} != 3*$w*$h")
    pngAssemble(w, h, 2, pngFilterRows(rgb, w, h, 3))
  }

  /** PNG, 8-bit RGBA (color type 6): `rgba` is the 4·w·h interleaved
    * raster; the decoder composites the alpha channel over opaque
    * white (the alpha contract), so this encoder is the fixture
    * source for that path. [[pngFilterRows]] at bpp 4 puts the
    * Sub/Paeth left neighbor at offset 4 — a third filter stride.
    * Closed-form size: 63 + h·(1+4w) + 5·⌈h·(1+4w)/65535⌉. */
  def encodeAlphaPng(w: Int, h: Int, rgba: Array[Byte]): Array[Byte] = {
    require(rgba.length == 4 * w * h, s"rgba length ${rgba.length} != 4*$w*$h")
    pngAssemble(w, h, 6, pngFilterRows(rgba, w, h, 4))
  }

  /** PNG, 8-bit PALETTE (color type 3): signature + IHDR + PLTE +
    * one IDAT + IEND. `indices` is the w·h index raster, `palette`
    * holds 3·entries RGB bytes (1–256 entries). The filter type
    * cycles y % 5 like [[encodePng]] — on a 1-byte/pixel scanline
    * the left neighbor sits at offset 1, so the indexed profile
    * exercises all five filters at the OTHER bpp. IDAT uses
    * [[zlibStored]], so total size is closed-form:
    * 63 + (12 + palette.length) + h·(1+w) + 5·⌈h·(1+w)/65535⌉
    * (the [[encodePng]] formula with 1-byte pixels plus the PLTE
    * chunk's 12 + len bytes). */
  def encodePalettePng(w: Int, h: Int, indices: Array[Byte],
                       palette: Array[Byte]): Array[Byte] = {
    require(indices.length == w * h, s"index raster ${indices.length} != $w*$h")
    require(palette.length % 3 == 0 && palette.length > 0 && palette.length <= 768,
      s"palette must hold 1-256 RGB entries, got ${palette.length} bytes")
    // an index past the palette would emit a PNG this file's own
    // decoder (and libpng) rejects for an out-of-range lookup —
    // cheap insurance, the fixture generator always ships 256 entries
    // (advisory r14)
    val nEntries = palette.length / 3
    var ck = 0
    while (ck < indices.length) {
      require((indices(ck) & 0xff) < nEntries,
        s"index ${indices(ck) & 0xff} at $ck outside the $nEntries-entry palette")
      ck += 1
    }
    pngAssemble(w, h, 3, pngFilterRows(indices, w, h, 1), plte = palette)
  }

  /** GIF89a, static single image over a 256-entry global color
    * table: header 6 + logical screen descriptor 7 + GCT 768 +
    * image descriptor 10 + LZW-min-code byte + data sub-blocks +
    * trailer. The LZW stream is LITERAL-ONLY — every pixel is its
    * own 9-bit code, with a Clear every 254 literals so the
    * decoder's table never reaches the 10-bit boundary (the GIF
    * twin of [[zlibStored]]'s stored-deflate trick: valid LZW, zero
    * compression, CLOSED-FORM size). With N = w·h, G = ⌈N/254⌉
    * groups, T = N+G+1 codes, B = ⌈9T/8⌉ data bytes:
    * total = 794 + B + ⌈B/255⌉.
    * `interlaced` permutes rows into the four-pass interlace order
    * (GIF89a appendix E) — same byte COUNT, so the closed form and
    * every oracle are interlace-invariant while the decoder's
    * de-interlace path runs on real fixture bytes. */
  def encodeGif(w: Int, h: Int, indices: Array[Byte], palette: Array[Byte],
                interlaced: Boolean = false, comment: String = null): Array[Byte] = {
    require(w > 0 && w <= 0xffff && h > 0 && h <= 0xffff, s"gif dims $w x $h outside u16")
    // u16 dims admit rasters whose ~9/8·N output outgrows a byte
    // array — fail loudly like encodeFlac's ceiling (review r15)
    require(w.toLong * h <= (1L << 28), s"gif raster ${w.toLong * h} exceeds the 2^28 encoder ceiling")
    require(indices.length == w * h, s"index raster ${indices.length} != $w*$h")
    require(palette.length == 768, s"gif GCT must hold exactly 256 RGB entries, got ${palette.length} bytes")
    val n = indices.length
    val groups = (n + 253) / 254
    // lead clear + N literals + (G−1) inter-group clears + EOI;
    // sizing hint in LONG — 9·nCodes wraps Int above ~238M pixels,
    // which u16 dims still admit (review r15); the packer itself is
    // count-exact either way
    val nCodes = n + groups + 1
    val dataBytes = (9L * nCodes + 7) / 8
    val out = new java.io.ByteArrayOutputStream(
      math.min(794L + dataBytes + dataBytes / 255 + 8, Int.MaxValue.toLong).toInt)
    out.write("GIF89a".getBytes("US-ASCII"))
    // logical screen descriptor: dims, GCT present / 8-bit color
    // resolution / 256-entry table (0xf7), background 0, aspect 0
    out.write(w & 0xff); out.write(w >> 8)
    out.write(h & 0xff); out.write(h >> 8)
    out.write(0xf7); out.write(0); out.write(0)
    out.write(palette, 0, 768)
    writeGifComment(out, comment)
    writeGifImage(out, 0, 0, w, h, indices, interlaced)
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** COMMENT EXTENSION (GIF89a §24) when `comment` is non-null: intro
    * + label 0xFE + one data sub-block + terminator — 4 + length
    * bytes, the closed form the size oracle mirrors. Real encoders
    * stamp comments routinely; a decoder must SKIP them (the generic
    * sub-block walk), never reject, and the fixture rotation makes
    * that skip oracle-visible. */
  private def writeGifComment(out: java.io.ByteArrayOutputStream, comment: String): Unit =
    if (comment != null) {
      val cb = comment.getBytes("US-ASCII")
      require(cb.nonEmpty && cb.length <= 255,
        s"a fixture comment must fit one sub-block, got ${cb.length} bytes")
      out.write(0x21); out.write(0xfe)
      out.write(cb.length); out.write(cb, 0, cb.length)
      out.write(0)
    }

  /** One image block of a GIF: descriptor (box at (left, top), no
    * local table) + literal-only LZW data sub-blocks + terminator —
    * the shared body of [[encodeGif]] (its single full-frame image,
    * byte-identical to the pre-r17 inline form) and every frame of
    * [[encodeAnimatedGif]]. */
  private def writeGifImage(out: java.io.ByteArrayOutputStream, left: Int, top: Int,
      w: Int, h: Int, indices: Array[Byte], interlaced: Boolean,
      localPalette: Array[Byte] = null): Unit = {
    out.write(0x2c)
    out.write(left & 0xff); out.write(left >> 8)
    out.write(top & 0xff); out.write(top >> 8)
    out.write(w & 0xff); out.write(w >> 8)
    out.write(h & 0xff); out.write(h >> 8)
    // packed: local-table flag + 256-entry size bits when the frame
    // overrides the GCT, interlace bit independently
    out.write((if (localPalette != null) 0x87 else 0x00) | (if (interlaced) 0x40 else 0x00))
    if (localPalette != null) out.write(localPalette, 0, 768)
    out.write(8) // LZW minimum code size
    // LSB-first 9-bit code packer into 255-byte sub-blocks
    val n = indices.length
    val dataBytes = (9L * (n + (n + 253) / 254 + 1) + 7) / 8
    val data = new java.io.ByteArrayOutputStream(
      math.min(dataBytes + 4, Int.MaxValue.toLong).toInt)
    var acc = 0L; var nbits = 0
    def code(c: Int): Unit = {
      acc |= c.toLong << nbits; nbits += 9
      while (nbits >= 8) { data.write((acc & 0xff).toInt); acc >>= 8; nbits -= 8 }
    }
    val rows = if (interlaced) gifInterlaceRows(h) else null
    code(256) // lead clear
    var i = 0
    while (i < n) {
      if (i > 0 && i % 254 == 0) code(256)
      val src = if (rows == null) i else rows(i / w) * w + i % w
      code(indices(src) & 0xff)
      i += 1
    }
    code(257) // end of information
    if (nbits > 0) data.write((acc & 0xff).toInt)
    val bytes = data.toByteArray
    var off = 0
    while (off < bytes.length) {
      val k = math.min(255, bytes.length - off)
      out.write(k); out.write(bytes, off, k)
      off += k
    }
    out.write(0) // block terminator
  }

  /** One frame of [[encodeAnimatedGif]]: an index raster painted as a
    * box at (left, top). `disposal` is the GIF89a §23 method the
    * frame requests for AFTER it displays (0/1 keep, 2
    * restore-to-background, 3 restore-to-previous); `transparentIdx`
    * ≥ 0 marks that palette index as show-through. */
  final case class GifFrame(left: Int, top: Int, w: Int, h: Int,
      indices: Array[Byte], disposal: Int = 0, transparentIdx: Int = -1,
      interlaced: Boolean = false, localPalette: Array[Byte] = null)

  /** GIF89a ANIMATION over a 256-entry global color table — the
    * static [[encodeGif]] grammar extended with per-frame boxes and
    * Graphic Control Extensions, i.e. the composition surface the
    * r16 canvas decoder ([[decodeGif]]) decodes: sub-screen frames
    * at offsets, disposal 2/3, transparency, per-frame interlace.
    * A frame ships an 8-byte GCE exactly when it needs one
    * (disposal ≠ 0 or a transparent index) — a deterministic rule
    * the size oracle mirrors. LZW stays LITERAL-ONLY per frame, so
    * the container size keeps the static encoder's closed form
    * summed per frame: with B(N) = ⌈9(N + ⌈N/254⌉ + 1)/8⌉ and
    * bytes(N) = B(N) + ⌈B(N)/255⌉,
    * total = 782 + Σ_f [gce_f·8 + 12 + lct_f·768 + bytes(N_f)] where
    * N_f is the frame's box pixel count and lct_f marks a frame-local
    * 256-entry color table overriding the GCT. `bgIndex` lands in the
    * logical screen descriptor: nonzero declares the composition BASE
    * color (canvas init + disposal-2 clears) — 0, the default, keeps
    * the white a=0 contract. At least two frames (one image decodes
    * to [[ImageMedia]], not an animation); boxes must fit the
    * screen; the decoder's 2²⁸ decoded-plane ceiling is enforced at
    * encode so every fixture is decodable. */
  def encodeAnimatedGif(sw: Int, sh: Int, palette: Array[Byte],
                        frames: Seq[GifFrame], bgIndex: Int = 0,
                        comment: String = null): Array[Byte] = {
    require(sw > 0 && sw <= 0xffff && sh > 0 && sh <= 0xffff, s"gif dims $sw x $sh outside u16")
    require(palette.length == 768, s"gif GCT must hold exactly 256 RGB entries, got ${palette.length} bytes")
    require(frames.size >= 2, "an animation needs at least two frames")
    require(frames.size.toLong * 3L * sw * sh <= (1L << 28),
      s"decoded planes ${frames.size.toLong * 3L * sw * sh} exceed the decoder's 2^28 ceiling")
    frames.foreach { f =>
      require(f.w > 0 && f.h > 0 && f.left >= 0 && f.top >= 0 &&
        f.left + f.w <= sw && f.top + f.h <= sh,
        s"frame box ${f.w}x${f.h}@(${f.left},${f.top}) outside the ${sw}x$sh screen")
      require(f.indices.length == f.w * f.h, s"index raster ${f.indices.length} != ${f.w}*${f.h}")
      require(f.disposal >= 0 && f.disposal <= 3, s"disposal ${f.disposal} undefined (GIF89a §23)")
      require(f.transparentIdx >= -1 && f.transparentIdx <= 255,
        s"transparent index ${f.transparentIdx} outside -1..255")
      require(f.localPalette == null || f.localPalette.length == 768,
        "a frame-local color table must hold exactly 256 RGB entries")
    }
    require(bgIndex >= 0 && bgIndex <= 255, s"background index $bgIndex outside 0..255")
    val out = new java.io.ByteArrayOutputStream(1 << 12)
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(sw & 0xff); out.write(sw >> 8)
    out.write(sh & 0xff); out.write(sh >> 8)
    out.write(0xf7); out.write(bgIndex); out.write(0)
    out.write(palette, 0, 768)
    writeGifComment(out, comment)
    frames.foreach { f =>
      if (f.disposal != 0 || f.transparentIdx >= 0) {
        // graphic control extension: intro + label + one 4-byte
        // sub-block (packed, delay u16 = 0, transparent index) + 0
        out.write(0x21); out.write(0xf9); out.write(4)
        out.write((f.disposal << 2) | (if (f.transparentIdx >= 0) 1 else 0))
        out.write(0); out.write(0)
        out.write(if (f.transparentIdx >= 0) f.transparentIdx else 0)
        out.write(0)
      }
      writeGifImage(out, f.left, f.top, f.w, f.h, f.indices, f.interlaced, f.localPalette)
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Four-pass interlace row order (rows 0,8,…; 4,12,…; 2,6,…;
    * 1,3,…): `result(k)` = the SOURCE row stored k-th in the file.
    * Shared by the encoder's permute and the decoder's scatter. */
  private def gifInterlaceRows(h: Int): Array[Int] = {
    val order = new Array[Int](h)
    var k = 0
    for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
      var y = start
      while (y < h) { order(k) = y; k += 1; y += step }
    }
    order
  }

  /** RIFF/WAVE, PCM 16-bit mono little-endian: 44-byte canonical
    * header + 2 bytes per sample. */
  def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataSize = 2 * samples.length
    val out = new Array[Byte](44 + dataSize)
    "RIFF".getBytes("US-ASCII").copyToArray(out, 0)
    putIntLE(out, 4, 36 + dataSize)
    "WAVE".getBytes("US-ASCII").copyToArray(out, 8)
    "fmt ".getBytes("US-ASCII").copyToArray(out, 12)
    putIntLE(out, 16, 16)            // fmt chunk size
    putShortLE(out, 20, 1)           // PCM
    putShortLE(out, 22, 1)           // mono
    putIntLE(out, 24, sampleRate)
    putIntLE(out, 28, sampleRate * 2) // byte rate
    putShortLE(out, 32, 2)           // block align
    putShortLE(out, 34, 16)          // bits per sample
    "data".getBytes("US-ASCII").copyToArray(out, 36)
    putIntLE(out, 40, dataSize)
    var i = 0
    while (i < samples.length) {
      putShortLE(out, 44 + 2 * i, samples(i) & 0xffff)
      i += 1
    }
    out
  }

  /** CRC-8, polynomial x⁸+x²+x+1 (0x07), init 0, MSB-first — the
    * FLAC frame-header checksum (RFC 9639 §9.1.3). */
  private[operators] def crc8Flac(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0; var i = from
    while (i < until) {
      crc ^= b(i) & 0xff
      var k = 0
      while (k < 8) { crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff; k += 1 }
      i += 1
    }
    crc
  }

  /** CRC-16, polynomial 0x8005, init 0, MSB-first, no reflection —
    * the FLAC whole-frame checksum (RFC 9639 §9.3). */
  private[operators] def crc16Flac(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0; var i = from
    while (i < until) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) { crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff else (crc << 1) & 0xffff; k += 1 }
      i += 1
    }
    crc
  }

  /** MD5 of the unencoded audio as little-endian signed 16-bit bytes —
    * the STREAMINFO integrity field (RFC 9639 §8.2). */
  private def flacMd5(samples: Array[Short]): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](2 * samples.length)
    var i = 0
    while (i < samples.length) {
      buf(2 * i) = samples(i).toByte; buf(2 * i + 1) = (samples(i) >> 8).toByte
      i += 1
    }
    md.digest(buf)
  }

  /** FLAC (RFC 9639), 16-bit mono, ONE frame with a single VERBATIM
    * subframe: `fLaC` magic + a 34-byte STREAMINFO (the only metadata
    * block) + one fixed-blocking frame whose block size is the whole
    * signal. Verbatim keeps the payload size CLOSED-FORM —
    * 53 + 2·ns bytes — the same stored-deflate trick the PNG encoder
    * plays, so the DuckDB oracles predict compressed-container byte
    * counts exactly; the DECODER handles the full mono-16 subset
    * (constant/verbatim/fixed/LPC subframes, Rice residuals) so
    * foreign encoders' output decodes too. STREAMINFO carries the
    * true sample MD5 and the decoder verifies it — FLAC is lossless,
    * which is what lets every downstream hash stay bit-identical to
    * the WAV twin of the same samples. */
  def encodeFlac(sampleRate: Int, samples: Array[Short],
                 blockSize: Int = 0): Array[Byte] = {
    if (blockSize > 0) return encodeFlacFrames(sampleRate, samples, blockSize)
    val ns = samples.length
    require(ns >= 16 && ns <= 65535, s"one-frame FLAC needs 16..65535 samples, got $ns")
    require(sampleRate > 0 && sampleRate < (1 << 20), s"bad sample rate $sampleRate")
    val frameBytes = 8 + 1 + 2 * ns + 2 // header+crc8, subframe hdr, samples, crc16
    val out = new Array[Byte](42 + frameBytes) // = 53 + 2·ns
    "fLaC".getBytes("US-ASCII").copyToArray(out, 0)
    out(4) = 0x80.toByte // last metadata block, type 0 = STREAMINFO
    out(7) = 34          // u24 length
    val o = 8
    out(o) = (ns >> 8).toByte; out(o + 1) = ns.toByte      // min block size
    out(o + 2) = (ns >> 8).toByte; out(o + 3) = ns.toByte  // max block size
    out(o + 4) = (frameBytes >> 16).toByte; out(o + 5) = (frameBytes >> 8).toByte
    out(o + 6) = frameBytes.toByte                          // min frame size
    out(o + 7) = (frameBytes >> 16).toByte; out(o + 8) = (frameBytes >> 8).toByte
    out(o + 9) = frameBytes.toByte                          // max frame size
    // rate(20) | channels-1(3) | bps-1(5) | total samples(36)
    out(o + 10) = (sampleRate >> 12).toByte
    out(o + 11) = (sampleRate >> 4).toByte
    out(o + 12) = (((sampleRate & 0xf) << 4) | (0 << 1) | (15 >> 4)).toByte
    out(o + 13) = (((15 & 0xf) << 4) | 0).toByte // bps-1 low nibble | total[35:32]=0
    out(o + 14) = 0; out(o + 15) = 0
    out(o + 16) = (ns >> 8).toByte; out(o + 17) = ns.toByte
    flacMd5(samples).copyToArray(out, o + 18)
    val fp = 42
    out(fp) = 0xff.toByte; out(fp + 1) = 0xf8.toByte // sync + reserved 0 + fixed blocking
    out(fp + 2) = 0x70 // block size code 0111 (16-bit at end), rate code 0000 (STREAMINFO)
    out(fp + 3) = 0x08 // mono (0000), sample size 100 (16-bit), reserved 0
    out(fp + 4) = 0    // frame number 0 (1-byte coded number)
    out(fp + 5) = ((ns - 1) >> 8).toByte; out(fp + 6) = (ns - 1).toByte
    out(fp + 7) = crc8Flac(out, fp, fp + 7).toByte
    out(fp + 8) = 0x02 // subframe: pad 0, type 000001 = VERBATIM, no wasted bits
    var i = 0
    while (i < ns) { // 16-bit big-endian signed, byte-aligned at bps 16
      out(fp + 9 + 2 * i) = (samples(i) >> 8).toByte
      out(fp + 9 + 2 * i + 1) = samples(i).toByte
      i += 1
    }
    val crc16 = crc16Flac(out, fp, fp + 9 + 2 * ns)
    out(fp + 9 + 2 * ns) = (crc16 >> 8).toByte
    out(fp + 9 + 2 * ns + 1) = crc16.toByte
    out
  }

  /** Multi-frame FLAC writer (the `blockSize > 0` arm of
    * [[encodeFlac]]): fixed blocking, verbatim subframes, frames of
    * `blockSize` samples with a possibly-short final frame — the
    * fixture source for multi-frame decode gates. The single-frame
    * default stays the oracle path (its byte count is the closed form
    * the DuckDB oracles predict); here frame-header sizes vary with
    * the coded frame number's UTF-8 length, so no closed form is
    * claimed. */
  private def encodeFlacFrames(sampleRate: Int, samples: Array[Short],
                               blockSize: Int): Array[Byte] = {
    require(blockSize >= 16 && blockSize <= 65535, s"block size $blockSize outside 16..65535")
    require(samples.nonEmpty, "empty signal")
    require(sampleRate > 0 && sampleRate < (1 << 20), s"bad sample rate $sampleRate")
    // the coded-number writer below covers 16 bits of frame numbers,
    // and the decoder's output ceiling is 2²⁶ samples — fail LOUDLY
    // here rather than emit a stream the decoder must reject
    // (review r15: frame 0x10000 would corrupt its own lead byte)
    require((samples.length.toLong + blockSize - 1) / blockSize <= 65536,
      s"${samples.length} samples at block size $blockSize exceed 65536 frames")
    require(samples.length <= (1 << 26),
      s"${samples.length} samples exceed the decoder's 2^26 output ceiling")
    val out = new java.io.ByteArrayOutputStream(64 + 2 * samples.length)
    out.write("fLaC".getBytes("US-ASCII"))
    out.write(0x80); out.write(0); out.write(0); out.write(34)
    val si = new Array[Byte](34)
    // min block size EXCLUDES the last block (RFC 9639 §8.2), so a
    // constant-blocksize stream writes blockSize twice
    si(0) = (blockSize >> 8).toByte; si(1) = blockSize.toByte
    si(2) = (blockSize >> 8).toByte; si(3) = blockSize.toByte
    // frame sizes 4..9 stay 0 (unknown — legal); rate/ch/bps/total:
    si(10) = (sampleRate >> 12).toByte
    si(11) = (sampleRate >> 4).toByte
    si(12) = ((sampleRate & 0xf) << 4).toByte // | channels-1=0 | bps-1[4]=0
    si(13) = (0xf0 | ((samples.length.toLong >> 32) & 0xf)).toByte // bps-1=15 low nibble
    si(14) = (samples.length >> 24).toByte; si(15) = (samples.length >> 16).toByte
    si(16) = (samples.length >> 8).toByte; si(17) = samples.length.toByte
    flacMd5(samples).copyToArray(si, 18)
    out.write(si)
    var start = 0
    var number = 0L
    while (start < samples.length) {
      val bs = math.min(blockSize, samples.length - start)
      val f = new java.io.ByteArrayOutputStream(10 + 2 * bs)
      f.write(0xff); f.write(0xf8)
      f.write(0x70) // block size: 16-bit at end; rate from STREAMINFO
      f.write(0x08) // mono, 16-bit, reserved 0
      // coded frame number, shortest-form UTF-8 (enough for 2^16 frames)
      if (number < 0x80) f.write(number.toInt)
      else if (number < 0x800) {
        f.write(0xc0 | (number >> 6).toInt); f.write(0x80 | (number & 0x3f).toInt)
      } else {
        f.write(0xe0 | (number >> 12).toInt)
        f.write(0x80 | ((number >> 6) & 0x3f).toInt); f.write(0x80 | (number & 0x3f).toInt)
      }
      f.write(((bs - 1) >> 8) & 0xff); f.write((bs - 1) & 0xff)
      val hdr = f.toByteArray
      f.write(crc8Flac(hdr, 0, hdr.length))
      f.write(0x02) // verbatim subframe, no wasted bits
      var i = 0
      while (i < bs) {
        f.write((samples(start + i) >> 8) & 0xff); f.write(samples(start + i) & 0xff)
        i += 1
      }
      val body = f.toByteArray
      val c = crc16Flac(body, 0, body.length)
      out.write(body); out.write((c >> 8) & 0xff); out.write(c & 0xff)
      start += bs
      number += 1
    }
    out.toByteArray
  }

  /** `YUV4MPEG2 W{w} H{h} F25:1 Ip A0:0 C444\n` then per frame
    * `FRAME\n` + 3 planes of w*h bytes. */
  def encodeY4m(w: Int, h: Int, frames: Array[Array[Byte]]): Array[Byte] = {
    val frameSize = 3 * w * h
    frames.foreach(f => require(f.length == frameSize,
      s"frame length ${f.length} != 3*$w*$h"))
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A0:0 C444\n".getBytes("US-ASCII")
    val marker = "FRAME\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + frames.length * (marker.length + frameSize))
    var off = 0
    System.arraycopy(header, 0, out, off, header.length); off += header.length
    frames.foreach { f =>
      System.arraycopy(marker, 0, out, off, marker.length); off += marker.length
      System.arraycopy(f, 0, out, off, frameSize); off += frameSize
    }
    out
  }

  // -------------------------------------------------------------- decoders

  /** Total decode: sniff the container, parse it, or report
    * [[UnknownMedia]] on foreign/malformed bytes. */
  def decode(b: Array[Byte]): Media = {
    if (b == null) return UnknownMedia(0)
    try sniff(b) match {
      case "ppm" => decodePpm(b)
      case "png" => decodePng(b)
      case "bmp" => decodeBmp(b)
      case "gif" => decodeGif(b)
      case "jpg" => decodeJpeg(b)
      case "wav" => decodeWav(b)
      case "flac" => decodeFlac(b)
      case "y4m" => decodeY4m(b)
      case _     => UnknownMedia(b.length)
    } catch {
      // a parser running off the end of truncated bytes is DATA dirt,
      // not a code path worth aborting a scan for
      case _: IndexOutOfBoundsException | _: NumberFormatException |
           _: NegativeArraySizeException => UnknownMedia(b.length)
    }
  }

  /** Netpbm P6 parser: token scanner over the header (whitespace-
    * separated magic/width/height/maxval, `#` comments legal between
    * tokens), a single whitespace byte, then the raster. */
  private[operators] def decodePpm(b: Array[Byte]): Media = {
    var pos = 2 // past "P6"
    def skipSeparators(): Unit = {
      var going = true
      while (going && pos < b.length) {
        val c = b(pos) & 0xff
        if (c == '#') { while (pos < b.length && b(pos) != '\n') pos += 1 }
        else if (c == ' ' || c == '\t' || c == '\n' || c == '\r') pos += 1
        else going = false
      }
    }
    def readInt(): Int = {
      skipSeparators()
      // accumulate in LONG with the clamp checked after every digit:
      // an Int accumulator with a pre-multiply threshold still wraps
      // for prefixes in [2^31/10, threshold] and can alias a small
      // positive value (review r13 — "21474836485" would parse as 5);
      // the Long accumulator cannot wrap before the clamp fires. No
      // real raster dimension exceeds 2^28 (r12 verdict #3).
      var v = 0L; var any = false
      while (pos < b.length && b(pos) >= '0' && b(pos) <= '9') {
        v = v * 10 + (b(pos) - '0')
        if (v > (1L << 28)) throw new NumberFormatException("ppm dim overflow")
        pos += 1; any = true
      }
      if (!any) throw new NumberFormatException("ppm header")
      v.toInt
    }
    val w = readInt(); val h = readInt(); val maxval = readInt()
    // exactly ONE whitespace byte terminates the header (spec); a
    // maxval abutting the raster is malformed and must REJECT — the
    // old unconditional skip silently ate the first raster byte and
    // shifted every pixel by one (r13 advisory)
    if (pos >= b.length || { val c = b(pos) & 0xff
      c != ' ' && c != '\t' && c != '\n' && c != '\r' })
      return UnknownMedia(b.length)
    pos += 1
    // raster size in LONG: 3*w*h wraps Int for w,h ≥ ~46341 and a
    // wrapped-negative size would sail past a plain length check into
    // copyOfRange's IllegalArgumentException — an exception class the
    // total-decode catch does NOT cover (max-effort review, r12)
    if (w <= 0 || h <= 0 || maxval != 255 ||
        3L * w * h > (b.length - pos).toLong)
      return UnknownMedia(b.length)
    ImageMedia(w, h, "ppm", java.util.Arrays.copyOfRange(b, pos, pos + 3 * w * h))
  }

  /** PNG parser: signature + chunk walk with per-chunk CRC-32
    * verification (a corrupt chunk rejects the file, it doesn't
    * decode to garbage), IHDR-first ordering enforced, IDAT payloads
    * concatenated into one zlib stream and inflated with
    * `java.util.zip.Inflater` (so Huffman-compressed streams from
    * real writers decode, not just [[zlibStored]]'s stored blocks),
    * then per-row unfiltering of all five filter types. Profiles:
    * 8-bit truecolor RGB (color type 2), 8-bit GRAYSCALE (color
    * type 0 — scientific/medical writers ship these; the single
    * channel expands to r=g=b so every downstream consumer sees one
    * pixel format), 8-bit PALETTE (color type 3 — the most common
    * indexed profile on the real web; PLTE must precede IDAT, hold
    * 1–256 whole RGB entries, and every decoded index must be inside
    * it — an out-of-range index rejects, as libpng errors) and 16-BIT
    * grayscale/truecolor (r14 — unfiltered at the wider
    * bytes-per-pixel offset, then down-shifted to each big-endian
    * sample's high byte; 16-bit palette is illegal per spec Table
    * 11.1 and rejects), sequential AND Adam7-interlaced (r14: seven
    * independently-filtered sub-images scattered to final positions),
    * and ALPHA in all its spec forms (r15): in-stream for GRAY+ALPHA
    * (type 4) and RGBA (type 6, both depths), and tRNS transparency
    * for types 0/2 (a full-depth color key) and 3 (per-palette-entry
    * alpha) — resolved at decode by compositing over an opaque WHITE
    * background, c' = (a·c + (255−a)·255 + 127)/255, so the decoded
    * image stays 3-channel (the documented alpha contract; the
    * oracles rebuild that exact integer expression). Anything else is
    * honest [[UnknownMedia]], as are truncated streams, foreign
    * trailing bytes and wrapped-dimension headers (LONG bounds before
    * every allocation). Ancillary chunks (tEXt/pHYs/…) are skipped after
    * their CRC validates; UNKNOWN CRITICAL chunks (ancillary bit
    * clear) reject the file — libpng errors on a critical chunk it
    * cannot interpret, and silently skipping one would decode an
    * image whose spec-mandated meaning we ignored (r13 advisory). */
  private[operators] def decodePng(b: Array[Byte]): Media = {
    if (b.length < 8 + 25 + 12 + 12) return UnknownMedia(b.length) // sig+IHDR+IDAT+IEND minimum
    var pos = 8
    var w = 0; var h = 0; var bpp = 0; var colorType = -1
    var sampleBytes = 1
    var interlaced = false
    var seenIhdr = false; var seenIend = false
    var inIdat = false; var idatClosed = false
    var palette: Array[Byte] = null
    var trns: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    while (!seenIend) {
      if (pos + 8 > b.length) return UnknownMedia(b.length)
      val len = getIntBE(b, pos)
      // LONG bounds: a declared length near 2³¹ wraps pos+12+len
      // around Int and a plain check would pass it
      if (len < 0 || pos.toLong + 12L + len > b.length.toLong)
        return UnknownMedia(b.length)
      val typ = new String(b, pos + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(b, pos + 4, 4 + len)
      if (crc.getValue.toInt != getIntBE(b, pos + 8 + len))
        return UnknownMedia(b.length)
      // IHDR must be the FIRST chunk (spec; libpng rejects files with
      // any chunk — ancillary included — ahead of it; max-effort
      // review r13: the walk only rejected IDAT-before-IHDR)
      if (!seenIhdr && typ != "IHDR") return UnknownMedia(b.length)
      typ match {
        case "IHDR" =>
          if (seenIhdr || len != 13) return UnknownMedia(b.length)
          seenIhdr = true
          w = getIntBE(b, pos + 8); h = getIntBE(b, pos + 12)
          val depth = b(pos + 16) & 0xff; colorType = b(pos + 17) & 0xff
          val comp = b(pos + 18); val filt = b(pos + 19); val inter = b(pos + 20)
          // alpha profiles (r15): 4 = gray+alpha, 6 = RGBA — decoded
          // by compositing over an opaque WHITE background (the
          // documented alpha contract; see the composite below), so
          // ImageMedia stays 3-channel for every downstream consumer
          val channels = colorType match {
            case 2 => 3; case 0 => 1; case 3 => 1; case 4 => 2; case 6 => 4
            case _ => 0
          }
          // 16-bit depth (r14): legal for grayscale/truecolor, decoded
          // by down-shifting to each sample's HIGH byte (big-endian
          // per spec) after unfiltering — the standard 8-bit view of a
          // deep raster. 16-bit palette is illegal (spec Table 11.1).
          sampleBytes = depth match {
            case 8                       => 1
            case 16 if colorType != 3    => 2
            case _                       => 0
          }
          bpp = channels * sampleBytes // the unfilter's left-neighbor byte offset
          // raster and scanline sizes in LONG first: 3·w·h and
          // h·(1+bpp·w) both wrap Int for dims ~46341 (the r12
          // PPM/Y4M lesson applied to the new parser from day one);
          // the OUTPUT raster is always 3·w·h — grayscale and palette
          // profiles expand
          // interlace 1 = Adam7 (r14): seven sub-images, each
          // filtered independently, scattered to final positions
          interlaced = inter == 1
          if (w <= 0 || h <= 0 || bpp == 0 ||
              comp != 0 || filt != 0 || (inter != 0 && inter != 1) ||
              3L * w * h > Int.MaxValue.toLong ||
              // Adam7 raw ≤ pixel bytes + <2h filter bytes; the
              // sequential bound dominates both modes with headroom
              h.toLong * (2L + bpp.toLong * w) > Int.MaxValue.toLong)
            return UnknownMedia(b.length)
        case "PLTE" =>
          // spec §11.2.3: one PLTE, before IDAT, 1–256 whole RGB
          // entries; REQUIRED for color type 3, a legal suggested
          // palette for types 2 and 6 (stored then unused), FORBIDDEN
          // for the grayscale types 0 and 4
          if (palette != null || inIdat || idatClosed ||
              colorType == 0 || colorType == 4 ||
              len == 0 || len % 3 != 0 || len / 3 > 256)
            return UnknownMedia(b.length)
          palette = java.util.Arrays.copyOfRange(b, pos + 8, pos + 8 + len)
        case "IDAT" =>
          // IDAT chunks must be CONSECUTIVE (spec; libpng rejects an
          // IDAT resuming after a foreign chunk — review r13)
          if (idatClosed) return UnknownMedia(b.length)
          inIdat = true
          idat.write(b, pos + 8, len)
        case "IEND" =>
          // IEND's data length is 0 by spec — a CRC-valid 'IEND'
          // carrying payload bytes is not a PNG trailer (r13 advisory)
          if (len != 0) return UnknownMedia(b.length)
          seenIend = true
        case "tRNS" =>
          // transparency as an ancillary chunk (r15, §11.3.2): a
          // 2-byte gray key for type 0, a 6-byte RGB key for type 2
          // (keyed pixels become fully transparent — composited to
          // the white background below; for sub-16 depths the key's
          // high bytes must be zero, an out-of-range key rejects),
          // per-entry alpha bytes for type 3 (entries beyond the
          // table are opaque; a table longer than the palette
          // rejects). FORBIDDEN for types 4/6 (alpha is in-stream),
          // must precede IDAT, and for type 3 must follow PLTE.
          if (trns != null || inIdat || idatClosed ||
              colorType == 4 || colorType == 6 || len == 0)
            return UnknownMedia(b.length)
          val okLen = colorType match {
            case 0 => len == 2
            case 2 => len == 6
            case 3 => palette != null && len <= palette.length / 3
            case _ => false
          }
          if (!okLen) return UnknownMedia(b.length)
          if (sampleBytes == 1 && (colorType == 0 || colorType == 2)) {
            var i = 0
            while (i < len) {
              if (b(pos + 8 + i) != 0) return UnknownMedia(b.length)
              i += 2
            }
          }
          trns = java.util.Arrays.copyOfRange(b, pos + 8, pos + 8 + len)
        case _ =>
          // bit 5 of the type's first byte: set = ancillary (safe to
          // skip once its CRC validated), clear = CRITICAL — a chunk
          // the spec says a decoder must understand to render the
          // image; skipping one silently is how foreign profiles
          // decode to garbage (r13 advisory)
          if ((b(pos + 4) & 0x20) == 0) return UnknownMedia(b.length)
          if (inIdat) idatClosed = true
      }
      pos += 12 + len
    }
    // palette presence is part of the profile contract: type 3 cannot
    // decode without one
    if (colorType == 3 && palette == null) return UnknownMedia(b.length)
    // IEND is the LAST chunk by spec — trailing foreign bytes mean
    // the payload is not the PNG it claims to be (review r13: the
    // docstring promised this rejection; the walk only enforced it
    // for truncation, not for surplus). seenIhdr is necessarily true
    // here: the first-chunk guard above rejects ANY pre-IHDR chunk,
    // IEND included, so the ordering invariant lives in ONE place.
    if (pos != b.length) return UnknownMedia(b.length)
    if (idat.size == 0) return UnknownMedia(b.length)
    val rowLen = bpp * w
    // Adam7 pass geometry (spec 8.2): origin and stride per pass;
    // empty passes contribute NO scanlines
    val a7x0 = Array(0, 4, 0, 2, 0, 1, 0); val a7y0 = Array(0, 0, 4, 0, 2, 0, 1)
    val a7dx = Array(8, 8, 4, 4, 2, 2, 1); val a7dy = Array(8, 8, 8, 4, 4, 2, 2)
    def passW(p: Int): Int = if (w > a7x0(p)) (w - a7x0(p) + a7dx(p) - 1) / a7dx(p) else 0
    def passH(p: Int): Int = if (h > a7y0(p)) (h - a7y0(p) + a7dy(p) - 1) / a7dy(p) else 0
    val rawLen =
      if (!interlaced) h * (1 + rowLen)
      else (0 until 7).map(p =>
        if (passW(p) > 0 && passH(p) > 0) passH(p) * (1 + bpp * passW(p)) else 0).sum
    val raw = new Array[Byte](rawLen)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var got = 0
      while (got < rawLen && !inf.finished()) {
        val n = inf.inflate(raw, got, rawLen - got)
        // n == 0 with input remaining means a truncated or
        // dictionary-requiring stream — both malformed here
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          return UnknownMedia(b.length)
        got += n
      }
      if (got < rawLen) return UnknownMedia(b.length)
      // surplus raw data beyond the declared raster (libpng rejects
      // this) must not silently decode from a prefix: probe one more
      // byte — a well-formed stream yields 0 here (the trailing
      // Adler-32 is consumed and `finished` flips), a surplus-data
      // stream yields a byte (review r13)
      if (!inf.finished()) {
        val probe = new Array[Byte](1)
        if (inf.inflate(probe, 0, 1) > 0) return UnknownMedia(b.length)
      }
    } catch {
      case _: java.util.zip.DataFormatException => return UnknownMedia(b.length)
    } finally inf.end()
    // unfilter: each row's filter byte selects the inverse transform;
    // the reconstruction reads already-reconstructed neighbors (left,
    // up, up-left — at BPP offsets, so the same loop serves every
    // profile), exactly the spec's sequential dependency. One helper
    // serves both modes: the sequential raster is a single "pass" of
    // the full dimensions, an Adam7 sub-image is a pass of its own
    // dimensions (each filtered independently per spec 8.2).
    def unfilterRows(srcOff: Int, rows: Int, rowBytes: Int, dst: Array[Byte]): Boolean = {
      var y = 0
      while (y < rows) {
        val f = raw(srcOff + y * (1 + rowBytes)) & 0xff
        if (f > 4) return false
        var x = 0
        while (x < rowBytes) {
          val v = raw(srcOff + y * (1 + rowBytes) + 1 + x) & 0xff
          val left = if (x >= bpp) dst(y * rowBytes + x - bpp) & 0xff else 0
          val up = if (y > 0) dst((y - 1) * rowBytes + x) & 0xff else 0
          val ul = if (x >= bpp && y > 0) dst((y - 1) * rowBytes + x - bpp) & 0xff else 0
          val r = f match {
            case 0 => v
            case 1 => v + left
            case 2 => v + up
            case 3 => v + (left + up) / 2
            case _ => v + paeth(left, up, ul)
          }
          dst(y * rowBytes + x) = r.toByte
          x += 1
        }
        y += 1
      }
      true
    }
    val recon = new Array[Byte](h * rowLen)
    if (!interlaced) {
      if (!unfilterRows(0, h, rowLen, recon)) return UnknownMedia(b.length)
    } else {
      // Adam7: unfilter each sub-image against its OWN neighbors,
      // then scatter its pixels to their final raster positions
      var off = 0
      var p = 0
      while (p < 7) {
        val pw = passW(p); val ph = passH(p)
        if (pw > 0 && ph > 0) {
          val prow = bpp * pw
          val prec = new Array[Byte](ph * prow)
          if (!unfilterRows(off, ph, prow, prec)) return UnknownMedia(b.length)
          var py = 0
          while (py < ph) {
            val fy = a7y0(p) + py * a7dy(p)
            var px = 0
            while (px < pw) {
              val fx = a7x0(p) + px * a7dx(p)
              var c = 0
              while (c < bpp) {
                recon(fy * rowLen + fx * bpp + c) = prec(py * prow + px * bpp + c)
                c += 1
              }
              px += 1
            }
            py += 1
          }
          off += ph * (1 + prow)
        }
        p += 1
      }
    }
    // 16-bit rasters fold to their high bytes AFTER unfiltering (the
    // filter operates on raw scanline bytes at bpp offsets; the
    // down-shift is a view of the reconstructed samples)
    val samples =
      if (sampleBytes == 1) recon
      else Array.tabulate[Byte](recon.length / 2)(i => recon(2 * i))
    // THE ALPHA CONTRACT (r15): alpha — in-stream (types 4/6) or via
    // tRNS (types 0/2/3) — is resolved at decode by compositing over
    // an opaque WHITE background with round-half-up integer math:
    //   c' = (a·c + (255−a)·255 + 127) / 255
    // so ImageMedia stays 3-channel and every downstream consumer
    // (hash, embed, resize, the oracles) sees one pixel format; the
    // oracles rebuild this exact expression. tRNS keys compare at
    // FULL bit depth (a 16-bit pixel whose low bytes differ from the
    // key is NOT transparent), before the high-byte fold.
    def comp(v: Int, a: Int): Byte =
      ((a * v + (255 - a) * 255 + 127) / 255).toByte
    // full-depth sample j (big-endian 16-bit or plain 8-bit) — for
    // tRNS key comparison only
    def fullSample(j: Int): Int =
      if (sampleBytes == 1) recon(j) & 0xff
      else ((recon(2 * j) & 0xff) << 8) | (recon(2 * j + 1) & 0xff)
    def key16(t: Array[Byte], c: Int): Int =
      ((t(2 * c) & 0xff) << 8) | (t(2 * c + 1) & 0xff)
    def key(t: Array[Byte], c: Int): Int =
      if (sampleBytes == 1) t(2 * c + 1) & 0xff else key16(t, c)
    val rgb = colorType match {
      case 2 =>
        if (trns == null) samples
        else {
          val out = new Array[Byte](3 * w * h)
          var i = 0
          while (i < w * h) {
            val transparent = fullSample(3 * i) == key(trns, 0) &&
              fullSample(3 * i + 1) == key(trns, 1) &&
              fullSample(3 * i + 2) == key(trns, 2)
            val a = if (transparent) 0 else 255
            out(3 * i) = comp(samples(3 * i) & 0xff, a)
            out(3 * i + 1) = comp(samples(3 * i + 1) & 0xff, a)
            out(3 * i + 2) = comp(samples(3 * i + 2) & 0xff, a)
            i += 1
          }
          out
        }
      case 3 => // palette: each index → its PLTE triple; an index beyond
        // the palette is a spec violation (libpng errors), not a
        // clamp — rejecting keeps "decoded" meaning "every byte was
        // interpreted by the book". tRNS holds per-ENTRY alpha;
        // entries past the table are opaque.
        val entries = palette.length / 3
        val out = new Array[Byte](3 * w * h)
        var i = 0
        while (i < samples.length) {
          val idx = samples(i) & 0xff
          if (idx >= entries) return UnknownMedia(b.length)
          val a = if (trns != null && idx < trns.length) trns(idx) & 0xff else 255
          out(3 * i) = comp(palette(3 * idx) & 0xff, a)
          out(3 * i + 1) = comp(palette(3 * idx + 1) & 0xff, a)
          out(3 * i + 2) = comp(palette(3 * idx + 2) & 0xff, a)
          i += 1
        }
        out
      case 4 => // gray+alpha: composite, then expand to r = g = b
        val out = new Array[Byte](3 * w * h)
        var i = 0
        while (i < w * h) {
          val g = comp(samples(2 * i) & 0xff, samples(2 * i + 1) & 0xff)
          out(3 * i) = g; out(3 * i + 1) = g; out(3 * i + 2) = g
          i += 1
        }
        out
      case 6 => // RGBA: per-channel composite with the pixel's alpha
        val out = new Array[Byte](3 * w * h)
        var i = 0
        while (i < w * h) {
          val a = samples(4 * i + 3) & 0xff
          out(3 * i) = comp(samples(4 * i) & 0xff, a)
          out(3 * i + 1) = comp(samples(4 * i + 1) & 0xff, a)
          out(3 * i + 2) = comp(samples(4 * i + 2) & 0xff, a)
          i += 1
        }
        out
      case _ => // grayscale: expand the single channel to r = g = b,
        // with the optional tRNS gray key
        val out = new Array[Byte](3 * w * h)
        var i = 0
        while (i < samples.length) {
          val a =
            if (trns != null && fullSample(i) == key(trns, 0)) 0 else 255
          val g = comp(samples(i) & 0xff, a)
          out(3 * i) = g; out(3 * i + 1) = g; out(3 * i + 2) = g
          i += 1
        }
        out
    }
    ImageMedia(w, h, "png", rgb)
  }

  /** BMP parser: pixel-array offset read from the file header (not
    * assumed 54), 24 bpp uncompressed only, positive height =
    * bottom-up (negative = top-down, also handled — real files ship
    * both), BGR → RGB swap, padded-stride walk. */
  private[operators] def decodeBmp(b: Array[Byte]): Media = {
    if (b.length < 54) return UnknownMedia(b.length)
    val pixelOff = getIntLE(b, 10)
    val w = getIntLE(b, 18)
    val hRaw = getIntLE(b, 22)
    val bpp = getShortLE(b, 28)
    val compression = getIntLE(b, 30)
    val topDown = hRaw < 0
    // math.abs(Int.MinValue) stays negative: 3L*w*h would then pass
    // the sign check as a negative long and the row loop would never
    // run, leaking an ImageMedia with height -2^31 (r13 advisory) —
    // reject the unnegatable height explicitly
    if (hRaw == Int.MinValue) return UnknownMedia(b.length)
    val h = math.abs(hRaw)
    // the raster bound also keeps 3*w+3 (stride) and 3*w*h (alloc)
    // inside Int — wrapped values only failed through caught
    // exceptions here, but the guard makes malformed-header rejection
    // explicit instead of incidental (max-effort review, r12)
    if (w <= 0 || h == 0 || bpp != 24 || compression != 0 ||
        3L * w * h > Int.MaxValue.toLong)
      return UnknownMedia(b.length)
    val stride = ((3 * w + 3) / 4) * 4
    if (pixelOff < 0 || b.length - pixelOff < stride.toLong * h)
      return UnknownMedia(b.length)
    val rgb = new Array[Byte](3 * w * h)
    var y = 0
    while (y < h) {
      val srcRow = if (topDown) y else h - 1 - y
      val rowOff = pixelOff + srcRow * stride
      var x = 0
      while (x < w) {
        val dst = (y * w + x) * 3
        rgb(dst) = b(rowOff + x * 3 + 2)     // R
        rgb(dst + 1) = b(rowOff + x * 3 + 1) // G
        rgb(dst + 2) = b(rowOff + x * 3)     // B
        x += 1
      }
      y += 1
    }
    ImageMedia(w, h, "bmp", rgb)
  }

  /** GIF87a/89a decoder (spec: GIF89a, CompuServe 1990): LSD
    * + global color table, extension blocks (a graphic control
    * extension is parsed for transparency and disposal; comment /
    * plain-text / application and unknown labels are skipped via the
    * self-describing sub-block walk the spec designed for exactly
    * that), sub-screen/offset images under full disposal-aware BOX
    * COMPOSITION (r16; a local color table overrides the GCT; the
    * four-pass interlace is de-scattered WITHIN the box), general
    * LZW (code growth 9→12 bits, the KwKwK first-char case, deferred
    * clear when the table fills), then the trailer with nothing
    * after it. The decoder maintains the logical SCREEN as a
    * composited canvas, white-initialized (the a=0 case of the PNG
    * alpha contract): each frame paints its non-transparent box
    * pixels over the canvas, the DISPLAYED state is emitted, then
    * the frame's disposal mutates what the NEXT frame composites
    * against — 0/1 keep the canvas, 2 (restore-to-background)
    * clears the frame's rect back to the BASE (the declared
    * background color when the logical screen sets a nonzero index
    * into the global table — r17; else white, the practical renderer
    * consensus), 3 (restore-to-previous) reverts the canvas to its
    * pre-paint state. ONE image decodes to
    * [[ImageMedia]] at SCREEN dims (a sub-screen single image sits
    * in a white canvas); an ANIMATION (two or more) decodes to
    * [[VideoMedia]]. Frames convert to C444 Y/Cb/Cr planes (the Y4M
    * plane layout) through the SAME 1/65536 fixed-point BT.601 the
    * JPEG encoder uses, so downstream video consumers (hash,
    * resize-to-Y4M, frame sampling) see one color space.
    * Honest rejections: a box that does not fit the logical screen,
    * disposal 4..7 (undefined by GIF89a §23), a missing color
    * table, an out-of-range pixel index, a code beyond the
    * table, a missing EOI, data after EOI, trailing bytes after the
    * trailer, and an animation whose decoded planes would exceed
    * the 2²⁸ output ceiling (the FLAC precedent — a few KB of
    * constant-color frames must not inflate into gigabytes). */
  private[operators] def decodeGif(b: Array[Byte]): Media = {
    if (b.length < 6 + 7 + 6 + 1) return UnknownMedia(b.length)
    val sw = getShortLE(b, 6); val sh = getShortLE(b, 8)
    val packed = b(10) & 0xff
    if (sw <= 0 || sh <= 0 || 3L * sw * sh > Int.MaxValue.toLong)
      return UnknownMedia(b.length)
    var pos = 13
    var gct: Array[Byte] = null; var gctEntries = 0
    if ((packed & 0x80) != 0) {
      gctEntries = 1 << ((packed & 7) + 1)
      if (pos + 3 * gctEntries > b.length) return UnknownMedia(b.length)
      gct = java.util.Arrays.copyOfRange(b, pos, pos + 3 * gctEntries)
      pos += 3 * gctEntries
    }
    // the composition BASE (r17): white — the a=0 contract — unless
    // the logical screen declares a NONZERO background color index
    // into the global table. Index 0 is the overwhelmingly-common
    // "unset" convention (our encoders and most real writers emit 0),
    // so 0 keeps the r16 white contract and every prior fixture
    // byte-identical; an out-of-table index falls back to white too.
    val bgIdx = b(11) & 0xff
    val base: Array[Byte] =
      if (bgIdx > 0 && gct != null && bgIdx < gctEntries)
        Array(gct(3 * bgIdx), gct(3 * bgIdx + 1), gct(3 * bgIdx + 2))
      else Array(-1: Byte, -1: Byte, -1: Byte)
    var transparentIdx = -1; var gcePending = false
    var pendingDisposal = 0 // from the GCE governing the NEXT frame
    // composited 3·sw·sh RGB working state — the logical SCREEN, not
    // the frame: sub-screen frames paint their box into it, disposal
    // decides what the NEXT frame composites against. White-initialized
    // at the first frame (the a=0 case of the PNG alpha contract).
    var canvas: Array[Byte] = null
    val rgbFrames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    while (true) {
      if (pos >= b.length) return UnknownMedia(b.length)
      (b(pos) & 0xff) match {
        case 0x21 => // extension: label + sub-blocks
          if (pos + 2 > b.length) return UnknownMedia(b.length)
          val label = b(pos + 1) & 0xff
          pos += 2
          if (label == 0xf9) {
            // graphic control: exactly one 4-byte sub-block, at most
            // one per graphic block (spec §23), before the image it
            // governs; disposal 4..7 are undefined by GIF89a §23
            if (gcePending || pos + 6 > b.length ||
                (b(pos) & 0xff) != 4 || (b(pos + 5) & 0xff) != 0)
              return UnknownMedia(b.length)
            gcePending = true
            pendingDisposal = (b(pos + 1) >> 2) & 7
            if (pendingDisposal > 3) return UnknownMedia(b.length)
            if ((b(pos + 1) & 1) != 0) transparentIdx = b(pos + 4) & 0xff
            pos += 6
          } else {
            var going = true
            while (going) {
              if (pos >= b.length) return UnknownMedia(b.length)
              val k = b(pos) & 0xff
              if (pos + 1 + k > b.length) return UnknownMedia(b.length)
              pos += 1 + k
              going = k != 0
            }
          }
        case 0x2c => // image descriptor
          // output ceiling across the animation (the FLAC precedent):
          // decoded planes, not input bytes, are what a crafted
          // constant-color stream inflates
          if ((rgbFrames.length + 1).toLong * 3L * sw * sh > (1L << 28))
            return UnknownMedia(b.length)
          if (pos + 10 > b.length) return UnknownMedia(b.length)
          val left = getShortLE(b, pos + 1); val top = getShortLE(b, pos + 3)
          val iw = getShortLE(b, pos + 5); val ih = getShortLE(b, pos + 7)
          val ip = b(pos + 9) & 0xff
          if (iw <= 0 || ih <= 0 || left + iw > sw || top + ih > sh)
            return UnknownMedia(b.length) // the box must fit the logical screen
          val interlaced = (ip & 0x40) != 0
          pos += 10
          var pal = gct; var palEntries = gctEntries
          if ((ip & 0x80) != 0) {
            palEntries = 1 << ((ip & 7) + 1)
            if (pos + 3 * palEntries > b.length) return UnknownMedia(b.length)
            pal = java.util.Arrays.copyOfRange(b, pos, pos + 3 * palEntries)
            pos += 3 * palEntries
          }
          if (pal == null) return UnknownMedia(b.length)
          if (pos >= b.length) return UnknownMedia(b.length)
          val mcs = b(pos) & 0xff
          if (mcs < 2 || mcs > 8) return UnknownMedia(b.length)
          pos += 1
          // collect the data sub-blocks into one buffer
          val buf = new java.io.ByteArrayOutputStream(256)
          var going = true
          while (going) {
            if (pos >= b.length) return UnknownMedia(b.length)
            val k = b(pos) & 0xff
            if (pos + 1 + k > b.length) return UnknownMedia(b.length)
            if (k > 0) buf.write(b, pos + 1, k)
            pos += 1 + k
            going = k != 0
          }
          val idx = gifLzwDecode(buf.toByteArray, mcs, iw * ih, palEntries)
          if (idx == null) return UnknownMedia(b.length)
          if (canvas == null) {
            canvas = new Array[Byte](3 * sw * sh)
            var ci = 0
            while (ci < canvas.length) { canvas(ci) = base(ci % 3); ci += 1 }
          }
          val disposal = if (gcePending) pendingDisposal else 0
          // restore-to-previous needs the pre-paint canvas back after
          // this frame displays
          val before = if (disposal == 3) canvas.clone else null
          // paint the box: non-transparent pixels over the canvas,
          // de-scattering interlaced row order WITHIN the box;
          // transparent pixels leave the canvas showing through
          val rows = if (interlaced) gifInterlaceRows(ih) else null
          var k = 0
          while (k < ih) {
            val dstRow = top + (if (rows == null) k else rows(k))
            var x = 0
            while (x < iw) {
              val v = idx(k * iw + x) & 0xff
              if (v != transparentIdx) {
                val d = (dstRow * sw + left + x) * 3
                canvas(d) = pal(3 * v); canvas(d + 1) = pal(3 * v + 1); canvas(d + 2) = pal(3 * v + 2)
              }
              x += 1
            }
            k += 1
          }
          // the DISPLAYED state is the canvas after this frame paints;
          // disposal mutates only what the NEXT frame composites against
          rgbFrames += canvas.clone
          disposal match {
            case 0 | 1 => () // unspecified / do-not-dispose: keep
            case 2 => // restore-to-background: the frame's rect clears
              // to the BASE — the declared background color when the
              // screen sets a nonzero index, else white (the a=0
              // contract / practical renderer consensus)
              var y = top
              while (y < top + ih) {
                var x = left
                while (x < left + iw) {
                  val d = (y * sw + x) * 3
                  canvas(d) = base(0); canvas(d + 1) = base(1); canvas(d + 2) = base(2)
                  x += 1
                }
                y += 1
              }
            case _ => canvas = before // 3: restore-to-previous
          }
          gcePending = false; pendingDisposal = 0; transparentIdx = -1
        case 0x3b => // trailer
          if (rgbFrames.isEmpty || pos + 1 != b.length) return UnknownMedia(b.length)
          if (rgbFrames.length == 1) return ImageMedia(sw, sh, "gif", rgbFrames.head)
          return VideoMedia(sw, sh, rgbFrames.map(rgbFrameToYuvPlanes(sw, sh, _)).toArray)
        case _ => return UnknownMedia(b.length)
      }
    }
    UnknownMedia(b.length) // unreachable
  }

  /** Full-range BT.601 (ITU-T T.871 §7) as 2⁻¹⁶ fixed point, ONE
    * definition for every RGB→YCbCr site ([[jpegColorPlanes]] and
    * the animated-GIF planes): coefficient rows sum to exactly
    * 65536 / 0 / 0, so R=G=B maps to (Y=v, Cb=128, Cr=128) — the
    * grayscale invariant both the JPEG oracles and the GIF≡Y4M twin
    * gate lean on. Unclamped: saturated blue pushes Cb to 256
    * (byte-range consumers clamp, the JPEG Int planes don't need
    * to). */
  @inline private def yccY(r: Int, g: Int, b: Int): Int =
    (19595 * r + 38470 * g + 7471 * b + 32768) >> 16
  @inline private def yccCb(r: Int, g: Int, b: Int): Int =
    128 + ((-11059 * r - 21709 * g + 32768 * b + 32768) >> 16)
  @inline private def yccCr(r: Int, g: Int, b: Int): Int =
    128 + ((32768 * r - 27439 * g - 5329 * b + 32768) >> 16)

  /** RGB → planar C444 Y/Cb/Cr via the shared [[yccY]] transform,
    * clamped to byte range. Gives animated-GIF frames the Y4M plane
    * layout. */
  private def rgbFrameToYuvPlanes(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    val n = w * h
    val out = new Array[Byte](3 * n)
    def clamp(v: Int): Byte = (if (v < 0) 0 else if (v > 255) 255 else v).toByte
    var i = 0
    while (i < n) {
      val r = rgb(3 * i) & 0xff; val g = rgb(3 * i + 1) & 0xff; val bl = rgb(3 * i + 2) & 0xff
      out(i) = clamp(yccY(r, g, bl))
      out(n + i) = clamp(yccCb(r, g, bl))
      out(2 * n + i) = clamp(yccCr(r, g, bl))
      i += 1
    }
    out
  }

  /** General GIF LZW over a collected data buffer: returns exactly
    * `nPixels` indices, each < `palEntries`, or null on any
    * malformation — a code beyond the table, a non-literal first
    * code after clear, output past the pixel count, a missing EOI,
    * or data bytes after the EOI code's byte. Handles code-size
    * growth at table sizes 512/1024/2048, the code==next (KwKwK)
    * case, and the full-table deferred-clear state. */
  private def gifLzwDecode(data: Array[Byte], mcs: Int, nPixels: Int,
                           palEntries: Int): Array[Byte] = {
    val clear = 1 << mcs; val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4096)
    val out = new Array[Byte](nPixels)
    var outPos = 0
    var codeSize = mcs + 1
    var next = eoi + 1
    var prev = -1; var prevFirst = 0
    var acc = 0L; var nbits = 0; var bytePos = 0
    while (true) {
      while (nbits < codeSize) {
        if (bytePos >= data.length) return null // ran out before EOI
        acc |= (data(bytePos) & 0xffL) << nbits
        bytePos += 1; nbits += 8
      }
      val code = (acc & ((1L << codeSize) - 1)).toInt
      acc >>= codeSize; nbits -= codeSize
      if (code == clear) {
        next = eoi + 1; codeSize = mcs + 1; prev = -1
      } else if (code == eoi) {
        // the stream must cover the raster exactly, and nothing may
        // follow the EOI but sub-byte padding (≤7 bits — the reader
        // never holds a full byte after extraction)
        if (outPos != nPixels || bytePos != data.length) return null
        return out
      } else if (prev == -1) {
        if (code >= clear) return null // first code after clear must be a literal
        if (code >= palEntries || outPos >= nPixels) return null
        out(outPos) = code.toByte; outPos += 1
        prev = code; prevFirst = code
      } else {
        if (code > next) return null // beyond the table (next==4096 ⇒ unreachable: codes cap at 4095)
        var sp = 0
        var cur = code
        if (code == next) { // KwKwK: prev's string + prev's first char
          stack(sp) = prevFirst.toByte; sp += 1
          cur = prev
        }
        while (cur >= clear + 2) { // walk an assigned code's chain
          stack(sp) = suffix(cur); sp += 1
          cur = prefix(cur)
        }
        if (cur >= clear) return null // chain must root at a literal
        val first = cur
        stack(sp) = cur.toByte; sp += 1
        if (outPos + sp > nPixels) return null
        while (sp > 0) {
          sp -= 1
          val v = stack(sp) & 0xff
          if (v >= palEntries) return null
          out(outPos) = stack(sp); outPos += 1
        }
        if (next < 4096) { // table full ⇒ deferred clear: add nothing
          prefix(next) = prev; suffix(next) = first.toByte
          next += 1
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code; prevFirst = first
      }
    }
    null // unreachable
  }

  /** RIFF chunk walker: finds `fmt ` and `data` wherever they sit
    * (LIST/INFO chunks may precede them in real files), honors the
    * odd-size pad byte, accepts PCM 16-bit only. */
  private[operators] def decodeWav(b: Array[Byte]): Media = {
    var pos = 12 // past RIFF size WAVE
    var sampleRate = -1
    var fmtOk = false
    var samples: Array[Short] = null
    while (pos + 8 <= b.length && (samples == null || !fmtOk)) {
      val id = new String(b, pos, 4, "US-ASCII")
      val size = getIntLE(b, pos + 4)
      // LONG bounds: pos + 8 + size wraps Int for a declared size near
      // 2³¹, sails past the check, and the data branch then allocates
      // a ~2 GB Array[Short] — an OutOfMemoryError no catch handles;
      // one 20-byte corrupt object must not kill an executor
      // (max-effort review, r12)
      if (size < 0 || pos.toLong + 8L + size > b.length.toLong)
        return UnknownMedia(b.length)
      id match {
        case "fmt " if size >= 16 =>
          val audioFormat = getShortLE(b, pos + 8)
          val channels = getShortLE(b, pos + 10)
          sampleRate = getIntLE(b, pos + 12)
          val bits = getShortLE(b, pos + 22)
          fmtOk = audioFormat == 1 && channels == 1 && bits == 16
        // first data chunk WINS — well-formed WAVs carry exactly one,
        // and common readers keep the first if a malformed file ships
        // two; the old fall-through silently overwrote the first
        // chunk's samples with the second's (r13 advisory)
        case "data" if samples == null =>
          val n = size / 2
          samples = new Array[Short](n)
          var i = 0
          while (i < n) { samples(i) = getShortLE(b, pos + 8 + 2 * i).toShort; i += 1 }
        case _ => // skip foreign chunk
      }
      pos += 8 + size + (size & 1) // RIFF chunks pad to even
    }
    if (!fmtOk || samples == null || sampleRate <= 0) UnknownMedia(b.length)
    else AudioMedia(sampleRate, samples)
  }

  /** MSB-first bit reader for the FLAC entropy layer. Reads past the
    * end throw [[IndexOutOfBoundsException]] naturally — [[decode]]'s
    * totality catch turns truncation into [[UnknownMedia]], the same
    * contract as every other parser here. */
  private final class FlacBitReader(b: Array[Byte], var pos: Int) {
    private var bit = 0
    def read(n: Int): Int = {
      var v = 0; var k = n
      while (k > 0) {
        v = (v << 1) | ((b(pos) >> (7 - bit)) & 1)
        bit += 1; if (bit == 8) { bit = 0; pos += 1 }
        k -= 1
      }
      v
    }
    /** Sign-extended n-bit read (n ≥ 1). */
    def readSigned(n: Int): Int = {
      val v = read(n)
      if ((v & (1 << (n - 1))) != 0) v - (1 << n) else v
    }
    /** Unary: zeros until the terminating 1 (RFC 9639 §9.2.1). The
      * count is bounded by the payload (end-of-bytes throws); a
      * conforming Rice quotient is small, so an absurd run is corrupt
      * data burning CPU — cap it at 2²⁰ like the JPEG reader caps
      * its run lengths. */
    def unary(): Int = {
      var q = 0
      while (((b(pos) >> (7 - bit)) & 1) == 0) {
        q += 1
        if (q > (1 << 20)) throw new IndexOutOfBoundsException("flac unary runaway")
        bit += 1; if (bit == 8) { bit = 0; pos += 1 }
      }
      bit += 1; if (bit == 8) { bit = 0; pos += 1 }
      q
    }
    def align(): Unit = if (bit != 0) { bit = 0; pos += 1 }
  }

  /** Parsed STREAMINFO + where the frame stream begins. */
  private final class FlacInfo(val rate: Int, val totalSamples: Long,
                               val md5: Array[Byte], val maxBlock: Int,
                               val framesAt: Int)

  /** Metadata walk: STREAMINFO must lead and appear once; other
    * blocks are skipped; mono/16-bit is the pipeline's audio model —
    * anything else returns null (→ honest [[UnknownMedia]]). */
  private def flacParseInfo(b: Array[Byte]): FlacInfo = {
    if (b.length < 42 + 10) return null
    // the magic is re-checked here (not only in sniff) so the parser
    // stays safe on its own for a caller that skips the sniff gate
    // (parseJpegHeader checks SOI the same way)
    if (b(0) != 'f' || b(1) != 'L' || b(2) != 'a' || b(3) != 'C') return null
    var pos = 4
    var last = false
    var first = true
    var rate = -1; var totalSamples = -1L; var md5: Array[Byte] = null
    var minBlock = 0; var maxBlock = 0
    while (!last) {
      if (pos + 4 > b.length) return null
      val hdr = b(pos) & 0xff
      last = (hdr & 0x80) != 0
      val btype = hdr & 0x7f
      val len = ((b(pos + 1) & 0xff) << 16) | ((b(pos + 2) & 0xff) << 8) | (b(pos + 3) & 0xff)
      if (pos.toLong + 4L + len > b.length) return null
      if (first) {
        if (btype != 0 || len != 34) return null // STREAMINFO must lead
        val o = pos + 4
        minBlock = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
        maxBlock = ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
        rate = ((b(o + 10) & 0xff) << 12) | ((b(o + 11) & 0xff) << 4) | ((b(o + 12) & 0xff) >> 4)
        val channels = ((b(o + 12) >> 1) & 0x7) + 1
        val bps = (((b(o + 12) & 1) << 4) | ((b(o + 13) & 0xff) >> 4)) + 1
        totalSamples = ((b(o + 13) & 0x0fL) << 32) | ((b(o + 14) & 0xffL) << 24) |
          ((b(o + 15) & 0xffL) << 16) | ((b(o + 16) & 0xffL) << 8) | (b(o + 17) & 0xffL)
        md5 = java.util.Arrays.copyOfRange(b, o + 18, o + 34)
        if (channels != 1 || bps != 16) return null // out-of-model profile
        if (rate <= 0 || minBlock < 16 || maxBlock < minBlock) return null
        first = false
      } else if (btype == 0 || btype == 127) return null // dup STREAMINFO / invalid
      pos += 4 + len
    }
    if (first) return null
    new FlacInfo(rate, totalSamples, md5, maxBlock, pos)
  }

  /** One decoded frame: its blocking bit, coded frame/sample number,
    * block size, end offset (past the CRC-16) and the wasted-shifted
    * samples. */
  private final class FlacFrame(val blocking: Int, val coded: Long,
                                val blockSize: Int, val end: Int,
                                val samples: Array[Short])

  /** Decode ONE frame from byte-aligned `fp` — every check INTRINSIC
    * to a frame lives here (sync/reserved/code validity, the
    * mono/16-bit subset, shortest-form coded numbers, CRC-8, the
    * subframe's entropy layer, sample range, CRC-16); cross-frame
    * rules (strategy consistency, sequence, block-size regularity,
    * output bounds) are [[flacAssemble]]'s. Null on malformed;
    * truncation throws [[IndexOutOfBoundsException]] like every
    * parser here. Frames are SELF-CONTAINED — nothing but `info` and
    * the bytes at `fp` goes in (SCALING.md's frame-split argument). */
  private def flacDecodeFrame(b: Array[Byte], fp: Int, info: FlacInfo): FlacFrame = {
    if (fp + 5 > b.length) return null
    if ((b(fp) & 0xff) != 0xff || (b(fp + 1) & 0xfe) != 0xf8) return null
    val blocking = b(fp + 1) & 1
    val bsCode = (b(fp + 2) & 0xff) >> 4
    val rateCode = b(fp + 2) & 0x0f
    val chanAssign = (b(fp + 3) & 0xff) >> 4
    val sizeCode = (b(fp + 3) >> 1) & 0x7
    if ((b(fp + 3) & 1) != 0) return null // reserved bit
    if (chanAssign != 0) return null      // mono subset
    if (sizeCode != 0 && sizeCode != 4) return null // 16-bit subset (000=STREAMINFO, 100=16)
    if (bsCode == 0 || rateCode == 15) return null  // reserved / invalid
    // coded number (UTF-8-style, RFC 9639 §9.1.2)
    var p = fp + 4
    val lead = b(p) & 0xff; p += 1
    var coded = 0L
    if (lead < 0x80) coded = lead
    else {
      val extra = Integer.numberOfLeadingZeros(~(lead << 24)) // count of leading 1s
      if (extra < 2 || extra > 7) return null
      // frame numbers are 31-bit — the 7-byte form exists only for
      // 36-bit sample numbers (RFC 9639 §9.1.2)
      if (extra == 7 && blocking == 0) return null
      coded = if (extra == 7) 0L else (lead & (0x7f >> extra)).toLong
      var k = 0
      while (k < extra - 1) {
        if (p >= b.length || (b(p) & 0xc0) != 0x80) return null
        coded = (coded << 6) | (b(p) & 0x3f); p += 1; k += 1
      }
      // shortest-form only: an (extra)-byte coding is conforming only
      // for values the (extra-1)-byte form cannot hold — capacities
      // are 7, 11, 16, 21, 26, 31 bits for 1..6 bytes
      val shorterBits = Seq(0, 0, 7, 11, 16, 21, 26, 31)(extra)
      if (coded < (1L << shorterBits)) return null
    }
    val blockSize = bsCode match {
      case 1 => 192
      case c if c >= 2 && c <= 5 => 576 << (c - 2)
      case 6 => if (p >= b.length) return null
        else { val v = (b(p) & 0xff) + 1; p += 1; v }
      case 7 => if (p + 1 >= b.length) return null
        else { val v = (((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)) + 1; p += 2; v }
      case c => 256 << (c - 8)
    }
    // a coded rate must agree with STREAMINFO (both are authoritative)
    val headerRate = rateCode match {
      case 0 => info.rate
      case 1 => 88200; case 2 => 176400; case 3 => 192000
      case 4 => 8000; case 5 => 16000; case 6 => 22050; case 7 => 24000
      case 8 => 32000; case 9 => 44100; case 10 => 48000; case 11 => 96000
      case 12 => if (p >= b.length) return null
        else { val v = (b(p) & 0xff) * 1000; p += 1; v }
      case 13 => if (p + 1 >= b.length) return null
        else { val v = ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff); p += 2; v }
      case _ => if (p + 1 >= b.length) return null
        else { val v = (((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)) * 10; p += 2; v }
    }
    if (headerRate != info.rate) return null
    if (p >= b.length || crc8Flac(b, fp, p) != (b(p) & 0xff)) return null
    p += 1
    if (blockSize > info.maxBlock) return null
    // -- one mono subframe --
    val br = new FlacBitReader(b, p)
    if (br.read(1) != 0) return null // subframe pad bit
    val sfType = br.read(6)
    val wasted = if (br.read(1) == 1) br.unary() + 1 else 0
    val effBps = 16 - wasted
    if (effBps <= 0) return null
    val samples = new Array[Int](blockSize)
    def readResidualInto(order: Int): Unit = {
      val method = br.read(2)
      if (method > 1) throw new IndexOutOfBoundsException("flac residual method")
      val pBits = if (method == 0) 4 else 5
      val escape = (1 << pBits) - 1
      val partOrder = br.read(4)
      val parts = 1 << partOrder
      if (blockSize % parts != 0) throw new IndexOutOfBoundsException("flac partition split")
      val perPart = blockSize / parts
      // RFC 9639 §9.2.7: block size >> partition order MUST exceed
      // the predictor order (an empty first partition is
      // non-conforming at ANY partition count)
      if (perPart <= order) throw new IndexOutOfBoundsException("flac empty partition")
      var i = order
      var part = 0
      while (part < parts) {
        val count = (if (part == 0) perPart - order else perPart) // > 0: perPart > order
        val param = br.read(pBits)
        var k = 0
        if (param == escape) {
          val rawBits = br.read(5)
          while (k < count) {
            samples(i) = if (rawBits == 0) 0 else br.readSigned(rawBits)
            i += 1; k += 1
          }
        } else {
          while (k < count) {
            val q = br.unary().toLong
            val v = (q << param) | br.read(param).toLong
            val r = (v >>> 1) ^ -(v & 1L) // zigzag
            if (r < Int.MinValue || r > Int.MaxValue)
              throw new IndexOutOfBoundsException("flac residual range")
            samples(i) = r.toInt
            i += 1; k += 1
          }
        }
        part += 1
      }
    }
    def checkRange(from: Int): Boolean = {
      val lo = -(1 << (effBps - 1)); val hi = (1 << (effBps - 1)) - 1
      var i = from; var ok = true
      while (ok && i < blockSize) { ok = samples(i) >= lo && samples(i) <= hi; i += 1 }
      ok
    }
    if (sfType == 0) { // CONSTANT
      val v = br.readSigned(effBps)
      java.util.Arrays.fill(samples, v)
    } else if (sfType == 1) { // VERBATIM
      var i = 0
      while (i < blockSize) { samples(i) = br.readSigned(effBps); i += 1 }
    } else if (sfType >= 8 && sfType <= 12) { // FIXED, order 0-4
      val order = sfType - 8
      if (order > blockSize) return null
      var i = 0
      while (i < order) { samples(i) = br.readSigned(effBps); i += 1 }
      readResidualInto(order)
      i = order
      while (i < blockSize) {
        val pred: Long = order match {
          case 0 => 0L
          case 1 => samples(i - 1).toLong
          case 2 => 2L * samples(i - 1) - samples(i - 2)
          case 3 => 3L * samples(i - 1) - 3L * samples(i - 2) + samples(i - 3)
          case _ => 4L * samples(i - 1) - 6L * samples(i - 2) + 4L * samples(i - 3) - samples(i - 4)
        }
        val v = pred + samples(i)
        if (v < Int.MinValue || v > Int.MaxValue)
          throw new IndexOutOfBoundsException("flac fixed overflow")
        samples(i) = v.toInt
        i += 1
      }
      if (!checkRange(order)) return null
    } else if (sfType >= 32) { // LPC, order 1-32
      val order = (sfType & 0x1f) + 1
      if (order > blockSize) return null
      var i = 0
      while (i < order) { samples(i) = br.readSigned(effBps); i += 1 }
      val precRaw = br.read(4)
      if (precRaw == 15) return null // invalid per spec
      val precision = precRaw + 1
      val shift = br.readSigned(5)
      if (shift < 0) return null
      val coefs = Array.fill(order)(br.readSigned(precision))
      readResidualInto(order)
      i = order
      while (i < blockSize) {
        var acc = 0L
        var j = 0
        while (j < order) { acc += coefs(j).toLong * samples(i - 1 - j); j += 1 }
        val v = (acc >> shift) + samples(i)
        if (v < Int.MinValue || v > Int.MaxValue)
          throw new IndexOutOfBoundsException("flac lpc overflow")
        samples(i) = v.toInt
        i += 1
      }
      if (!checkRange(order)) return null
    } else return null // reserved subframe types
    // (CONSTANT/VERBATIM need no range check: readSigned(effBps) is
    // in range by construction — only prediction outputs can stray)
    br.align()
    if (br.pos + 2 > b.length) return null
    val crc = crc16Flac(b, fp, br.pos)
    if (crc != (((b(br.pos) & 0xff) << 8) | (b(br.pos + 1) & 0xff)))
      return null
    val out = new Array[Short](blockSize)
    var i = 0
    while (i < blockSize) { out(i) = (samples(i) << wasted).toShort; i += 1 }
    new FlacFrame(blocking, coded, blockSize, br.pos + 2, out)
  }

  /** The chain walk: frames must TILE the byte stream from
    * [[FlacInfo.framesAt]] with one blocking strategy, sequential
    * coded numbers, the fixed-blocking block-size regularity rule,
    * and a bounded output — then the stream-global total-samples and
    * MD5 gates close it. */
  private def flacAssemble(b: Array[Byte], info: FlacInfo): Media = {
    val out = new scala.collection.mutable.ArrayBuilder.ofShort
    if (info.totalSamples > 0 && info.totalSamples <= (1 << 26))
      out.sizeHint(info.totalSamples.toInt)
    var pos = info.framesAt
    var frameIndex = 0L
    var sampleIndex = 0L
    var strategy = -1
    while (pos < b.length) {
      val fr = flacDecodeFrame(b, pos, info)
      if (fr == null) return UnknownMedia(b.length)
      if (strategy == -1) strategy = fr.blocking
      else if (strategy != fr.blocking) return UnknownMedia(b.length) // one strategy per stream
      if (fr.blocking == 0 && fr.coded != frameIndex) return UnknownMedia(b.length)
      if (fr.blocking == 1 && fr.coded != sampleIndex) return UnknownMedia(b.length)
      // bound the output BEFORE appending: a CONSTANT frame turns
      // ~15 payload bytes into up to 65,535 samples, so without a
      // running bound a small crafted stream with totalSamples=0
      // ("unknown") amplifies to gigabytes and dies in OutOfMemory —
      // an Error outside decode()'s totality net (review r15). A
      // declared total bounds exactly; an unknown total gets the same
      // 2²⁶-sample ceiling the canonical-rate hash path uses — decoded
      // audio beyond 128 MB per object is outside the pipeline's
      // model, not a conforming fixture.
      if (info.totalSamples > 0 && sampleIndex + fr.blockSize > info.totalSamples)
        return UnknownMedia(b.length)
      if (sampleIndex + fr.blockSize > (1L << 26)) return UnknownMedia(b.length)
      out ++= fr.samples
      frameIndex += 1
      sampleIndex += fr.blockSize
      pos = fr.end
      // fixed blocking: every non-final frame carries the stream's
      // constant block size (the final one may be short)
      if (fr.blocking == 0 && pos < b.length && fr.blockSize != info.maxBlock)
        return UnknownMedia(b.length)
    }
    if (frameIndex == 0) return UnknownMedia(b.length)
    val samples = out.result()
    if (info.totalSamples > 0 && samples.length != info.totalSamples)
      return UnknownMedia(b.length)
    // the MD5 field is FLAC's own lossless-integrity gate; an all-zero
    // field means "unset" and skips (RFC 9639 §8.2)
    if (info.md5.exists(_ != 0) && !java.util.Arrays.equals(flacMd5(samples), info.md5))
      return UnknownMedia(b.length)
    AudioMedia(info.rate, samples)
  }

  /** FLAC decoder (RFC 9639) for the mono/16-bit subset — everything
    * the pipeline's [[AudioMedia]] model carries; other channel
    * counts and sample widths are honest [[UnknownMedia]], like every
    * other out-of-model profile. Within the subset it is a REAL
    * decoder, not the encoder's mirror: all four subframe types
    * (CONSTANT, VERBATIM, FIXED orders 0–4, LPC to order 32), both
    * Rice residual methods with partition escapes, wasted-bits
    * shifts, 8/16-bit and table-coded block sizes, coded frame/sample
    * numbers for both blocking strategies, and multi-frame streams.
    * Strict where the spec is strict: CRC-8 per frame header, CRC-16
    * per frame, the STREAMINFO sample MD5 (FLAC's own end-to-end
    * integrity gate — lossless means it must reproduce exactly),
    * STREAMINFO-first block ordering, sequential coded numbers
    * (shortest-form only), reserved/invalid codes reject, trailing
    * bytes reject, and reconstructed samples must fit 16 bits (a
    * conforming stream's cannot overflow; clamping would hide
    * corruption). */
  private[operators] def decodeFlac(b: Array[Byte]): Media = {
    val info = flacParseInfo(b)
    if (info == null) return UnknownMedia(b.length)
    flacAssemble(b, info)
  }

  /** Y4M parser: space-separated header tags (W/H required, C444
    * required — subsampled layouts are a different plane geometry),
    * then `FRAME[ params]\n` + 3 planes per frame. */
  private[operators] def decodeY4m(b: Array[Byte]): Media = {
    var eol = 9
    while (eol < b.length && b(eol) != '\n') eol += 1
    if (eol >= b.length) return UnknownMedia(b.length)
    val header = new String(b, 0, eol, "US-ASCII")
    var w = -1; var h = -1; var c444 = false
    header.split(" ").drop(1).foreach { tag =>
      if (tag.nonEmpty) tag.charAt(0) match {
        case 'W' => w = Integer.parseInt(tag.substring(1))
        case 'H' => h = Integer.parseInt(tag.substring(1))
        case 'C' => c444 = tag == "C444"
        case _   => // F/I/A/X tags: irrelevant to the raster layout
      }
    }
    // frame size in LONG first: 3*w*h wraps Int for absurd header
    // dims, and a wrapped value would either crash copyOfRange with
    // an uncaught IllegalArgumentException or let a frames/dims
    // mismatch escape decode entirely (max-effort review, r12)
    if (w <= 0 || h <= 0 || !c444 || 3L * w * h > b.length.toLong)
      return UnknownMedia(b.length)
    val frameSize = 3 * w * h
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var pos = eol + 1
    while (pos < b.length) {
      if (pos + 5 > b.length ||
        new String(b, pos, 5, "US-ASCII") != "FRAME") return UnknownMedia(b.length)
      pos += 5
      while (pos < b.length && b(pos) != '\n') pos += 1 // frame params
      pos += 1
      if (pos.toLong + frameSize > b.length.toLong) return UnknownMedia(b.length)
      frames += java.util.Arrays.copyOfRange(b, pos, pos + frameSize)
      pos += frameSize
    }
    VideoMedia(w, h, frames.toArray)
  }

  // ----------------------------------------------------------------- jpeg
  //
  // Baseline sequential JPEG (ITU-T T.81 / ISO-IEC 10918-1, SOF0):
  // the real web's image format, implemented from the public spec —
  // 8-bit samples, Huffman entropy coding, grayscale / 4:4:4 / 4:2:0
  // profiles, DRI restart intervals. The encoder ships the spec's
  // Annex K example Huffman tables; the decoder builds its tables
  // from whatever DHT segments the file carries (foreign baseline
  // writers decode, not just our own bytes). Anything non-baseline
  // (progressive SOF2, arithmetic coding, 12-bit, 4-component) is
  // honest [[UnknownMedia]], as are truncated streams, trailing
  // bytes, out-of-sequence restarts and wrapped-dimension headers.

  /** Scan index → natural (row-major) index, spec Figure A.6. */
  private val jpegZigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // Spec Annex K.3 example Huffman tables (BITS counts per code
  // length 1..16, then the symbol list in code order) — the tables
  // virtually every baseline encoder ships.
  private val jpegDcLumaCounts = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val jpegDcLumaSyms = Array.range(0, 12)
  private val jpegDcChromaCounts = Array(0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val jpegDcChromaSyms = Array.range(0, 12)
  private val jpegAcLumaCounts = Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val jpegAcLumaSyms = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)
  private val jpegAcChromaCounts = Array(0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val jpegAcChromaSyms = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0,
    0x15, 0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34,
    0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3,
    0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2,
    0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9,
    0xea, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  /** Fixed-point IDCT basis: K(u)(x) = round(2048 · Cu ·
    * cos((2x+1)uπ/16)), Cu = 1/√2 for u = 0 else 1 (StrictMath so the
    * table is identical on every JVM). Two separable passes scale by
    * 2048² and the output descale divides by 4·2²² (the spec's 1/4),
    * i.e. `(acc + 2²³) >> 24`. A DC-only block then reconstructs its
    * level-shifted DC/8 EXACTLY for all 8-bit inputs: the basis
    * rounding error is ≤ 2.2e-4 relative, far inside the half-ulp the
    * final rounding absorbs — which is what lets block-constant
    * fixtures round-trip bit-exactly and the mm_jpeg_meta oracle
    * rebuild decoded rasters closed-form. */
  private val jpegIdctK: Array[Array[Int]] = Array.tabulate(8, 8) { (u, x) =>
    val cu = if (u == 0) 1.0 / StrictMath.sqrt(2.0) else 1.0
    Math.round(2048.0 * cu * StrictMath.cos((2 * x + 1) * u * StrictMath.PI / 16.0)).toInt
  }

  /** Encoder FDCT basis (double): C(u)(x) = cos((2x+1)uπ/16), plus
    * the Cu normalization (1/√2 at u = 0). */
  private val jpegFdctC: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    StrictMath.cos((2 * x + 1) * u * StrictMath.PI / 16.0)
  }
  private val jpegFdctHalf: Array[Double] =
    Array.tabulate(8)(u => if (u == 0) 1.0 / StrictMath.sqrt(2.0) else 1.0)

  /** Inverse DCT of one dequantized 8×8 block (natural order), into
    * level-shifted clamped samples. Long accumulators: coefficients
    * reach ±255·1023 under large quantizers and two 2048-scale passes
    * exceed Int range. */
  private def jpegIdctBlock(coef: Array[Long], out: Array[Int]): Unit = {
    val t = new Array[Long](64)
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0L
        var u = 0
        while (u < 8) { acc += coef(8 * v + u) * jpegIdctK(u)(x); u += 1 }
        t(8 * v + x) = acc
        x += 1
      }
      v += 1
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0L
        var vv = 0
        while (vv < 8) { acc += t(8 * vv + x) * jpegIdctK(vv)(y); vv += 1 }
        val s = ((acc + (1L << 23)) >> 24) + 128L
        out(8 * y + x) = if (s < 0) 0 else if (s > 255) 255 else s.toInt
        x += 1
      }
      y += 1
    }
  }

  /** MSB-first bit writer over the entropy-coded segment, with the
    * spec's 0x00 stuffing after every emitted 0xFF data byte. */
  private final class JpegBitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var nBits = 0
    def put(bits: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((bits >> i) & 1)
        nBits += 1
        if (nBits == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00)
          acc = 0; nBits = 0
        }
        i -= 1
      }
    }
    /** Pad to a byte boundary with 1-bits (spec F.1.2.3). */
    def flush(): Unit = if (nBits > 0) put((1 << (8 - nBits)) - 1, 8 - nBits)
  }

  private def jpegWriteSeg(out: java.io.ByteArrayOutputStream, marker: Int,
                           payload: Array[Byte]): Unit = {
    out.write(0xff); out.write(marker)
    val len = payload.length + 2
    out.write((len >> 8) & 0xff); out.write(len & 0xff)
    out.write(payload, 0, payload.length)
  }

  /** Huffman ENCODE table from (counts, symbols): canonical code
    * assignment (spec C.2) — symbol → (code, length). */
  private def jpegEncTable(counts: Array[Int], syms: Array[Int]): (Array[Int], Array[Int]) = {
    val code = new Array[Int](256)
    val size = new Array[Int](256)
    var k = 0; var c = 0
    var l = 1
    while (l <= 16) {
      var i = 0
      while (i < counts(l)) {
        code(syms(k)) = c; size(syms(k)) = l
        c += 1; k += 1; i += 1
      }
      c <<= 1
      l += 1
    }
    (code, size)
  }

  /** Magnitude category of a DC diff / AC value (spec F.1.2.1.2). */
  private def jpegCat(v: Int): Int = {
    var a = if (v < 0) -v else v
    var s = 0
    while (a != 0) { a >>= 1; s += 1 }
    s
  }

  /** RGB → (Y, Cb, Cr) planes for an encode via the shared
    * [[yccY]]/[[yccCb]]/[[yccCr]] fixed-point transform (one
    * definition with the animated-GIF plane conversion — review
    * r15), chroma 2×2 rounding-average subsampled for "420".
    * Returns (yPlane, cbPlane, crPlane, chromaW, chromaH); chroma
    * planes are null for "gray". Shared by the baseline and
    * progressive encoders. */
  private def jpegColorPlanes(w: Int, h: Int, rgb: Array[Byte],
                              profile: String)
      : (Array[Int], Array[Int], Array[Int], Int, Int) = {
    val nComp = if (profile == "gray") 1 else 3
    val yP = new Array[Int](w * h)
    val cbP = if (nComp == 3) new Array[Int](w * h) else null
    val crP = if (nComp == 3) new Array[Int](w * h) else null
    var i = 0
    while (i < w * h) {
      val r = rgb(3 * i) & 0xff; val g = rgb(3 * i + 1) & 0xff; val b = rgb(3 * i + 2) & 0xff
      yP(i) = yccY(r, g, b)
      if (nComp == 3) {
        cbP(i) = yccCb(r, g, b)
        crP(i) = yccCr(r, g, b)
      }
      i += 1
    }
    val sub420 = profile == "420"
    def subsample(p: Array[Int]): Array[Int] =
      if (!sub420) p
      else Array.tabulate((w / 2) * (h / 2)) { j =>
        val cy = j / (w / 2); val cx = j % (w / 2)
        (p(2 * cy * w + 2 * cx) + p(2 * cy * w + 2 * cx + 1) +
          p((2 * cy + 1) * w + 2 * cx) + p((2 * cy + 1) * w + 2 * cx + 1) + 2) >> 2
      }
    val cw = if (sub420) w / 2 else w
    val ch = if (sub420) h / 2 else h
    (yP, if (nComp == 3) subsample(cbP) else null,
      if (nComp == 3) subsample(crP) else null, cw, ch)
  }

  /** FDCT (double, precomputed basis, two separable 1-D passes —
    * review r14: the first cut called StrictMath.cos twice per sample
    * per coefficient, 8,192 libm calls per block, and mm_jpeg_meta
    * benched 47 s at sf0.1; the table + separable form is the
    * standard O(2·8³) shape) + quantize(1) + zigzag of the block
    * whose top-left corner is (bx·8, by·8) in plane `p` (pw×ph,
    * edge-replicated past the boundary), into zzOut(zzOff..+63).
    * Scratch arrays are caller-provided so the per-block loop
    * allocates nothing. Block-constant exactness is preserved: the DC
    * chain is products of exact small integers and powers of two, and
    * AC row/column basis sums cancel to ~1e-15, far below the
    * quantizer's rounding. Shared by both encoders. */
  private def jpegFdctQuant(p: Array[Int], pw: Int, ph: Int, bx: Int, by: Int,
                            samp: Array[Double], tmp: Array[Double],
                            coefD: Array[Double],
                            zzOut: Array[Int], zzOff: Int): Unit = {
    var y = 0
    while (y < 8) {
      val sy = math.min(by * 8 + y, ph - 1)
      var x = 0
      while (x < 8) {
        val sx = math.min(bx * 8 + x, pw - 1)
        samp(8 * y + x) = (p(sy * pw + sx) - 128).toDouble
        x += 1
      }
      y += 1
    }
    // pass 1 over y: tmp(v)(x) = Σ_y samp(y)(x) · C(v)(y)
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var yy = 0
        while (yy < 8) { acc += samp(8 * yy + x) * jpegFdctC(v)(yy); yy += 1 }
        tmp(8 * v + x) = acc
        x += 1
      }
      v += 1
    }
    // pass 2 over x: F(v)(u) = 0.25 · Cu · Cv · Σ_x tmp(v)(x) · C(u)(x)
    v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var acc = 0.0
        var xx = 0
        while (xx < 8) { acc += tmp(8 * v + xx) * jpegFdctC(u)(xx); xx += 1 }
        coefD(8 * v + u) = 0.25 * jpegFdctHalf(u) * jpegFdctHalf(v) * acc
        u += 1
      }
      v += 1
    }
    var k = 0
    while (k < 64) { zzOut(zzOff + k) = Math.round(coefD(jpegZigzag(k))).toInt; k += 1 }
  }

  /** Shared fixture-encoder preamble — validation, SOI, the all-ones
    * DQT, optional DRI, and the SOF segment whose MARKER selects the
    * coding process (0xc0 baseline, 0xc2 progressive). ONE copy for
    * both encoders (review r15: the duplicated preambles could
    * desynchronize the baseline/progressive fixture twins whose
    * coefficient-identity the oracle relies on). */
  private def jpegFramePreamble(w: Int, h: Int, rgb: Array[Byte], profile: String,
                                restartInterval: Int, sofMarker: Int)
      : java.io.ByteArrayOutputStream = {
    require(w >= 1 && h >= 1 && w <= 65535 && h <= 65535,
      s"dims $w x $h outside the 16-bit SOF range")
    require(rgb.length == 3 * w * h, s"rgb length ${rgb.length} != 3*$w*$h")
    require(profile == "gray" || profile == "444" || profile == "420",
      s"unsupported profile $profile")
    require(profile != "420" || (w % 2 == 0 && h % 2 == 0),
      "420 needs even dimensions")
    val nComp = if (profile == "gray") 1 else 3
    val sub420 = profile == "420"
    val out = new java.io.ByteArrayOutputStream(1024 + 3 * w * h / 2)
    out.write(0xff); out.write(0xd8) // SOI
    val dqt = new Array[Byte](65); dqt(0) = 0 // Pq=0 Tq=0, all-ones
    java.util.Arrays.fill(dqt, 1, 65, 1.toByte)
    jpegWriteSeg(out, 0xdb, dqt)
    if (restartInterval > 0)
      jpegWriteSeg(out, 0xdd, Array(((restartInterval >> 8) & 0xff).toByte,
        (restartInterval & 0xff).toByte))
    val sof = new java.io.ByteArrayOutputStream()
    sof.write(8) // precision
    sof.write((h >> 8) & 0xff); sof.write(h & 0xff)
    sof.write((w >> 8) & 0xff); sof.write(w & 0xff)
    sof.write(nComp)
    sof.write(1); sof.write(if (sub420) 0x22 else 0x11); sof.write(0) // Y: id, HiVi, Tq
    if (nComp == 3) {
      sof.write(2); sof.write(0x11); sof.write(0)
      sof.write(3); sof.write(0x11); sof.write(0)
    }
    jpegWriteSeg(out, sofMarker, sof.toByteArray)
    out
  }

  /** One DHT segment (class, slot, canonical counts+symbols). */
  private def jpegWriteDht(out: java.io.ByteArrayOutputStream, cls: Int, id: Int,
                           counts: Array[Int], syms: Array[Int]): Unit = {
    val p = new java.io.ByteArrayOutputStream()
    p.write((cls << 4) | id)
    var l = 1
    while (l <= 16) { p.write(counts(l)); l += 1 }
    syms.foreach(p.write)
    jpegWriteSeg(out, 0xc4, p.toByteArray)
  }

  /** Baseline JPEG encoder. `profile`: "gray" (one component),
    * "444" (3 components, no subsampling) or "420" (2×2-subsampled
    * chroma; w and h must be even so the subsampled planes tile
    * exactly). Quantizer is all-ones (the near-lossless end of the
    * scale — fixture realism wants exact block-constant round-trips,
    * not rate control); `restartInterval` > 0 emits DRI + RSTn
    * markers every that-many MCUs. RGB→YCbCr uses integer 1/65536
    * fixed point whose coefficient rows sum to exactly 65536 / 0 / 0,
    * so an R=G=B input maps to (Y=v, Cb=Cr=128) EXACTLY — the
    * grayscale-content invariant the oracle leans on. */
  def encodeJpeg(w: Int, h: Int, rgb: Array[Byte], profile: String,
                 restartInterval: Int = 0): Array[Byte] = {
    val nComp = if (profile == "gray") 1 else 3
    val sub420 = profile == "420"
    val out = jpegFramePreamble(w, h, rgb, profile, restartInterval, 0xc0)
    val (yP, cbS, crS, cw, ch) = jpegColorPlanes(w, h, rgb, profile)
    def dht(cls: Int, id: Int, counts: Array[Int], syms: Array[Int]): Unit =
      jpegWriteDht(out, cls, id, counts, syms)
    dht(0, 0, jpegDcLumaCounts, jpegDcLumaSyms)
    dht(1, 0, jpegAcLumaCounts, jpegAcLumaSyms)
    if (nComp == 3) {
      dht(0, 1, jpegDcChromaCounts, jpegDcChromaSyms)
      dht(1, 1, jpegAcChromaCounts, jpegAcChromaSyms)
    }
    val sos = new java.io.ByteArrayOutputStream()
    sos.write(nComp)
    sos.write(1); sos.write(0x00)
    if (nComp == 3) { sos.write(2); sos.write(0x11); sos.write(3); sos.write(0x11) }
    sos.write(0); sos.write(63); sos.write(0) // Ss Se AhAl
    jpegWriteSeg(out, 0xda, sos.toByteArray)

    // entropy-coded scan
    val (dcLc, dcLs) = jpegEncTable(jpegDcLumaCounts, jpegDcLumaSyms)
    val (acLc, acLs) = jpegEncTable(jpegAcLumaCounts, jpegAcLumaSyms)
    val (dcCc, dcCs) = jpegEncTable(jpegDcChromaCounts, jpegDcChromaSyms)
    val (acCc, acCs) = jpegEncTable(jpegAcChromaCounts, jpegAcChromaSyms)
    val bw = new JpegBitWriter(out)
    val samp = new Array[Double](64)
    val tmp = new Array[Double](64)
    val coefD = new Array[Double](64)
    val zz = new Array[Int](64)
    val dcPred = new Array[Int](3)

    // [[jpegFdctQuant]] + Huffman-code one block whose top-left
    // corner is (bx·8, by·8) in plane p (pw×ph, edge-replicated past
    // the boundary).
    def codeBlock(p: Array[Int], pw: Int, ph: Int, bx: Int, by: Int, comp: Int): Unit = {
      val dcC = if (comp == 0) dcLc else dcCc; val dcS = if (comp == 0) dcLs else dcCs
      val acC = if (comp == 0) acLc else acCc; val acS = if (comp == 0) acLs else acCs
      jpegFdctQuant(p, pw, ph, bx, by, samp, tmp, coefD, zz, 0)
      val diff = zz(0) - dcPred(comp); dcPred(comp) = zz(0)
      val s0 = jpegCat(diff)
      bw.put(dcC(s0), dcS(s0))
      if (s0 > 0) bw.put(if (diff < 0) diff + (1 << s0) - 1 else diff, s0)
      var run = 0
      var k = 1
      while (k < 64) {
        if (zz(k) == 0) run += 1
        else {
          while (run > 15) { bw.put(acC(0xf0), acS(0xf0)); run -= 16 } // ZRL
          val s = jpegCat(zz(k))
          val rs = (run << 4) | s
          bw.put(acC(rs), acS(rs))
          bw.put(if (zz(k) < 0) zz(k) + (1 << s) - 1 else zz(k), s)
          run = 0
        }
        k += 1
      }
      if (run > 0) bw.put(acC(0x00), acS(0x00)) // EOB
    }

    val mcuW = if (sub420) 16 else 8
    val mcusX = (w + mcuW - 1) / mcuW
    val mcusY = (h + mcuW - 1) / mcuW
    var rstCount = 0
    var mcu = 0
    val totalMcus = mcusX * mcusY
    while (mcu < totalMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        bw.flush()
        out.write(0xff); out.write(0xd0 + (rstCount % 8))
        rstCount += 1
        java.util.Arrays.fill(dcPred, 0)
      }
      val my = mcu / mcusX; val mx = mcu % mcusX
      if (sub420) {
        codeBlock(yP, w, h, 2 * mx, 2 * my, 0)
        codeBlock(yP, w, h, 2 * mx + 1, 2 * my, 0)
        codeBlock(yP, w, h, 2 * mx, 2 * my + 1, 0)
        codeBlock(yP, w, h, 2 * mx + 1, 2 * my + 1, 0)
        codeBlock(cbS, cw, ch, mx, my, 1)
        codeBlock(crS, cw, ch, mx, my, 2)
      } else {
        codeBlock(yP, w, h, mx, my, 0)
        if (nComp == 3) {
          codeBlock(cbS, cw, ch, mx, my, 1)
          codeBlock(crS, cw, ch, mx, my, 2)
        }
      }
      mcu += 1
    }
    bw.flush()
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** Progressive JPEG encoder (SOF2 — T.81 Annex G.1), the fixture
    * twin of [[encodeJpeg]]: same color transform, FDCT, all-ones
    * quantizer and profiles, so the QUANTIZED COEFFICIENTS are
    * identical to the baseline encoding of the same raster — only
    * their entropy organization differs. Scan script (all four Annex
    * G scan kinds, plus a split luma band so bands merge across
    * scans):
    *   1. DC first, Al=1 (interleaved for color, single-component for
    *      gray), Annex K DC tables — or, with `dcSplit`, a
    *      subset-interleaved Y+Cb scan followed by a single-component
    *      Cr scan (the B.2.3 subset shape, review r15);
    *   2. DC refine to Al=0 (raw bits);
    *   3. per component: AC first at Al=1 (luma as two bands 1–5 and
    *      6–63), each scan with its own optimal-ish Huffman table
    *      (all used symbols at one canonical length — EOBn symbols
    *      are not in the Annex K tables, so per-scan DHTs, emitted
    *      right before their SOS and redefining slot 0 every scan,
    *      are the real libjpeg shape);
    *   4. per component: AC refine to Al=0.
    * `restartInterval` > 0 applies DRI to every scan (RSTn resets DC
    * prediction, the EOB run and bit alignment — G's rule). */
  def encodeJpegProgressive(w: Int, h: Int, rgb: Array[Byte], profile: String,
                            restartInterval: Int = 0,
                            dcSplit: Boolean = false): Array[Byte] = {
    val out = jpegFramePreamble(w, h, rgb, profile, restartInterval, 0xc2) // SOF2
    val nComp = if (profile == "gray") 1 else 3
    val sub420 = profile == "420"
    val (yP, cbS, crS, cw, ch) = jpegColorPlanes(w, h, rgb, profile)
    val mcuW = if (sub420) 16 else 8
    val mcusX = (w + mcuW - 1) / mcuW
    val mcusY = (h + mcuW - 1) / mcuW
    def hvOf(c: Int): Int = if (sub420 && c == 0) 2 else 1
    val padBw = Array.tabulate(nComp)(c => mcusX * hvOf(c))
    val padBh = Array.tabulate(nComp)(c => mcusY * hvOf(c))
    val compW = Array.tabulate(nComp)(c => if (c == 0) w else cw)
    val compH = Array.tabulate(nComp)(c => if (c == 0) h else ch)
    val niBw = Array.tabulate(nComp)(c => (compW(c) + 7) / 8)
    val niBh = Array.tabulate(nComp)(c => (compH(c) + 7) / 8)
    val planes = Array(yP, cbS, crS)

    // every block's quantized coefficients up front (zigzag order per
    // block, PADDED grid — interleaved DC scans code the padding
    // blocks; non-interleaved AC scans skip them)
    val samp = new Array[Double](64); val tmp = new Array[Double](64)
    val coefD = new Array[Double](64)
    val coefs = Array.tabulate(nComp) { c =>
      val arr = new Array[Int](padBw(c) * padBh(c) * 64)
      var bi = 0
      while (bi < padBw(c) * padBh(c)) {
        jpegFdctQuant(planes(c), compW(c), compH(c), bi % padBw(c), bi / padBw(c),
          samp, tmp, coefD, arr, bi * 64)
        bi += 1
      }
      arr
    }

    val ri = restartInterval
    jpegWriteDht(out, 0, 0, jpegDcLumaCounts, jpegDcLumaSyms)
    if (nComp == 3) jpegWriteDht(out, 0, 1, jpegDcChromaCounts, jpegDcChromaSyms)
    val (dcLc, dcLs) = jpegEncTable(jpegDcLumaCounts, jpegDcLumaSyms)
    val (dcCc, dcCs) = jpegEncTable(jpegDcChromaCounts, jpegDcChromaSyms)
    def writeRst(n: Int): Unit = { out.write(0xff); out.write(0xd0 + (n % 8)) }

    // ---- DC scan (first or refine) over a component SUBSET in SOF
    // order — B.2.3 allows any 1..4 of the frame's components; a
    // single-component DC scan is non-interleaved (its own block
    // grid), 2+ walk the frame MCU grid (review r15: the decoder
    // accepts subsets, so the fixture encoder must emit them)
    def dcScan(ah: Int, al: Int, scanComps: Array[Int]): Unit = {
      val sos = new java.io.ByteArrayOutputStream()
      sos.write(scanComps.length)
      scanComps.foreach { c =>
        sos.write(c + 1)
        sos.write(((if (c == 0) 0 else 1) << 4) | 0)
      }
      sos.write(0); sos.write(0); sos.write((ah << 4) | al)
      jpegWriteSeg(out, 0xda, sos.toByteArray)
      val bw = new JpegBitWriter(out)
      val pred = new Array[Int](3)
      var rst = 0
      def one(c: Int, off: Int): Unit =
        if (ah == 0) {
          val v = coefs(c)(off) >> al // arithmetic point transform (G.1.2.1)
          val diff = v - pred(c); pred(c) = v
          val s = jpegCat(diff)
          val cc = if (c == 0) dcLc else dcCc
          val cs = if (c == 0) dcLs else dcCs
          bw.put(cc(s), cs(s))
          if (s > 0) bw.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
        } else bw.put((coefs(c)(off) >> al) & 1, 1)
      val single = scanComps.length == 1
      val c0 = scanComps(0)
      val nMcus = if (single) niBw(c0) * niBh(c0) else mcusX * mcusY
      var mcu = 0
      while (mcu < nMcus) {
        if (ri > 0 && mcu > 0 && mcu % ri == 0) {
          bw.flush(); writeRst(rst); rst += 1
          java.util.Arrays.fill(pred, 0)
        }
        if (single)
          one(c0, ((mcu / niBw(c0)) * padBw(c0) + mcu % niBw(c0)) * 64)
        else {
          val my = mcu / mcusX; val mx = mcu % mcusX
          scanComps.foreach { c2 =>
            val hv = hvOf(c2)
            var v = 0
            while (v < hv) {
              var hh = 0
              while (hh < hv) {
                one(c2, ((my * hv + v) * padBw(c2) + mx * hv + hh) * 64)
                hh += 1
              }
              v += 1
            }
          }
        }
        mcu += 1
      }
      bw.flush()
    }

    // ---- AC scan: one component, band [ss..se]; two passes (count →
    // build the per-scan table → emit DHT+SOS+entropy)
    def acScan(c: Int, ss: Int, se: Int, ah: Int, al: Int): Unit = {
      def run(symF: Int => Unit, bitsF: (Int, Int) => Unit,
              restartF: () => Unit): Unit = {
        val arr = coefs(c)
        val nbw = niBw(c); val nMcus = nbw * niBh(c)
        var eobrun = 0
        val be = new scala.collection.mutable.ArrayBuffer[Int]()
        def flushEob(): Unit = if (eobrun > 0) {
          var nb = 0
          while ((eobrun >> (nb + 1)) != 0) nb += 1
          symF(nb << 4)
          if (nb > 0) bitsF(eobrun - (1 << nb), nb)
          be.foreach(bit => bitsF(bit, 1)); be.clear()
          eobrun = 0
        }
        var mcu = 0
        while (mcu < nMcus) {
          if (ri > 0 && mcu > 0 && mcu % ri == 0) { flushEob(); restartF() }
          val off = ((mcu / nbw) * padBw(c) + mcu % nbw) * 64
          if (ah == 0) {
            // first pass: sequential run/size over the magnitude-
            // shifted band (G.1.2.2), EOBn accumulating empty bands
            var r = 0
            var k = ss
            while (k <= se) {
              val v0 = arr(off + k)
              val v = if (v0 < 0) -((-v0) >> al) else v0 >> al
              if (v == 0) r += 1
              else {
                while (r > 15) { flushEob(); symF(0xf0); r -= 16 }
                flushEob()
                val s = jpegCat(v)
                symF((r << 4) | s)
                bitsF(if (v < 0) v + (1 << s) - 1 else v, s)
                r = 0
              }
              k += 1
            }
            if (r > 0) { eobrun += 1; if (eobrun == 32767) flushEob() }
          } else {
            // refinement (G.1.2.3): newly-nonzero = |v|>>Al == 1
            // (anything larger was already coded); runs count ZERO-
            // HISTORY positions; every nonzero-history coefficient
            // passed over owes one correction bit, buffered so it
            // lands right after the symbol that carries it past
            val brB = new scala.collection.mutable.ArrayBuffer[Int]()
            var eobPos = ss - 1
            var k = ss
            while (k <= se) {
              val v0 = arr(off + k)
              if (((if (v0 < 0) -v0 else v0) >> al) == 1) eobPos = k
              k += 1
            }
            var r = 0
            k = ss
            while (k <= se) {
              val v0 = arr(off + k)
              val a = (if (v0 < 0) -v0 else v0) >> al
              if (a == 0) r += 1
              else {
                while (r > 15 && k <= eobPos) {
                  flushEob(); symF(0xf0); r -= 16
                  brB.foreach(bit => bitsF(bit, 1)); brB.clear()
                }
                if (a > 1) brB += (a & 1)
                else {
                  flushEob()
                  symF((r << 4) | 1)
                  bitsF(if (v0 < 0) 0 else 1, 1)
                  brB.foreach(bit => bitsF(bit, 1)); brB.clear()
                  r = 0
                }
              }
              k += 1
            }
            if (r > 0 || brB.nonEmpty) {
              eobrun += 1; be ++= brB
              if (eobrun == 32767 || be.length > 900) flushEob()
            }
          }
          mcu += 1
        }
        flushEob()
      }
      val freq = new Array[Int](256)
      run(s => freq(s) += 1, (_, _) => (), () => ())
      val syms = (0 until 256).filter(freq(_) > 0).toArray
      // all used symbols at one canonical length L with 2^L ≥ n+1
      // (the +1 keeps the all-ones code unused — C.2's padding rule)
      var lL = 1
      while ((1 << lL) < syms.length + 1) lL += 1
      val counts = new Array[Int](17)
      counts(lL) = syms.length
      jpegWriteDht(out, 1, 0, counts, syms)
      val sos = new java.io.ByteArrayOutputStream()
      sos.write(1); sos.write(c + 1); sos.write(0x00)
      sos.write(ss); sos.write(se); sos.write((ah << 4) | al)
      jpegWriteSeg(out, 0xda, sos.toByteArray)
      val (ec, es) = jpegEncTable(counts, syms)
      val bw = new JpegBitWriter(out)
      var rst = 0
      run(s => bw.put(ec(s), es(s)), (v, n) => bw.put(v, n),
        () => { bw.flush(); writeRst(rst); rst += 1 })
      bw.flush()
    }

    if (dcSplit && nComp == 3) {
      // subset-interleaved DC (Y+Cb) then a single-component Cr scan:
      // the B.2.3 shape real scan scripts emit and the decoder must
      // accept (review r15)
      dcScan(0, 1, Array(0, 1)); dcScan(0, 1, Array(2))
    } else dcScan(0, 1, Array.range(0, nComp))
    dcScan(1, 0, Array.range(0, nComp))
    if (nComp == 1) {
      acScan(0, 1, 63, 0, 1)
      acScan(0, 1, 63, 1, 0)
    } else {
      acScan(0, 1, 5, 0, 1); acScan(0, 6, 63, 0, 1)
      acScan(1, 1, 63, 0, 1); acScan(2, 1, 63, 0, 1)
      acScan(0, 1, 63, 1, 0); acScan(1, 1, 63, 1, 0); acScan(2, 1, 63, 1, 0)
    }
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** Huffman DECODE table built from a DHT segment's (counts,
    * symbols): the spec F.2.2.3 canonical ranges — per code length,
    * the smallest/largest code and the symbol-array offset. */
  private final class JpegHuffTable(counts: Array[Int], syms: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var c = 0; var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = c
        c += counts(l); k += counts(l)
        maxCode(l) = c - 1 // -1 when the length is empty (c == minCode)
        if (counts(l) == 0) maxCode(l) = -1
        c <<= 1
        l += 1
      }
    }
    def symbol(len: Int, code: Int): Int = syms(valPtr(len) + code - minCode(len))
    def inRange(len: Int, code: Int): Boolean =
      maxCode(len) >= 0 && code <= maxCode(len)
  }

  /** MSB-first bit reader over the entropy-coded segment: un-stuffs
    * FF00, STOPS at any real marker (the caller decides whether a
    * marker is legal there). Throws IndexOutOfBounds past the end —
    * decode()'s totality net. */
  private final class JpegBitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nBits = 0
    var hitMarker = false

    def readBit(): Int = {
      if (nBits == 0) {
        if (hitMarker) throw new IndexOutOfBoundsException("read past marker")
        val v = b(pos) & 0xff
        if (v == 0xff) {
          val next = b(pos + 1) & 0xff
          if (next == 0x00) { acc = 0xff; pos += 2 }
          // any other FF — including FF FF, a fill byte prefixing a
          // marker (B.1.1.2) — is a marker boundary: needing DATA
          // bits here means the entropy segment ended early (the
          // segment-end handlers skip the fill, jpegSkipFill)
          else { hitMarker = true; throw new IndexOutOfBoundsException("marker in scan") }
        } else { acc = v; pos += 1 }
        nBits = 8
      }
      nBits -= 1
      (acc >> nBits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def decodeHuff(t: JpegHuffTable): Int = {
      var code = readBit()
      var len = 1
      while (!t.inRange(len, code)) {
        if (len >= 16) throw new IndexOutOfBoundsException("bad huffman code")
        code = (code << 1) | readBit()
        len += 1
      }
      t.symbol(len, code)
    }
    /** Drop pad bits so the next read starts at a byte boundary. */
    def align(): Unit = { nBits = 0 }
  }

  private def jpegExtend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** The SOF profile of a JPEG payload — "gray" / "444" / "420" for
    * baseline (SOF0), the same with a "p" suffix for progressive
    * (SOF2), "" for anything else or not a decodable file. A light
    * marker walk so oracle queries can report the sampling shape AND
    * coding mode as parsed-from-container facts. */
  private[graft] def jpegProfile(b: Array[Byte]): String = {
    try {
      if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return ""
      var pos = 2
      while (pos + 4 <= b.length) {
        if ((b(pos) & 0xff) != 0xff) return ""
        var m = b(pos + 1) & 0xff
        while (m == 0xff && pos + 2 < b.length) { pos += 1; m = b(pos + 1) & 0xff }
        if (m == 0xc0 || m == 0xc2) {
          // SOF2 reports the same sampling shape with a "p" suffix —
          // the oracle certifies from the container that progressive
          // fixtures really carry progressive frames
          val suffix = if (m == 0xc2) "p" else ""
          val nComp = b(pos + 9) & 0xff
          if (nComp == 1) return "gray" + suffix
          if (nComp != 3) return ""
          return (b(pos + 11) & 0xff) match {
            case 0x11 => "444" + suffix
            case 0x22 => "420" + suffix
            case _    => ""
          }
        }
        if (m == 0xd9 || m == 0xda) return "" // hit scan/EOI without SOF0
        // standalone markers (TEM 0x01, RSTn) carry NO length field —
        // reading one as a length-bearing segment would jump the walk
        // by garbage and could misreport a profile for a payload
        // decodeJpeg rejects (advisory r14). Pre-SOS they are illegal
        // anyway (parseJpegHeader rejects), so the walk's answer for
        // such a payload is honestly "not a decodable profile".
        if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) return ""
        val len = ((b(pos + 2) & 0xff) << 8) | (b(pos + 3) & 0xff)
        if (len < 2) return ""
        pos += 2 + len
      }
      ""
    } catch { case _: IndexOutOfBoundsException => "" }
  }

  /** Parsed JPEG header state: everything the marker walk up to the
    * first SOS establishes — the shared input of the sequential and
    * the progressive entropy decoders. For a
    * progressive frame (SOF2) `sosAt` is the OFFSET OF THE FIRST SOS
    * MARKER itself and the table bindings (`compDc`/`compAc`) are
    * placeholders — every scan carries its own. */
  private final class JpegHeader(
      val w: Int, val h: Int, val nComp: Int, val sub420: Boolean,
      val progressive: Boolean,
      val restartInterval: Int, val sosAt: Int,
      val qTables: Array[Array[Int]],
      val dcTables: Array[JpegHuffTable], val acTables: Array[JpegHuffTable],
      val compQ: Array[Int], val compId: Array[Int],
      val compDc: Array[Int], val compAc: Array[Int]) {
    val mcuPx: Int = if (sub420) 16 else 8
    val mcusX: Int = (w + mcuPx - 1) / mcuPx
    val mcusY: Int = (h + mcuPx - 1) / mcuPx
    val totalMcus: Int = mcusX * mcusY
    val yW: Int = mcusX * mcuPx
    val yH: Int = mcusY * mcuPx
    val cW: Int = if (sub420) mcusX * 8 else yW
    val cH: Int = if (sub420) mcusY * 8 else yH
    // Component block geometry for progressive scans. Interleaved
    // scans traverse the PADDED (MCU-aligned) grid — 4:2:0 luma pads
    // to even block counts; NON-interleaved scans (every progressive
    // AC scan, and single-component DC scans) traverse only the
    // blocks the component's own sampled area needs (T.81 A.2.2):
    // ceil(compPx/8), which can be SMALLER than the padded grid.
    def sampHV(c: Int): Int = if (sub420 && c == 0) 2 else 1
    def compWpx(c: Int): Int = if (sub420 && c > 0) (w + 1) / 2 else w
    def compHpx(c: Int): Int = if (sub420 && c > 0) (h + 1) / 2 else h
    def padBw(c: Int): Int = mcusX * sampHV(c)
    def padBh(c: Int): Int = mcusY * sampHV(c)
    def niBw(c: Int): Int = (compWpx(c) + 7) / 8
    def niBh(c: Int): Int = (compHpx(c) + 7) / 8
  }

  /** Padded component planes one decode fills; per-MCU writes land in
    * disjoint plane regions. */
  private final class JpegPlanes(hdr: JpegHeader) {
    val y = new Array[Int](hdr.yW * hdr.yH)
    val cb: Array[Int] = if (hdr.nComp == 3) new Array[Int](hdr.cW * hdr.cH) else null
    val cr: Array[Int] = if (hdr.nComp == 3) new Array[Int](hdr.cW * hdr.cH) else null
  }

  /** Parse one DHT segment (`pos` at its length field) into the
    * `dcT`/`acT` slots; returns the position after the segment, or -1
    * on any malformation — shared by the pre-scan header walk and the
    * progressive between-scan marker loop (scans redefine tables).
    * Strictness: class/slot ranges, ≤256 symbols, and canonical-code
    * overflow (more codes at a length than the code space holds would
    * make decode ambiguous) all reject. */
  private def parseJpegDht(b: Array[Byte], pos: Int,
                           dcT: Array[JpegHuffTable],
                           acT: Array[JpegHuffTable]): Int = {
    if (pos + 2 > b.length) return -1
    val len = ((b(pos) & 0xff) << 8) | (b(pos + 1) & 0xff)
    if (len < 2 || pos.toLong + len > b.length.toLong) return -1
    var p = pos + 2
    val end = pos + len
    while (p < end) {
      if (p + 17 > end) return -1
      val tc = (b(p) & 0xff) >> 4; val th = b(p) & 0x0f
      if (tc > 1 || th > 3) return -1
      val counts = new Array[Int](17)
      var total = 0
      var l = 1
      while (l <= 16) { counts(l) = b(p + l) & 0xff; total += counts(l); l += 1 }
      if (total > 256 || p + 17 + total > end) return -1
      val syms = new Array[Int](total)
      var i = 0
      while (i < total) { syms(i) = b(p + 17 + i) & 0xff; i += 1 }
      var c2 = 0; var ok = true
      l = 1
      while (l <= 16) { c2 = (c2 + counts(l)) << 1; if (c2 > (2 << l)) ok = false; l += 1 }
      if (!ok) return -1
      val t = new JpegHuffTable(counts, syms)
      if (tc == 0) dcT(th) = t else acT(th) = t
      p += 17 + total
    }
    end
  }

  /** Marker walk up to (and including) SOS: SOI, DQT/DHT/DRI/APPn/COM
    * collection, SOF0 geometry, SOS table bindings — null on anything
    * non-baseline or malformed (the caller's UnknownMedia). Strictness
    * lives here: only SOF0, 8-bit DQT, 1- or 3-component 1×1 / 2×2
    * sampling, SOS selectors naming the SOF components in order,
    * baseline spectral selection — and LONG bounds before every
    * allocation-relevant read. */
  private def parseJpegHeader(b: Array[Byte]): JpegHeader = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
      return null
    var pos = 2
    val qTables = new Array[Array[Int]](4)
    val dcTables = new Array[JpegHuffTable](4)
    val acTables = new Array[JpegHuffTable](4)
    var w = 0; var h = 0; var nComp = 0
    var sampH0 = 0; var sampV0 = 0
    val compQ = new Array[Int](3)
    val compId = new Array[Int](3)
    var restartInterval = 0
    var seenSof = false
    var progressive = false

    def u16(p: Int): Int = ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)

    var sosAt = -1
    val compDc = new Array[Int](3)
    val compAc = new Array[Int](3)
    while (sosAt < 0) {
      if (pos + 2 > b.length) return null
      if ((b(pos) & 0xff) != 0xff) return null
      var m = b(pos + 1) & 0xff
      while (m == 0xff) { // fill bytes are legal before a marker code
        pos += 1
        if (pos + 2 > b.length) return null
        m = b(pos + 1) & 0xff
      }
      pos += 2
      m match {
        case 0xd8 => return null // second SOI
        case 0xd9 => return null // EOI before any scan
        case 0xc0 | 0xc2 =>
          // SOF0 baseline or SOF2 progressive (T.81 Annex G) — same
          // frame-header geometry, different entropy organization
          progressive = m == 0xc2
          if (seenSof || pos + 2 > b.length) return null
          val len = u16(pos)
          if (len < 8 || pos.toLong + len > b.length.toLong) return null
          if ((b(pos + 2) & 0xff) != 8) return null // 12-bit
          h = u16(pos + 3); w = u16(pos + 5)
          nComp = b(pos + 7) & 0xff
          if (w <= 0 || h <= 0 || (nComp != 1 && nComp != 3) ||
              len != 8 + 3 * nComp || 3L * w * h > Int.MaxValue.toLong)
            return null
          var c = 0
          while (c < nComp) {
            val hv = b(pos + 9 + 3 * c) & 0xff
            val tq = b(pos + 10 + 3 * c) & 0xff
            if (tq > 3) return null
            compId(c) = b(pos + 8 + 3 * c) & 0xff
            compQ(c) = tq
            if (c == 0) { sampH0 = hv >> 4; sampV0 = hv & 15 }
            else if (hv != 0x11) return null
            c += 1
          }
          // supported sampling: 1×1 everywhere, or 2×2 luma over 1×1
          // chroma (4:2:0); grayscale must be 1×1
          if (!((sampH0 == 1 && sampV0 == 1) ||
                (nComp == 3 && sampH0 == 2 && sampV0 == 2)))
            return null
          seenSof = true
          pos += len
        case 0xc4 =>
          pos = parseJpegDht(b, pos, dcTables, acTables)
          if (pos < 0) return null
        case 0xdb =>
          if (pos + 2 > b.length) return null
          val len = u16(pos)
          // at least one 65-byte table: an empty DQT (Lq=2) is not a
          // segment B.2.4.1 allows — same rule as the progressive
          // tables-misc arm (review r15)
          if (len < 2 + 65 || pos.toLong + len > b.length.toLong) return null
          var p = pos + 2
          val end = pos + len
          while (p < end) {
            val pq = (b(p) & 0xff) >> 4; val tq = b(p) & 0x0f
            if (pq != 0 || tq > 3 || p + 65 > end) return null // 16-bit DQT: not baseline-8
            val q = new Array[Int](64)
            var i = 0
            while (i < 64) { q(i) = b(p + 1 + i) & 0xff; i += 1 }
            qTables(tq) = q
            p += 65
          }
          pos = end
        case 0xdd =>
          if (pos + 2 > b.length) return null
          val len = u16(pos)
          if (len != 4 || pos.toLong + len > b.length.toLong) return null
          restartInterval = u16(pos + 2)
          pos += len
        case 0xda =>
          if (!seenSof || pos + 2 > b.length) return null
          if (progressive) {
            // a progressive frame is a SEQUENCE of scans, each with
            // its own header and tables — the scan loop
            // (decodeJpegProgressive) owns everything from the first
            // SOS marker on; hand it the marker offset
            sosAt = pos - 2
          } else {
          val len = u16(pos)
          if (len < 2 || pos.toLong + len > b.length.toLong) return null
          val ns = b(pos + 2) & 0xff
          if (ns != nComp || len != 6 + 2 * ns) return null
          var c = 0
          while (c < ns) {
            // component selectors must NAME the SOF components in SOF
            // order (T.81 B.2.3; our interleaved-baseline strictness)
            // — assigning tables positionally without checking Cs
            // would decode luma with chroma tables on a
            // non-conforming scan header and return garbage as a
            // "valid" image (review r14)
            if ((b(pos + 3 + 2 * c) & 0xff) != compId(c)) return null
            val td = (b(pos + 4 + 2 * c) & 0xff) >> 4
            val ta = b(pos + 4 + 2 * c) & 0x0f
            if (td > 3 || ta > 3) return null
            compDc(c) = td; compAc(c) = ta
            c += 1
          }
          // baseline spectral selection: full band, no approximation
          // (payload layout: [ns][Cs,TdTa]×ns then Ss at pos+3+2ns)
          if ((b(pos + 3 + 2 * ns) & 0xff) != 0 ||
              (b(pos + 4 + 2 * ns) & 0xff) != 63 ||
              (b(pos + 5 + 2 * ns) & 0xff) != 0) return null
          sosAt = pos + len
          }
        case 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc8 | 0xc9 | 0xca |
             0xcb | 0xcc | 0xcd | 0xce | 0xcf =>
          return null // extended-seq/arith/hierarchical/lossless
        case mm if mm >= 0xe0 && mm <= 0xef => // APPn
          if (pos + 2 > b.length) return null
          val len = u16(pos)
          if (len < 2 || pos.toLong + len > b.length.toLong) return null
          pos += len
        case 0xfe => // COM
          if (pos + 2 > b.length) return null
          val len = u16(pos)
          if (len < 2 || pos.toLong + len > b.length.toLong) return null
          pos += len
        case _ => return null // RST/DNL/unknown outside scan
      }
    }
    // every referenced table must have arrived. Progressive scans
    // bind Huffman tables per scan (checked there); quantization
    // tables are frame-wide and — since this decoder rejects DQT
    // after the first SOS — must all be in hand here in both modes.
    var c = 0
    while (c < nComp) {
      if (qTables(compQ(c)) == null) return null
      if (!progressive && (dcTables(compDc(c)) == null ||
          acTables(compAc(c)) == null)) return null
      c += 1
    }
    val hdr = new JpegHeader(w, h, nComp, sampH0 == 2, progressive,
      restartInterval, sosAt,
      qTables, dcTables, acTables, compQ, compId, compDc, compAc)
    // padded-plane allocation bound (Long first)
    if (hdr.yW.toLong * hdr.yH > Int.MaxValue.toLong / 4) return null
    hdr
  }

  /** Entropy-decode MCUs [startMcu, endMcu) from byte offset
    * `startPos` into `planes`, with FRESH DC predictors and a fresh
    * bit reader — exactly one restart interval's contract (T.81
    * F.2.1.3.1: DC prediction and bit alignment reset at every RSTn),
    * which is why an interval needs nothing from the intervals before
    * it. Returns the byte position after the interval's last entropy
    * byte (aligned). Throws IndexOutOfBounds on malformed data — the
    * caller's totality net. */
  private def decodeJpegSegment(b: Array[Byte], hdr: JpegHeader,
                                planes: JpegPlanes,
                                startMcu: Int, endMcu: Int, startPos: Int): Int = {
    val br = new JpegBitReader(b, startPos)
    val coef = new Array[Long](64)
    val px = new Array[Int](64)
    val dcPred = new Array[Int](3)
    def decodeBlock(comp: Int, plane: Array[Int], pw: Int, bx: Int, by: Int): Unit = {
      val q = hdr.qTables(hdr.compQ(comp))
      java.util.Arrays.fill(coef, 0L)
      val sDc = br.decodeHuff(hdr.dcTables(hdr.compDc(comp)))
      if (sDc > 11) throw new IndexOutOfBoundsException("dc category")
      val diff = jpegExtend(br.receive(sDc), sDc)
      dcPred(comp) += diff
      // a valid 8-bit baseline stream's cumulative DC is a quantized
      // DCT coefficient — 11 bits + sign (T.81 Table F.1 tops out at
      // category 11). An adversarial diff chain could otherwise grow
      // the predictor without bound (and wrap Int into garbage
      // pixels instead of an honest rejection)
      if (dcPred(comp) > 2047 || dcPred(comp) < -2048)
        throw new IndexOutOfBoundsException("dc out of range")
      coef(0) = dcPred(comp).toLong * q(0)
      var k = 1
      while (k < 64) {
        val rs = br.decodeHuff(hdr.acTables(hdr.compAc(comp)))
        val r = rs >> 4; val s = rs & 15
        if (s == 0) {
          if (r == 15) {
            // ZRL codes 16 zeros PRECEDING a further coefficient
            // (F.1.2.2.1) — only EOB may end a block early, so a ZRL
            // whose zeros would reach past index 63 (or fill exactly
            // to it) is a non-conforming stream, not data (advisory
            // r14: silently accepting it decoded garbage as valid)
            k += 16
            if (k > 63) throw new IndexOutOfBoundsException("zrl overflow")
          } else if (r == 0) k = 64 // EOB
          else
            // composite symbols with s = 0, r in 1..14 are undefined
            // in sequential coding (they are EOBn only in progressive
            // scans) — reject, matching the 'ac overflow' strictness
            throw new IndexOutOfBoundsException("undefined run/size")
        } else {
          k += r
          if (k > 63 || s > 10) throw new IndexOutOfBoundsException("ac overflow")
          coef(jpegZigzag(k)) = jpegExtend(br.receive(s), s).toLong * q(k)
          k += 1
        }
      }
      jpegIdctBlock(coef, px)
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          plane((by * 8 + y) * pw + bx * 8 + x) = px(8 * y + x)
          x += 1
        }
        y += 1
      }
    }
    var mcu = startMcu
    while (mcu < endMcu) {
      val my = mcu / hdr.mcusX; val mx = mcu % hdr.mcusX
      if (hdr.sub420) {
        decodeBlock(0, planes.y, hdr.yW, 2 * mx, 2 * my)
        decodeBlock(0, planes.y, hdr.yW, 2 * mx + 1, 2 * my)
        decodeBlock(0, planes.y, hdr.yW, 2 * mx, 2 * my + 1)
        decodeBlock(0, planes.y, hdr.yW, 2 * mx + 1, 2 * my + 1)
        decodeBlock(1, planes.cb, hdr.cW, mx, my)
        decodeBlock(2, planes.cr, hdr.cW, mx, my)
      } else {
        decodeBlock(0, planes.y, hdr.yW, mx, my)
        if (hdr.nComp == 3) {
          decodeBlock(1, planes.cb, hdr.cW, mx, my)
          decodeBlock(2, planes.cr, hdr.cW, mx, my)
        }
      }
      mcu += 1
    }
    br.align()
    br.pos
  }

  /** Upsample (NN for 4:2:0) + integer YCbCr→RGB + crop to the SOF
    * dimensions. */
  private def assembleJpegRgb(hdr: JpegHeader, planes: JpegPlanes): Array[Byte] = {
    val rgb = new Array[Byte](3 * hdr.w * hdr.h)
    var yy = 0
    while (yy < hdr.h) {
      var xx = 0
      while (xx < hdr.w) {
        val yv = planes.y(yy * hdr.yW + xx)
        val o = 3 * (yy * hdr.w + xx)
        if (hdr.nComp == 1) {
          rgb(o) = yv.toByte; rgb(o + 1) = yv.toByte; rgb(o + 2) = yv.toByte
        } else {
          val ci = if (hdr.sub420) (yy / 2) * hdr.cW + (xx / 2) else yy * hdr.cW + xx
          val cb = planes.cb(ci) - 128; val cr = planes.cr(ci) - 128
          var r = yv + ((91881 * cr + 32768) >> 16)
          var g = yv - ((22554 * cb + 46802 * cr + 32768) >> 16)
          var bl = yv + ((116130 * cb + 32768) >> 16)
          if (r < 0) r = 0 else if (r > 255) r = 255
          if (g < 0) g = 0 else if (g > 255) g = 255
          if (bl < 0) bl = 0 else if (bl > 255) bl = 255
          rgb(o) = r.toByte; rgb(o + 1) = g.toByte; rgb(o + 2) = bl.toByte
        }
        xx += 1
      }
      yy += 1
    }
    rgb
  }

  /** Baseline JPEG decoder (SOF0, 8-bit, Huffman): header walk
    * ([[parseJpegHeader]]) → per-restart-interval entropy decode
    * ([[decodeJpegSegment]] — fresh DC state per interval, the spec's
    * own reset rule) with the modulo-8 RSTn sequence enforced exactly
    * where DRI says → dequantize → fixed-point IDCT → chroma upsample
    * → integer YCbCr→RGB → crop. Strict where the spec is strict:
    * only baseline SOF0 decodes (SOF1/2/…, arithmetic coding and
    * 4-component scans are honest UnknownMedia), DQT must be 8-bit,
    * the scan must end in EOI, and trailing bytes after EOI reject
    * (the PNG discipline). All dimension arithmetic bounds in Long
    * before any allocation. */
  private[operators] def decodeJpeg(b: Array[Byte]): Media = {
    val hdr = parseJpegHeader(b)
    if (hdr == null) return UnknownMedia(b.length)
    if (hdr.progressive) decodeJpegProgressive(b, hdr)
    else decodeJpegSequential(b, hdr)
  }

  /** Position of the marker's FINAL 0xFF at or after `pos0`: T.81
    * B.1.1.2 lets a writer pad with any number of 0xFF fill bytes
    * before a marker code, so `FF FF … FF D3` is one RST3 with fill,
    * not malformed data (r14 conformance nit — a padding foreign
    * writer used to reject). Inside entropy data a bare FF FF is
    * still a stop: fill bytes only ever PRECEDE a marker, which is
    * exactly where the decoders consult this helper. */
  private def jpegSkipFill(b: Array[Byte], pos0: Int): Int = {
    var p = pos0
    while (p + 1 < b.length && (b(p) & 0xff) == 0xff && (b(p + 1) & 0xff) == 0xff)
      p += 1
    p
  }

  private def decodeJpegSequential(b: Array[Byte], hdr: JpegHeader): Media = {
    val planes = new JpegPlanes(hdr)
    val ri = hdr.restartInterval
    val nSeg = if (ri > 0) (hdr.totalMcus + ri - 1) / ri else 1
    var pos = hdr.sosAt
    try {
      var seg = 0
      while (seg < nSeg) {
        if (seg > 0) {
          // the RSTn sequence is modulo-8 and mandatory exactly here
          // (fill bytes before the marker are legal — B.1.1.2)
          pos = jpegSkipFill(b, pos)
          if ((b(pos) & 0xff) != 0xff ||
              (b(pos + 1) & 0xff) != 0xd0 + ((seg - 1) % 8))
            return UnknownMedia(b.length)
          pos += 2
        }
        val start = if (ri > 0) seg * ri else 0
        val end = if (ri > 0) math.min(start + ri, hdr.totalMcus) else hdr.totalMcus
        pos = decodeJpegSegment(b, hdr, planes, start, end, pos)
        seg += 1
      }
    } catch {
      case _: IndexOutOfBoundsException => return UnknownMedia(b.length)
    }
    // scan must close with EOI at the very end (fill bytes before it
    // are legal) — trailing bytes mean the payload is not the JPEG it
    // claims to be (the PNG rule)
    pos = jpegSkipFill(b, pos)
    if (pos + 2 != b.length || (b(pos) & 0xff) != 0xff ||
        (b(pos + 1) & 0xff) != 0xd9) return UnknownMedia(b.length)
    ImageMedia(hdr.w, hdr.h, "jpg", assembleJpegRgb(hdr, planes))
  }

  /** One progressive scan's bindings: the SOF component indices it
    * names (SOF order), their Huffman tables as bound by this scan's
    * header, and the band/approximation parameters. */
  private final class JpegProgScan(
      val comps: Array[Int],
      val dc: Array[JpegHuffTable], val ac: Array[JpegHuffTable],
      val ss: Int, val se: Int, val ah: Int, val al: Int)

  /** Entropy-decode one restart interval of a progressive scan —
    * MCUs [startMcu, endMcu) — with a fresh bit reader, fresh DC
    * predictors and a fresh EOB run (T.81 F.2.1.3.1: all three reset
    * at every RSTn, which is what keeps intervals independent in
    * progressive frames too). Accumulates quantized coefficients into
    * `coefs` (zigzag order per block, padded-grid block layout);
    * refinement scans mutate in place. Returns the byte position
    * after the interval (aligned). Throws on malformed data — the
    * caller's totality net.
    *
    * The four scan kinds of Annex G:
    *  - DC first  (Ss=0, Ah=0): baseline DC coding of the point-
    *    transformed value (arithmetic shift, G.1.2.1), interleaved or
    *    single-component.
    *  - DC refine (Ss=0, Ah>0): one raw bit per block, OR-ed in at
    *    bit Al (the next lower bit of the two's-complement value).
    *  - AC first  (Ss≥1, Ah=0): sequential-style run/size over the
    *    band of magnitude-shifted values (G.1.2.2), plus EOBn symbols
    *    (s=0, r=0..14) coding runs of 1..32767 all-zero bands.
    *  - AC refine (Ss≥1, Ah>0): newly-nonzero coefficients arrive as
    *    (run,1)+sign over ZERO-HISTORY positions; every nonzero-
    *    history coefficient passed over — including inside EOB-run
    *    blocks — consumes one correction bit (G.2's algorithm).
    */
  private def decodeProgSegment(b: Array[Byte], hdr: JpegHeader,
                                scan: JpegProgScan, coefs: Array[Array[Int]],
                                startMcu: Int, endMcu: Int, startPos: Int): Int = {
    val br = new JpegBitReader(b, startPos)
    val interleaved = scan.comps.length > 1
    val dcPred = new Array[Int](3)
    var eobrun = 0
    val isDc = scan.ss == 0
    val first = scan.ah == 0
    val p1 = 1 << scan.al
    val m1 = -1 << scan.al

    def dcFirst(ci: Int, off: Int): Unit = {
      val s = br.decodeHuff(scan.dc(ci))
      if (s > 11) throw new IndexOutOfBoundsException("dc category")
      dcPred(ci) += jpegExtend(br.receive(s), s)
      // the FULL-precision DC (pred << Al) must stay a legal 8-bit
      // quantized coefficient (±2048 — the baseline guard, G-aware):
      // bound pred BEFORE shifting so the check itself cannot wrap
      if (dcPred(ci) > (2047 >> scan.al) || dcPred(ci) < -(2048 >> scan.al))
        throw new IndexOutOfBoundsException("dc out of range")
      coefs(scan.comps(ci))(off) = dcPred(ci) << scan.al
    }
    def dcRefine(ci: Int, off: Int): Unit =
      if (br.readBit() == 1) {
        val arr = coefs(scan.comps(ci))
        arr(off) = arr(off) | p1
      }
    def acFirst(comp: Int, off: Int): Unit = {
      if (eobrun > 0) { eobrun -= 1; return }
      val arr = coefs(comp)
      var k = scan.ss
      while (k <= scan.se) {
        val rs = br.decodeHuff(scan.ac(0))
        val r = rs >> 4; val s = rs & 15
        if (s == 0) {
          if (r == 15) {
            k += 16 // ZRL precedes a further in-band coefficient
            if (k > scan.se) throw new IndexOutOfBoundsException("zrl overflow")
          } else {
            eobrun = (1 << r) + (if (r > 0) br.receive(r) else 0) - 1
            k = 64 // this block's band ends here
          }
        } else {
          if (s > 10) throw new IndexOutOfBoundsException("ac category")
          k += r
          if (k > scan.se) throw new IndexOutOfBoundsException("ac overflow")
          arr(off + k) = jpegExtend(br.receive(s), s) << scan.al
          k += 1
        }
      }
    }
    def correct(arr: Array[Int], i: Int): Unit =
      if (br.readBit() == 1 && (arr(i) & p1) == 0)
        arr(i) = arr(i) + (if (arr(i) >= 0) p1 else m1)
    def acRefine(comp: Int, off: Int): Unit = {
      val arr = coefs(comp)
      var k = scan.ss
      if (eobrun == 0) {
        var inBlock = true
        while (inBlock && k <= scan.se) {
          val rs = br.decodeHuff(scan.ac(0))
          val r = rs >> 4; val s = rs & 15
          if (s == 0 && r != 15) {
            // EOBn: run counts THIS block too; the correction tail
            // below finishes it and decrements
            eobrun = (1 << r) + (if (r > 0) br.receive(r) else 0)
            inBlock = false
          } else {
            if (s != 0 && s != 1)
              throw new IndexOutOfBoundsException("refine size")
            val newVal =
              if (s == 0) 0 else if (br.readBit() == 1) p1 else m1
            // advance over r zero-HISTORY coefficients (16 for ZRL),
            // appending a correction bit to every nonzero-history
            // coefficient passed; stop AT the (r+1)-th zero — the
            // newly-nonzero's position
            var rr = r
            var advancing = true
            while (advancing) {
              if (arr(off + k) != 0) {
                correct(arr, off + k)
                k += 1
              } else {
                rr -= 1
                if (rr < 0) advancing = false else k += 1
              }
              if (advancing && k > scan.se) advancing = false
            }
            if (rr >= 0) // the band ended before the run did
              throw new IndexOutOfBoundsException("refine overflow")
            if (s != 0) {
              if (arr(off + k) != 0)
                throw new IndexOutOfBoundsException("refine target")
              arr(off + k) = newVal
            }
            k += 1
          }
        }
      }
      if (eobrun > 0) {
        // rest of the block: correction bits only
        while (k <= scan.se) {
          if (arr(off + k) != 0) correct(arr, off + k)
          k += 1
        }
        eobrun -= 1
      }
    }

    var mcu = startMcu
    while (mcu < endMcu) {
      if (interleaved) {
        val my = mcu / hdr.mcusX; val mx = mcu % hdr.mcusX
        var ci = 0
        while (ci < scan.comps.length) {
          val c = scan.comps(ci)
          val hv = hdr.sampHV(c)
          val bw = hdr.padBw(c)
          var v = 0
          while (v < hv) {
            var hh = 0
            while (hh < hv) {
              val off = ((my * hv + v) * bw + mx * hv + hh) * 64
              if (first) dcFirst(ci, off) else dcRefine(ci, off)
              hh += 1
            }
            v += 1
          }
          ci += 1
        }
      } else {
        val c = scan.comps(0)
        val nbw = hdr.niBw(c)
        val off = ((mcu / nbw) * hdr.padBw(c) + mcu % nbw) * 64
        if (isDc) { if (first) dcFirst(0, off) else dcRefine(0, off) }
        else { if (first) acFirst(c, off) else acRefine(c, off) }
      }
      mcu += 1
    }
    // an EOB run may not cross a restart or scan boundary — leftover
    // run means the stream claimed blocks that don't exist
    if (eobrun != 0) throw new IndexOutOfBoundsException("eob overrun")
    br.align()
    br.pos
  }

  /** Decode one progressive scan: restart-interval segmentation with
    * the modulo-8 RSTn sequence enforced exactly where the CURRENT
    * DRI value says (DRI may change between scans), each interval
    * through [[decodeProgSegment]] with fresh state. Returns the
    * position after the scan's entropy data. */
  private def decodeProgScan(b: Array[Byte], hdr: JpegHeader,
                             scan: JpegProgScan, coefs: Array[Array[Int]],
                             ri: Int, startPos: Int): Int = {
    val interleaved = scan.comps.length > 1
    val nMcus =
      if (interleaved) hdr.totalMcus
      else hdr.niBw(scan.comps(0)) * hdr.niBh(scan.comps(0))
    var pos = startPos
    var mcu = 0
    var seg = 0
    while (mcu < nMcus) {
      if (seg > 0) {
        pos = jpegSkipFill(b, pos)
        if ((b(pos) & 0xff) != 0xff ||
            (b(pos + 1) & 0xff) != 0xd0 + ((seg - 1) % 8))
          throw new IndexOutOfBoundsException("bad RSTn in scan")
        pos += 2
      }
      val endMcu = if (ri > 0) math.min(mcu + ri, nMcus) else nMcus
      pos = decodeProgSegment(b, hdr, scan, coefs, mcu, endMcu, pos)
      mcu = endMcu
      seg += 1
    }
    pos
  }

  /** Progressive JPEG decoder (SOF2, 8-bit, Huffman — T.81 Annex G):
    * the header walk stops at the first SOS; this loop owns the rest
    * of the file — scan headers (validated against the progression
    * rules below), DHT/DRI redefinitions between scans, entropy
    * decode per scan into per-component coefficient arrays, and at
    * EOI the shared dequantize → IDCT → upsample → RGB tail.
    *
    * Strict where the spec is strict, and strict about completeness:
    *  - AC scans are single-component with 1 ≤ Ss ≤ Se ≤ 63; DC
    *    scans have Ss = Se = 0; interleaved DC scans may name any
    *    component SUBSET, selectors in SOF order without repeats
    *    (B.2.3 bounds only 1 ≤ Ns ≤ 4 — the MCU grid is a frame
    *    property, so subsets walk the same geometry; review r15).
    *  - a band's first scan has Ah = 0 on virgin coefficients; each
    *    refinement continues exactly where the band left off
    *    (Ah = previous Al, Al = Ah − 1) — per-coefficient state, so
    *    bands may split/merge across scans but never skip or repeat
    *    a bit (G.1.1.1.1).
    *  - a component's DC must start before its AC scans (G.1.1.1.1).
    *  - at EOI every coefficient of every component must be delivered
    *    to full precision (Al = 0) — an interchange-format frame
    *    fully specifies its image; spectrally-truncated files reject.
    *  - DQT between scans is accepted as tables-misc (B.2.4.1) but
    *    must not CHANGE a table any frame component uses (G.1.1.1):
    *    re-emissions must match the header walk's table byte-for-byte
    *    and unused slots are skipped (review r15 — the first cut
    *    rejected all of them); trailing bytes after EOI reject, and
    *    the EOI must follow the last scan's data directly (fill bytes
    *    aside) — the baseline/PNG discipline. */
  private def decodeJpegProgressive(b: Array[Byte], hdr: JpegHeader): Media = {
    val coefs = Array.tabulate(hdr.nComp)(c =>
      new Array[Int](hdr.padBw(c) * hdr.padBh(c) * 64))
    // delivered-precision state per component per zigzag index:
    // -1 = nothing yet, else the lowest delivered bit (Al)
    val state = Array.fill(hdr.nComp, 64)(-1)
    val dcT = hdr.dcTables.clone()
    val acT = hdr.acTables.clone()
    var ri = hdr.restartInterval
    var pos = hdr.sosAt
    def u16(p: Int): Int = ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
    try {
      var sawEoi = false
      while (!sawEoi) {
        pos = jpegSkipFill(b, pos)
        if (pos + 2 > b.length || (b(pos) & 0xff) != 0xff)
          return UnknownMedia(b.length)
        val m = b(pos + 1) & 0xff
        pos += 2
        m match {
          case 0xd9 => sawEoi = true
          case 0xc4 =>
            pos = parseJpegDht(b, pos, dcT, acT)
            if (pos < 0) return UnknownMedia(b.length)
          case 0xdd =>
            if (pos + 2 > b.length) return UnknownMedia(b.length)
            val len = u16(pos)
            if (len != 4 || pos.toLong + len > b.length.toLong)
              return UnknownMedia(b.length)
            ri = u16(pos + 2)
            pos += len
          case mm if (mm >= 0xe0 && mm <= 0xef) || mm == 0xfe =>
            if (pos + 2 > b.length) return UnknownMedia(b.length)
            val len = u16(pos)
            if (len < 2 || pos.toLong + len > b.length.toLong)
              return UnknownMedia(b.length)
            pos += len
          case 0xdb =>
            // DQT is legal tables-misc before any scan header
            // (B.2.4.1); what G.1.1.1 forbids is CHANGING a table a
            // frame component uses — so a re-emission must match the
            // header walk's table byte-for-byte, and a definition for
            // an unused slot is skipped (review r15: the old arm
            // rejected all of them)
            if (pos + 2 > b.length) return UnknownMedia(b.length)
            val len = u16(pos)
            // at least one 65-byte table: an EMPTY DQT (Lq=2) is not a
            // segment B.2.4.1 allows (review r15)
            if (len < 2 + 65 || pos.toLong + len > b.length.toLong)
              return UnknownMedia(b.length)
            var q = pos + 2
            val qEnd = pos + len
            while (q < qEnd) {
              val pqTq = b(q) & 0xff
              if ((pqTq >> 4) != 0) return UnknownMedia(b.length) // 8-bit only
              val tq = pqTq & 0x0f
              if (tq > 3 || q + 65 > qEnd) return UnknownMedia(b.length)
              val used = (0 until hdr.nComp).exists(hdr.compQ(_) == tq)
              if (used) {
                val cur = hdr.qTables(tq)
                var k = 0
                while (k < 64) {
                  if ((b(q + 1 + k) & 0xff) != cur(k)) return UnknownMedia(b.length)
                  k += 1
                }
              }
              q += 65
            }
            if (q != qEnd) return UnknownMedia(b.length)
            pos = qEnd
          case 0xda =>
            if (pos + 2 > b.length) return UnknownMedia(b.length)
            val len = u16(pos)
            if (len < 2 || pos.toLong + len > b.length.toLong)
              return UnknownMedia(b.length)
            val ns = b(pos + 2) & 0xff
            if (ns < 1 || ns > hdr.nComp || len != 6 + 2 * ns)
              return UnknownMedia(b.length)
            val comps = new Array[Int](ns)
            val dcTabs = new Array[JpegHuffTable](ns)
            val acTabs = new Array[JpegHuffTable](ns)
            var prev = -1
            var i = 0
            while (i < ns) {
              val cs = b(pos + 3 + 2 * i) & 0xff
              var idx = -1; var j = 0
              while (j < hdr.nComp) { if (hdr.compId(j) == cs) idx = j; j += 1 }
              // selectors must name SOF components, in SOF order,
              // without repeats (the baseline r14 rule carried over)
              if (idx < 0 || idx <= prev) return UnknownMedia(b.length)
              prev = idx; comps(i) = idx
              val td = (b(pos + 4 + 2 * i) & 0xff) >> 4
              val ta = b(pos + 4 + 2 * i) & 0x0f
              if (td > 3 || ta > 3) return UnknownMedia(b.length)
              dcTabs(i) = dcT(td); acTabs(i) = acT(ta)
              i += 1
            }
            val ss = b(pos + 3 + 2 * ns) & 0xff
            val se = b(pos + 4 + 2 * ns) & 0xff
            val ahal = b(pos + 5 + 2 * ns) & 0xff
            val ah = ahal >> 4; val al = ahal & 15
            val isDc = ss == 0
            if (isDc && se != 0) return UnknownMedia(b.length)
            if (!isDc && (ns != 1 || se < ss || se > 63))
              return UnknownMedia(b.length)
            if (!isDc && state(comps(0))(0) < 0) // DC before AC
              return UnknownMedia(b.length)
            if (al > 13 || (ah != 0 && ah != al + 1))
              return UnknownMedia(b.length)
            // interleaved DC scans may name ANY 2..Nf-component subset
            // (B.2.3 bounds only 1 ≤ Ns ≤ 4 in SOF order): the MCU
            // grid is a FRAME property (Hmax/Vmax), so the generic
            // per-component walk below handles subsets as-is — an
            // all-components requirement here was review-r15's one
            // decoder over-strictness finding
            i = 0
            while (i < ns) {
              val st = state(comps(i))
              var k = ss
              val kEnd = if (isDc) 0 else se
              while (k <= kEnd) {
                if (ah == 0) { if (st(k) != -1) return UnknownMedia(b.length) }
                else if (st(k) != ah) return UnknownMedia(b.length)
                st(k) = al
                k += 1
              }
              // every bound table the scan will consult must exist
              if (isDc && ah == 0 && dcTabs(i) == null)
                return UnknownMedia(b.length)
              if (!isDc && acTabs(i) == null) return UnknownMedia(b.length)
              i += 1
            }
            pos = decodeProgScan(b, hdr,
              new JpegProgScan(comps, dcTabs, acTabs, ss, se, ah, al),
              coefs, ri, pos + len)
          case _ => return UnknownMedia(b.length) // SOF/RST/DNL/… here
        }
      }
    } catch {
      case _: IndexOutOfBoundsException => return UnknownMedia(b.length)
    }
    if (pos != b.length) return UnknownMedia(b.length)
    var c = 0
    while (c < hdr.nComp) {
      var k = 0
      while (k < 64) {
        if (state(c)(k) != 0) return UnknownMedia(b.length)
        k += 1
      }
      c += 1
    }
    // dequantize + IDCT every padded-grid block — the baseline tail,
    // just driven from the accumulated coefficient arrays
    val planes = new JpegPlanes(hdr)
    val coefNat = new Array[Long](64)
    val px = new Array[Int](64)
    c = 0
    while (c < hdr.nComp) {
      val q = hdr.qTables(hdr.compQ(c))
      val zz = coefs(c)
      val plane = c match {
        case 0 => planes.y
        case 1 => planes.cb
        case _ => planes.cr
      }
      val pw = if (c == 0) hdr.yW else hdr.cW
      val bw = hdr.padBw(c)
      val nBlocks = bw * hdr.padBh(c)
      var bi = 0
      while (bi < nBlocks) {
        val off = bi * 64
        var k = 0
        while (k < 64) {
          coefNat(jpegZigzag(k)) = zz(off + k).toLong * q(k)
          k += 1
        }
        jpegIdctBlock(coefNat, px)
        val by = bi / bw; val bx = bi % bw
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            plane((by * 8 + y) * pw + bx * 8 + x) = px(8 * y + x)
            x += 1
          }
          y += 1
        }
        bi += 1
      }
      c += 1
    }
    ImageMedia(hdr.w, hdr.h, "jpg", assembleJpegRgb(hdr, planes))
  }

  // --------------------------------------------------------- derived ops

  /** The LOGICAL data units of a media object, as unsigned bytes in a
    * signed-byte array (mask 0xff to read): image → RGB pixels, audio
    * → samples shifted back to 0..255 (the fixture generator stores
    * unit−128; arbitrary 16-bit audio folds into its low byte, lossy
    * but stable, fine for hashing), video → all frame planes in
    * order, unknown → empty. These are the bytes hashes, embeddings
    * and feature histograms see — container bytes never leak in. */
  def contentUnits(m: Media): Array[Byte] = m match {
    case ImageMedia(_, _, _, rgb) => rgb
    case AudioMedia(_, samples) =>
      val out = new Array[Byte](samples.length)
      var i = 0
      while (i < samples.length) { out(i) = (samples(i) + 128).toByte; i += 1 }
      out
    case VideoMedia(w, h, frames) =>
      val out = new Array[Byte](frames.length * 3 * w * h)
      var i = 0
      frames.foreach { f => System.arraycopy(f, 0, out, i, f.length); i += f.length }
      out
    case UnknownMedia(_) => Array.emptyByteArray
  }

  /** EXACT-integer average-hash core over per-cell (sum, count)
    * pairs: bit i set iff cell i's mean strictly exceeds the mean of
    * the 64 cell means. The comparison s_i/c_i > (Σ_j s_j/c_j)/64 is
    * cross-multiplied through a common multiple of the counts and
    * decided in BigInt — no float accumulation, no ulp ties, so the
    * hash is bit-reproducible in ANY engine with integer arithmetic
    * (which is what lets the DuckDB oracle rebuild it; the earlier
    * float mean-of-means was the one boundary a SQL mirror could
    * drift on by one ulp and flip a bit). Cells with count 0 (tiny
    * rasters) contribute a 0/1 mean, matching the old 0.0 rule. */
  private def aHashExact(s0: Array[Long], c0: Array[Long]): Long = {
    // normalize 0-count cells into LOCALS — callers' arrays stay
    // untouched (a hash should not have write side effects)
    val s = new Array[Long](64)
    val c = new Array[Long](64)
    var i = 0
    while (i < 64) {
      if (c0(i) == 0L) { s(i) = 0L; c(i) = 1L }
      else { s(i) = s0(i); c(i) = c0(i) }
      i += 1
    }
    val p = c.distinct.map(BigInt(_)).product
    val scaled = new Array[BigInt](64)
    var t = BigInt(0)
    i = 0
    while (i < 64) {
      scaled(i) = BigInt(s(i)) * (p / c(i))
      t += scaled(i)
      i += 1
    }
    var hash = 0L
    i = 0
    while (i < 64) { if (scaled(i) * 64 > t) hash |= (1L << i); i += 1 }
    hash
  }

  /** Average-hash over an arbitrary-size grayscale raster: 8×8 grid of
    * box means (integer box boundaries x0 = cx·w/8), bit cy*8+cx set
    * iff its cell mean exceeds the global cell mean — exactly, via
    * [[aHashExact]]. */
  private def aHashGray(w: Int, h: Int, gray: (Int, Int) => Int): Long = {
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var cy = 0
    while (cy < 8) {
      val y0 = cy * h / 8; val y1 = math.max((cy + 1) * h / 8, y0 + 1)
      var cx = 0
      while (cx < 8) {
        val x0 = cx * w / 8; val x1 = math.max((cx + 1) * w / 8, x0 + 1)
        var sum = 0L; var cnt = 0L
        var y = y0
        while (y < math.min(y1, h)) {
          var x = x0
          while (x < math.min(x1, w)) { sum += gray(x, y); cnt += 1; x += 1 }
          y += 1
        }
        sums(cy * 8 + cx) = sum; cnts(cy * 8 + cx) = cnt
        cx += 1
      }
      cy += 1
    }
    aHashExact(sums, cnts)
  }

  /** Canonical sample rate every audio signal is NN-resampled to
    * before perceptual hashing. */
  val canonicalRate = 8000

  /** Upper bound on the canonical-signal length (2²⁶ samples ≈ 2.3 h
    * at 8 kHz): a decoded WAV declaring a tiny sample rate would
    * otherwise make the resample ALLOCATE far beyond its input — and
    * past Int range the length wraps negative, throwing
    * NegativeArraySizeException from [[aHash64]], which runs OUTSIDE
    * decode()'s totality catch (phashDedup's mapPartitions has no
    * net; max-effort review r13). Such a signal hashes raw instead. */
  private val maxCanonicalSamples = 1 << 26

  /** The cap decision, extracted so its BOUNDARY is directly
    * testable (a fixture exercising it in vivo would need a >2²⁶-
    * sample array): cap iff the canonical form exceeds the bound AND
    * would GROW the signal — downsampling (outLen ≤ n) never caps,
    * whatever its length, because its allocation is bounded by the
    * input that already exists. */
  private[graft] def canonicalCapApplies(outLen: Long, n: Int): Boolean =
    outLen > maxCanonicalSamples && outLen > n

  /** Canonical-rate view of an audio signal for perceptual hashing:
    * nearest-neighbor resample to [[canonicalRate]] via the integer-
    * floor index map j → j·rate/8000 (the 1-D twin of [[resizeRgbNN]]
    * — and exactly mirrorable in oracle SQL). Rate-invariance is the
    * audio analog of container-invariance: the same signal shipped at
    * 8 kHz and NN-upsampled to 16 kHz canonicalizes to IDENTICAL
    * samples, so the hashes collide at Hamming 0 (MultimodalSpec pins
    * the planted pair). At the canonical rate the map is the
    * identity, so legacy 8 kHz hashes are unchanged. The cap applies
    * ONLY in the UPSAMPLING direction (outLen > n — rates below
    * canonical, i.e. hostile or nonsense metadata): downsampling can
    * never exceed the input length, so long legitimate high-rate
    * audio keeps its rate-invariant canonical hash (review r13 — an
    * unconditional cap silently broke invariance for ~2 h 44.1 kHz
    * signals where no allocation hazard exists). */
  private[operators] def canonicalSamples(rate: Int, samples: Array[Short]): Array[Short] = {
    if (rate == canonicalRate || rate <= 0) return samples
    val n = samples.length
    val outLen = n.toLong * canonicalRate / rate
    if (canonicalCapApplies(outLen, n)) return samples
    // a few-sample clip at a high declared rate (rate > 8000·n) floors
    // outLen to ZERO — hashing the empty canonical form would return
    // 0, colliding with UnknownMedia's hash and with every other such
    // clip in phashDedup's banding (r13 advisory). Non-empty input
    // must keep a non-degenerate hash: fall back to the raw samples,
    // the same rule as the cap path.
    if (outLen == 0 && n > 0) return samples
    val outN = outLen.toInt
    val out = new Array[Short](outN)
    var j = 0
    while (j < outN) { out(j) = samples((j.toLong * rate / canonicalRate).toInt); j += 1 }
    out
  }

  /** 64-bit perceptual hash of DECODED content:
    *  - image: aHash of the luma raster ((r+g+b)/3 per pixel)
    *  - audio: aHash structure over 64 equal spans of the
    *    CANONICAL-RATE signal ([[canonicalSamples]] — the 1-D signal
    *    analog: span means vs global mean, rate-invariant)
    *  - video: aHash of the FIRST frame's Y plane (the thumbnail
    *    heuristic real video-dedup pipelines use for the cheap tier)
    *  - unknown: 0
    * Container-invariant by construction: the same pixels hash the
    * same from PPM, BMP and PNG. */
  def aHash64(m: Media): Long = m match {
    case ImageMedia(w, h, _, rgb) =>
      aHashGray(w, h, (x, y) => {
        val i = (y * w + x) * 3
        ((rgb(i) & 0xff) + (rgb(i + 1) & 0xff) + (rgb(i + 2) & 0xff)) / 3
      })
    case AudioMedia(rate, samples0) =>
      val samples = canonicalSamples(rate, samples0)
      val n = samples.length
      if (n == 0) return 0L
      val sums = new Array[Long](64)
      val cnts = new Array[Long](64)
      var i = 0
      while (i < 64) {
        val s = (i.toLong * n / 64).toInt
        val e = ((i + 1).toLong * n / 64).toInt
        var sum = 0L; var j = s
        while (j < e) { sum += (samples(j) + 128) & 0xff; j += 1 }
        sums(i) = sum; cnts(i) = (e - s).toLong
        i += 1
      }
      aHashExact(sums, cnts)
    case VideoMedia(w, h, frames) =>
      if (frames.isEmpty) 0L
      else { val y0 = frames(0); aHashGray(w, h, (x, y) => y0(y * w + x) & 0xff) }
    case UnknownMedia(_) => 0L
  }

  /** Nearest-neighbor resample of a grayscale/interleaved plane:
    * out(x,y) = src(x·w/ow, y·h/oh) — the integer-floor mapping every
    * NN scaler uses; channels move together for interleaved RGB. */
  def resizeRgbNN(w: Int, h: Int, rgb: Array[Byte], ow: Int, oh: Int): Array[Byte] = {
    val out = new Array[Byte](3 * ow * oh)
    var y = 0
    while (y < oh) {
      val sy = y * h / oh
      var x = 0
      while (x < ow) {
        val sx = x * w / ow
        val src = (sy * w + sx) * 3
        val dst = (y * ow + x) * 3
        out(dst) = rgb(src); out(dst + 1) = rgb(src + 1); out(dst + 2) = rgb(src + 2)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Per-plane NN resample of one C444 frame (3 stacked w×h planes). */
  def resizeFrameNN(w: Int, h: Int, frame: Array[Byte], ow: Int, oh: Int): Array[Byte] = {
    val out = new Array[Byte](3 * ow * oh)
    var p = 0
    while (p < 3) {
      val srcOff = p * w * h
      val dstOff = p * ow * oh
      var y = 0
      while (y < oh) {
        val sy = y * h / oh
        var x = 0
        while (x < ow) {
          out(dstOff + y * ow + x) = frame(srcOff + sy * w + x * w / ow)
          x += 1
        }
        y += 1
      }
      p += 1
    }
    out
  }
}
