package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column operators: media as opaque `binary` payloads with
  * typed metadata, decoded/feature-extracted in partition-local
  * batches.
  *
  * The decode path is REAL ([[MediaCodec]]): the fixture generator
  * encodes genuine PPM/BMP containers for images, RIFF/WAVE PCM for
  * audio and YUV4MPEG2 for video, and every downstream operator
  * parses those bytes back with real header/chunk parsers —
  * dimensions, sample counts and frame counts are READ from the
  * container, never assumed. The generator derives pixel/sample
  * content by cycling the document's code points (non-ASCII folds to
  * '?'), which makes the whole chain oracle-checkable end-to-end on
  * any text: DuckDB reproduces the closed-form sizes AND the decoded
  * data sums straight from the `documents` table, so a single
  * misplaced byte in an encoder or parser (a missed BMP row flip, an
  * off-by-one chunk walk) breaks the hash match.
  *
  * Scale shape is unchanged by realism: decode is pure map-side work
  * over the payload column (mapPartitions, no shuffle), scaling with
  * executors and never touching the driver — swapping in a JPEG/FLAC
  * codec via JNI changes the body of [[MediaCodec.decode]], not the
  * plan. */
object Multimodal {

  /** One media row: payload + typed metadata, the schema a media lake
    * table would carry. */
  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])

  /** Parsed container facts + content checksums, all read from the
    * payload bytes by [[MediaCodec.decode]]. data_sum / data_wsum are
    * the plain and position-weighted sums of the decoded LOGICAL data
    * units (pixels / samples / plane bytes) — the weighted sum is the
    * one that catches placement bugs (a permutation that preserves
    * the plain sum, e.g. a missed bottom-up row flip, shifts it). */
  final case class DecodedRow(media_id: Long, kind: String, format: String,
                              n_bytes: Long, width: Long, height: Long,
                              n_frames: Long, sample_rate: Long,
                              n_samples: Long, data_sum: Long,
                              data_wsum: Long, payload_sha: String)

  /** The fixture PLTE: 256 entries, entry e = (e, 255−e, 3e mod 256).
    * Three distinct closed-form channel maps (identity / reflection /
    * wrapping ramp) so palette decode bugs — transposed PLTE layout,
    * single-channel reads, truncated tables — shift the plain or
    * position-weighted content sums the oracle rebuilds. */
  private[graft] val palettePlte: Array[Byte] =
    Array.tabulate(768)(j => paletteChan(j / 3, j % 3).toByte)

  /** Palette channel map as plain Ints — the spec recomputes and the
    * oracle SQL mirror this exact rule. */
  private[graft] def paletteChan(v: Int, c: Int): Int =
    c match { case 0 => v; case 1 => 255 - v; case _ => (3 * v) % 256 }

  /** The ANIMATED-GIF fixture GCT: 256 GRAYSCALE entries (e, e, e).
    * Gray is what keeps the BT.601 plane conversion out of the oracle
    * SQL: R=G=B=v maps EXACTLY to (Y=v, Cb=128, Cr=128) under the
    * codec's fixed-point transform (its coefficient rows sum to
    * 65536/0/0 — the documented grayscale invariant), so an animated
    * frame's decoded planes are the composited gray canvas plus two
    * constant-128 planes, all closed-form in the id. */
  private[graft] val grayGct: Array[Byte] = Array.tabulate(768)(j => (j / 3).toByte)

  /** The INVERTED grayscale table one animated-fixture frame ships as
    * its LOCAL color table (entry e = 255−e): still gray, so the
    * BT.601 invariant holds, but the frame's decoded paint is
    * 255 − unit — the local-table override path under the oracle. */
  private[graft] val invGrayGct: Array[Byte] = Array.tabulate(768)(j => (255 - j / 3).toByte)

  /** The GIF comment-rotation payload (r18): 13 ASCII bytes, so the
    * extension costs exactly 4 + 13 = 17 bytes — the constant the
    * n_bytes oracle adds on the (id/4)%2 arm. */
  private[graft] val gifComment = "graft fixture"

  /** Deterministic fixture generator: REAL container bytes derived
    * from a document row. Kind cycles image/audio/video by id;
    * images rotate PPM, BMP and a PNG/GIF slot (all decoders must
    * agree on the logical pixels — MultimodalSpec pins the
    * container-invariance); dimensions / sample counts / frame
    * counts are closed-form in the id, and all data units cycle the
    * document's CODE POINTS (non-ASCII folding to '?' — see the rule
    * comment in the body) — the two facts the DuckDB oracle rebuilds
    * the expected decode from (PNG sizes stay closed-form because
    * [[MediaCodec.encodePng]] emits stored-deflate blocks). */
  private[graft] def genPayload(id: Long, text: String): (String, Array[Byte]) = {
    // CODEPOINT-based content rule, not raw UTF-8 bytes (r12
    // self-review): one unit per code point, non-ASCII folding to '?'
    // (63). DuckDB's length()/substr()/ascii() are codepoint-based,
    // so this is the rule the oracle can mirror EXACTLY on any text —
    // a raw-byte rule silently diverges the moment a fixture ships a
    // non-ASCII character (byte count ≠ char count, ascii() returns
    // the code point, not a byte). On the all-ASCII fixtures the two
    // rules coincide byte-for-byte.
    val tb0 = text.codePoints().toArray
      .map(cp => if (cp <= 127) cp.toByte else 63.toByte)
    val tb = if (tb0.isEmpty) Array[Byte](0) else tb0 // no fixture text is empty; total anyway
    val n = tb.length
    def unit(i: Long): Byte = tb((i % n).toInt)
    java.lang.Math.floorMod(id, 3L).toInt match {
      case 0 =>
        val w = (8 + java.lang.Math.floorMod(id, 57L)).toInt
        val h = (8 + java.lang.Math.floorMod(id * 7, 57L)).toInt
        // container cycles PPM → BMP → PNG/GIF (r13: the compressed
        // container joins the rotation; all must agree on the
        // logical pixels — container-invariance is spec-pinned). The
        // third slot sub-cycles truecolor / PALETTE / RGBA / GIF by
        // (id/9)%4:
        // palette rows (r14) carry a w·h INDEX raster (one unit per
        // pixel) through a 256-entry PLTE whose channels are three
        // DIFFERENT byte maps (e, 255−e, 3e mod 256) — a decoder that
        // transposes PLTE layout or reads one channel for all three
        // breaks the weighted content sums; decoded rgb[3i+c] =
        // chan(unit(i), c), the `ub` cycle (period 3·n) the DuckDB
        // oracles rebuild. RGBA rows (r15) carry a 4·w·h unit raster
        // whose 4th channel is ALPHA, composited over white at decode
        // — decoded rgb[3i+c] = comp(unit(4i+c), unit(4i+3)), again a
        // period-3n cycle, so a wrong composite (or alpha leaking
        // into a color channel) breaks the same weighted sums.
        // lazy: the palette/rgba arms never allocate the truecolor
        // raster (review r14 — one definition of the unit rule)
        lazy val rgb = Array.tabulate(3 * w * h)(i => unit(i.toLong))
        val payload = java.lang.Math.floorMod(id / 3, 3L) match {
          case 0L => MediaCodec.encodePpm(w, h, rgb)
          case 1L => MediaCodec.encodeBmp(w, h, rgb)
          case _ => java.lang.Math.floorMod(id / 9, 4L) match {
            case 1L => MediaCodec.encodePalettePng(w, h,
              Array.tabulate(w * h)(i => unit(i.toLong)), palettePlte)
            case 2L => MediaCodec.encodeAlphaPng(w, h,
              Array.tabulate(4 * w * h)(i => unit(i.toLong)))
            // GIF (r15): the palette arm's exact content rule — the
            // same index raster through the same 256-entry table, so
            // decoded rgb[3i+c] = chan(unit(i), c) and every oracle
            // sum is SHARED with palette PNG; only format and the
            // closed-form LZW container size differ. Interlace
            // alternates by (id/36)%2 — a row permutation the
            // literal-only LZW keeps size-invariant, so it is
            // invisible to the oracles while the de-interlace path
            // runs on real fixture bytes
            // comment rotation (r18): every other gif by (id/4)%2
            // carries a COMMENT EXTENSION — the decoder's extension
            // SKIP is oracle-visible via the +17 in the size closed
            // form (a reject would lose the row, a mis-skip the size)
            case 3L => MediaCodec.encodeGif(w, h,
              Array.tabulate(w * h)(i => unit(i.toLong)), palettePlte,
              interlaced = java.lang.Math.floorMod(id / 36, 2L) == 1L,
              comment = if (java.lang.Math.floorMod(id / 4, 2L) == 1L) gifComment else null)
            case _ => MediaCodec.encodePng(w, h, rgb)
          }
        }
        ("image", payload)
      case 1 =>
        val rate = (8000 + java.lang.Math.floorMod(id, 5L) * 1000).toInt
        val ns = (1024 + java.lang.Math.floorMod(id, 777L) * 4).toInt
        val samples = Array.tabulate(ns)(j => ((unit(j.toLong) & 0xff) - 128).toShort)
        // the audio slot sub-cycles WAV / FLAC by (id/3)%2 (r15):
        // FLAC is lossless, so the decoded samples — and with them
        // every downstream hash, embed and resample — are IDENTICAL
        // to the WAV twin's; only format and the closed-form
        // container size change in the oracles
        val payload =
          if (java.lang.Math.floorMod(id / 3, 2L) == 1L) MediaCodec.encodeFlac(rate, samples)
          else MediaCodec.encodeWav(rate, samples)
        ("audio", payload)
      case _ =>
        val w = (8 + java.lang.Math.floorMod(id, 25L)).toInt
        val h = (8 + java.lang.Math.floorMod(id * 7, 25L)).toInt
        val nf = (2 + java.lang.Math.floorMod(id, 7L)).toInt
        // the video slot sub-cycles Y4M / ANIMATED GIF by (id/3)%2
        // (r17) — the r16 box-composition decoder's ORACLE rotation.
        // The GIF arm: frame 0 paints the full screen with the unit
        // cycle; every later frame k is a HALF-size sub-screen box at
        // a moving offset ((3k) % (w−bw+1), (5k) % (h−bh+1)) painting
        // unit(k·bw·bh + j), with REAL disposal semantics — frame 1
        // restores-to-background (its rect clears to the white base),
        // frames 2+ restore-to-previous (each composites against the
        // SAME post-frame-1 canvas) — box transparency (every 5th box
        // pixel shows the canvas through, index 255 > any unit), and
        // within-box interlace on odd frames. The grayscale GCT keeps
        // BT.601 out of the closed forms ([[grayGct]]), so the five
        // mm oracles rebuild every composited plane from the id.
        // Depth arms (r17): every other gif-video id ((id/6)%2==1)
        // declares LSD background index 200, so the disposal-2 clear
        // and show-through base read gray 200 instead of white; and
        // frame 3 (when nfr >= 4) ships the INVERTED grayscale table
        // as its LOCAL color table, so its paint decodes 255 − unit.
        if (java.lang.Math.floorMod(id / 3, 2L) == 1L) {
          val bw = w / 2; val bh = h / 2
          val frames = MediaCodec.GifFrame(0, 0, w, h,
              Array.tabulate(w * h)(i => unit(i.toLong))) +:
            (1 until nf).map { k =>
              MediaCodec.GifFrame(
                left = (3 * k) % (w - bw + 1), top = (5 * k) % (h - bh + 1),
                w = bw, h = bh,
                indices = Array.tabulate(bw * bh)(j =>
                  if (j % 5 == 4) 255.toByte else unit(k.toLong * bw * bh + j)),
                disposal = if (k == 1) 2 else 3,
                transparentIdx = 255,
                interlaced = k % 2 == 1,
                localPalette = if (k == 3) invGrayGct else null)
            }
          ("video", MediaCodec.encodeAnimatedGif(w, h, grayGct, frames,
            bgIndex = if (java.lang.Math.floorMod(id / 6, 2L) == 1L) 200 else 0,
            comment = if (java.lang.Math.floorMod(id / 4, 2L) == 1L) gifComment else null))
        } else {
          val frameSize = 3 * w * h
          val frames = Array.tabulate(nf)(f =>
            Array.tabulate(frameSize)(i => unit(f.toLong * frameSize + i)))
          ("video", MediaCodec.encodeY4m(w, h, frames))
        }
    }
  }

  /** Media table from any (doc_id, text) frame — the generation step
    * is a typed map (real encoders run per row, map-side). [[Spread]]
    * first: the fixture table is one parquet file (a one-task scan),
    * and the encoder chain is the expensive part — without the spread
    * every payload encodes serially on one core (guide §2.5 input
    * skew: repartition immediately after an unsplittable read). */
  def mediaFromDocs(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    Spread(docs.select(col("doc_id"), col("text")), col("doc_id"))
      .as[(Long, String)].map { case (id, text) =>
      val (kind, payload) = genPayload(id, text)
      MediaRow(id, kind, payload)
    }
  }

  /** Synthesized media lake over the `documents` table. */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] =
    mediaFromDocs(Tables.documents(s, dir))

  /** Ingest a DIRECTORY of raw media files as [[MediaRow]]s via
    * Spark's built-in `binaryFile` source — the real media-lake
    * landing shape (one object per file; payload/path/length come
    * from the source, kind derives from the extension; pass
    * `pathGlobFilter`/`recursiveFileLookup` options for selective or
    * nested layouts). media_id: a lake whose filenames carry a
    * numeric stem (`<id>.<ext>` — the [[mediaLakeDir]] staging
    * convention) keeps that id, which is what lets `mm_files_meta`
    * join the DuckDB oracle on it; any other filename falls back to
    * the path hash — deterministic across runs either way, no
    * driver-side numbering. Everything downstream ([[decodeAll]],
    * [[embedMedia]], [[phashDedup]]'s hash) is source-agnostic,
    * so the synthetic table and a real file lake share every
    * operator; foreign formats (jpeg/mp3/…) decode to UnknownMedia
    * totality-style until their parser lands in [[MediaCodec]]. */
  def mediaFromFiles(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    // stem bounded to 18 digits: always inside Long, so the cast can
    // never ANSI-throw (review r13 — an unbounded \d+ stem of 20
    // digits would kill the whole scan via CAST_OVERFLOW); longer
    // digit runs fall through to the path hash like any other name
    val stem = regexp_extract(element_at(split($"path", "/"), -1), "^(\\d{1,18})\\.[^.]+$", 1)
    s.read.format("binaryFile").load(dir)
      .select(
        when(stem =!= "", stem.cast("long")).otherwise(xxhash64($"path")).as("media_id"),
        lower(element_at(split($"path", "\\."), -1)).as("ext"),
        $"content".as("payload"))
      .withColumn("kind",
        when($"ext".isin("jpg", "jpeg", "png", "gif", "ppm", "bmp"), "image")
          .when($"ext".isin("wav", "mp3", "flac"), "audio")
          .when($"ext".isin("mp4", "webm", "mkv", "y4m"), "video")
          .otherwise("binary"))
      .select($"media_id", $"kind", $"payload").as[MediaRow]
  }

  /** Session-scoped staging of the synthetic media lake as REAL FILES
    * — one object per file named `<doc_id>.<container-ext>`, written
    * EXECUTOR-SIDE (foreachPartition; the driver never sees a
    * payload), once per source dir per session. Staging is test
    * scaffolding: a production lake's objects already sit in object
    * storage — so [[filesMeta]]'s timed runs measure the binaryFile
    * scan + decode, not the one-time fixture write ([[graft.streaming.StreamingOps.preStage]]
    * discipline; only a query's first build pays the staging). */
  private val mediaLakeDirs = new graft.Artifacts.Dirs[String]("graft-media-lake")

  def mediaLakeDir(s: SparkSession, dir: String): String =
    mediaLakeDirs.stage(s, dir) { out =>
      // staging writes executor-side into a DRIVER-created temp dir —
      // sound only when they share a filesystem. Guard loudly: on a
      // real cluster this helper has no business existing (the lake's
      // objects are already in object storage); a silent empty dir
      // would hash-mismatch at best (max-effort review r13)
      require(s.sparkContext.isLocal,
        "mediaLakeDir stages fixture files and requires a local master; " +
          "production media lakes are read directly via mediaFromFiles")
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)](org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.STRING))
        .foreachPartition { (it: Iterator[(Long, String)]) =>
          it.foreach { case (id, text) =>
            val (_, payload) = genPayload(id, text)
            // extension = sniffed container (ppm/bmp/png/wav/y4m), so
            // the lake's kind-from-extension rule is exercised too
            java.nio.file.Files.write(
              java.nio.file.Paths.get(out, s"$id.${MediaCodec.sniff(payload)}"), payload)
          }
        }
    }

  /** `mm_media_meta` over the FILE lake (`mm_files_meta`): the same
    * decode contract, but ingested through Spark's binaryFile source
    * from real files staged by [[mediaLakeDir]] — the one O1 source
    * shape that was spec-only until r13. Filename-stem ids make the
    * result row-identical to [[mediaMeta]], so the TWO paths share
    * one DuckDB oracle: a divergence between the binaryFile ingest
    * and the typed-map generation path is a hash mismatch. */
  def filesMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decodeAll(mediaFromFiles(s, mediaLakeDir(s, dir)), withSha = false)
      .select($"media_id", $"kind", $"format", $"n_bytes", $"width", $"height",
        $"n_frames", $"sample_rate", $"n_samples", $"data_sum", $"data_wsum")
      .orderBy($"media_id")
  }

  /** Parse one payload into its [[DecodedRow]] facts: container parse
    * + content checksums + an 8-byte payload SHA. `withSha = false`
    * skips the digest (a full extra pass over the payload bytes,
    * comparable to the decode itself) for callers that project the
    * column away — mm_media_meta and mm_stream_meta both do, and the
    * typed map hides the dead column from Spark's pruner (r12
    * max-effort review; the resizeSummary twin of this waste was
    * caught one pass earlier). */
  private[graft] def describe(r: MediaRow, withSha: Boolean): DecodedRow = {
    val media = MediaCodec.decode(r.payload)
    val units = MediaCodec.contentUnits(media)
    var s = 0L; var ws = 0L; var i = 0
    while (i < units.length) {
      val v = units(i) & 0xff
      s += v; ws += i.toLong * v; i += 1
    }
    val sha =
      if (!withSha) ""
      else java.security.MessageDigest.getInstance("SHA-256")
        .digest(r.payload).take(8).map("%02x".format(_)).mkString
    val nb = r.payload.length.toLong
    // the DECODE is authoritative for kind (r17): an animated .gif is
    // video however the pre-decode extension heuristic classified it —
    // without this, the file-lake ingest (kind-from-extension) and the
    // generation path (kind-from-id) would disagree on animated GIFs
    // and mm_files_meta could never share mm_media_meta's oracle.
    // UnknownMedia keeps the caller's hint (the extension is all a
    // foreign format has until its parser lands).
    media match {
      case MediaCodec.ImageMedia(w, h, fmt, _) =>
        DecodedRow(r.media_id, "image", fmt, nb, w, h, 1L, 0L, 0L, s, ws, sha)
      case MediaCodec.AudioMedia(rate, samples) =>
        // the container is the sniffed magic (wav | flac) — AudioMedia
        // itself is container-agnostic decoded signal
        DecodedRow(r.media_id, "audio", MediaCodec.sniff(r.payload), nb,
          0L, 0L, 0L, rate, samples.length, s, ws, sha)
      case MediaCodec.VideoMedia(w, h, frames) =>
        // the container is the sniffed magic (y4m | animated gif,
        // review r15) — VideoMedia is container-agnostic frames
        DecodedRow(r.media_id, "video", MediaCodec.sniff(r.payload), nb,
          w, h, frames.length, 0L, 0L, s, ws, sha)
      case MediaCodec.UnknownMedia(_) =>
        DecodedRow(r.media_id, r.kind, "unknown", nb, 0L, 0L, 0L, 0L, 0L, 0L, 0L, sha)
    }
  }

  /** Partition-batched decode: one codec pass per partition, streaming
    * through rows — the Scala twin of a `mapInPandas` batch UDF. */
  def decodeAll(media: Dataset[MediaRow],
                withSha: Boolean = true): Dataset[DecodedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(describe(_, withSha)))
  }

  /** Oracle-checked projection of the REAL decode: every column is
    * either parsed from the container bytes (format, width, height,
    * n_frames, sample_rate, n_samples) or summed over the decoded
    * content (data_sum, data_wsum) — DuckDB rebuilds all of them
    * closed-form from `documents`, so this query hash-verifies both
    * the encoders and the parsers end-to-end. */
  def mediaMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decodeAll(mediaTable(s, dir), withSha = false) // sha projected away below
      .select($"media_id", $"kind", $"format", $"n_bytes", $"width", $"height",
        $"n_frames", $"sample_rate", $"n_samples", $"data_sum", $"data_wsum")
      .orderBy($"media_id")
  }

  /** Content encoder: decoded data units → unit-normalized `dim`-cell
    * span-mean vector. Span means over decoded content vary with each
    * document's pixel/sample data, so the cosine geometry is
    * non-degenerate; a real pipeline swaps in a CLIP-style encoder —
    * identical signature (map-side, fixed width, unit norm),
    * identical plan. Unknown/empty media embed as the zero vector. */
  private[graft] def spanEmbed(content: Array[Byte]): Array[Double] = {
    val dim = 64
    val n = content.length
    val cell = new Array[Double](dim)
    if (n == 0) return cell
    var i = 0
    while (i < dim) {
      val s = (i.toLong * n / dim).toInt
      val e = ((i + 1).toLong * n / dim).toInt
      var sum = 0L
      var j = s
      while (j < e) { sum += content(j) & 0xff; j += 1 }
      cell(i) = if (e > s) sum.toDouble / (e - s) else 0.0
      i += 1
    }
    val norm = math.sqrt(cell.map(x => x * x).sum)
    if (norm == 0.0) cell else cell.map(_ / norm)
  }

  final case class MediaEmbedding(media_id: Long, embedding: Array[Double])

  /** Media → embedding column: decode, then encode the content units
    * — the bridge from the multimodal plumbing into the ANN family
    * (map-side, fixed width, the exact frame the Similarity operators
    * consume). */
  def embedMedia(media: Dataset[MediaRow]): Dataset[MediaEmbedding] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(r => MediaEmbedding(r.media_id,
      spanEmbed(MediaCodec.contentUnits(MediaCodec.decode(r.payload))))))
  }

  /** Embedding-similarity search OVER MEDIA (`mm_embed_ann`) — the
    * cross-family composition a multimodal lake actually runs:
    * decode + encode every payload ([[embedMedia]]), then exact
    * cosine top-k with the fused [[graft.functions.CosineSim]]
    * kernel, the same brute-force shape as `ann_brute_topk`
    * (broadcast bounded probes, WindowGroupLimit rank prune). At
    * scale the shortlist/bucketing variants (LSH/IVF/PQ/MRL) slot in
    * unchanged — the embedding column is the contract. DuckDB-oracle-
    * checked since r12: the span-mean encoder over the cycled content
    * bytes is left-fold arithmetic both engines execute in the same
    * order (integer cell sums, one division per cell, sequential dot
    * products), so the oracle rebuilds the encoder in SQL and the
    * top-k hash-matches; MultimodalSpec's driver-side decode + encode
    * + cosine recompute stays as belt-and-braces. */
  def embedAnnTopK(s: SparkSession, dir: String, numQueries: Int = Similarity.NumQueries,
                   topK: Int = Similarity.TopK): DataFrame = {
    import s.implicits._
    val emb = embedMedia(mediaTable(s, dir)).toDF()
    // probes filter BELOW the generation map, on doc_id at the
    // documents scan: only probe payloads are encoded twice, the id
    // bound pushes down to the parquet scan itself — and that is also
    // what lets the registry-wide broadcast guard PROVE this side
    // bounded (a filter above the typed map boundary breaks attribute
    // lineage to the scan, so the guard would reject it — which it
    // did when this filter briefly sat on media_id above the map)
    val queries = embedMedia(
        mediaFromDocs(Tables.documents(s, dir).filter(col("doc_id") < numQueries))).toDF()
      .select($"media_id".as("query_id"), $"embedding".as("q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos_sim".desc, $"media_id")
    emb.join(broadcast(queries), $"media_id" =!= $"query_id")
      .select($"query_id", $"media_id",
        round(graft.functions.VectorFunctions.cosineSim($"q", $"embedding"), 6)
          .as("cos_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= topK)
      .select($"query_id", $"media_id", $"cos_sim", $"rk")
      .orderBy($"query_id", $"rk")
  }

  /** REAL transcode-resize, map-side per row:
    *  - image: decode (PPM or BMP) → nearest-neighbor resample to
    *    width min(target, w) at preserved aspect (floor, ≥1) →
    *    re-encode as PPM (the normalize-on-rewrite a thumbnail
    *    pipeline does)
    *  - audio: decimate ×2 (every other sample) → re-encode WAV
    *  - video: NN-resample every frame's three planes → re-encode Y4M
    *  - unknown: passed through untouched (totality)
    * Pure map, bounded output — the 100 TB plan shape is one
    * mapPartitions, no shuffle. */
  def resize(media: Dataset[MediaRow], targetWidth: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.map { r =>
      MediaCodec.decode(r.payload) match {
        case MediaCodec.ImageMedia(w, h, _, rgb) =>
          val ow = math.min(targetWidth, w)
          val oh = math.max(h * ow / w, 1)
          r.copy(payload = MediaCodec.encodePpm(ow, oh,
            MediaCodec.resizeRgbNN(w, h, rgb, ow, oh)))
        case MediaCodec.AudioMedia(rate, samples) =>
          val out = Array.tabulate((samples.length + 1) / 2)(j => samples(2 * j))
          r.copy(payload = MediaCodec.encodeWav(rate, out))
        case MediaCodec.VideoMedia(w, h, frames) =>
          val ow = math.min(targetWidth, w)
          val oh = math.max(h * ow / w, 1)
          r.copy(payload = MediaCodec.encodeY4m(ow, oh,
            frames.map(f => MediaCodec.resizeFrameNN(w, h, f, ow, oh))))
        case _: MediaCodec.UnknownMedia => r
      }
    }
  }

  /** Oracle-checked [[resize]] report — and deliberately a FULL
    * round-trip: the resized payload is re-DECODED and the report
    * reads dims/units/sums from that second parse, so the oracle
    * hash-verifies decode → resample → encode → decode as one chain
    * (NN index math included: DuckDB recomputes every resampled
    * pixel's source byte from `documents`). */
  def resizeSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    resize(mediaTable(s, dir), 24)
      .map { r =>
        // ONE decode per row (self-review r12: the first cut ran
        // describe() + a second decode, parsing every container twice
        // and hashing a SHA it then discarded)
        val media = MediaCodec.decode(r.payload)
        val units = MediaCodec.contentUnits(media)
        var dataSum = 0L
        var i = 0
        while (i < units.length) { dataSum += units(i) & 0xff; i += 1 }
        val (outW, outH) = media match {
          case MediaCodec.ImageMedia(w, h, _, _) => (w.toLong, h.toLong)
          case MediaCodec.VideoMedia(w, h, _)    => (w.toLong, h.toLong)
          case _                                 => (0L, 0L)
        }
        (r.media_id, r.kind, outW, outH, units.length.toLong,
          r.payload.length.toLong, dataSum)
      }
      .toDF("media_id", "kind", "out_w", "out_h", "kept_units", "kept_bytes", "data_sum")
      .orderBy($"media_id")
  }

  /** REAL frame extraction + stride sampling, one output row per KEPT
    * frame: video frames are the parsed Y4M frames, audio "frames"
    * are 1024-sample windows (the hop-window shape audio feature
    * pipelines batch by), an image is its own single frame. Keeps
    * every `stride`-th frame; emits parsed size + content checksum
    * per frame, which the oracle rebuilds per (media, frame). */
  def frameSample(media: Dataset[MediaRow], stride: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      def sumRange(a: Array[Byte], from: Int, until: Int): Long = {
        var s = 0L; var i = from
        while (i < until) { s += a(i) & 0xff; i += 1 }
        s
      }
      MediaCodec.decode(r.payload) match {
        case MediaCodec.ImageMedia(_, _, _, rgb) =>
          Seq((r.media_id, r.kind, 0L, rgb.length.toLong, rgb.length.toLong,
            sumRange(rgb, 0, rgb.length)))
        case MediaCodec.AudioMedia(_, samples) =>
          val nWindows = (samples.length + 1023) / 1024
          (0 until nWindows).collect {
            case f if f % stride == 0 =>
              val from = f * 1024
              val until = math.min(from + 1024, samples.length)
              var sum = 0L
              var j = from
              while (j < until) { sum += (samples(j) + 128) & 0xff; j += 1 }
              (r.media_id, r.kind, f.toLong, (until - from).toLong,
                2L * (until - from), sum)
          }
        case MediaCodec.VideoMedia(_, _, frames) =>
          frames.indices.collect {
            case f if f % stride == 0 =>
              (r.media_id, r.kind, f.toLong, frames(f).length.toLong,
                frames(f).length.toLong, sumRange(frames(f), 0, frames(f).length))
          }
        case _: MediaCodec.UnknownMedia => Seq.empty
      }
    }.toDF("media_id", "kind", "frame_no", "frame_units", "frame_bytes", "frame_sum")
  }

  /** Ordered oracle frame for `mm_frame_sample`. */
  def frameSampleSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    frameSample(mediaTable(s, dir), 4).orderBy($"media_id", $"frame_no")
  }

  /** Deterministic baseline-JPEG fixture for a document row
    * (`mm_jpeg_meta`): a BLOCK-CONSTANT grayscale raster — every 8×8
    * block holds one value, block (by,bx) cycling the document's code
    * points in raster order — encoded through the real
    * [[MediaCodec.encodeJpeg]]. Block-constant grayscale content is
    * the profile the full JPEG pipeline reconstructs BIT-EXACTLY
    * (DC-only blocks survive quantize→Huffman→IDCT exactly; R=G=B
    * maps to chroma 128, which the integer color transforms carry
    * through as an identity), so the DuckDB oracle rebuilds the
    * decoded raster closed-form — Huffman tables, DC prediction
    * chains, MCU interleave, restart markers and the color transform
    * all sit between the generated value and the verified sum. The
    * profile cycles gray / 4:4:4 / 4:2:0 by id (4:2:0 rows also carry
    * a DRI restart interval, so the RSTn path is oracle-covered);
    * CODING cycles baseline / PROGRESSIVE on an independent id cycle
    * (r15 — progressive rows route through
    * [[MediaCodec.encodeJpegProgressive]]'s Annex G scan script, and
    * since [[MediaCodec.jpegProfile]] reports SOF2 with a "p" suffix
    * the oracle certifies from the container that those rows really
    * carry progressive frames); dimensions are multiples of 16 so
    * every profile tiles whole MCUs. A block-constant raster is
    * DC-only under EITHER coding, so both reconstruct bit-exactly and
    * the content-sum columns share one closed form. */
  private[graft] def genJpegPayload(id: Long, text: String): Array[Byte] = {
    val tb0 = text.codePoints().toArray
      .map(cp => if (cp <= 127) cp.toByte else 63.toByte)
    val tb = if (tb0.isEmpty) Array[Byte](0) else tb0
    val n = tb.length
    val profile = java.lang.Math.floorMod(id, 3L) match {
      case 0L => "gray"; case 1L => "444"; case _ => "420"
    }
    // floorDiv mirrors SQL's floor-division `//` for any sign
    val w = 16 * (1 + java.lang.Math.floorMod(java.lang.Math.floorDiv(id, 3L), 3L)).toInt
    val h = 16 * (1 + java.lang.Math.floorMod(java.lang.Math.floorDiv(id, 5L), 3L)).toInt
    val nbx = w / 8
    val rgb = Array.tabulate(3 * w * h) { i =>
      val p = i / 3; val y = p / w; val x = p % w
      tb(((y / 8) * nbx + (x / 8)) % n)
    }
    val ri = if (profile == "420") 2 else 0
    if (java.lang.Math.floorMod(java.lang.Math.floorDiv(id, 7L), 2L) == 1L)
      MediaCodec.encodeJpegProgressive(w, h, rgb, profile, ri)
    else
      MediaCodec.encodeJpeg(w, h, rgb, profile, ri)
  }

  /** One JPEG payload → its oracle row: SOF profile (parsed), decoded
    * dims, content sums. Shared by the generation path and the
    * binaryFile lake path so the two cannot drift. */
  private def jpegDescribe(id: Long, payload: Array[Byte]): (Long, String, String, Long, Long, Long, Long) = {
    val profile = MediaCodec.jpegProfile(payload)
    val media = MediaCodec.decode(payload)
    val units = MediaCodec.contentUnits(media)
    var sum = 0L; var wsum = 0L; var i = 0
    while (i < units.length) {
      val v = units(i) & 0xff
      sum += v; wsum += i.toLong * v; i += 1
    }
    val (w, h, fmt) = media match {
      case MediaCodec.ImageMedia(ww, hh, f, _) => (ww.toLong, hh.toLong, f)
      case _                                   => (0L, 0L, "unknown")
    }
    (id, fmt, profile, w, h, sum, wsum)
  }

  /** Oracle-checked decode report over the JPEG fixture lake
    * (`mm_jpeg_meta`): dimensions and the sampling profile are parsed
    * from the container's SOF marker, the content sums run over the
    * DECODED RGB raster — DuckDB rebuilds every column closed-form
    * from `documents` (per-block value × closed-form positional
    * weights), so a single wrong bit anywhere in the entropy decoder,
    * the IDCT, the MCU placement or the upsampler is a hash
    * mismatch. */
  def jpegMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Spread: JPEG encode+decode per row is the whole query's cost,
    // and the single-file documents scan would run it on one task
    Spread(Tables.documents(s, dir).select(col("doc_id"), col("text")), col("doc_id"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        jpegDescribe(id, genJpegPayload(id, text))
      })
      .toDF("media_id", "format", "profile", "width", "height", "data_sum", "data_wsum")
      .orderBy($"media_id")
  }

  /** Session-scoped staging of the JPEG fixtures as REAL `<id>.jpg`
    * files — the [[mediaLakeDir]] discipline (executor-side writes,
    * local-master guard, one-time scaffolding a production lake
    * already has). */
  private val jpegLakeDirs = new graft.Artifacts.Dirs[String]("graft-jpeg-lake")

  def jpegLakeDir(s: SparkSession, dir: String): String =
    jpegLakeDirs.stage(s, dir) { out =>
      require(s.sparkContext.isLocal,
        "jpegLakeDir stages fixture files and requires a local master; " +
          "production media lakes are read directly via mediaFromFiles")
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)](org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.STRING))
        .foreachPartition { (it: Iterator[(Long, String)]) =>
          it.foreach { case (id, text) =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(out, s"$id.jpg"), genJpegPayload(id, text))
          }
        }
    }

  /** `mm_jpeg_meta` over a binaryFile JPEG lake (`mm_jpeg_files`):
    * real `.jpg` files through Spark's binaryFile source, then the
    * SAME describe kernel — filename-stem ids make it row-identical
    * to [[jpegMeta]], so the two ingest paths share ONE DuckDB
    * oracle (the mm_files_meta precedent): a compressed-container
    * divergence between generation and lake ingest is a hash
    * mismatch. */
  def jpegFilesMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaFromFiles(s, jpegLakeDir(s, dir))
      .mapPartitions(_.map(r => jpegDescribe(r.media_id, r.payload)))
      .toDF("media_id", "format", "profile", "width", "height", "data_sum", "data_wsum")
      .orderBy($"media_id")
  }

  /** Perceptual-hash near-duplicate detection over the media table —
    * the image-dedup stage of a multimodal pipeline: decode →
    * 64-bit average-hash over DECODED content ([[MediaCodec.aHash64]]:
    * luma grid for images, sample-span means for audio, first-frame
    * luma for video — container-invariant, so the same pixels shipped
    * as PPM and BMP collide at Hamming 0), then Hamming ≤ 3
    * partners via the SAME 16-bit pigeonhole banding as the text-side
    * `dd_simhash` (4 bands of 16 bits: any pair within Hamming 3
    * shares at least one intact band — candidate generation is a
    * bucket equi-join, never all-pairs, exactly the 100 TB shape).
    * Emits one row per media with its hash and a dup flag.
    * DuckDB-oracle-checked since r12: the hash's mean-of-means
    * threshold is an EXACT integer comparison
    * ([[MediaCodec.aHashExact]]), so the oracle rebuilds every bit
    * from the content units and computes the dup set by brute
    * all-pairs Hamming — its agreement with this query's banded form
    * re-proves the pigeonhole completeness through the driver gate.
    * MultimodalSpec additionally pins the hash against an
    * independent parser + recompute (lcm-based exact threshold) and
    * the banding against a spec-side brute-force scan. */
  def phashDedup(s: SparkSession, dir: String): DataFrame =
    phashDedupOver(mediaTable(s, dir))

  /** [[phashDedup]] over an explicit media frame — the operator is
    * source-agnostic (synthetic table, binaryFile lake, or a
    * spec-planted mix of containers: the JPEG/PPM pixel-identical
    * collision gate drives this entry point directly). */
  private[graft] def phashDedupOver(media: Dataset[MediaRow]): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    // localCheckpoint: `hashed` feeds THREE plan positions (both sides
    // of the band self-join and the final dup-flag join) — without the
    // materialization each position re-decodes every payload, tripling
    // the query's dominant cost. The checkpointed frame is (id, hash)
    // longs, media-count-proportional — tiny at any scale.
    val hashed = media
      .mapPartitions(it => it.map(r =>
        (r.media_id, MediaCodec.aHash64(MediaCodec.decode(r.payload)))))
      .toDF("media_id", "phash")
      .localCheckpoint()
    val banded = hashed.select($"media_id", $"phash",
      posexplode(array((0 until 4).map(b =>
        shiftright($"phash", b * 16).bitwiseAND(0xffffL)): _*)).as(Seq("band", "chunk")))
    val dupIds = banded.as("x").join(banded.as("y"), Seq("band", "chunk"))
      .where($"x.media_id" < $"y.media_id")
      .select($"x.media_id".as("id1"), $"y.media_id".as("id2"),
        $"x.phash".as("h1"), $"y.phash".as("h2"))
      .distinct()
      // 4 bands of 16 bits are pigeonhole-complete ONLY for Hamming ≤ 3;
      // a larger radius would silently lose pairs that differ in every band
      .filter(bit_count($"h1".bitwiseXOR($"h2")) <= 3)
      .select(explode(array($"id1", $"id2")).as("media_id")).distinct()
    hashed.join(dupIds.withColumn("dup", lit(1L)), Seq("media_id"), "left")
      .select($"media_id", $"phash", coalesce($"dup", lit(0L)).as("is_dup"))
      .orderBy($"media_id")
  }
}
