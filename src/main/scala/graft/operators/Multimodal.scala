package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `binary` media payloads with typed
  * metadata, batched feature extraction over partitions.
  *
  * The decode step is REAL for five formats: binary PPM (P6) and
  * uncompressed 24-bit BMP with hand-written byte-level decoders (header
  * fields parsed byte-by-byte, raster length validated), plus JPEG, PNG
  * and GIF (87a/89a; frame 0 of animations) via the JDK-standard
  * `javax.imageio` readers — all five repack to one canonical top-down
  * RGB raster so they share the feature contract.
  * Malformed media is rejected loudly. Payloads that aren't media take a
  * documented deterministic md5 fallback so the same operator runs over
  * arbitrary binary columns. Everything Spark-cares-about is equally
  * real: the binary column schema, the case-class Encoders, the
  * mapPartitions batch shape (fixed-size groups, the way a vectorized
  * decoder consumes its input buffer).
  *
  * Dispatch contract: the DECLARED mime is consulted first. Image,
  * video, and audio mimes route to the real decoders, which reject
  * malformed payloads loudly — a corrupt image must never silently
  * degrade to the stub. Declared NON-media payloads (text, structured
  * data) always take the stub: document text that happens to start with
  * "BM" or "P6" is not an image and must not crash the job. Only
  * unknown/absent mimes fall back to content sniffing.
  *
  * Scale design: decode runs per-partition with zero shuffle; the wide
  * binary column is projected away immediately after feature extraction,
  * so downstream stages shuffle only the narrow feature rows.
  */
object Multimodal {

  /** One media object: payload + minimal typed metadata. */
  final case class MediaRecord(doc_id: Long, media: Array[Byte], mime: String)

  /** Extracted features (what a real decoder would emit). `phash` is the
    * md5-prefix content hash over every raster byte; `ahash` is the
    * perceptual average-hash (see [[averageHash]]). */
  final case class MediaFeatures(
      doc_id: Long, n_bytes: Long, width: Int, height: Int, phash: String,
      ahash: Long)

  /** One sampled frame's features (video-style decode output). */
  final case class FrameFeatures(
      doc_id: Long, frame_idx: Long, frame_bytes: Long, fhash: String)

  /** A resized (downsampled) media object's summary. */
  final case class ResizedMedia(
      doc_id: Long, r_bytes: Long, r_width: Int, r_height: Int, rhash: String)

  /** A decoded payload's features: header dims, content hash, perceptual
    * hash. */
  final case class Decoded(width: Int, height: Int, phash: String, ahash: Long)

  /** Frame geometry for `sampleFrames`: a 64-byte "frame" every 128
    * payload bytes (sample every other frame — the fps-decimation shape
    * a video pipeline uses), capped at MaxFrames per object (real
    * pipelines bound frames-per-video; the cap is part of the operator
    * contract and the oracle mirrors it). */
  val FrameSize = 64
  val FrameStride = 128
  val MaxFrames = 64

  /** Nearest-neighbor-style downsample stride for `resize`, with the
    * matching output-size cap (MaxSamples bytes kept per object). */
  val ResampleStride = 4
  val MaxSamples = 4096

  private def md5hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString

  /** Fallback for non-media payloads (documents-as-bytes, blob columns):
    * dimensions + hashes derived from the payload's md5, so the oracle
    * can recompute them in SQL. The stand-in ahash is the md5's leading
    * 64 bits — deterministic, not perceptual. */
  def decodeStub(bytes: Array[Byte]): Decoded = {
    val hex = md5hex(bytes)
    val width = 16 + (hex.charAt(0).toInt % 16)
    val height = 16 + (hex.charAt(1).toInt % 16)
    Decoded(width, height, hex.substring(0, 8),
      java.lang.Long.parseUnsignedLong(hex.substring(0, 16), 16))
  }

  private def bad(msg: String): Nothing =
    throw new IllegalArgumentException(s"malformed media payload: $msg")

  /** Real binary-PPM (P6) decode: tokenized header (whitespace- and
    * `#`-comment-tolerant, per the netpbm spec), exactly one whitespace
    * byte after maxval, then a w*h*3 raster that must account for every
    * remaining payload byte. The dimensions come from the HEADER, the
    * content hash touches every raster byte (reference analog:
    * s3logs/src/utils.rs:1110-1119 runs the whole payload through its
    * pipeline the same way), and the perceptual hash is computed over
    * the RGB raster. */
  def decodePpm(bytes: Array[Byte]): Decoded = {
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') bad("not P6")
    var i = 2
    def skipSpaceAndComments(): Unit = {
      var moved = true
      while (moved) {
        moved = false
        while (i < bytes.length && Character.isWhitespace(bytes(i))) { i += 1; moved = true }
        if (i < bytes.length && bytes(i) == '#') {
          while (i < bytes.length && bytes(i) != '\n') i += 1
          moved = true
        }
      }
    }
    def int(what: String): Int = {
      skipSpaceAndComments()
      val start = i
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') i += 1
      if (i == start) bad(s"PPM header: missing $what")
      val v = new String(bytes, start, i - start, "US-ASCII").toLong
      if (v > Int.MaxValue) bad(s"PPM header: $what overflows")
      v.toInt
    }
    val w = int("width"); val h = int("height"); val maxval = int("maxval")
    if (w <= 0 || h <= 0) bad(s"PPM header: non-positive dims ${w}x$h")
    if (maxval <= 0 || maxval > 255) bad(s"PPM maxval $maxval unsupported")
    // exactly one whitespace byte separates maxval from the raster
    if (i >= bytes.length || !Character.isWhitespace(bytes(i))) bad("PPM: no raster separator")
    i += 1
    val expected = w.toLong * h * 3
    if (bytes.length - i != expected)
      bad(s"PPM raster: ${bytes.length - i} bytes, expected $expected")
    val raster = java.util.Arrays.copyOfRange(bytes, i, bytes.length)
    Decoded(w, h, md5hex(raster).substring(0, 8), averageHash(w, h, raster))
  }

  /** Real BMP decode (uncompressed 24bpp, the format every BMP writer can
    * emit): little-endian header fields, 4-byte-aligned row stride,
    * raster bounds validated against the declared data offset. Top-down
    * bitmaps (negative height) are normalized to positive dims. All size
    * arithmetic is Long-width: a crafted width must overflow into a
    * LOUD bounds rejection, never wrap into a "successful" decode of a
    * 4-byte raster. The content hash covers the raw raster range
    * (stride padding included); the perceptual hash is computed over the
    * repacked top-down RGB pixels, so a BMP and a PPM of the same image
    * agree on ahash. */
  def decodeBmp(bytes: Array[Byte]): Decoded = {
    def le32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    def le16(off: Int): Int = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    if (bytes.length < 54) bad("BMP: shorter than its fixed headers")
    if (bytes(0) != 'B' || bytes(1) != 'M') bad("not BM")
    val dataOffset = le32(10)
    val dibSize = le32(14)
    if (dibSize < 40) bad(s"BMP DIB header size $dibSize unsupported")
    val w = le32(18)
    val hRaw = le32(22)
    val topDown = hRaw < 0
    // math.abs(Int.MinValue) is still negative — the h <= 0 check below
    // rejects it rather than letting it reach the raster math
    val h = math.abs(hRaw)
    if (w <= 0 || h <= 0) bad(s"BMP: bad dims ${w}x$hRaw")
    if (le16(26) != 1) bad("BMP: planes != 1")
    if (le16(28) != 24) bad(s"BMP: ${le16(28)}bpp unsupported (need 24)")
    if (le32(30) != 0) bad("BMP: compressed payloads unsupported")
    // Long-width stride/bounds: w near 2^31 must trip the bounds check,
    // not wrap w*3+3 into a tiny stride
    val rowSize = ((w.toLong * 3 + 3) / 4) * 4
    val rasterEnd = dataOffset.toLong + rowSize * h
    if (dataOffset < 54 || rasterEnd > bytes.length)
      bad(s"BMP raster out of bounds: [$dataOffset, $rasterEnd) of ${bytes.length}")
    val phash = md5hex(java.util.Arrays.copyOfRange(
      bytes, dataOffset, rasterEnd.toInt)).substring(0, 8)
    // repack to top-down tightly-packed RGB for the perceptual hash
    // (BMP stores bottom-up BGR rows with stride padding)
    val rgb = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = if (topDown) y else h - 1 - y
      val src = dataOffset + srcRow * rowSize.toInt
      var x = 0
      while (x < w) {
        val s = src + x * 3
        val d = (y * w + x) * 3
        rgb(d) = bytes(s + 2); rgb(d + 1) = bytes(s + 1); rgb(d + 2) = bytes(s)
        x += 1
      }
      y += 1
    }
    Decoded(w, h, phash, averageHash(w, h, rgb))
  }

  /** Decode-size ceiling for the compressed formats (64M pixels ≈
    * 8192×8192 ≈ 770 MB of decode buffers — generous for crawl media,
    * far below an executor OOM). */
  val MaxImagePixels: Long = 64L * 1000 * 1000

  /** JVM-global ImageIO disk-cache off, set ONCE (lazy val, not a
    * per-record write to static state from concurrent task threads). */
  private lazy val imageIoInit: Unit = javax.imageio.ImageIO.setUseCache(false)

  /** Real JPEG/PNG/GIF decode via `javax.imageio` (JDK-standard, no
    * external codec library): the formats every real crawl contains. The
    * decoded pixels are repacked to the same top-down tightly-packed RGB
    * raster the PPM/BMP decoders produce, so all five formats share one
    * feature contract — a PNG and a PPM of the same image agree on ahash
    * bit-for-bit (PNG is lossless), and phash is the md5 prefix of that
    * canonical raster. Rejection is loud: an unreadable/truncated
    * payload throws, never silently stubs (the dispatch contract above).
    * `ImageIO` disk caching is off — executors must not spool image
    * temp files per record. */
  def decodeImageIO(bytes: Array[Byte]): Decoded = {
    imageIoInit
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext)
          bad("imageio: no registered reader accepts the payload")
        val reader = readers.next()
        try {
          reader.setInput(iis)
          // dimensions come from the HEADER probe — the size guard must
          // fire BEFORE the full decode allocates w*h buffers, or a
          // crafted huge-dimension image OOMs the executor ahead of the
          // loud rejection. The bound is MaxImagePixels, NOT array-length
          // overflow: a few-hundred-KB PNG can declare ~700M pixels and
          // pass an Int.MaxValue check while still demanding ~8 GB of
          // decode buffers (the decompression-bomb shape). PPM/BMP don't
          // need this cap — their raster must physically exist in the
          // payload.
          val w = reader.getWidth(0); val h = reader.getHeight(0)
          if (w <= 0 || h <= 0) bad(s"imageio: bad dims ${w}x$h")
          if (w.toLong * h > MaxImagePixels)
            bad(s"imageio: ${w}x$h exceeds $MaxImagePixels pixels")
          val img = reader.read(0)
          // one bulk ARGB fetch (sRGB-converted), repacked to the
          // canonical top-down RGB raster
          val argb = img.getRGB(0, 0, w, h, null, 0, w)
          val rgb = new Array[Byte](w * h * 3)
          var p = 0
          while (p < argb.length) {
            val v = argb(p); val d = p * 3
            rgb(d) = ((v >> 16) & 0xff).toByte
            rgb(d + 1) = ((v >> 8) & 0xff).toByte
            rgb(d + 2) = (v & 0xff).toByte
            p += 1
          }
          Decoded(w, h, md5hex(rgb).substring(0, 8), averageHash(w, h, rgb))
        } finally reader.dispose()
      } finally if (iis != null) iis.close()
    } catch {
      case e: IllegalArgumentException if e.getMessage != null &&
          e.getMessage.startsWith("malformed media") => throw e
      case e: java.io.IOException => bad(s"imageio: ${e.getMessage}")
      case e: RuntimeException => bad(s"imageio: ${e.getMessage}")
    }
  }

  /** Declared-media mimes route to the real decoders (loud rejection on
    * malformed payloads). */
  private def isDeclaredMedia(mime: String): Boolean =
    mime != null && (mime.startsWith("image/") || mime.startsWith("video/") ||
      mime.startsWith("audio/"))

  /** Declared-non-media mimes always stub: text starting with "BM…" or
    * "P6…" is prose, not a bitmap. */
  private def isDeclaredNonMedia(mime: String): Boolean =
    mime != null && (mime.startsWith("text/") ||
      mime.startsWith("application/json") || mime.startsWith("application/xml"))

  /** Mime-first dispatch (see the object doc): declared media → real
    * decoders (which REJECT malformed payloads loudly — a corrupt header
    * must never silently fall through to the stand-in); declared
    * non-media → stub; unknown mime → magic sniff with stub fallback. */
  def decode(bytes: Array[Byte], mime: String): Decoded = {
    def looksPpm = bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6'
    def looksBmp = bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M'
    def looksPng = bytes.length >= 8 && (bytes(0) & 0xff) == 0x89 &&
      bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G'
    def looksJpeg = bytes.length >= 3 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8 && (bytes(2) & 0xff) == 0xff
    // GIF87a / GIF89a — crawl corpora are full of them; the JDK ships a
    // standard GIF reader, so they ride the same imageio path (frame 0
    // of an animation, per reader.read(0))
    def looksGif = bytes.length >= 6 && bytes(0) == 'G' && bytes(1) == 'I' &&
      bytes(2) == 'F' && bytes(3) == '8' &&
      (bytes(4) == '7' || bytes(4) == '9') && bytes(5) == 'a'
    if (isDeclaredMedia(mime)) {
      if (looksPpm) decodePpm(bytes)
      else if (looksBmp) decodeBmp(bytes)
      else if (looksPng || looksJpeg || looksGif) decodeImageIO(bytes)
      else bad(s"declared media ($mime) with unrecognized magic")
    } else if (isDeclaredNonMedia(mime)) decodeStub(bytes)
    else if (looksPpm) decodePpm(bytes)
    else if (looksBmp) decodeBmp(bytes)
    else if (looksPng || looksJpeg || looksGif) decodeImageIO(bytes)
    else decodeStub(bytes)
  }

  /** Sniff-only dispatch for payloads with no mime metadata. */
  def decode(bytes: Array[Byte]): Decoded = decode(bytes, null)

  /** Average-hash: a REAL perceptual hash over a decoded RGB raster —
    * 8x8 block-mean luma grid thresholded at the image's overall mean
    * luma, one bit per cell. Near-identical images land within a few
    * bits; unrelated images ~32 bits apart; nearest-neighbor upscales
    * hash identically (the grid is resolution-invariant).
    *
    * EXACT INTEGER arithmetic throughout: "cell mean > global mean" is
    * evaluated as the cross-multiplication S_cell * N > T * n_cell over
    * integer luma sums (BigInt: immune to overflow at any raster size),
    * so the m01 oracle reproduces every bit in SQL — no float summation
    * order to disagree on, even for flat images where cell means tie
    * the global mean exactly. */
  def averageHash(w: Int, h: Int, raster: Array[Byte]): Long = {
    require(raster.length == w * h * 3, "raster is not w*h RGB triplets")
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var total = 0L
    var y = 0
    while (y < h) {
      val cy = y * 8 / h
      var x = 0
      while (x < w) {
        val cx = x * 8 / w
        val p = (y * w + x) * 3
        // integer luma (ITU-R 601 weights scaled by 1000)
        val luma = 299L * (raster(p) & 0xff) + 587L * (raster(p + 1) & 0xff) +
          114L * (raster(p + 2) & 0xff)
        sums(cy * 8 + cx) += luma
        counts(cy * 8 + cx) += 1
        total += luma
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    (0 until 64).foldLeft(0L) { (acc, c) =>
      if (counts(c) > 0 &&
          BigInt(sums(c)) * n > BigInt(total) * counts(c)) acc | (1L << c)
      else acc
    }
  }

  /** Batched per-partition feature extraction (the decode hot loop). The
    * `grouped(64)` batch shape mirrors a vectorized decoder's input
    * buffer; decoding never leaves the partition. */
  def extractFeatures(ds: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(64).flatMap { batch =>
        batch.map { r =>
          val d = decode(r.media, r.mime)
          MediaFeatures(r.doc_id, r.media.length.toLong, d.width, d.height,
            d.phash, d.ahash)
        }
      }
    }
  }

  /** Frame sampling (the video-decode analog): slice each payload into
    * FrameSize-byte frames at FrameStride intervals — every other frame,
    * fps decimation — and extract per-frame features. Like
    * extractFeatures, the loop is batched per partition and never
    * shuffles the payload; only the narrow (doc_id, idx, hash) rows leave
    * the decode stage. A real decoder would replace the slice+md5 body
    * with codec frame extraction; the batch shape is what it would sit in. */
  def sampleFrames(ds: Dataset[MediaRecord]): Dataset[FrameFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(64).flatMap { batch =>
        batch.flatMap { r =>
          (0 until math.min(r.media.length, FrameStride * MaxFrames) by FrameStride)
            .map { off =>
              val frame = r.media.slice(off, math.min(off + FrameSize, r.media.length))
              FrameFeatures(r.doc_id, (off / FrameStride).toLong,
                frame.length.toLong, md5hex(frame))
            }
        }
      }
    }
  }

  /** Resize (downsample) plumbing: keep every ResampleStride-th payload
    * byte (the nearest-neighbor-resample shape), halve the decoded
    * dimensions, and fingerprint the downsampled payload. Zero-shuffle,
    * batched, binary-in/binary-derived-out — swap the body for a real
    * resampler without touching the plan. Decode honors the record's
    * declared mime, so text payloads always stub (never crash on a
    * "BM…"-prefixed document). */
  def resize(ds: Dataset[MediaRecord]): Dataset[ResizedMedia] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(64).flatMap { batch =>
        batch.map { r =>
          val sampled =
            (0 until math.min(r.media.length, ResampleStride * MaxSamples) by ResampleStride)
              .map(r.media).toArray
          val d = decode(r.media, r.mime)
          ResizedMedia(r.doc_id, sampled.length.toLong, d.width / 2, d.height / 2,
            md5hex(sampled))
        }
      }
    }
  }

  /** One decoded audio object's census (m06). Integer-exact by
    * construction, and defined at the u8-EQUIVALENT grain for every
    * supported format (16-bit quantized by `(v+32768) >> 8`, stereo
    * downmixed by the floor channel average BEFORE quantization) so the
    * loudness/silence/clip gates threshold ONE scale across a
    * mixed-format crawl: `sum_abs_dev` is the summed |sample − 128| over
    * the u8-equivalent stream (the DC-centered absolute deviation — the
    * cheap loudness proxy a silence/clip gate thresholds),
    * `mean_abs_dev_bp` its integer-division basis points,
    * `duration_ms` = frames·1000 div rate; `silence_n` counts frames
    * within ±2 of the midline, `clip_n` frames pinned at 0/255;
    * `n_samples` counts FRAMES (one per sample instant, not per
    * channel). */
  final case class AudioFeatures(
      doc_id: Long, sample_rate: Int, bits: Int, channels: Int,
      n_samples: Long, duration_ms: Long,
      sum_abs_dev: Long, mean_abs_dev_bp: Long, silence_n: Long,
      clip_n: Long)

  /** Decoded WAV essentials handed to the census. */
  final case class DecodedWav(sampleRate: Int, bits: Int, channels: Int,
      nSamples: Long, sumAbsDev: Long, silenceN: Long, clipN: Long)

  private def leU16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def leU32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
  private def fourCC(b: Array[Byte], i: Int): String =
    new String(b, i, 4, "US-ASCII")

  /** Validated PCM geometry shared by the censuses ([[decodeWav]] /
    * [[decodeWavEnergy]]) — the header walk runs ONCE ([[parseWav]]) so
    * a validation fix cannot silently diverge the two consumers. */
  private[operators] final case class WavPcm(rate: Int, bits: Int,
      channels: Int, dataStart: Int, dataLen: Long) {
    def frameBytes: Int = channels * (bits / 8)
    def nFrames: Long = dataLen / frameBytes
  }

  /** One frame's u8-equivalent sample (the [[decodeWav]] grain: stereo
    * downmixed by the floor channel average at native depth, 16-bit
    * quantized by `(v+32768) >> 8`). `at` is the frame's byte offset. */
  @inline private def u8Frame(bytes: Array[Byte], at: Int, bits: Int,
      channels: Int): Int = {
    // s16le: low byte unsigned, high byte sign-extending — a plain Int
    // `or` yields the signed 16-bit value
    @inline def s16(p: Int): Int = (bytes(p) & 0xff) | (bytes(p + 1).toInt << 8)
    if (bits == 8) {
      val a = bytes(at) & 0xff
      if (channels == 2) (a + (bytes(at + 1) & 0xff)) >> 1 else a
    } else {
      val a = s16(at)
      val m = if (channels == 2) (a + s16(at + 2)) >> 1 else a
      (m + 32768) >> 8
    }
  }

  /** Real RIFF/WAVE decode — PCM, unsigned 8-bit or signed 16-bit LE,
    * mono or stereo (the formats that cover essentially all crawl WAV;
    * real crawl audio is dominantly s16le). Walks the chunk list
    * honoring the RIFF odd-size pad byte, validates the `fmt ` chunk
    * (PCM format tag 1, 1–2 channels, 8/16 bits, positive rate, block
    * align consistent with channels×bytes — a header whose fields
    * disagree must not pick one silently), skips unknown chunks
    * (LIST/INFO metadata is everywhere in crawl audio), and requires
    * exactly one `fmt ` and exactly one `data` chunk whose declared
    * size fits the payload and is frame-aligned. Malformed payloads are
    * REJECTED loudly — the decodePpm/decodeBmp discipline: a corrupt
    * header must never silently yield a plausible census.
    *
    * The census itself is one pass over the sample frames in exact
    * integer arithmetic, at the u8-equivalent grain: stereo frames
    * downmix by the floor channel average (`(l + r) >> 1`, arithmetic
    * shift — defined for odd sums) at the NATIVE bit depth, 16-bit
    * values then quantize by `(v + 32768) >> 8` into 0..255 — so every
    * format feeds the same |v−128| deviation, ±2 silence band and
    * 0/255 clip rails. The chunk-walk validation itself lives in
    * [[parseWav]], shared with the m07 windowed census
    * ([[decodeWavEnergy]]).
    */
  def decodeWav(bytes: Array[Byte]): DecodedWav = {
    val h = parseWav(bytes)
    var sumAbs = 0L
    var silence = 0L
    var clip = 0L
    var j = h.dataStart
    val end = h.dataStart + h.dataLen.toInt
    while (j < end) {
      val v8 = u8Frame(bytes, j, h.bits, h.channels)
      val dev = math.abs(v8 - 128)
      sumAbs += dev
      if (dev <= 2) silence += 1
      if (v8 == 0 || v8 == 255) clip += 1
      j += h.frameBytes
    }
    DecodedWav(h.rate, h.bits, h.channels, h.nFrames, sumAbs, silence,
      clip)
  }

  private[operators] def parseWav(bytes: Array[Byte]): WavPcm = {
    if (bytes.length < 12 || fourCC(bytes, 0) != "RIFF") bad("not RIFF")
    if (leU32(bytes, 4) != bytes.length - 8L)
      bad(s"RIFF size ${leU32(bytes, 4)} != payload ${bytes.length - 8}")
    if (fourCC(bytes, 8) != "WAVE") bad("RIFF without WAVE form")
    var i = 12
    var rate = -1
    var bits = -1
    var channels = -1
    var fmtSeen = false
    var dataStart = -1
    var dataLen = -1L
    while (i + 8 <= bytes.length) {
      val id = fourCC(bytes, i)
      val size = leU32(bytes, i + 4)
      val body = i + 8
      if (body + size > bytes.length)
        bad(s"chunk $id declares $size bytes past payload end")
      id match {
        case "fmt " =>
          // mirror the data-chunk guard: a second fmt would silently
          // overwrite the decode parameters of everything that follows
          if (fmtSeen) bad("multiple fmt chunks")
          if (size < 16) bad(s"fmt chunk $size bytes, need >= 16")
          val tag = leU16(bytes, body)
          val ch = leU16(bytes, body + 2)
          val r = leU32(bytes, body + 4)
          val blockAlign = leU16(bytes, body + 12)
          val b = leU16(bytes, body + 14)
          if (tag != 1) bad(s"WAV format tag $tag unsupported (PCM=1 only)")
          if (ch != 1 && ch != 2)
            bad(s"WAV channels $ch unsupported (mono/stereo only)")
          if (b != 8 && b != 16)
            bad(s"WAV bits $b unsupported (u8/s16le only)")
          if (blockAlign != ch * (b / 8))
            bad(s"WAV block align $blockAlign inconsistent with " +
              s"$ch channel(s) x ${b / 8} byte(s)")
          if (r <= 0 || r > Int.MaxValue) bad(s"WAV sample rate $r out of range")
          rate = r.toInt
          bits = b
          channels = ch
          fmtSeen = true
        case "data" =>
          if (!fmtSeen) bad("data chunk before fmt")
          if (dataStart >= 0) bad("multiple data chunks")
          dataStart = body
          dataLen = size
        case _ => () // LIST/INFO/fact/... — skipped, per the RIFF spec
      }
      // chunks are word-aligned: an odd-size chunk carries one pad byte
      i = body + size.toInt + (size.toInt & 1)
    }
    if (!fmtSeen) bad("no fmt chunk")
    if (dataStart < 0) bad("no data chunk")
    val frameBytes = channels * (bits / 8)
    if (dataLen % frameBytes != 0)
      bad(s"data chunk $dataLen bytes not a multiple of the " +
        s"$frameBytes-byte frame")
    WavPcm(rate, bits, channels, dataStart, dataLen)
  }

  /** Serialize one PCM-u8 mono WAV — the generation half of the m06
    * contract (44-byte canonical header + samples + RIFF pad byte when
    * the sample count is odd). */
  def wavBytes(rate: Int, samples: Array[Byte]): Array[Byte] = {
    val n = samples.length
    val pad = n & 1
    val out = java.nio.ByteBuffer.allocate(44 + n + pad)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + n + pad)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(rate).putInt(rate) // byte rate = rate * 1 ch * 1 B
      .putShort(1).putShort(8) // block align, bits
      .put("data".getBytes("US-ASCII")).putInt(n)
      .put(samples)
    if (pad == 1) out.put(0.toByte)
    out.array()
  }

  /** Serialize one PCM-s16le WAV, mono or stereo — `values` is the
    * interleaved channel stream (length a multiple of `channels`); the
    * 16-bit frame size is even, so no RIFF pad byte ever applies. */
  def wavBytes16(rate: Int, channels: Int, values: Array[Short]): Array[Byte] = {
    require(channels == 1 || channels == 2, s"channels $channels")
    require(values.length % channels == 0,
      s"${values.length} values not a whole number of $channels-ch frames")
    val n = values.length * 2
    val blockAlign = channels * 2
    val out = java.nio.ByteBuffer.allocate(44 + n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort) // PCM
      .putInt(rate).putInt(rate * blockAlign)
      .putShort(blockAlign.toShort).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(n)
    values.foreach(out.putShort)
    out.array()
  }

  /** m06 — per-object audio census over [[decodeWav]]: the batched
    * zero-shuffle mapPartitions shape of [[extractFeatures]]; only the
    * 8-column integer census leaves the decode stage, never samples. */
  def audioFeatures(ds: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(64).flatMap { batch =>
        batch.map { r =>
          val d = decodeWav(r.media)
          AudioFeatures(r.doc_id, d.sampleRate, d.bits, d.channels,
            d.nSamples, d.nSamples * 1000L / d.sampleRate, d.sumAbsDev,
            if (d.nSamples == 0) 0L else d.sumAbsDev * 10000L / d.nSamples,
            d.silenceN, d.clipN)
        }
      }
    }
  }

  /** m07 window length in sample frames. A SEMANTIC constant (the
    * oracle replays it), not a scale knob: 64 frames ≈ 8 ms at 8 kHz,
    * the short-time-analysis grain a VAD/silence-trimmer works at. */
  val EnergyWin = 64

  /** One decoded audio object's windowed-energy census (m07). */
  final case class WavEnergy(nSamples: Long, nWindows: Long,
      activeN: Long, firstActive: Long, peakIdx: Long, peakSum: Long)

  /** m07 per-object output row: [[WavEnergy]] + identity. */
  final case class FrameEnergy(doc_id: Long, n_samples: Long,
      n_windows: Long, active_n: Long, first_active: Long,
      peak_idx: Long, peak_sum: Long)

  /** Windowed frame-energy census — the short-time complement of
    * [[decodeWav]]'s whole-object census and the primitive a
    * voice-activity / silence-trimming gate thresholds: the u8-grain
    * sample stream (the [[u8Frame]] downmix/quantize contract — ONE
    * scale across a mixed-format crawl) is cut into consecutive
    * `win`-frame windows (the tail keeps its true partial length) and
    * each window's summed |v−128| deviation censused in exact integer
    * arithmetic:
    *   - `activeN` / `firstActive` — windows whose deviation MEAN
    *     clears the ±2 silence band (`sum > 2·len`, the exact-integer
    *     form; the band is [[decodeWav]]'s per-sample silence
    *     threshold at window grain). firstActive = −1 when none: the
    *     leading-silence trim point.
    *   - `peakIdx` / `peakSum` — the loudest window (FIRST index on
    *     equal sums; −1/0 for a zero-frame object).
    * Same loud [[parseWav]] validation; one pass, no allocation. */
  def decodeWavEnergy(bytes: Array[Byte], win: Int = EnergyWin): WavEnergy = {
    require(win >= 1, s"energy window must be >= 1 (got $win)")
    val h = parseWav(bytes)
    var wi = 0L
    var wSum = 0L
    var wLen = 0
    var activeN = 0L
    var firstActive = -1L
    var peakIdx = -1L
    var peakSum = 0L
    def closeWindow(): Unit = {
      if (wSum > 2L * wLen) {
        activeN += 1
        if (firstActive < 0) firstActive = wi
      }
      if (peakIdx < 0 || wSum > peakSum) { peakSum = wSum; peakIdx = wi }
      wi += 1
      wSum = 0L
      wLen = 0
    }
    var j = h.dataStart
    val end = h.dataStart + h.dataLen.toInt
    while (j < end) {
      wSum += math.abs(u8Frame(bytes, j, h.bits, h.channels) - 128)
      wLen += 1
      if (wLen == win) closeWindow()
      j += h.frameBytes
    }
    if (wLen > 0) closeWindow()
    WavEnergy(h.nFrames, wi, activeN, firstActive, peakIdx, peakSum)
  }

  /** m07 — per-object windowed-energy census over [[decodeWavEnergy]]:
    * the batched zero-shuffle mapPartitions shape of [[audioFeatures]];
    * only the 7-column integer census leaves the decode stage, never
    * samples. */
  def audioFrameEnergy(ds: Dataset[MediaRecord],
      win: Int = EnergyWin): Dataset[FrameEnergy] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(64).flatMap { batch =>
        batch.map { r =>
          val e = decodeWavEnergy(r.media, win)
          FrameEnergy(r.doc_id, e.nSamples, e.nWindows, e.activeN,
            e.firstActive, e.peakIdx, e.peakSum)
        }
      }
    }
  }

  /** Documents table → VALID mixed-format PCM WAV payloads — the m06
    * media fixture (the [[ppmFromDocuments]] convention on the audio
    * axis), format cycling by doc_id%3 so one census run crosses the
    * real crawl formats: 0 → u8 mono, 1 → s16le mono, 2 → s16le stereo.
    * The u8-grain sample stream is the text's code points mod 256
    * ('.' = 46 for the empty doc, so every object has >= 1 frame); s16
    * carries it as `(v−128)·256` (so the decoder's `(v+32768)>>8`
    * quantization recovers v exactly); the stereo right channel is the
    * left shifted by +2 mod 256 — l and (l+2)%256 always share parity,
    * so the decoder's floor channel average is the exact integer
    * `(l+r)/2` the oracle mirrors. Sample rate varies per doc (8000 +
    * doc_id%9 kHz steps). The FEATURES are thereby pure SQL functions
    * of the text — the oracle recomputes the generation contract, the
    * engine must recover it by PARSING the real bytes it wrote here.
    * Binary little-endian header fields cannot ride a UTF-8 string
    * concat, so the payload is built in a typed map. */
  def wavFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map {
      case (id, text) =>
        val cps = text.codePoints().toArray
        val v8 = if (cps.isEmpty) Array(46) else cps.map(_ % 256)
        val rate = 8000 + (id % 9).toInt * 1000
        def s16of(v: Int): Short = ((v - 128) * 256).toShort
        val payload = (id % 3).toInt match {
          case 0 => wavBytes(rate, v8.map(_.toByte))
          case 1 => wavBytes16(rate, 1, v8.map(s16of))
          case _ => wavBytes16(rate, 2,
            v8.flatMap(v => Array(s16of(v), s16of((v + 2) % 256))))
        }
        MediaRecord(id, payload, "audio/wav")
    }
  }

  /** Documents table → media records (text payload as stand-in bytes). */
  def mediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("media"),
      lit("text/plain").as("mime")).as[MediaRecord]
  }

  /** Documents table → VALID binary-PPM payloads: each text becomes the
    * raster of a real P6 image (width varies per doc, '.'-padded to a
    * whole number of RGB rows) behind a real header. This is the media
    * fixture for the m01 gate — the engine's decodePpm must recover the
    * dimensions from the HEADER it wrote here, and hash every raster
    * byte; the oracle recomputes the same generation contract in SQL.
    * All computed columns are codegen'd string/arithmetic ops — the
    * payload never exists on the driver. */
  def ppmFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs
      .withColumn("w", (lit(8) + pmod(col("doc_id"), lit(9))).cast("int"))
      .withColumn("h",
        greatest(lit(1),
          expr("(length(text) + 3*w - 1) div (3*w)")).cast("int"))
      .select(col("doc_id"),
        encode(concat(
          concat(lit("P6\n"), col("w"), lit(" "), col("h"), lit("\n255\n")),
          expr("rpad(text, w * h * 3, '.')")), "UTF-8").as("media"),
        lit("image/x-portable-pixmap").as("mime"))
      .as[MediaRecord]
  }
}
