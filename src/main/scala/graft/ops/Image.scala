package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** REAL PNG pixel decode + perceptual-hash image dedup (SURVEY.md §2.1 S2
  * pixel path; prompt families: multimodal, deduplication; ref
  * `ingestion/image_extractor.py:109-179` extracts figure images whose
  * pixels the reference then stores — this module is the engine-side
  * decode that unlocks image NEAR-DUP as a first-class training-pipeline
  * operator).
  *
  * Unlike the stubbed codec seam in [[Multimodal.FeatureExtractor]], PNG
  * needs no imaging library: the format is zlib (JDK `Inflater`/
  * `Deflater`, the Pdf FlateDecode lesson) plus five scanline filters
  * that are pure byte arithmetic (RFC 2083 §6). So the decode here is
  * real end-to-end — chunk walk with CRC32 verification, IDAT inflate
  * with a zip-bomb bound, all five unfilters, gray/palette/RGB/alpha
  * color types — and fail-to-None on ANY malformation (truncated chunk,
  * CRC mismatch, wrong inflated size, bad palette index), never garbage:
  * one hostile image in a 100 TB crawl quarantines its row, not the task.
  *
  * Scale shape: decode is a row-wise executor stage (map-only, no
  * shuffle); the near-dup join is the Manku-style banded equi-join of
  * [[Dedup.simHash64Duplicates]] over 64-bit dHash fingerprints — never
  * all pairs.
  */
object Image {

  /** Decoded image: `raw` is the unfiltered scanline data (no filter
    * bytes) — for palette images these are PLTE indexes, validated in
    * range at decode time. */
  final case class Decoded(width: Int, height: Int, colorType: Int,
                           channels: Int, raw: Array[Byte], palette: Array[Byte])

  private val Signature = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  private def channelsOf(colorType: Int): Int = colorType match {
    case 0 => 1 // grayscale
    case 2 => 3 // truecolor
    case 3 => 1 // palette index
    case 4 => 2 // gray + alpha
    case 6 => 4 // RGBA
    case _ => -1
  }

  private def be32(b: Array[Byte], pos: Int): Long =
    ((b(pos) & 0xffL) << 24) | ((b(pos + 1) & 0xffL) << 16) |
      ((b(pos + 2) & 0xffL) << 8) | (b(pos + 3) & 0xffL)

  /** Full strict decode. Scope (documented, the fixture+web-common core):
    * bit depth 8, no interlacing; color types 0/2/3/4/6. Everything else —
    * and every integrity violation — is None. */
  def decodePng(bytes: Array[Byte], maxBytes: Int = 1 << 26): Option[Decoded] = {
    if (bytes == null || bytes.length < 8) return None
    var i = 0
    while (i < 8) { if ((bytes(i) & 0xff) != Signature(i)) return None; i += 1 }
    var pos = 8
    var width = 0; var height = 0; var colorType = -1; var channels = -1
    var palette: Array[Byte] = null
    var seenIhdr = false; var seenIend = false
    val idat = new java.io.ByteArrayOutputStream()
    val crc = new java.util.zip.CRC32()
    while (!seenIend) {
      if (pos + 8 > bytes.length) return None // chunk header truncated
      val len = be32(bytes, pos)
      if (len > Int.MaxValue - 12 || pos + 12 + len > bytes.length) return None
      val dataStart = pos + 8
      crc.reset()
      crc.update(bytes, pos + 4, 4 + len.toInt) // type + data
      if (crc.getValue != be32(bytes, dataStart + len.toInt)) return None
      val chunkType = new String(bytes, pos + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      chunkType match {
        case "IHDR" =>
          if (seenIhdr || len != 13) return None
          seenIhdr = true
          val w = be32(bytes, dataStart); val h = be32(bytes, dataStart + 4)
          val bitDepth = bytes(dataStart + 8) & 0xff
          colorType = bytes(dataStart + 9) & 0xff
          val compression = bytes(dataStart + 10) & 0xff
          val filterMethod = bytes(dataStart + 11) & 0xff
          val interlace = bytes(dataStart + 12) & 0xff
          channels = channelsOf(colorType)
          if (w < 1 || h < 1 || bitDepth != 8 || channels < 0 ||
            compression != 0 || filterMethod != 0 || interlace != 0) return None
          // the inflated-size bound IS the zip-bomb guard: reject before
          // allocating anything proportional to the declared dims
          if (h * (1L + w * channels.toLong) > maxBytes) return None
          width = w.toInt; height = h.toInt
        case "PLTE" =>
          if (!seenIhdr || palette != null || len % 3 != 0 || len == 0 || len > 768) return None
          palette = java.util.Arrays.copyOfRange(bytes, dataStart, dataStart + len.toInt)
        case "IDAT" =>
          if (!seenIhdr) return None
          idat.write(bytes, dataStart, len.toInt)
        case "IEND" =>
          if (len != 0) return None
          seenIend = true
        case _ => // ancillary chunk: CRC already verified, content ignored
      }
      pos += 12 + len.toInt
    }
    if (!seenIhdr) return None
    if (colorType == 3 && palette == null) return None
    val stride = width * channels
    val expected = height * (1 + stride)
    val filtered = inflate(idat.toByteArray, expected).getOrElse(return None)
    val raw = unfilter(filtered, width, height, channels).getOrElse(return None)
    if (colorType == 3) {
      val n = palette.length / 3
      var k = 0
      while (k < raw.length) { if ((raw(k) & 0xff) >= n) return None; k += 1 }
    }
    Some(Decoded(width, height, colorType, channels, raw, palette))
  }

  /** zlib inflate that must produce EXACTLY `expected` bytes — a short
    * stream (truncation) or a longer one (trailing garbage / bomb) both
    * fail. Inflater native memory released in finally (the Pdf lesson). */
  private def inflate(data: Array[Byte], expected: Int): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data)
      val out = new Array[Byte](expected)
      var off = 0
      while (off < expected && !inf.finished()) {
        val n = inf.inflate(out, off, expected - off)
        if (n == 0 && inf.needsInput()) return None // truncated stream
        off += n
      }
      if (off != expected) return None
      // drain: a well-formed stream is done; more output means a size lie
      if (!inf.finished() && inf.inflate(new Array[Byte](1)) > 0) return None
      Some(out)
    } catch { case _: java.util.zip.DataFormatException => None }
    finally inf.end()
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** The five RFC 2083 §6 unfilters over filter-byte-prefixed scanlines.
    * bpp = channels at bit depth 8; the prior row is zeros for y = 0.
    * package-visible so ImageSpec can pin each direction against
    * hand-computed bytes INDEPENDENTLY — a round-trip-only gate would let
    * a mirrored encoder/decoder bug pair cancel out. */
  private[graft] def unfilter(filtered: Array[Byte], width: Int, height: Int,
                              channels: Int): Option[Array[Byte]] = {
    val stride = width * channels
    val out = new Array[Byte](height * stride)
    var y = 0
    while (y < height) {
      val ft = filtered(y * (stride + 1)) & 0xff
      if (ft > 4) return None
      val src = y * (stride + 1) + 1
      val dst = y * stride
      var x = 0
      while (x < stride) {
        val f = filtered(src + x) & 0xff
        val a = if (x >= channels) out(dst + x - channels) & 0xff else 0 // left
        val b = if (y > 0) out(dst - stride + x) & 0xff else 0 // up
        val c = if (y > 0 && x >= channels) out(dst - stride + x - channels) & 0xff else 0
        val v = ft match {
          case 0 => f
          case 1 => f + a
          case 2 => f + b
          case 3 => f + ((a + b) >> 1)
          case 4 => f + paeth(a, b, c)
        }
        out(dst + x) = v.toByte
        x += 1
      }
      y += 1
    }
    Some(out)
  }

  // ---------------------------------------------------------------------
  // Encoder — the fixture builder AND a real writer: applies any per-line
  // filter type, deflates, CRCs every chunk. EncodeDecodeSpec asserts the
  // filter arithmetic in BOTH directions against hand-computed bytes so an
  // encoder/decoder bug pair can't cancel out in the round-trip gate.

  private def writeChunk(out: java.io.ByteArrayOutputStream, chunkType: String,
                         data: Array[Byte]): Unit = {
    def be(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val t = chunkType.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    out.write(be(data.length.toLong), 0, 4)
    out.write(t, 0, 4)
    out.write(data, 0, data.length)
    val crc = new java.util.zip.CRC32()
    crc.update(t); crc.update(data)
    out.write(be(crc.getValue), 0, 4)
  }

  /** Filter one scanline (the encode direction of [[unfilter]]). */
  private[graft] def filterLine(raw: Array[Byte], y: Int, stride: Int, channels: Int,
                                ft: Int): Array[Byte] = {
    val line = new Array[Byte](stride)
    val dst = y * stride
    var x = 0
    while (x < stride) {
      val v = raw(dst + x) & 0xff
      val a = if (x >= channels) raw(dst + x - channels) & 0xff else 0
      val b = if (y > 0) raw(dst - stride + x) & 0xff else 0
      val c = if (y > 0 && x >= channels) raw(dst - stride + x - channels) & 0xff else 0
      val pred = ft match {
        case 0 => 0
        case 1 => a
        case 2 => b
        case 3 => (a + b) >> 1
        case 4 => paeth(a, b, c)
      }
      line(x) = (v - pred).toByte
      x += 1
    }
    line
  }

  /** Encode raw (unfiltered) scanline bytes as a complete PNG. */
  def encodePng(width: Int, height: Int, colorType: Int, raw: Array[Byte],
                filterFor: Int => Int = _ => 0, palette: Array[Byte] = null): Array[Byte] = {
    val channels = channelsOf(colorType)
    require(channels > 0, s"unsupported color type $colorType")
    val stride = width * channels
    require(raw.length == height * stride,
      s"raw length ${raw.length} != height $height * stride $stride")
    require((colorType == 3) == (palette != null), "palette iff color type 3")
    val out = new java.io.ByteArrayOutputStream()
    Signature.foreach(out.write)
    val ihdr = new Array[Byte](13)
    ihdr(0) = ((width >> 24) & 0xff).toByte; ihdr(1) = ((width >> 16) & 0xff).toByte
    ihdr(2) = ((width >> 8) & 0xff).toByte; ihdr(3) = (width & 0xff).toByte
    ihdr(4) = ((height >> 24) & 0xff).toByte; ihdr(5) = ((height >> 16) & 0xff).toByte
    ihdr(6) = ((height >> 8) & 0xff).toByte; ihdr(7) = (height & 0xff).toByte
    ihdr(8) = 8; ihdr(9) = colorType.toByte // bit depth 8
    writeChunk(out, "IHDR", ihdr)
    if (palette != null) writeChunk(out, "PLTE", palette)
    val filtered = new java.io.ByteArrayOutputStream(height * (stride + 1))
    var y = 0
    while (y < height) {
      val ft = filterFor(y)
      require(ft >= 0 && ft <= 4, s"filter type $ft")
      filtered.write(ft)
      val line = filterLine(raw, y, stride, channels, ft)
      filtered.write(line, 0, line.length)
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    val zOut = new java.io.ByteArrayOutputStream()
    try {
      defl.setInput(filtered.toByteArray); defl.finish()
      val buf = new Array[Byte](8192)
      while (!defl.finished()) zOut.write(buf, 0, defl.deflate(buf))
    } finally defl.end()
    writeChunk(out, "IDAT", zOut.toByteArray)
    writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  // ---------------------------------------------------------------------
  // Pixel math: gray conversion, integer box resize, perceptual hashes.

  /** Integer luma per pixel (the [[Ocr.grayscale]] convention,
    * `(299R + 587G + 114B) / 1000`); palette indexes are expanded first,
    * alpha is ignored (hash stability: transparency doesn't move content). */
  def toGray(img: Decoded): Array[Int] = {
    val n = img.width * img.height
    val out = new Array[Int](n)
    var i = 0
    img.colorType match {
      case 0 => while (i < n) { out(i) = img.raw(i) & 0xff; i += 1 }
      case 4 => while (i < n) { out(i) = img.raw(2 * i) & 0xff; i += 1 }
      case 3 =>
        while (i < n) {
          val p = (img.raw(i) & 0xff) * 3
          out(i) = (299 * (img.palette(p) & 0xff) + 587 * (img.palette(p + 1) & 0xff) +
            114 * (img.palette(p + 2) & 0xff)) / 1000
          i += 1
        }
      case ct =>
        val ch = img.channels
        while (i < n) {
          val p = i * ch
          out(i) = (299 * (img.raw(p) & 0xff) + 587 * (img.raw(p + 1) & 0xff) +
            114 * (img.raw(p + 2) & 0xff)) / 1000
          i += 1
        }
    }
    out
  }

  /** Deterministic integer box (area-average) downscale: target cell
    * (tx, ty) averages source region [tx·w/tw, (tx+1)·w/tw) ×
    * [ty·h/th, (ty+1)·h/th) (floor division, floor mean; empty ranges —
    * upscales — clamp to one source pixel). Identity when dims match, so
    * an already-9×8 fixture gates the hash math without resample noise. */
  def boxResize(gray: Array[Int], w: Int, h: Int, tw: Int, th: Int): Array[Int] = {
    val out = new Array[Int](tw * th)
    var ty = 0
    while (ty < th) {
      var y0 = ty * h / th; var y1 = (ty + 1) * h / th
      if (y1 <= y0) y1 = y0 + 1
      var tx = 0
      while (tx < tw) {
        var x0 = tx * w / tw; var x1 = (tx + 1) * w / tw
        if (x1 <= x0) x1 = x0 + 1
        var sum = 0L; var cnt = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += gray(y * w + x); cnt += 1; x += 1 }
          y += 1
        }
        out(ty * tw + tx) = (sum / cnt).toInt
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** dHash: box-resize to 9×8 gray, bit (y·8+x) = p(x+1,y) > p(x,y) —
    * 64 bits as a '0'/'1' string (the [[Dedup.simHash64Duplicates]]
    * signature shape, so the same banding join applies). Gradient
    * direction survives brightness/contrast shifts, which is what makes
    * dHash the right near-dup key for re-encoded or re-exposed images. */
  def dHashBits(gray: Array[Int], w: Int, h: Int): String = {
    val g = boxResize(gray, w, h, 9, 8)
    val sb = new java.lang.StringBuilder(64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) { sb.append(if (g(y * 9 + x + 1) > g(y * 9 + x)) '1' else '0'); x += 1 }
      y += 1
    }
    sb.toString
  }

  /** aHash: box-resize to 8×8, bit = pixel > floor-mean of the 64. */
  def aHashBits(gray: Array[Int], w: Int, h: Int): String = {
    val g = boxResize(gray, w, h, 8, 8)
    var sum = 0L
    var i = 0
    while (i < 64) { sum += g(i); i += 1 }
    val mean = sum / 64
    val sb = new java.lang.StringBuilder(64)
    i = 0
    while (i < 64) { sb.append(if (g(i) > mean) '1' else '0'); i += 1 }
    sb.toString
  }

  // ---------------------------------------------------------------------
  /** EXIF orientation (tag 0x0112) from a JPEG payload — the one EXIF
    * field an image-training pipeline MUST read before any pixel work
    * (a dHash of an un-rotated portrait is a different fingerprint than
    * its rotated twin). Bounded JPEG marker walk to APP1/"Exif\0\0",
    * then a TIFF IFD scan honoring the header's own endianness (the m6
    * lesson: endianness is data). Returns 1..8; None on garbage,
    * truncation, missing APP1, non-TIFF payloads, out-of-range values —
    * fail-to-None, never garbage. O(markers + entries) header reads. */
  def exifOrientation(bytes: Array[Byte], maxHops: Int = 12): Option[Int] = {
    if (bytes == null || bytes.length < 4) return None
    if ((bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return None
    var off = 2
    var hops = 0
    while (off + 4 <= bytes.length && hops < maxHops) {
      if ((bytes(off) & 0xff) != 0xff) return None
      val m = bytes(off + 1) & 0xff
      if (m == 0xd9 || m == 0xda) return None // EOI/SOS: no APP1 ahead
      val len = ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
      if (len < 2 || off + 2 + len > bytes.length) return None
      if (m == 0xe1 && len >= 10 &&
          bytes(off + 4) == 'E' && bytes(off + 5) == 'x' && bytes(off + 6) == 'i' &&
          bytes(off + 7) == 'f' && bytes(off + 8) == 0 && bytes(off + 9) == 0)
        return tiffOrientation(bytes, off + 10, off + 2 + len)
      off += 2 + len
      hops += 1
    }
    None
  }

  private def tiffOrientation(b: Array[Byte], base: Int, end: Int): Option[Int] = {
    if (base + 8 > end || end > b.length) return None
    val le = b(base) == 'I' && b(base + 1) == 'I'
    val be = b(base) == 'M' && b(base + 1) == 'M'
    if (!le && !be) return None
    def u16(p: Int): Int =
      if (le) (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
      else ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
    def u32(p: Int): Long =
      if (le) (u16(p) & 0xffffL) | ((u16(p + 2) & 0xffffL) << 16)
      else ((u16(p) & 0xffffL) << 16) | (u16(p + 2) & 0xffffL)
    if (u16(base + 2) != 42) return None
    val ifdOff = u32(base + 4)
    if (ifdOff < 0 || base + ifdOff + 2 > end) return None
    val ifd = base + ifdOff.toInt
    val n = u16(ifd)
    var i = 0
    while (i < math.min(n, 64)) { // ~14 baseline tags precede 0x0112; 16 was too tight
      val e = ifd + 2 + i * 12
      if (e + 12 > end) return None
      if (u16(e) == 0x0112 && u16(e + 2) == 3) {
        val v = u16(e + 8) // SHORT, left-justified in the value field
        return if (v >= 1 && v <= 8) Some(v) else None
      }
      i += 1
    }
    None
  }

  // Spark stages (the documented row-wise codec seam, like Warc.gunzipStage).

  /** Append decode stats (null struct on any malformation): the
    * integrity/metadata scan of an image corpus. gray_mid probes the
    * center pixel (w/2, h/2) so the gate pins actual pixel VALUES, not
    * just sizes. */
  def decodeStatsStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame = {
    val sch = StructType(Seq(
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("color_type", IntegerType), StructField("channels", IntegerType),
      StructField("pixel_sum", LongType), StructField("gray_mid", IntegerType)))
    Stages.payloadStage(df, payloadCol, outCol, sch)(b =>
      decodePng(b).map { img =>
        var sum = 0L
        var i = 0
        while (i < img.raw.length) { sum += img.raw(i) & 0xff; i += 1 }
        val g = toGray(img)
        org.apache.spark.sql.Row(img.width, img.height, img.colorType, img.channels,
          sum, g((img.height / 2) * img.width + img.width / 2))
      })
  }

  /** Append the EXIF orientation (1..8, null on any malformation) — the
    * rotation-normalization input of the image pipeline. */
  def exifStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame =
    Stages.payloadStage(df, payloadCol, outCol, IntegerType)(b => exifOrientation(b))

  /** Append the 64-bit dHash bit string (null when the payload doesn't
    * decode) — the per-image map step of the near-dup pipeline. */
  def dhashStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame =
    Stages.payloadStage(df, payloadCol, outCol, StringType)(b =>
      decodePng(b).map(img => dHashBits(toGray(img), img.width, img.height)))

  /** Perceptual-hash image near-dup pairs over a precomputed 64-bit
    * signature column: Manku pigeonhole blocking (maxHamming+1 equal
    * bands — a pair within distance maxHamming MUST agree on one whole
    * band), band equi-join, exact Hamming verify on candidates only.
    * Never all-pairs: at 100 TB the 16-bit bands give 65,536 values per
    * band index, the same bounded-block argument as d3b. Undecodable
    * images (null sig) drop out before the join. */
  def imageNearDupPairs(sigs: DataFrame, idCol: String, sigCol: String,
                        maxHamming: Int = 3): DataFrame = {
    val bits = 64
    val bands = maxHamming + 1
    require(bits % bands == 0, s"need equal bands: 64 % ${bands} != 0")
    val bw = bits / bands
    val s = sigs.select(col(idCol).as("id"), col(sigCol).as("sig"))
      .filter(col("sig").isNotNull)
      .localCheckpoint() // feeds both sides of the band join
    val blocked = s.select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("q"))
      .select(col("id"), col("sig"),
        concat_ws(":", col("q"), col("sig").substr(col("q") * bw + 1, lit(bw))).as("blk"))
    val cand = blocked.as("a").join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.sig").as("sig_a"),
        col("b.id").as("id_b"), col("b.sig").as("sig_b"))
      .distinct()
    val hi = bit_count(conv(col("sig_a").substr(1, 32), 2, 10).cast("long")
      .bitwiseXOR(conv(col("sig_b").substr(1, 32), 2, 10).cast("long")))
    val lo = bit_count(conv(col("sig_a").substr(33, 32), 2, 10).cast("long")
      .bitwiseXOR(conv(col("sig_b").substr(33, 32), 2, 10).cast("long")))
    cand.withColumn("hamming", (hi + lo).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
