package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** REAL GIF decode — zero-dependency GIF87a/89a: header + logical screen
  * descriptor, global/local color tables, extension-block skipping, full
  * variable-width LSB-first LZW decompression (clear/end codes, KwKwK
  * case, 12-bit dictionary cap with deferred clear), and the 4-pass
  * interlace remap. Completes the [[Image.decodePng]] family: the two
  * formats a figure-extraction crawl actually stores (ref
  * `ingestion/image_extractor.py:109-179` saves extracted figures; PNG
  * landed round 7, GIF closes the pair), and feeds the SAME dHash
  * near-dup machinery (`Image.dHashBits` + banded pairs).
  *
  * Fail-to-None on every STRUCTURAL malformation: bad signature, missing
  * color table, truncated sub-blocks, out-of-range LZW codes, pixel
  * overflow/underflow, palette-exceeding indices, dims past the pixel
  * bound (zip-bomb guard). GIF carries no CRC, so a bit flip inside a
  * well-formed LZW stream can decode to wrong pixels undetected — unlike
  * PNG this is a format property, not a decoder gap; the fuzz spec pins
  * "never throws", not "detects everything".
  *
  * The matching [[encodeGif]] (real LZW compression, not the
  * clear-code-spam shortcut — fixtures must exercise dictionary growth)
  * exists for fixture synthesis, and the spec cross-validates BOTH
  * directions against the JDK's independent ImageIO GIF codec (our
  * encoder → ImageIO reader; ImageIO writer → our decoder), so encoder
  * and decoder cannot share a convention bug.
  *
  * First image frame only (figure GIFs are single-frame; animation
  * frames after the first are ignored by design). Scale: one bounded
  * byte walk per row inside the row-wise stage seam — map-only,
  * O(bytes) per payload.
  */
object Gif {

  final case class DecodedGif(width: Int, height: Int, nColors: Int,
                              interlaced: Boolean, rgb: Array[Byte])

  private def le16(b: Array[Byte], pos: Int): Int =
    (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8)

  /** Row order of the 4 interlace passes for a given height: the y each
    * sequentially-produced row lands on. */
  private[graft] def interlaceRows(height: Int): Array[Int] = {
    val out = new Array[Int](height)
    var i = 0
    for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2)); y <- start until height by step) {
      out(i) = y; i += 1
    }
    out
  }

  def decodeGif(bytes: Array[Byte], maxPixels: Int = 1 << 22): Option[DecodedGif] = {
    if (bytes == null || bytes.length < 14) return None
    val sig = new String(bytes, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (sig != "GIF87a" && sig != "GIF89a") return None
    try {
      val packed = bytes(10) & 0xff
      var pos = 13
      var gct: Array[Byte] = null
      if ((packed & 0x80) != 0) {
        val n = 1 << ((packed & 7) + 1)
        if (pos + 3 * n > bytes.length) return None
        gct = java.util.Arrays.copyOfRange(bytes, pos, pos + 3 * n)
        pos += 3 * n
      }
      while (pos < bytes.length) {
        (bytes(pos) & 0xff) match {
          case 0x3b => return None // trailer before any image frame
          case 0x21 => // extension: label + sub-blocks, skipped
            pos += 2
            while (pos < bytes.length && (bytes(pos) & 0xff) != 0)
              pos += 1 + (bytes(pos) & 0xff)
            if (pos >= bytes.length) return None
            pos += 1
          case 0x2c =>
            if (pos + 10 > bytes.length) return None
            val w = le16(bytes, pos + 5); val h = le16(bytes, pos + 7)
            val p2 = bytes(pos + 9) & 0xff
            val interlaced = (p2 & 0x40) != 0
            pos += 10
            var table = gct
            if ((p2 & 0x80) != 0) {
              val n = 1 << ((p2 & 7) + 1)
              if (pos + 3 * n > bytes.length) return None
              table = java.util.Arrays.copyOfRange(bytes, pos, pos + 3 * n)
              pos += 3 * n
            }
            if (table == null) return None
            if (w < 1 || h < 1 || w.toLong * h > maxPixels) return None
            val minCode = bytes(pos) & 0xff; pos += 1
            if (minCode < 2 || minCode > 8) return None
            // concatenate data sub-blocks
            val data = new java.io.ByteArrayOutputStream()
            while ({
              if (pos >= bytes.length) return None
              val sz = bytes(pos) & 0xff; pos += 1
              if (sz > 0) {
                if (pos + sz > bytes.length) return None
                data.write(bytes, pos, sz); pos += sz
              }
              sz > 0
            }) ()
            val idx = lzwDecode(data.toByteArray, minCode, w * h).getOrElse(return None)
            val nColors = table.length / 3
            val rgb = new Array[Byte](3 * w * h)
            val rowMap = if (interlaced) interlaceRows(h) else null
            var i = 0
            while (i < w * h) {
              val ci = idx(i) & 0xff
              if (ci >= nColors) return None
              val y = if (rowMap == null) i / w else rowMap(i / w)
              val o = 3 * (y * w + i % w)
              rgb(o) = table(3 * ci); rgb(o + 1) = table(3 * ci + 1); rgb(o + 2) = table(3 * ci + 2)
              i += 1
            }
            return Some(DecodedGif(w, h, nColors, interlaced, rgb))
          case _ => return None
        }
      }
      None
    } catch { case _: IndexOutOfBoundsException | _: NegativeArraySizeException => None }
  }

  /** Variable-width LSB-first LZW decode to exactly `nPixels` indices.
    * None on: out-of-range codes, stream exhausted early, pixel overflow,
    * or a KwKwK first code. */
  private def lzwDecode(data: Array[Byte], minCode: Int, nPixels: Int): Option[Array[Byte]] = {
    val clear = 1 << minCode; val end = clear + 1
    val prefix = new Array[Int](4096); val suffix = new Array[Byte](4096)
    val out = new Array[Byte](nPixels)
    var outPos = 0
    var width = minCode + 1
    var nextCode = end + 1
    var prev = -1
    var bitPos = 0
    val nBits = data.length * 8
    val stack = new Array[Byte](4096)
    def firstByte(code: Int): Byte = {
      var c = code
      while (c >= clear) c = prefix(c)
      c.toByte
    }
    while (true) {
      if (bitPos + width > nBits) return None // exhausted before end code
      var code = 0; var j = 0
      while (j < width) {
        val b = bitPos + j
        if ((data(b >> 3) & (1 << (b & 7))) != 0) code |= 1 << j
        j += 1
      }
      bitPos += width
      if (code == clear) {
        width = minCode + 1; nextCode = end + 1; prev = -1
      } else if (code == end) {
        return if (outPos == nPixels) Some(out) else None
      } else {
        if (code > nextCode || code == end || (code == nextCode && prev == -1)) return None
        // emit string(code) — KwKwK: string(prev) + first(prev)
        var sp = 0
        if (code == nextCode) { stack(sp) = firstByte(prev); sp += 1; var c = prev
          while (c >= clear) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
          stack(sp) = c.toByte; sp += 1
        } else { var c = code
          while (c >= clear) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
          stack(sp) = c.toByte; sp += 1
        }
        if (outPos + sp > nPixels) return None
        while (sp > 0) { sp -= 1; out(outPos) = stack(sp); outPos += 1 }
        if (prev != -1 && nextCode < 4096) {
          prefix(nextCode) = prev
          suffix(nextCode) = firstByte(code)
          nextCode += 1
          if (nextCode == (1 << width) && width < 12) width += 1
        }
        prev = code
        if (outPos == nPixels) {
          // image complete: accept with or without a trailing end code
          return Some(out)
        }
      }
    }
    None
  }

  /** Real LZW GIF encoder for fixture synthesis: hash-dictionary
    * compression with variable code width and 4096-cap clears — streams
    * that genuinely exercise the decoder's dictionary growth (a
    * clear-code-per-symbol shortcut would leave that path untested).
    * Palette length must be a power of two in [4, 256]. */
  def encodeGif(width: Int, height: Int, palette: Array[Byte], indices: Array[Byte],
                interlace: Boolean = false): Array[Byte] = {
    val nColors = palette.length / 3
    require(nColors >= 4 && nColors <= 256 && Integer.bitCount(nColors) == 1,
      s"palette must be a power-of-two size in [4,256], got $nColors")
    require(width > 0 && height > 0, s"need positive dims, got $width x $height")
    require(indices.length == width * height, "indices must be width*height")
    val sizeBits = 31 - Integer.numberOfLeadingZeros(nColors) // log2
    val minCode = math.max(2, sizeBits)
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def le(v: Int, n: Int): Unit = (0 until n).foreach(i => out.write((v >> (8 * i)) & 0xff))
    le(width, 2); le(height, 2)
    out.write(0x80 | (sizeBits - 1)) // GCT present, size bits
    out.write(0); out.write(0)
    out.write(palette, 0, palette.length)
    out.write(0x2c); le(0, 2); le(0, 2); le(width, 2); le(height, 2)
    out.write(if (interlace) 0x40 else 0x00)
    out.write(minCode)
    // row reorder for interlace: pass order is what the stream carries
    val seq = if (!interlace) indices else {
      val rm = interlaceRows(height)
      val r = new Array[Byte](indices.length)
      for (i <- 0 until height; x <- 0 until width)
        r(i * width + x) = indices(rm(i) * width + x)
      r
    }
    // LZW compress
    val clear = 1 << minCode; val end = clear + 1
    val bits = new java.io.ByteArrayOutputStream()
    var cur = 0; var curBits = 0
    var codeWidth = minCode + 1
    def emit(code: Int): Unit = {
      cur |= code << curBits; curBits += codeWidth
      while (curBits >= 8) { bits.write(cur & 0xff); cur >>= 8; curBits -= 8 }
    }
    var dict = new java.util.HashMap[Integer, Integer]()
    var nextCode = end + 1
    emit(clear)
    var prev: Int = seq(0) & 0xff
    var i = 1
    while (i < seq.length) {
      val c = seq(i) & 0xff
      val key = Integer.valueOf((prev << 8) | c)
      val hit = dict.get(key)
      if (hit != null) prev = hit.intValue()
      else {
        emit(prev)
        if (nextCode < 4096) {
          dict.put(key, Integer.valueOf(nextCode))
          nextCode += 1
          if (nextCode == (1 << codeWidth) + 1 && codeWidth < 12) codeWidth += 1
        } else { // dictionary full: clear and restart
          emit(clear); dict = new java.util.HashMap[Integer, Integer]()
          nextCode = end + 1; codeWidth = minCode + 1
        }
        prev = c
      }
      i += 1
    }
    emit(prev); emit(end)
    if (curBits > 0) bits.write(cur & 0xff)
    // ≤255-byte sub-blocks + terminator + trailer
    val dataArr = bits.toByteArray
    var off = 0
    while (off < dataArr.length) {
      val n = math.min(255, dataArr.length - off)
      out.write(n); out.write(dataArr, off, n); off += n
    }
    out.write(0); out.write(0x3b)
    out.toByteArray
  }

  /** The Spark seam: append GIF decode stats (null on malformation) —
    * the [[Image.decodeStatsStage]] shape, sharing its pixel_sum /
    * gray_mid probe contract so PNG and GIF corpora audit identically. */
  def decodeStatsStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame = {
    val sch = StructType(Seq(
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("n_colors", IntegerType), StructField("interlaced", BooleanType),
      StructField("pixel_sum", LongType), StructField("gray_mid", IntegerType)))
    Stages.payloadStage(df, payloadCol, outCol, sch)(b =>
      decodeGif(b).map { g =>
        var sum = 0L
        var i = 0
        while (i < g.rgb.length) { sum += g.rgb(i) & 0xff; i += 1 }
        val mid = 3 * ((g.height / 2) * g.width + g.width / 2)
        val gray = (299 * (g.rgb(mid) & 0xff) + 587 * (g.rgb(mid + 1) & 0xff)
          + 114 * (g.rgb(mid + 2) & 0xff)) / 1000
        org.apache.spark.sql.Row(g.width, g.height, g.nColors, g.interlaced, sum, gray)
      })
  }
}
