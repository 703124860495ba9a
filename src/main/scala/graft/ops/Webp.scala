package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** WebP header decode — the modern web image format the crawl-side dims
  * family ([[Multimodal.imageDims]] / m2) doesn't cover. All three
  * container variants (public RIFF/WebP spec + VP8/VP8L bitstream
  * headers):
  *
  *  - `VP8 ` (lossy): 3-byte frame tag, the 0x9D 0x01 0x2A start code,
  *    then 14-bit little-endian width/height (scale bits masked off).
  *  - `VP8L` (lossless): 0x2F signature then width-1/height-1 packed as
  *    14+14 bits little-endian.
  *  - `VP8X` (extended): flag byte + 24-bit LE canvas width-1/height-1.
  *
  * Same contract as every decoder here: bounds-checked, fail-to-null,
  * no library. Kept separate from the m2 Expression/Column parity pair
  * (those two are bit-parity-locked to each other; a new format belongs
  * in its own tested walk, not spliced into both). */
object Webp {

  /** (variant, width, height); None on anything malformed. */
  def dims(b: Array[Byte]): Option[(String, Int, Int)] = {
    if (b == null || b.length < 30) return None
    def fourcc(p: Int): String =
      new String(b, p, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (fourcc(0) != "RIFF" || fourcc(8) != "WEBP") return None
    val riffSize = (b(4) & 0xffL) | ((b(5) & 0xffL) << 8) | ((b(6) & 0xffL) << 16) | ((b(7) & 0xffL) << 24)
    if (8 + riffSize > b.length) return None
    val tag = fourcc(12)
    def u16le(p: Int): Int = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
    def u24le(p: Int): Int = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16)
    tag match {
      case "VP8 " => // lossy: frame tag(3), start code, 14-bit dims
        if (b.length < 30) None
        else if ((b(23) & 0xff) != 0x9d || (b(24) & 0xff) != 0x01 || (b(25) & 0xff) != 0x2a) None
        else {
          val w = u16le(26) & 0x3fff
          val h = u16le(28) & 0x3fff
          if (w < 1 || h < 1) None else Some(("vp8", w, h))
        }
      case "VP8L" => // lossless: signature then 14+14 bits
        if (b.length < 25 || (b(20) & 0xff) != 0x2f) None
        else {
          val bits = (b(21) & 0xffL) | ((b(22) & 0xffL) << 8) | ((b(23) & 0xffL) << 16) | ((b(24) & 0xffL) << 24)
          val w = (bits & 0x3fff).toInt + 1
          val h = ((bits >> 14) & 0x3fff).toInt + 1
          Some(("vp8l", w, h))
        }
      case "VP8X" => // extended: flags(1) + reserved(3) + 24-bit canvas dims
        if (b.length < 30) None
        else {
          val w = u24le(24) + 1
          val h = u24le(27) + 1
          Some(("vp8x", w, h))
        }
      case _ => None
    }
  }

  /** The Spark seam (the [[Image.decodeStatsStage]] shape). */
  def dimsStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame = {
    val sch = StructType(Seq(
      StructField("variant", StringType),
      StructField("width", IntegerType), StructField("height", IntegerType)))
    Stages.payloadStage(df, payloadCol, outCol, sch)(b =>
      dims(b).map { case (v, w, h) => org.apache.spark.sql.Row(v, w, h) })
  }

  // ---------------------------------------------------------------------
  // Fixture encoder (SEPARATE from the decoder).

  /** Build a header-complete WebP of the given variant (payload bytes
    * beyond the header are arbitrary filler — dims decode never reads
    * them). */
  def encode(variant: String, w: Int, h: Int, filler: Int = 8): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def fcc(s: String): Unit = out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def le32(v: Long): Unit = { var i = 0; var u = v; while (i < 4) { out.write((u & 0xff).toInt); u >>= 8; i += 1 } }
    val body = new java.io.ByteArrayOutputStream()
    variant match {
      case "vp8" =>
        body.write(0); body.write(0); body.write(0) // frame tag
        body.write(0x9d); body.write(0x01); body.write(0x2a)
        body.write(w & 0xff); body.write((w >> 8) & 0x3f)
        body.write(h & 0xff); body.write((h >> 8) & 0x3f)
      case "vp8l" =>
        body.write(0x2f)
        val bits = (w - 1).toLong | ((h - 1).toLong << 14)
        var i = 0
        while (i < 4) { body.write(((bits >> (8 * i)) & 0xff).toInt); i += 1 }
      case "vp8x" =>
        body.write(0); body.write(0); body.write(0); body.write(0) // flags + reserved
        var i = 0
        while (i < 3) { body.write(((w - 1) >> (8 * i)) & 0xff); i += 1 }
        i = 0
        while (i < 3) { body.write(((h - 1) >> (8 * i)) & 0xff); i += 1 }
      case _ => throw new IllegalArgumentException(variant)
    }
    (0 until filler).foreach(k => body.write(k * 17 & 0xff))
    val chunk = body.toByteArray
    fcc("RIFF"); le32(4 + 8 + chunk.length + (chunk.length & 1))
    fcc("WEBP")
    fcc(variant match { case "vp8" => "VP8 "; case "vp8l" => "VP8L"; case _ => "VP8X" })
    le32(chunk.length)
    out.write(chunk)
    if (chunk.length % 2 == 1) out.write(0)
    out.toByteArray
  }
}
