package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** WebM/Matroska (EBML) metadata walk — the third video container next
  * to [[functions.Mp4Meta]] and [[Avi]], and the web's streaming-video
  * default. EBML (public spec, RFC 8794) is a tree of
  * (vint id, vint size, payload) elements; the walk descends only the
  * paths a corpus pipeline accounts by:
  *
  *   EBML header → DocType ("webm"/"matroska")
  *   Segment → Info → TimestampScale (uint), Duration (float32/64)
  *   Segment → Tracks → TrackEntry → TrackType (1=video, 2=audio),
  *     Video → PixelWidth/PixelHeight,
  *     Audio → SamplingFrequency (float), Channels (uint)
  *
  * Unknown elements are skipped by their declared size (that's the
  * design point of EBML); unknown-size elements (vint all-ones) fail
  * closed — they require frame-level parsing this walk doesn't claim.
  * Every read is bounds-checked; malformation → None.
  */
object Ebml {

  final case class WebmMeta(docType: String, timestampScale: Long, durationMs: Long,
                            videoW: Int, videoH: Int, audioRate: Int, audioChannels: Int)

  private final class Fail extends RuntimeException(null, null, false, false)
  private def fail(): Nothing = throw new Fail

  private final class Rd(val b: Array[Byte], var p: Int, val end: Int) {
    def u8(): Int = { if (p >= end) fail(); val v = b(p) & 0xff; p += 1; v }
    /** EBML element ID: length from leading zeros, kept WITH the marker bit. */
    def vintId(): Long = {
      val first = u8()
      if (first == 0) fail()
      val len = Integer.numberOfLeadingZeros(first) - 24 + 1
      var v = first.toLong
      var i = 1
      while (i < len) { v = (v << 8) | u8(); i += 1 }
      v
    }
    /** EBML size: marker bit stripped; all-ones (unknown size) fails. */
    def vintSize(): Long = {
      val first = u8()
      if (first == 0) fail()
      val len = Integer.numberOfLeadingZeros(first) - 24 + 1
      var v = (first & (0xff >>> len)).toLong
      var i = 1
      while (i < len) { v = (v << 8) | u8(); i += 1 }
      if (v == (1L << (7 * len)) - 1) fail() // all-ones = unknown-size element
      v
    }
    def uint(n: Int): Long = {
      if (n < 1 || n > 8) fail()
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 8) | u8(); i += 1 }
      v
    }
    def float(n: Int): Double = n match {
      case 4 => java.lang.Float.intBitsToFloat(uint(4).toInt).toDouble
      case 8 => java.lang.Double.longBitsToDouble(uint(8))
      case _ => fail()
    }
    def str(n: Int): String = {
      if (p + n > end) fail()
      val s = new String(b, p, n, java.nio.charset.StandardCharsets.US_ASCII)
      p += n
      s.takeWhile(_ != 0)
    }
  }

  def decode(bytes: Array[Byte], maxElems: Int = 4096): Option[WebmMeta] =
    try {
      if (bytes == null || bytes.length < 8) return None
      var docType = ""
      var tsScale = 1000000L // EBML default
      var duration = -1.0
      var vw = -1; var vh = -1; var ar = -1; var ach = -1
      var elems = 0
      def bump(): Unit = { elems += 1; if (elems > maxElems) fail() }
      def walk(r: Rd, depth: Int, path: List[Long]): Unit = {
        while (r.p < r.end) {
          bump()
          val id = r.vintId()
          val size = r.vintSize()
          if (size > r.end - r.p) fail()
          val bodyEnd = r.p + size.toInt
          (id, path) match {
            case (0x1A45DFA3L, Nil) => walk(new Rd(r.b, r.p, bodyEnd), depth + 1, id :: path) // EBML header
            case (0x4282L, 0x1A45DFA3L :: _) => docType = r.str(size.toInt)                   // DocType
            case (0x18538067L, Nil) => walk(new Rd(r.b, r.p, bodyEnd), depth + 1, id :: path) // Segment
            case (0x1549A966L, 0x18538067L :: _) =>                                            // Info
              walk(new Rd(r.b, r.p, bodyEnd), depth + 1, id :: path)
            case (0x2AD7B1L, 0x1549A966L :: _) => tsScale = r.uint(size.toInt)                 // TimestampScale
            case (0x4489L, 0x1549A966L :: _) => duration = r.float(size.toInt)                 // Duration
            case (0x1654AE6BL, 0x18538067L :: _) =>                                            // Tracks
              walk(new Rd(r.b, r.p, bodyEnd), depth + 1, id :: path)
            case (0xAEL, 0x1654AE6BL :: _) =>                                                  // TrackEntry
              walk(new Rd(r.b, r.p, bodyEnd), depth + 1, id :: path)
            case (0xE0L, 0xAEL :: _) => walk(new Rd(r.b, r.p, bodyEnd), depth + 1, id :: path) // Video
            case (0xE1L, 0xAEL :: _) => walk(new Rd(r.b, r.p, bodyEnd), depth + 1, id :: path) // Audio
            case (0xB0L, 0xE0L :: _) => vw = r.uint(size.toInt).toInt                          // PixelWidth
            case (0xBAL, 0xE0L :: _) => vh = r.uint(size.toInt).toInt                          // PixelHeight
            case (0xB5L, 0xE1L :: _) => ar = math.round(r.float(size.toInt)).toInt             // SamplingFrequency
            case (0x9FL, 0xE1L :: _) => ach = r.uint(size.toInt).toInt                         // Channels
            case _ => () // skip unknown / unaccounted elements by size
          }
          r.p = bodyEnd
        }
      }
      walk(new Rd(bytes, 0, bytes.length), 0, Nil)
      if (docType.isEmpty) None
      else Some(WebmMeta(docType, tsScale,
        if (duration < 0) -1L else math.round(duration * tsScale / 1e6), vw, vh, ar, ach))
    } catch { case _: Fail | _: ArrayIndexOutOfBoundsException => None }

  /** The Spark seam (the [[Image.decodeStatsStage]] shape). */
  def metaStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame = {
    val sch = StructType(Seq(
      StructField("doc_type", StringType), StructField("timestamp_scale", LongType),
      StructField("duration_ms", LongType), StructField("video_w", IntegerType),
      StructField("video_h", IntegerType), StructField("audio_rate", IntegerType),
      StructField("audio_channels", IntegerType)))
    Stages.payloadStage(df, payloadCol, outCol, sch)(b =>
      decode(b).map(m => org.apache.spark.sql.Row(m.docType, m.timestampScale, m.durationMs,
        m.videoW, m.videoH, m.audioRate, m.audioChannels)))
  }

  // ---------------------------------------------------------------------
  // Fixture encoder (SEPARATE from the decoder).

  private def writeVintSize(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
    // 2-byte size vint covers fixtures (up to 2^14 - 2)
    require(v >= 0 && v < (1L << 14) - 1, "fixture size vint")
    o.write(0x40 | ((v >> 8) & 0x3f).toInt); o.write((v & 0xff).toInt)
  }

  private def elem(o: java.io.ByteArrayOutputStream, id: Long)(body: java.io.ByteArrayOutputStream => Unit): Unit = {
    var idLen = 1
    while (idLen < 8 && (id >>> (8 * idLen)) != 0) idLen += 1
    val b = new java.io.ByteArrayOutputStream()
    body(b)
    var i = idLen - 1
    while (i >= 0) { o.write(((id >> (8 * i)) & 0xff).toInt); i -= 1 }
    writeVintSize(o, b.size)
    b.writeTo(o)
  }

  private def uintBytes(v: Long): Array[Byte] = {
    var n = 1
    while (n < 8 && (v >>> (8 * n)) != 0) n += 1
    Array.tabulate(n)(i => ((v >> (8 * (n - 1 - i))) & 0xff).toByte)
  }

  /** Minimal WebM: EBML header (DocType), Segment(Info(TimestampScale,
    * Duration float64), Tracks(video TrackEntry, audio TrackEntry)),
    * plus an unknown Void element the walk must skip. */
  def encodeWebm(durationTicks: Double, tsScale: Long, vw: Int, vh: Int,
                 audioRate: Double, channels: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    elem(out, 0x1A45DFA3L) { h =>
      elem(h, 0x4282L)(_.write("webm".getBytes))
    }
    elem(out, 0x18538067L) { seg =>
      elem(seg, 0x1549A966L) { info =>
        elem(info, 0x2AD7B1L)(_.write(uintBytes(tsScale)))
        elem(info, 0x4489L) { d =>
          val bits = java.lang.Double.doubleToLongBits(durationTicks)
          (0 until 8).foreach(i => d.write(((bits >> (8 * (7 - i))) & 0xff).toInt))
        }
      }
      elem(seg, 0xECL)(v => (0 until 9).foreach(v.write)) // Void: must be skipped
      elem(seg, 0x1654AE6BL) { tracks =>
        elem(tracks, 0xAEL) { te =>
          elem(te, 0xD7L)(_.write(uintBytes(1)))  // TrackNumber
          elem(te, 0x83L)(_.write(uintBytes(1)))  // TrackType video
          elem(te, 0xE0L) { v =>
            elem(v, 0xB0L)(_.write(uintBytes(vw)))
            elem(v, 0xBAL)(_.write(uintBytes(vh)))
          }
        }
        elem(tracks, 0xAEL) { te =>
          elem(te, 0xD7L)(_.write(uintBytes(2)))
          elem(te, 0x83L)(_.write(uintBytes(2)))  // TrackType audio
          elem(te, 0xE1L) { a =>
            elem(a, 0xB5L) { f =>
              val bits = java.lang.Float.floatToIntBits(audioRate.toFloat)
              (0 until 4).foreach(i => f.write((bits >> (8 * (3 - i))) & 0xff))
            }
            elem(a, 0x9FL)(_.write(uintBytes(channels)))
          }
        }
      }
    }
    out.toByteArray
  }
}
