package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** REAL video-frame pixel decode: Motion-JPEG in an AVI (RIFF) container
  * — the one mainstream video format whose frames are decodable with the
  * codecs already in the engine (every frame is a complete baseline or
  * progressive JPEG, [[Jpeg.decode]]). Extends the [[Multimodal]] family
  * past [[Mp4Meta]]'s metadata-only walk to actual pixels: a training
  * pipeline uses this shape for frame-level dedup (dHash per frame),
  * thumbnail checks, and sampling frames into vision-model batches.
  *
  * Container walk (Microsoft AVI RIFF form, public spec; same
  * little-endian chunk discipline as [[Audio.decodeWavPcm]]):
  * `RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf)) LIST('movi'
  * 00dc...))`. The walk validates the avih main header, requires ONE
  * 'vids' stream whose handler/compression is 'MJPG', then yields the
  * '00dc'/'00db' frame chunks in stream order. Chunk sizes are bounds-
  * checked against the payload and a hop budget caps hostile chunk
  * lists; any container malformation fails to None, never garbage. A
  * frame whose OWN JPEG bytes are corrupt decodes to a null frame row
  * (quarantine at frame granularity — the container is still sound).
  *
  * Scale shape: map-only per payload row (the [[Image.decodePng]]
  * contract); per-frame rows explode downstream so frame stats ride
  * ordinary columnar projections.
  */
object Avi {

  /** One frame's decode result; `ok=false` (null stats) when the frame
    * chunk's JPEG is malformed. */
  final case class FrameStats(idx: Int, ok: Boolean, width: Int, height: Int,
                              pixelSum: Long, grayMid: Int)

  /** Container-level metadata from avih (validated against strh). */
  final case class AviMeta(usPerFrame: Int, declaredFrames: Int,
                           width: Int, height: Int, frames: Seq[FrameStats])

  import Audio.{ascii, le}

  /** Decode an MJPEG AVI payload: container metadata + per-frame JPEG
    * decode stats. None on any container-level malformation (bad RIFF
    * form, missing/undersized avih or strh/strf, a non-'vids' or
    * non-MJPG stream, chunk sizes past the payload or `maxBytes`, more
    * than `maxFrames` frame chunks, more than `maxHops` structural
    * chunks or `4*maxFrames` movi children). */
  def decodeMjpeg(bytes: Array[Byte], maxFrames: Int = 256,
                  maxBytes: Int = 1 << 26, maxHops: Int = 64): Option[AviMeta] = {
    if (bytes == null || bytes.length < 12) return None
    if (ascii(bytes, 0) != "RIFF" || ascii(bytes, 8) != "AVI ") return None
    val riffSize = le(bytes, 4, 4)
    if (riffSize < 4 || riffSize > maxBytes || 8 + riffSize > bytes.length) return None
    var usPerFrame = -1; var declaredFrames = -1
    var width = -1; var height = -1
    var vidsMjpg = false
    val frameSpans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var hops = 0       // structural (non-movi) chunks only
    var moviChunks = 0 // movi children: frames + interleaved audio + pad
    def walk(from: Int, to: Int, inMovi: Boolean): Boolean = { // false = malformed
      var off = from
      while (off + 8 <= to) {
        // `maxHops` bounds header/structure chunks; movi children are
        // bounded by the frame cap instead (an interleaved A/V clip has
        // one movi chunk per frame per stream, far more than 64)
        if (inMovi) { moviChunks += 1; if (moviChunks > 4 * maxFrames) return false }
        else { hops += 1; if (hops > maxHops) return false }
        val id = ascii(bytes, off)
        val size = le(bytes, off + 4, 4)
        if (size < 0 || size > maxBytes || off + 8 + size > to) return false
        val sz = size.toInt
        val body = off + 8
        if (id == "LIST") {
          if (sz < 4) return false
          val form = ascii(bytes, body)
          if (form == "hdrl" || form == "strl" || form == "movi") {
            if (!walk(body + 4, body + sz, form == "movi")) return false
          } // other LIST forms (INFO, odml): skipped opaquely
        } else id match {
          case "avih" =>
            if (sz < 56) return false
            usPerFrame = le(bytes, body, 4).toInt
            declaredFrames = le(bytes, body + 16, 4).toInt
            width = le(bytes, body + 32, 4).toInt
            height = le(bytes, body + 36, 4).toInt
            if (usPerFrame <= 0 || declaredFrames < 0 || width <= 0 || height <= 0) return false
          case "strh" =>
            if (sz < 56) return false
            if (ascii(bytes, body) == "vids") {
              if (ascii(bytes, body + 4) != "MJPG") return false // other codecs: out of scope
              vidsMjpg = true
            }
          case "strf" =>
            // BITMAPINFOHEADER for the video stream: biCompression at +16
            if (vidsMjpg && sz >= 40 && ascii(bytes, body + 16) != "MJPG") return false
          case _ if inMovi && (id.endsWith("dc") || id.endsWith("db")) =>
            if (frameSpans.length >= maxFrames) return false
            frameSpans += ((body, sz))
          case _ => () // JUNK, idx1, non-video streams: skipped
        }
        off = body + sz + (sz & 1) // RIFF pad byte
      }
      true
    }
    if (!walk(12, 8 + riffSize.toInt, inMovi = false)) return None
    if (usPerFrame < 0 || !vidsMjpg) return None
    val frames = frameSpans.zipWithIndex.map { case ((o, sz), i) =>
      Jpeg.decode(java.util.Arrays.copyOfRange(bytes, o, o + sz)) match {
        case Some(img) if img.width == width && img.height == height =>
          FrameStats(i, ok = true, img.width, img.height, img.pixelSum, img.grayMid)
        case _ => FrameStats(i, ok = false, -1, -1, -1L, -1) // frame-level quarantine
      }
    }.toSeq
    Some(AviMeta(usPerFrame, declaredFrames, width, height, frames))
  }

  /** The Spark seam: ONE ROW PER FRAME (container meta repeated), null
    * frame stats for frame-level quarantines, and a single all-null row
    * when the container itself is malformed — so downstream filters see
    * both quarantine granularities as ordinary scalar columns (never an
    * array-typed output). */
  def frameStatsStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame = {
    val sch = StructType(Seq(
      StructField("us_per_frame", IntegerType), StructField("declared_frames", IntegerType),
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("frame_idx", IntegerType), StructField("frame_ok", BooleanType),
      StructField("pixel_sum", LongType), StructField("gray_mid", IntegerType)))
    Stages.explodePayload(df, payloadCol, outCol, sch)(b =>
      decodeMjpeg(b).map { m =>
        if (m.frames.isEmpty)
          // valid container, zero frame chunks: keep the container meta,
          // null frame fields (vs the null struct of a malformed payload)
          Seq(org.apache.spark.sql.Row(m.usPerFrame, m.declaredFrames,
            m.width, m.height, null, null, null, null))
        else m.frames.map { f =>
          org.apache.spark.sql.Row(m.usPerFrame, m.declaredFrames, m.width, m.height,
            f.idx, f.ok, if (f.ok) f.pixelSum else null, if (f.ok) f.grayMid else null)
        }
      })
  }

  // ---------------------------------------------------------------------
  // Fixture encoder (SEPARATE from the decoder, the JpegSpec discipline).

  /** Build a minimal spec-shaped MJPEG AVI from already-encoded JPEG
    * frames: RIFF('AVI ' hdrl(avih, strl(strh 'vids'/'MJPG', strf
    * BITMAPINFOHEADER 'MJPG')) movi(00dc...)). */
  def encodeMjpegAvi(w: Int, h: Int, usPerFrame: Int,
                     jpegFrames: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def b32(v: Long): Unit = { out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt) }
    def fcc(s: String): Unit = out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(id.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val n = body.length
      o.write(n & 0xff); o.write((n >> 8) & 0xff); o.write((n >> 16) & 0xff); o.write((n >> 24) & 0xff)
      o.write(body)
      if (n % 2 == 1) o.write(0) // RIFF pad
      o.toByteArray
    }
    def list(form: String, bodies: Seq[Array[Byte]]): Array[Byte] = {
      val inner = new java.io.ByteArrayOutputStream()
      inner.write(form.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      bodies.foreach(inner.write)
      chunk("LIST", inner.toByteArray)
    }
    def leBytes(pairs: (Int, Int)*): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      pairs.foreach { case (v, len) =>
        var i = 0
        // len > 4 only ever carries v = 0 (reserved fields)
        while (i < len) { o.write(if (i < 4) (v >> (8 * i)) & 0xff else 0); i += 1 }
      }
      o.toByteArray
    }
    val avih = leBytes((usPerFrame, 4), (0, 4), (0, 4), (0, 4), (jpegFrames.length, 4),
      (0, 4), (1, 4), (0, 4), (w, 4), (h, 4), (0, 16))
    val strh = new java.io.ByteArrayOutputStream()
    strh.write("vids".getBytes); strh.write("MJPG".getBytes)
    strh.write(leBytes((0, 4), (0, 4), (0, 4), (1, 4), (25, 4), (0, 4),
      (jpegFrames.length, 4), (0, 4), (0, 4), (0, 4), (0, 8)))
    val strf = leBytes((40, 4), (w, 4), (h, 4), (1, 2), (24, 2)) ++
      "MJPG".getBytes ++ leBytes((0, 4), (0, 4), (0, 4), (0, 4), (0, 4))
    val hdrl = list("hdrl", Seq(chunk("avih", avih),
      list("strl", Seq(chunk("strh", strh.toByteArray), chunk("strf", strf)))))
    val movi = list("movi", jpegFrames.map(f => chunk("00dc", f)))
    val body = hdrl ++ movi
    fcc("RIFF"); b32(body.length + 4); fcc("AVI ")
    out.write(body)
    out.toByteArray
  }
}
