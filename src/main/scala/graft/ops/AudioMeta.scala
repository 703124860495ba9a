package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Compressed-audio METADATA decode — the audio twin of the five-format
  * image dims family (m2/m6): MP3, FLAC, and Ogg headers parsed from
  * public byte layouts, no codec library, fail-to-null. Payload audio
  * stays opaque (full decode is out of zero-dep scope); what a corpus
  * pipeline needs at ingest is duration/rate/channel accounting and
  * malformation quarantine, which these walks provide exactly.
  *
  *  - MP3 (MPEG-1/2 Layer III): optional ID3v2 tag skip (syncsafe
  *    size), then a frame-header walk — 11-bit sync, version/layer
  *    bits, bitrate + samplerate table lookups, padding bit, frame
  *    length arithmetic. Reports frame count, samplerate, and total
  *    samples (1152 or 576 per frame by version).
  *  - FLAC: "fLaC" magic then the mandatory first STREAMINFO block —
  *    20-bit sample rate, 3-bit channels-1, 5-bit bits-1, 36-bit total
  *    samples.
  *  - Ogg: "OggS" page walk — version 0, segment-table page sizes, the
  *    last page's granule position (= total samples for Vorbis/Opus
  *    streams).
  */
object AudioMeta {

  final case class Meta(format: String, sampleRate: Int, channels: Int,
                        frames: Long, totalSamples: Long)

  // MPEG-1 Layer III bitrates (kbps) and sample rates, public tables
  private val Mp3BitrateV1 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
  private val Mp3BitrateV2 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)
  private val Mp3RateV1 = Array(44100, 48000, 32000, 0)
  private val Mp3RateV2 = Array(22050, 24000, 16000, 0)
  private val Mp3RateV25 = Array(11025, 12000, 8000, 0)

  def decodeMp3(b: Array[Byte], maxFrames: Int = 1 << 20): Option[Meta] = {
    if (b == null || b.length < 10) return None
    var p = 0
    // ID3v2: "ID3" ver(2) flags(1) syncsafe size(4)
    if (b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val size = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) | ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      p = 10 + size
      if (p >= b.length) return None
    }
    var frames = 0L
    var rate = -1
    var channels = -1
    var samplesPerFrame = 0
    var done = false
    while (!done && p + 4 <= b.length) {
      // Recognized end-of-stream tags, extremely common in real corpora:
      // ID3v1 ('TAG', exactly 128 bytes) or an APEv2 block ('APETAGEX'
      // header, 32-byte header + LE size at +12, optionally followed by
      // ID3v1). Anything else after the last frame is still malformed.
      if (frames > 0 && b.length - p == 128 && b(p) == 'T' && b(p + 1) == 'A' && b(p + 2) == 'G') {
        p = b.length; done = true
      } else if (frames > 0 && b.length - p >= 32 && b(p) == 'A' && b(p + 1) == 'P' &&
        b(p + 2) == 'E' && b(p + 3) == 'T' && b(p + 4) == 'A' && b(p + 5) == 'G' &&
        b(p + 6) == 'E' && b(p + 7) == 'X') {
        val apeSize = ((b(p + 12) & 0xffL)) | ((b(p + 13) & 0xffL) << 8) |
          ((b(p + 14) & 0xffL) << 16) | ((b(p + 15) & 0xffL) << 24)
        val end = p.toLong + 32 + apeSize
        if (end == b.length || (end + 128 == b.length && b(end.toInt) == 'T' &&
          b(end.toInt + 1) == 'A' && b(end.toInt + 2) == 'G')) { p = b.length; done = true }
        else return None
      } else {
      val h = ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
      if ((h >>> 21) != 0x7ff) return None // desync = malformed
      val version = (h >> 19) & 3   // 0=2.5, 2=MPEG2, 3=MPEG1
      val layer = (h >> 17) & 3     // 1 = Layer III
      if (version == 1 || layer != 1) return None
      val brIdx = (h >> 12) & 0xf
      val srIdx = (h >> 10) & 3
      val padding = (h >> 9) & 1
      val mode = (h >> 6) & 3
      val bitrate = (if (version == 3) Mp3BitrateV1 else Mp3BitrateV2)(brIdx) * 1000
      val sr = (version match {
        case 3 => Mp3RateV1
        case 2 => Mp3RateV2
        case _ => Mp3RateV25
      })(srIdx)
      if (bitrate == 0 || sr == 0) return None
      if (rate < 0) { rate = sr; channels = if (mode == 3) 1 else 2 }
      else if (rate != sr) return None // mixed-rate streams out of scope
      samplesPerFrame = if (version == 3) 1152 else 576
      val frameLen = samplesPerFrame / 8 * bitrate / sr + padding
      if (frameLen <= 4 || p + frameLen > b.length) return None // torn final frame: quarantine
      frames += 1
      if (frames > maxFrames) return None
      p += frameLen
      }
    }
    if (frames == 0 || p != b.length) return None
    Some(Meta("mp3", rate, channels, frames, frames * samplesPerFrame))
  }

  def decodeFlac(b: Array[Byte]): Option[Meta] = {
    if (b == null || b.length < 4 + 4 + 34) return None
    if (!(b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')) return None
    // first metadata block header: last-flag + type(7) = STREAMINFO(0), 24-bit length
    if ((b(4) & 0x7f) != 0) return None
    val len = ((b(5) & 0xff) << 16) | ((b(6) & 0xff) << 8) | (b(7) & 0xff)
    if (len < 34 || 8 + len > b.length) return None
    val o = 8
    val rate = ((b(o + 10) & 0xff) << 12) | ((b(o + 11) & 0xff) << 4) | ((b(o + 12) & 0xf0) >> 4)
    val channels = ((b(o + 12) & 0x0e) >> 1) + 1
    val total = ((b(o + 13) & 0x0fL) << 32) | ((b(o + 14) & 0xffL) << 24) |
      ((b(o + 15) & 0xffL) << 16) | ((b(o + 16) & 0xffL) << 8) | (b(o + 17) & 0xffL)
    if (rate < 1) return None
    Some(Meta("flac", rate, channels, -1L, total))
  }

  def decodeOgg(b: Array[Byte], maxPages: Int = 1 << 16): Option[Meta] = {
    if (b == null || b.length < 27) return None
    var p = 0
    var pages = 0L
    var granule = -1L
    while (p + 27 <= b.length) {
      if (!(b(p) == 'O' && b(p + 1) == 'g' && b(p + 2) == 'g' && b(p + 3) == 'S')) return None
      if (b(p + 4) != 0) return None // stream structure version
      var g = 0L
      var i = 7
      while (i >= 0) { g = (g << 8) | (b(p + 6 + i) & 0xffL); i -= 1 }
      val nSegs = b(p + 26) & 0xff
      if (p + 27 + nSegs > b.length) return None
      var body = 0
      i = 0
      while (i < nSegs) { body += b(p + 27 + i) & 0xff; i += 1 }
      if (p + 27 + nSegs + body > b.length) return None
      if (g >= 0) granule = g // -1 marks a continuation-only page
      pages += 1
      if (pages > maxPages) return None
      p += 27 + nSegs + body
    }
    if (pages == 0 || p != b.length) return None
    Some(Meta("ogg", -1, -1, pages, granule))
  }

  /** Route by magic: ID3/sync → MP3, fLaC → FLAC, OggS → Ogg. */
  def decode(b: Array[Byte]): Option[Meta] = {
    if (b == null || b.length < 4) None
    else if (b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C') decodeFlac(b)
    else if (b(0) == 'O' && b(1) == 'g' && b(2) == 'g' && b(3) == 'S') decodeOgg(b)
    else decodeMp3(b)
  }

  /** The Spark seam (the [[Image.decodeStatsStage]] shape). */
  def metaStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame = {
    val sch = StructType(Seq(
      StructField("format", StringType), StructField("sample_rate", IntegerType),
      StructField("channels", IntegerType), StructField("frames", LongType),
      StructField("total_samples", LongType)))
    Stages.payloadStage(df, payloadCol, outCol, sch)(b =>
      decode(b).map(m => org.apache.spark.sql.Row(m.format, m.sampleRate, m.channels,
        m.frames, m.totalSamples)))
  }

  // ---------------------------------------------------------------------
  // Fixture encoders (SEPARATE from the decoders).

  /** Header-complete MPEG-1 Layer III stream: `nFrames` frames at the
    * given bitrate index / samplerate index. Frame bodies are filler. */
  def encodeMp3(nFrames: Int, brIdx: Int, srIdx: Int, id3Size: Int = 0,
                stereo: Boolean = true): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    if (id3Size > 0) {
      out.write("ID3".getBytes); out.write(3); out.write(0); out.write(0)
      out.write((id3Size >> 21) & 0x7f); out.write((id3Size >> 14) & 0x7f)
      out.write((id3Size >> 7) & 0x7f); out.write(id3Size & 0x7f)
      (0 until id3Size).foreach(k => out.write(k * 13 & 0xff))
    }
    val sr = Mp3RateV1(srIdx)
    val br = Mp3BitrateV1(brIdx) * 1000
    var f = 0
    while (f < nFrames) {
      val padding = 0
      val frameLen = 1152 / 8 * br / sr + padding
      val mode = if (stereo) 0 else 3
      val h = (0x7ff << 21) | (3 << 19) | (1 << 17) | (1 << 16) |
        (brIdx << 12) | (srIdx << 10) | (padding << 9) | (mode << 6)
      out.write((h >>> 24) & 0xff); out.write((h >> 16) & 0xff)
      out.write((h >> 8) & 0xff); out.write(h & 0xff)
      (4 until frameLen).foreach(k => out.write((k * 7 + f) & 0xff))
      f += 1
    }
    out.toByteArray
  }

  /** fLaC + STREAMINFO with the given rate/channels/total samples. */
  def encodeFlac(rate: Int, channels: Int, totalSamples: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes)
    out.write(0x80); out.write(0); out.write(0); out.write(34) // last block, STREAMINFO, len 34
    val si = new Array[Byte](34)
    si(10) = ((rate >> 12) & 0xff).toByte
    si(11) = ((rate >> 4) & 0xff).toByte
    si(12) = (((rate & 0xf) << 4) | ((channels - 1) << 1)).toByte
    si(13) = ((totalSamples >> 32) & 0x0f).toByte
    si(14) = ((totalSamples >> 24) & 0xff).toByte
    si(15) = ((totalSamples >> 16) & 0xff).toByte
    si(16) = ((totalSamples >> 8) & 0xff).toByte
    si(17) = (totalSamples & 0xff).toByte
    out.write(si)
    out.toByteArray
  }

  /** Ogg page sequence; page i carries `bodySizes(i)` filler bytes and
    * the final page carries `granule`. */
  def encodeOgg(bodySizes: Seq[Int], granule: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bodySizes.zipWithIndex.foreach { case (size, i) =>
      out.write("OggS".getBytes); out.write(0); out.write(if (i == 0) 2 else 0) // BOS flag
      val g = if (i == bodySizes.length - 1) granule else (i + 1) * 100L
      (0 until 8).foreach(k => out.write(((g >> (8 * k)) & 0xff).toInt))
      (0 until 4).foreach(_ => out.write(7)) // serial
      (0 until 4).foreach(k => out.write((i >> (8 * k)) & 0xff)) // page seq
      (0 until 4).foreach(_ => out.write(0)) // crc (not verified by the walk)
      // segment table: 255-sized lacing + remainder
      val full = size / 255; val rem = size % 255
      out.write(full + 1)
      (0 until full).foreach(_ => out.write(255))
      out.write(rem)
      (0 until size).foreach(k => out.write((k * 11 + i) & 0xff))
    }
    out.toByteArray
  }
}
