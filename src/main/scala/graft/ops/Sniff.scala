package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Content-based format detection + routed decode health — the ingest
  * front door for a mixed binary corpus. The reference routes uploads
  * by file extension (`backend/services/document_service.py`); at crawl
  * scale extensions lie, so the engine sniffs magic bytes and routes
  * each payload to the matching walker already in the engine, emitting
  * a per-payload health verdict. One map-only pass; the per-format
  * decode stages stay the deep gates (m2/m5/m15/wds1/…) — this is the
  * dispatcher above them.
  *
  * Detection order matters where magics nest (RIFF discriminates on the
  * form fourcc; TAR has its magic at offset 257; TFRecord has NO magic
  * and is detected LAST by verifying the first record's masked CRC32C —
  * a 1-in-2³² false-positive rate on truly unknown bytes). */
object Sniff {

  /** Best-effort format tag, "unknown" when nothing matches. */
  def detect(b: Array[Byte]): String = {
    if (b == null || b.length < 8) return "unknown"
    def at(p: Int, s: String): Boolean =
      p + s.length <= b.length && (0 until s.length).forall(i => (b(p + i) & 0xff) == s.charAt(i))
    if (b.length >= 8 && (b(0) & 0xff) == 0x89 && at(1, "PNG") &&
        (b(4) & 0xff) == 0x0d && (b(5) & 0xff) == 0x0a && (b(6) & 0xff) == 0x1a &&
        (b(7) & 0xff) == 0x0a) "png"
    else if (at(0, "GIF87a") || at(0, "GIF89a")) "gif"
    else if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 && (b(2) & 0xff) == 0xff) "jpeg"
    else if (at(0, "%PDF-")) "pdf"
    else if (at(0, "RIFF") && at(8, "WAVE")) "wav"
    else if (at(0, "RIFF") && at(8, "AVI ")) "avi"
    else if (at(0, "RIFF") && at(8, "WEBP")) "webp"
    else if (at(0, "PK") && (b(2) & 0xff) == 0x03 && (b(3) & 0xff) == 0x04) "zip"
    else if (at(0, "BZh") && b(3) >= '1' && b(3) <= '9') "bz2"
    else if (at(0, "Obj") && (b(3) & 0xff) == 0x01) "avro"
    else if ((b(0) & 0xff) == 0x28 && (b(1) & 0xff) == 0xb5 &&
             (b(2) & 0xff) == 0x2f && (b(3) & 0xff) == 0xfd) "zstd"
    else if ((b(0) & 0xff) == 0x04 && (b(1) & 0xff) == 0x22 &&
             (b(2) & 0xff) == 0x4d && (b(3) & 0xff) == 0x18) "lz4"
    else if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0x06 &&
             (b(2) & 0xff) == 0x00 && (b(3) & 0xff) == 0x00 && at(4, "sNaPpY")) "snappy"
    else if ((b(0) & 0xff) == 0xfd && at(1, "7zXZ") && (b(5) & 0xff) == 0x00) "xz"
    else if (at(0, "7z") && (b(2) & 0xff) == 0xbc && (b(3) & 0xff) == 0xaf &&
             (b(4) & 0xff) == 0x27 && (b(5) & 0xff) == 0x1c) "7z"
    else if (at(0, "!<arch>\n")) "ar"
    else if (at(0, "070701") || at(0, "070702")) "cpio" // newc / newc+crc
    else if (b.length >= 265 && at(257, "ustar")) "tar"
    // parquet/orc AFTER tar: a tar member named "PAR1…"/"ORC…" puts those
    // bytes at offset 0, but tar's own magic at 257 discriminates
    else if (at(0, "PAR1")) "parquet"
    // ORC: head magic AND the postscript's closing "ORC" just before the
    // final length byte — head alone would misroute text ("ORCHESTRA…")
    else if (at(0, "ORC") && b.length >= 8 && at(b.length - 4, "ORC")) "orc"
    // Arrow IPC file: magic at BOTH ends (same two-ended rule as orc)
    else if (at(0, "ARROW1") && b.length >= 12 && at(b.length - 6, "ARROW1")) "arrow"
    else if (at(4, "ftyp")) "mp4"
    else if ((b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b) "gzip"
    else if (at(0, "WARC/")) "warc"
    else if (at(0, "fLaC")) "flac"
    else if (at(0, "OggS")) "ogg"
    else if ((b(0) & 0xff) == 0x1a && (b(1) & 0xff) == 0x45 &&
             (b(2) & 0xff) == 0xdf && (b(3) & 0xff) == 0xa3) "webm"
    else if (at(0, "ID3") ||
             ((b(0) & 0xff) == 0xff && (b(1) & 0xe0) == 0xe0)) "mp3" // after jpeg: FFD8 is claimed
    else if (TfRecord.firstRecordValid(b)) "tfrecord"
    else "unknown"
  }

  /** Route to the matching walker and report whether it accepts the
    * payload. Formats whose deep decode lives elsewhere get their
    * container walk here (health = the walk's quarantine verdict). */
  def healthy(fmt: String, b: Array[Byte]): Boolean = fmt match {
    case "png" => Image.decodePng(b).nonEmpty
    case "gif" => Gif.decodeGif(b).nonEmpty
    case "jpeg" => Jpeg.decode(b).nonEmpty
    case "wav" => Audio.decodeWavPcm(b).nonEmpty
    case "avi" => Avi.decodeMjpeg(b).exists(m => m.frames.forall(_.ok))
    case "webp" => Webp.dims(b).nonEmpty
    case "zip" => Zip.listEntries(b).exists(es => es.forall(e => Zip.extract(b, e).nonEmpty))
    case "tar" => Tar.listMembers(b).nonEmpty
    case "tfrecord" => TfRecord.readRecords(b, maxRecords = 1 << 20).nonEmpty
    case "flac" => AudioMeta.decodeFlac(b).nonEmpty
    case "ogg" => AudioMeta.decodeOgg(b).nonEmpty
    case "mp3" => AudioMeta.decodeMp3(b).nonEmpty
    case "webm" => Ebml.decode(b).nonEmpty
    case "gzip" => Warc.gunzipMember(b).nonEmpty
    case "bz2" => Bzip2.decode(b).nonEmpty
    case "avro" => Avro.decode(b).exists(_.blocks.forall(_.ok))
    case "zstd" => Codecs.unzstd(b).nonEmpty
    case "lz4" => Codecs.unlz4(b).nonEmpty
    case "snappy" => Codecs.unsnappy(b).nonEmpty
    case "xz" => Codecs.unxz(b).nonEmpty
    case "7z" => SevenZip.healthy(b)
    case "ar" => Ar.healthy(b)
    case "cpio" => Cpio.healthy(b)
    case "parquet" =>
      // structural footer check (PAR1 head AND tail, bounded footer
      // length); deep reads go through spark.read.parquet on a PATH
      b != null && b.length >= 12 &&
        (0 until 4).forall(i => b(b.length - 4 + i) == "PAR1".charAt(i).toByte) && {
          var fl = 0L
          var i = 3
          while (i >= 0) { fl = (fl << 8) | (b(b.length - 8 + i) & 0xffL); i -= 1 }
          fl > 0 && fl + 12 <= b.length
        }
    case "arrow" => ArrowIpc.decode(b).nonEmpty
    case "orc" =>
      // postscript length byte must address a span inside the payload
      // (guard first: healthy is public API and may see payloads detect
      // never vetted)
      b != null && b.length >= 8 && {
        val ps = b(b.length - 1) & 0xff
        ps > 0 && ps + 4 <= b.length
      }
    case _ => false // pdf/mp4/warc: detected here, health-gated by their own deep stages
  }

  /** The Spark seam: (format, ok) per payload. */
  def routeStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame = {
    val idx = df.schema.fieldIndex(payloadCol)
    val sch = StructType(Seq(
      StructField("format", StringType), StructField("ok", BooleanType)))
    Stages.appendFields(df, Seq(StructField(outCol, sch)))( r => {
      val b = r.getAs[Array[Byte]](idx)
      val fmt = detect(b)
      Seq(org.apache.spark.sql.Row(fmt, fmt != "unknown" && healthy(fmt, b)))
    })
  }
}
