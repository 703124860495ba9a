package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** TAR (ustar) shard ingestion — the WebDataset layout: large-scale
  * multimodal training corpora ship as .tar shards whose members group
  * into samples by basename (`000017.jpg` + `000017.txt` + `000017.cls`
  * = one sample), streamed sequentially for I/O locality. The engine
  * ingests a shard as one binary payload → one row per member, and
  * downstream relational ops reassemble samples with an ordinary
  * groupBy — no special sample object, which is exactly why the layout
  * scales (a 100 TB corpus is just many independent shard rows).
  *
  * Header walk (POSIX ustar, public spec): 512-byte header blocks —
  * name[100] mode uid gid size[12 octal] mtime chksum[8] typeflag
  * linkname magic("ustar") … — each followed by ceil(size/512) data
  * blocks; the archive ends at two zero blocks. The checksum (unsigned
  * byte sum with the chksum field read as spaces) is VERIFIED per
  * member; any bad octal field, checksum mismatch, or size overrun
  * fails the shard to None (the [[Image.decodePng]] quarantine
  * contract — a torn shard must not yield silently-partial samples).
  *
  * Scale shape: map-only per shard row; member payloads explode to rows
  * and all sample assembly is hash-aggregate work on (shard, key).
  */
object Tar {

  /** One archive member: `data` spans [off, off+size) in the payload. */
  final case class Member(name: String, size: Int, typeflag: Char, off: Int)

  private def octal(bytes: Array[Byte], pos: Int, len: Int): Long = {
    var v = 0L
    var i = pos
    val end = pos + len
    // leading spaces/NULs tolerated, terminated by space or NUL
    while (i < end && (bytes(i) == ' '.toByte || bytes(i) == 0)) i += 1
    var seen = false
    while (i < end && bytes(i) != 0 && bytes(i) != ' '.toByte) {
      val c = bytes(i) - '0'
      if (c < 0 || c > 7) return -1L
      v = v * 8 + c
      seen = true
      i += 1
    }
    if (seen) v else -1L
  }

  private def cstr(bytes: Array[Byte], pos: Int, len: Int): String = {
    var n = 0
    while (n < len && bytes(pos + n) != 0) n += 1
    new String(bytes, pos, n, java.nio.charset.StandardCharsets.US_ASCII)
  }

  /** List a shard's members with checksum verification. None on any
    * malformation; empty archives (immediate zero block) yield Nil. */
  def listMembers(bytes: Array[Byte], maxMembers: Int = 4096): Option[Seq[Member]] = {
    if (bytes == null || bytes.length < 512) return None
    val out = scala.collection.mutable.ArrayBuffer.empty[Member]
    var off = 0
    while (off + 512 <= bytes.length) {
      // end-of-archive: a zero header block
      var allZero = true
      var i = 0
      while (allZero && i < 512) { if (bytes(off + i) != 0) allZero = false; i += 1 }
      if (allZero) return Some(out.toSeq)
      if (out.length >= maxMembers) return None
      // verify the header checksum: unsigned byte sum, chksum field as spaces
      val stored = octal(bytes, off + 148, 8)
      if (stored < 0) return None
      var sum = 0L
      i = 0
      while (i < 512) {
        sum += (if (i >= 148 && i < 156) ' '.toInt else bytes(off + i) & 0xff)
        i += 1
      }
      if (sum != stored) return None
      val size = octal(bytes, off + 124, 12)
      if (size < 0 || size > Int.MaxValue - 1024) return None
      val base = cstr(bytes, off, 100)
      if (base.isEmpty) return None
      // ustar prefix field (long paths split at a '/')
      val prefix = if (bytes(off + 345) != 0) cstr(bytes, off + 345, 155) else ""
      val name = if (prefix.isEmpty) base else prefix + "/" + base
      val typeflag = { val t = bytes(off + 156); if (t == 0) '0' else t.toChar }
      val dataOff = off + 512
      val dataBlocks = ((size + 511) / 512).toInt
      if (dataOff + dataBlocks.toLong * 512 > bytes.length) return None // torn shard
      if (typeflag == '0') out += Member(name, size.toInt, typeflag, dataOff)
      off = dataOff + dataBlocks * 512
    }
    None // ran out of bytes without the end-of-archive marker
  }

  /** The Spark seam: one row per regular-file member (name, size,
    * payload bytes) under the three-way [[Stages.explodePayload]]
    * contract (null struct for a malformed shard, null-membered struct
    * for a valid empty one). The WebDataset convention rides on top:
    * `sample_key` = name up to the last dot OF THE BASENAME, `ext` after
    * it (dots in directory names never split). */
  def memberStage(df: DataFrame, payloadCol: String, outCol: String,
                  maxMemberBytes: Int = 1 << 24): DataFrame = {
    val sch = StructType(Seq(
      StructField("sample_key", StringType), StructField("ext", StringType),
      StructField("name", StringType), StructField("size", IntegerType),
      StructField("data", BinaryType)))
    Stages.explodePayload(df, payloadCol, outCol, sch)(b =>
      listMembers(b).map(_.map { m =>
        // the WebDataset key/ext split is over the BASENAME — a dotted
        // directory ("shard.v1/000017") must not donate the dot
        val slash = m.name.lastIndexOf('/')
        val dot = m.name.lastIndexOf('.')
        val (key, ext) = if (dot <= slash + 1) (m.name, "")
                         else (m.name.take(dot), m.name.drop(dot + 1))
        val data = if (m.size > maxMemberBytes) null // oversized member: quarantine its payload
                   else java.util.Arrays.copyOfRange(b, m.off, m.off + m.size)
        org.apache.spark.sql.Row(key, ext, m.name, m.size, data)
      }))
  }

  // ---------------------------------------------------------------------
  // Fixture encoder (SEPARATE from the decoder, the JpegSpec discipline).

  /** Build a ustar shard from (name, data) members: checksummed headers,
    * 512-byte padding, two-zero-block trailer. */
  def encodeTar(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    members.foreach { case (name, data) =>
      require(name.getBytes(java.nio.charset.StandardCharsets.US_ASCII).length <= 100, "name too long")
      val hdr = new Array[Byte](512)
      def put(s: String, pos: Int): Unit = {
        val b = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        System.arraycopy(b, 0, hdr, pos, b.length)
      }
      put(name, 0)
      put("0000644", 100); put("0000000", 108); put("0000000", 116) // mode/uid/gid
      put(f"${data.length}%011o", 124)
      put("00000000000", 136) // mtime
      java.util.Arrays.fill(hdr, 148, 156, ' '.toByte) // chksum as spaces first
      hdr(156) = '0'
      put("ustar", 257); hdr(262) = 0; put("00", 263)
      var sum = 0L
      var i = 0
      while (i < 512) { sum += hdr(i) & 0xff; i += 1 }
      put(f"$sum%06o", 148); hdr(154) = 0; hdr(155) = ' '.toByte
      out.write(hdr)
      out.write(data)
      val pad = (512 - data.length % 512) % 512
      out.write(new Array[Byte](pad))
    }
    out.write(new Array[Byte](1024)) // end-of-archive
    out.toByteArray
  }
}
