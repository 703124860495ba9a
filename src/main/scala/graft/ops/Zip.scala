package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** ZIP archive walk + DOCX text extraction — the office-document corpus
  * path (enterprise corpora are .docx/.xlsx-heavy, and both are ZIPs of
  * XML parts; PKWARE APPNOTE layout, public spec).
  *
  * The walk is the robust-reader shape: find the end-of-central-
  * directory record by scanning backwards from the tail, then trust the
  * CENTRAL directory for names/methods/sizes/offsets (local headers are
  * cross-checked for signature + name length only — self-extracting and
  * streamed zips routinely disagree in the local copy). Member payloads
  * support method 0 (stored) and 8 (deflate, raw [[java.util.zip.Inflater]]),
  * with CRC-32 and size verified on extraction: a member that fails
  * inflate/CRC quarantines to null (the container listing is still
  * sound); a malformed EOCD/central directory quarantines the whole
  * payload to None. Encrypted members (general-purpose bit 0) and other
  * methods are member-level quarantines, never garbage.
  *
  * DOCX text: `word/document.xml` runs hold visible text in `<w:t>`
  * elements, one block per `<w:p>` paragraph (ECMA-376). The pull is a
  * single linear scan — no XML library — unescaping the five XML
  * entities, joining runs within a paragraph, newline between
  * paragraphs.
  *
  * Scale shape: map-only per payload row ([[Stages.payloadStage]]
  * contract: null on a malformed container).
  */
object Zip {

  final case class Entry(name: String, method: Int, flags: Int, crc: Long,
                         compSize: Int, uncompSize: Int, localOff: Int)

  private def u16(b: Array[Byte], p: Int): Int = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], p: Int): Long = {
    var v = 0L
    var i = 3
    while (i >= 0) { v = (v << 8) | (b(p + i) & 0xffL); i -= 1 }
    v
  }

  /** Central-directory listing. None on malformed EOCD/CD. */
  def listEntries(bytes: Array[Byte], maxMembers: Int = 4096,
                  maxBytes: Int = 1 << 26): Option[Seq[Entry]] = {
    if (bytes == null || bytes.length < 22) return None
    // EOCD: PK\5\6 within the last 64 KiB + 22 (comment allowance)
    var e = bytes.length - 22
    val stop = math.max(0, bytes.length - 22 - 0xffff)
    while (e >= stop && !(bytes(e) == 0x50 && bytes(e + 1) == 0x4b &&
      bytes(e + 2) == 0x05 && bytes(e + 3) == 0x06)) e -= 1
    if (e < stop) return None
    val n = u16(bytes, e + 10)
    val cdSize = u32(bytes, e + 12)
    val cdOff = u32(bytes, e + 16)
    if (n > maxMembers || cdSize > maxBytes || cdOff + cdSize > e) return None
    val out = scala.collection.mutable.ArrayBuffer.empty[Entry]
    var p = cdOff.toInt
    var i = 0
    while (i < n) {
      if (p + 46 > bytes.length) return None
      if (u32(bytes, p) != 0x02014b50L) return None // central header signature
      val flags = u16(bytes, p + 8)
      val method = u16(bytes, p + 10)
      val crc = u32(bytes, p + 16)
      val compSize = u32(bytes, p + 20)
      val uncompSize = u32(bytes, p + 24)
      val nameLen = u16(bytes, p + 28)
      val extraLen = u16(bytes, p + 30)
      val commentLen = u16(bytes, p + 32)
      val localOff = u32(bytes, p + 42)
      if (compSize > maxBytes || uncompSize > maxBytes) return None
      if (p + 46 + nameLen > bytes.length) return None
      val name = new String(bytes, p + 46, nameLen, java.nio.charset.StandardCharsets.UTF_8)
      // local header cross-check: signature + a data span inside the payload
      if (localOff + 30 > bytes.length || u32(bytes, localOff.toInt) != 0x04034b50L) return None
      out += Entry(name, method, flags, crc, compSize.toInt, uncompSize.toInt, localOff.toInt)
      p += 46 + nameLen + extraLen + commentLen
      i += 1
    }
    Some(out.toSeq)
  }

  /** Extract + verify one member. None on: encrypted, unsupported
    * method, inflate failure, size or CRC mismatch. */
  def extract(bytes: Array[Byte], entry: Entry): Option[Array[Byte]] = {
    if ((entry.flags & 0x1) != 0) return None // encrypted
    // hostile direct-constructed Entry (same threat model as the localOff
    // guard below): a negative size would pass the Long bounds check via a
    // negative sum and reach copyOfRange/Inflater with a negative span
    if (entry.compSize < 0 || entry.uncompSize < 0) return None
    val lo = entry.localOff
    if (lo < 0 || lo.toLong + 30 > bytes.length) return None
    val nameLen = u16(bytes, lo + 26)
    val extraLen = u16(bytes, lo + 28)
    // Long arithmetic: a hostile local-header offset near Int.MaxValue must
    // fail the bounds guard, not wrap negative and index out of range.
    val dataOffL = lo.toLong + 30 + nameLen + extraLen
    if (dataOffL + entry.compSize > bytes.length) return None
    val dataOff = dataOffL.toInt
    val data = entry.method match {
      case 0 =>
        if (entry.compSize != entry.uncompSize) return None
        java.util.Arrays.copyOfRange(bytes, dataOff, dataOff + entry.compSize)
      case 8 =>
        val inf = new java.util.zip.Inflater(true) // raw deflate
        inf.setInput(bytes, dataOff, entry.compSize)
        val out = new Array[Byte](entry.uncompSize)
        try {
          var done = 0
          while (done < entry.uncompSize && !inf.finished()) {
            val k = inf.inflate(out, done, entry.uncompSize - done)
            if (k == 0 && inf.needsInput()) return None // truncated stream
            done += k
          }
          if (done != entry.uncompSize) return None
        } catch { case _: java.util.zip.DataFormatException => return None }
        finally inf.end()
        out
      case _ => return None
    }
    val c = new java.util.zip.CRC32()
    c.update(data)
    if (c.getValue != entry.crc) None else Some(data)
  }

  /** Pull visible text from a DOCX `word/document.xml` part: `<w:t>` run
    * contents joined within a `<w:p>` paragraph, '\n' between
    * paragraphs, the five XML entities unescaped. Pure linear scan. */
  /** The five predefined XML entities, single left-to-right scan (no
    * double-unescape of `&amp;lt;`). Shared with [[Xlsx]]. */
  private[ops] def unescapeXml(s: String): String = {
    val b = new StringBuilder
    var j = 0
    while (j < s.length) {
      if (s.charAt(j) == '&') {
        val semi = s.indexOf(';', j)
        val ent = if (semi > j) s.substring(j + 1, semi) else ""
        ent match {
          case "amp" => b.append('&'); j = semi + 1
          case "lt" => b.append('<'); j = semi + 1
          case "gt" => b.append('>'); j = semi + 1
          case "quot" => b.append('"'); j = semi + 1
          case "apos" => b.append('\''); j = semi + 1
          case _ => b.append(s.charAt(j)); j += 1
        }
      } else { b.append(s.charAt(j)); j += 1 }
    }
    b.toString
  }

  def docxText(xml: String): String = {
    val sb = new StringBuilder
    var i = 0
    def unescape(s: String): String = unescapeXml(s)
    while (i < xml.length) {
      val lt = xml.indexOf('<', i)
      if (lt < 0) { i = xml.length }
      else {
        val gt = xml.indexOf('>', lt)
        if (gt < 0) { i = xml.length }
        else {
          val tag = xml.substring(lt + 1, gt)
          if (tag == "w:t" || tag.startsWith("w:t ")) {
            val close = xml.indexOf("</w:t>", gt)
            if (close < 0) i = xml.length
            else {
              sb.append(unescape(xml.substring(gt + 1, close)))
              i = close + 6
            }
          } else if (tag == "/w:p") {
            sb.append('\n')
            i = gt + 1
          } else i = gt + 1
        }
      }
    }
    // trailing paragraph newline trimmed: text blocks end at content
    val s = sb.toString
    if (s.endsWith("\n")) s.dropRight(1) else s
  }

  /** The Spark seam: per-payload DOCX text (null struct on a malformed
    * container; null text with ok member listing when `word/document.xml`
    * is missing or fails extraction). */
  def docxStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame = {
    val sch = StructType(Seq(
      StructField("n_members", IntegerType), StructField("text", StringType)))
    Stages.payloadStage(df, payloadCol, outCol, sch)(payload =>
      listEntries(payload).map { es =>
        val text = es.find(_.name == "word/document.xml")
          .flatMap(e => extract(payload, e))
          .map(b => docxText(new String(b, java.nio.charset.StandardCharsets.UTF_8)))
        org.apache.spark.sql.Row(es.length, text.orNull)
      })
  }

  // ---------------------------------------------------------------------
  // Fixture encoder (SEPARATE from the decoder, the JpegSpec discipline).

  /** Build a ZIP with the given members; `deflate` selects method 8
    * (raw Deflater) vs stored. Writes local headers, central directory,
    * EOCD — the full layout the robust walk reads back. */
  def encodeZip(members: Seq[(String, Array[Byte], Boolean)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = { var i = 0; var u = v; while (i < 4) { out.write((u & 0xff).toInt); u >>= 8; i += 1 } }
    val central = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long, Int, Int, Int)]
    members.foreach { case (name, data, deflate) =>
      val nameB = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val crc = { val c = new java.util.zip.CRC32(); c.update(data); c.getValue }
      val comp = if (deflate) {
        val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
        d.setInput(data); d.finish()
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](4096)
        while (!d.finished()) buf.write(tmp, 0, d.deflate(tmp))
        d.end()
        buf.toByteArray
      } else data
      val off = out.size()
      w32(0x04034b50L); w16(20); w16(0); w16(if (deflate) 8 else 0); w16(0); w16(0)
      w32(crc); w32(comp.length); w32(data.length); w16(nameB.length); w16(0)
      out.write(nameB); out.write(comp)
      central += ((name, if (deflate) 8 else 0, crc, comp.length, data.length, off))
    }
    val cdStart = out.size()
    central.foreach { case (name, method, crc, compLen, uncompLen, off) =>
      val nameB = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      w32(0x02014b50L); w16(20); w16(20); w16(0); w16(method); w16(0); w16(0)
      w32(crc); w32(compLen); w32(uncompLen); w16(nameB.length); w16(0); w16(0)
      w16(0); w16(0); w32(0); w32(off)
      out.write(nameB)
    }
    val cdSize = out.size() - cdStart
    w32(0x06054b50L); w16(0); w16(0); w16(central.length); w16(central.length)
    w32(cdSize); w32(cdStart); w16(0)
    out.toByteArray
  }
}
