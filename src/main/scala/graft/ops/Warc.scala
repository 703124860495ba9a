package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, StructField}

/** WARC (ISO 28500) record handling — the wire format a web-crawl corpus
  * (Common Crawl and every in-house crawler) actually arrives in: CRLF
  * header block (`WARC/1.0`, `WARC-Type`, `WARC-Record-ID`,
  * `WARC-Target-URI`, `Content-Length`), blank line, payload.
  *
  * All pure codegen'd string expressions (regexp + substring — no UDF),
  * so a 100 TB crawl parse is an embarrassingly-parallel map over the
  * record column; the Content-Length integrity check is how a pipeline
  * quarantines truncated fetches before they poison dedup/extraction
  * stages downstream.
  */
object Warc {

  private val Crlf2 = "\r\n\r\n"

  /** Extract one named header's value from a record (case-sensitive field
    * names per the spec's canonical forms). Anchored to a line start so a
    * payload echoing "Content-Length:" cannot spoof it — headers are only
    * searched before the first blank line. The value class `[^\r\n]*`
    * (rather than a lazy `.*?$`) sidesteps the Java-vs-RE2 difference in
    * how multiline `$` treats a CRLF pair. `name` must be a plain header
    * token (RE2 has no \Q quoting to hide metacharacters behind). */
  def header(rec: Column, name: String): Column = {
    require(name.matches("[A-Za-z0-9-]+"), s"not a plain WARC header token: $name")
    val headers = substring_index(rec, Crlf2, 1)
    regexp_extract(headers, "(?m)^" + name + ": ([^\\r\\n]*)", 1)
  }

  /** The payload: everything after the first blank line (DOTALL — the
    * payload may itself contain CRLFs). */
  def payload(rec: Column): Column =
    regexp_extract(rec, "(?s)\\r\\n\\r\\n(.*)$", 1)

  /** Parsed record as typed columns + the Content-Length integrity flag:
    * (warc_type, record_id, target_uri, declared_len, actual_len,
    * len_ok). Content-Length declares OCTETS (ISO 28500 §5.3), so
    * actual_len measures UTF-8 bytes via a binary cast, not characters —
    * a multibyte payload would otherwise be flagged as truncated. */
  def parse(rec: Column): Column = {
    val p = payload(rec)
    val declared = header(rec, "Content-Length").cast("long")
    val octets = length(p.cast("binary")).cast("long")
    struct(
      header(rec, "WARC-Type").as("warc_type"),
      header(rec, "WARC-Record-ID").as("record_id"),
      header(rec, "WARC-Target-URI").as("target_uri"),
      declared.as("declared_len"),
      octets.as("actual_len"),
      (declared === octets).as("len_ok"))
  }

  // ---------------------------------------------------------------------
  // Gzip members (round 6): real Common Crawl WARC files are stored
  // member-gzip — each record is its own complete gzip member, so a
  // reader can split on member boundaries and decompress records
  // independently (ISO 28500 Annex D record-at-time compression). That
  // independence is exactly what makes the format distributable: one row
  // = one member = one `GZIPInputStream` round trip, embarrassingly
  // parallel, no cross-record state. The JDK ships the codec
  // (`java.util.zip.GZIPOutputStream`/`GZIPInputStream`), so unlike the
  // image-pixel seam this path is REAL end-to-end.

  /** One record → one gzip member. Deterministic for a given JVM (header
    * MTIME is 0, OS byte fixed) — and the catalog never hashes the
    * compressed bytes anyway, only the decompressed round trip. */
  def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(bytes); gz.finish(); gz.close()
    out.toByteArray
  }

  /** Decompress one member, bounded and fail-to-None: a truncated fetch
    * (cut trailer / mid-stream EOF), garbage bytes, or a decompressed
    * size past `maxBytes` (zip-bomb guard — a 100 TB crawl ingest cannot
    * let one hostile member balloon an executor) all yield None, never an
    * exception. The Inflater's native memory is released via close() in
    * finally (the [[graft.ops.Pdf]] inflate lesson). */
  def gunzipMember(bytes: Array[Byte], maxBytes: Int = 1 << 24): Option[Array[Byte]] = {
    if (bytes == null) return None // a NULL member column quarantines, not NPEs
    // the constructor itself reads (and may reject) the member header —
    // it must sit inside the try with the read loop
    var in: java.util.zip.GZIPInputStream = null
    try {
      in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
      val out = new java.io.ByteArrayOutputStream(math.min(bytes.length * 4 + 64, maxBytes))
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) {
        if (out.size.toLong + n > maxBytes) return None
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      Some(out.toByteArray)
    } catch { case _: java.io.IOException => None }
    finally if (in != null) in.close()
  }

  /** Split a blob of CONCATENATED gzip members back into the individual
    * decompressed records — the actual Common Crawl segment-file layout
    * (thousands of member-gzip records back to back in one object; a
    * reader seeks a split point, resynchronizes on a member boundary, and
    * streams records). `GZIPInputStream` would silently fuse concatenated
    * members into one byte stream, so this walks the RFC 1952 framing
    * explicitly: header (magic/CM/FLG + optional FEXTRA/FNAME/FCOMMENT/
    * FHCRC), raw-deflate body via `Inflater(nowrap)`, then the CRC32 +
    * ISIZE trailer — BOTH verified, so a corrupted member can never
    * masquerade as a short record. Strict quarantine contract: any
    * malformed member fails the whole blob to None (the per-record
    * recovery path is [[gunzipMember]] over pre-split members). */
  def splitMembers(bytes: Array[Byte], maxBytes: Long = 1L << 30,
                   maxMembers: Int = 1 << 20): Option[Vector[Array[Byte]]] = {
    if (bytes == null) return None // NULL blob column → quarantine the row
    val out = Vector.newBuilder[Array[Byte]]
    var pos = 0
    var count = 0
    var total = 0L
    try {
      while (pos < bytes.length) {
        if (count >= maxMembers) return None
        if (pos + 10 > bytes.length) return None
        if ((bytes(pos) & 0xff) != 0x1f || (bytes(pos + 1) & 0xff) != 0x8b ||
          bytes(pos + 2) != 8) return None
        val flg = bytes(pos + 3) & 0xff
        var p = pos + 10
        if ((flg & 4) != 0) { // FEXTRA
          if (p + 2 > bytes.length) return None
          p += 2 + ((bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8))
        }
        if ((flg & 8) != 0) { while (p < bytes.length && bytes(p) != 0) p += 1; p += 1 }
        if ((flg & 16) != 0) { while (p < bytes.length && bytes(p) != 0) p += 1; p += 1 }
        if ((flg & 2) != 0) p += 2
        if (p > bytes.length) return None
        val inf = new java.util.zip.Inflater(true)
        try {
          inf.setInput(bytes, p, bytes.length - p)
          val bos = new java.io.ByteArrayOutputStream(1024)
          val buf = new Array[Byte](8192)
          while (!inf.finished()) {
            val n = inf.inflate(buf)
            if (n > 0) {
              total += n
              if (total > maxBytes) return None
              bos.write(buf, 0, n)
            } else if (!inf.finished()) return None // truncated mid-body
          }
          val member = bos.toByteArray
          val trailer = p + inf.getBytesRead.toInt
          if (trailer + 8 > bytes.length) return None
          def le32(o: Int) = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
            ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
          val crc = new java.util.zip.CRC32(); crc.update(member)
          if (crc.getValue != le32(trailer)) return None
          if (le32(trailer + 4) != (member.length.toLong & 0xffffffffL)) return None
          out += member
          pos = trailer + 8
          count += 1
        } finally inf.end()
      }
      Some(out.result())
    } catch { case _: java.util.zip.DataFormatException => None }
  }

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** Compress a string record column into a binary gzip-member column —
    * the fixture-builder half (Deflate is not a SQL expression; runs
    * executor-side through the shared [[Stages.appendFields]] seam). */
  def gzipStage(df: DataFrame, recCol: String, outCol: String): DataFrame = {
    val idx = df.schema.fieldIndex(recCol)
    Stages.appendFields(df, Seq(StructField(outCol, BinaryType)))(
      r => Seq(gzipMember(r.getString(idx).getBytes(Utf8))))
  }

  /** Decompress a binary member column back to a string record column;
    * corrupt/truncated members yield NULL (every downstream [[parse]]
    * column then nulls out — the quarantine row survives, the task
    * doesn't die). */
  def gunzipStage(df: DataFrame, memberCol: String, outCol: String): DataFrame =
    Stages.payloadStage(df, memberCol, outCol, StringType)(b =>
      gunzipMember(b).map(new String(_, Utf8)))

  /** Split+decompress a concatenated-members blob column into an
    * `array<string>` of records (null = quarantined blob). One row = one
    * segment file: the 100 TB unit of work, processed without ever
    * materializing more than one member's decompressed bytes at a time
    * beyond the output array. */
  def splitMembersStage(df: DataFrame, blobCol: String, outCol: String): DataFrame =
    Stages.payloadStage(df, blobCol, outCol, org.apache.spark.sql.types.ArrayType(StringType))(b =>
      splitMembers(b).map(_.map(new String(_, Utf8))))
}
