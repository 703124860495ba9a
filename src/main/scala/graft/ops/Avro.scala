package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Avro object-container-file ingestion — the data-lake / Kafka-archive
  * shard format sitting next to [[TfRecord]] and [[Tar]] in the
  * training-data world. The container layout is a public spec (Apache
  * Avro 1.12 specification, "Object Container Files"):
  *
  *  - header: magic `Obj\x01`, a file-metadata map (zigzag-varint
  *    count, string keys, bytes values; a NEGATIVE count means
  *    abs(count) items preceded by a byte size — both forms read), a
  *    16-byte sync marker;
  *  - blocks: zigzag-varint record count, zigzag-varint byte size, the
  *    serialized records (optionally deflate-compressed, raw zlib), and
  *    the 16-byte sync marker again.
  *
  * The schema rides in metadata key `avro.schema` as JSON. Supported
  * subset (fail-closed on anything else): one top-level `record` whose
  * fields are primitives (`int long float double boolean string
  * bytes`) or the nullable union `["null", prim]` — the shape tabular
  * training shards actually use. The schema JSON is hostile input like
  * the rest of the payload: the parser is a bounded recursive-descent
  * walk, not a library call.
  *
  * Quarantine granularity mirrors the container's own integrity
  * features. Avro blocks carry NO checksum — corruption is detectable
  * only structurally — so: a record parse that fails or does not
  * consume exactly the block's byte size quarantines the BLOCK (its
  * sync marker still resynchronizes the walk, the spec's stated purpose
  * for it); a sync-marker mismatch means framing itself is lost and
  * quarantines the whole shard to None; an unsupported codec or schema
  * fails the shard closed. Scale shape: map-only per shard row,
  * per-record rows explode downstream (the [[Stages.explodePayload]]
  * contract). */
object Avro {

  /** `nullFirst` records the union's branch order — the Avro spec allows
    * BOTH ["null", t] and [t, "null"], and the written branch index
    * follows the schema's order, so a decoder that hard-codes
    * null-is-branch-0 misreads value-first files. */
  final case class Field(name: String, tpe: String, nullable: Boolean,
                         nullFirst: Boolean = true)
  /** One container block: `ok=false` (no records) when its contents
    * failed the structural parse but the sync marker recovered framing. */
  final case class Block(idx: Int, ok: Boolean, records: Seq[IndexedSeq[Any]])
  final case class AvroFile(fields: Seq[Field], codec: String, blocks: Seq[Block])

  private val Magic = Array[Byte]('O', 'b', 'j', 1)
  private final class Malformed extends Exception
  private def bad(): Nothing = throw new Malformed

  // ------------------------------------------------------------------
  // Bounded binary primitives.

  private final class In(val bytes: Array[Byte], var pos: Int, val end: Int) {
    def u8(): Int = { if (pos >= end) bad(); val v = bytes(pos) & 0xff; pos += 1; v }
    /** Avro long: little-endian base-128 varint, zigzag-decoded. */
    def zlong(): Long = {
      var v = 0L; var shift = 0
      while (shift <= 63) {
        val b = u8()
        v |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return (v >>> 1) ^ -(v & 1)
        shift += 7
      }
      bad()
    }
    def take(n: Int): Array[Byte] = {
      if (n < 0 || pos + n > end) bad()
      val a = java.util.Arrays.copyOfRange(bytes, pos, pos + n); pos += n; a
    }
  }

  // ------------------------------------------------------------------
  // Minimal JSON for the (hostile) schema document: objects, arrays,
  // strings (with escapes), numbers, true/false/null. Depth- and
  // length-bounded; any deviation throws Malformed.

  private def parseJson(s: String): Any = {
    if (s.length > (1 << 16)) bad()
    var i = 0
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def expect(c: Char): Unit = { if (i >= s.length || s.charAt(i) != c) bad(); i += 1 }
    def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (i < s.length && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          if (i + 1 >= s.length) bad()
          i += 1
          s.charAt(i) match {
            case '"' => sb.append('"'); case '\\' => sb.append('\\')
            case '/' => sb.append('/'); case 'n' => sb.append('\n')
            case 't' => sb.append('\t'); case 'r' => sb.append('\r')
            case 'b' => sb.append('\b'); case 'f' => sb.append('\f')
            case 'u' =>
              if (i + 4 >= s.length) bad()
              sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar); i += 4
            case _ => bad()
          }
        } else sb.append(c)
        i += 1
        if (sb.length > (1 << 14)) bad()
      }
      expect('"')
      sb.toString
    }
    def value(depth: Int): Any = {
      if (depth > 16) bad()
      ws()
      if (i >= s.length) bad()
      s.charAt(i) match {
        case '"' => str()
        case '{' =>
          i += 1; ws()
          val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
          if (i < s.length && s.charAt(i) == '}') { i += 1; return m }
          var more = true
          while (more) {
            ws(); val k = str(); ws(); expect(':')
            m(k) = value(depth + 1)
            if (m.size > 64) bad()
            ws()
            if (i < s.length && s.charAt(i) == ',') i += 1
            else { expect('}'); more = false }
          }
          m
        case '[' =>
          i += 1; ws()
          val a = scala.collection.mutable.ArrayBuffer.empty[Any]
          if (i < s.length && s.charAt(i) == ']') { i += 1; return a.toSeq }
          var more = true
          while (more) {
            a += value(depth + 1)
            if (a.length > 256) bad()
            ws()
            if (i < s.length && s.charAt(i) == ',') i += 1
            else { expect(']'); more = false }
          }
          a.toSeq
        case 't' => if (s.startsWith("true", i)) { i += 4; true } else bad()
        case 'f' => if (s.startsWith("false", i)) { i += 5; false } else bad()
        case 'n' => if (s.startsWith("null", i)) { i += 4; null } else bad()
        case c if c == '-' || c.isDigit =>
          val j = i
          i += 1
          while (i < s.length && (s.charAt(i).isDigit || "+-.eE".indexOf(s.charAt(i)) >= 0)) i += 1
          java.lang.Double.parseDouble(s.substring(j, i))
        case _ => bad()
      }
    }
    val v = value(0)
    ws()
    if (i != s.length) bad()
    v
  }

  private val Prims = Set("int", "long", "float", "double", "boolean", "string", "bytes")

  /** The supported schema subset → field list; anything else throws. */
  private def parseSchema(json: String): Seq[Field] = {
    val root = parseJson(json) match {
      case m: scala.collection.Map[_, _] => m.asInstanceOf[scala.collection.Map[String, Any]]
      case _ => bad()
    }
    if (root.getOrElse("type", null) != "record") bad()
    val fields = root.getOrElse("fields", null) match {
      case s: Seq[_] => s
      case _ => bad()
    }
    if (fields.isEmpty || fields.length > 64) bad()
    fields.map {
      case fm: scala.collection.Map[_, _] =>
        val f = fm.asInstanceOf[scala.collection.Map[String, Any]]
        val name = f.getOrElse("name", null) match { case s: String => s; case _ => bad() }
        f.getOrElse("type", null) match {
          case t: String if Prims(t) => Field(name, t, nullable = false)
          case u: Seq[_] if u.length == 2 && u.contains("null") =>
            u.find(_ != "null") match {
              case Some(t: String) if Prims(t) =>
                Field(name, t, nullable = true, nullFirst = u.head == "null")
              case _ => bad()
            }
          case _ => bad()
        }
      case _ => bad()
    }.toSeq
  }

  // ------------------------------------------------------------------
  // Container walk.

  private def inflateRaw(data: Array[Byte], maxOut: Int): Array[Byte] = {
    // Avro's deflate codec is RAW deflate (RFC 1951, no zlib wrapper)
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(math.min(maxOut, data.length * 4 + 64))
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n > 0) {
          out.write(buf, 0, n)
          if (out.size > maxOut) bad()
        } else if (!inf.finished()) bad() // stuck or needs input: corrupt
      }
      out.toByteArray
    } catch { case _: java.util.zip.DataFormatException => bad() }
    finally inf.end()
  }

  private def readRecord(in: In, fields: Seq[Field]): IndexedSeq[Any] =
    fields.map { f =>
      val present =
        if (!f.nullable) true
        else in.zlong() match {
          // the null branch's index follows the SCHEMA's union order
          case 0 => !f.nullFirst
          case 1 => f.nullFirst
          case _ => bad()
        }
      if (!present) null
      else f.tpe match {
        case "int" =>
          val v = in.zlong(); if (v < Int.MinValue || v > Int.MaxValue) bad(); v.toInt
        case "long" => in.zlong()
        case "float" =>
          val b = in.take(4)
          java.lang.Float.intBitsToFloat(
            (b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) | ((b(3) & 0xff) << 24))
        case "double" =>
          val b = in.take(8)
          var bits = 0L
          var k = 7
          while (k >= 0) { bits = (bits << 8) | (b(k) & 0xffL); k -= 1 }
          java.lang.Double.longBitsToDouble(bits)
        case "boolean" => in.u8() match { case 0 => false; case 1 => true; case _ => bad() }
        case "string" =>
          val n = in.zlong(); if (n < 0 || n > (1 << 24)) bad()
          new String(in.take(n.toInt), java.nio.charset.StandardCharsets.UTF_8)
        case "bytes" =>
          val n = in.zlong(); if (n < 0 || n > (1 << 24)) bad()
          in.take(n.toInt)
        case _ => bad()
      }
    }.toIndexedSeq

  /** Decode a container shard. None on header/schema/codec/sync-level
    * malformation; per-block structural failures yield `ok=false`
    * blocks (see the object doc for the granularity argument). */
  def decode(bytes: Array[Byte], maxRecords: Int = 1 << 16,
             maxBlockBytes: Int = 1 << 26): Option[AvroFile] =
    try {
      if (bytes == null || bytes.length < 4 + 1 + 16) return None
      if (!(0 until 4).forall(i => bytes(i) == Magic(i))) return None
      val in = new In(bytes, 4, bytes.length)
      // file metadata map
      val meta = scala.collection.mutable.Map.empty[String, Array[Byte]]
      var count = in.zlong()
      while (count != 0) {
        val n = if (count < 0) { in.zlong(); -count } else count // negative: size-prefixed form
        if (n > 64) bad()
        var k = 0L
        while (k < n) {
          val kl = in.zlong(); if (kl < 0 || kl > 256) bad()
          val key = new String(in.take(kl.toInt), java.nio.charset.StandardCharsets.UTF_8)
          val vl = in.zlong(); if (vl < 0 || vl > (1 << 20)) bad()
          meta(key) = in.take(vl.toInt)
          if (meta.size > 64) bad()
          k += 1
        }
        count = in.zlong()
      }
      val schemaJson = meta.getOrElse("avro.schema", bad())
      val fields = parseSchema(new String(schemaJson, java.nio.charset.StandardCharsets.UTF_8))
      val codec = meta.get("avro.codec")
        .map(b => new String(b, java.nio.charset.StandardCharsets.US_ASCII)).getOrElse("null")
      if (codec != "null" && codec != "deflate") return None // snappy/zstd etc: fail closed
      val sync = in.take(16)
      val blocks = scala.collection.mutable.ArrayBuffer.empty[Block]
      var total = 0L
      while (in.pos < in.end) {
        val nRec = in.zlong(); if (nRec < 0 || nRec > maxRecords) bad()
        val size = in.zlong(); if (size < 0 || size > maxBlockBytes) bad()
        val data = in.take(size.toInt)
        // the sync marker is the framing ledger: verify BEFORE trusting
        // the block contents, fail the shard if it is gone
        val s = in.take(16)
        if (!java.util.Arrays.equals(s, sync)) bad()
        total += nRec
        if (total > maxRecords) bad()
        val parsed: Option[Seq[IndexedSeq[Any]]] =
          try {
            val raw = if (codec == "deflate") inflateRaw(data, maxBlockBytes) else data
            val bin = new In(raw, 0, raw.length)
            val recs = (0L until nRec).map(_ => readRecord(bin, fields))
            if (bin.pos != bin.end) bad() // trailing garbage = structural corruption
            Some(recs)
          } catch { case _: Malformed => None }
        blocks += (parsed match {
          case Some(rs) => Block(blocks.length, ok = true, rs)
          case None => Block(blocks.length, ok = false, Seq.empty)
        })
        if (blocks.length > 4096) bad()
      }
      Some(AvroFile(fields, codec, blocks.toSeq))
    } catch {
      case _: Malformed | _: ArrayIndexOutOfBoundsException |
           _: NegativeArraySizeException | _: NumberFormatException => None
    }

  // ------------------------------------------------------------------
  // Spark seam.

  /** The conventional training columns of one decoded record, surfaced
    * by field NAME from the file's own schema: `id`, `label` (integral →
    * long), `text_len` (a `text` string's length), `score` (float/double
    * → double), `flag` (boolean). Absent or differently typed fields stay
    * null. Shared with [[ArrowIpc.recordStage]]. */
  private[ops] def trainingCols(names: Seq[String]): IndexedSeq[Any] => Seq[Any] = {
    val at = names.zipWithIndex.toMap
    rec => {
      def field(name: String)(pf: PartialFunction[Any, AnyRef]): AnyRef =
        at.get(name).map(rec(_)).collect(pf).orNull
      def integral(name: String): AnyRef = field(name) {
        case l: Long => java.lang.Long.valueOf(l)
        case i: Int => java.lang.Long.valueOf(i.toLong)
      }
      Seq(integral("id"), integral("label"),
        field("text") { case s: String => java.lang.Integer.valueOf(s.length) },
        field("score") {
          case d: Double => java.lang.Double.valueOf(d)
          case fl: Float => java.lang.Double.valueOf(fl.toDouble)
        },
        field("flag") { case bb: Boolean => java.lang.Boolean.valueOf(bb) })
    }
  }

  /** One row per record with the [[trainingCols]] surfaced. An `ok=false`
    * block gives one row with `parsed=false`; a malformed shard and a
    * valid empty one follow the three-way [[Stages.explodePayload]]
    * contract. */
  def recordStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame = {
    val sch = StructType(Seq(
      StructField("block_idx", IntegerType), StructField("record_idx", IntegerType),
      StructField("parsed", BooleanType), StructField("id", LongType),
      StructField("label", LongType), StructField("text_len", IntegerType),
      StructField("score", DoubleType), StructField("flag", BooleanType)))
    Stages.explodePayload(df, payloadCol, outCol, sch)(bytes =>
      decode(bytes).map { f =>
        val cols = trainingCols(f.fields.map(_.name))
        f.blocks.flatMap { b =>
          if (!b.ok) Seq(org.apache.spark.sql.Row(b.idx, null, false, null, null, null, null, null))
          else b.records.zipWithIndex.map { case (rec, i) =>
            org.apache.spark.sql.Row.fromSeq(Seq(b.idx, i, true) ++ cols(rec))
          }
        }
      })
  }

  // ------------------------------------------------------------------
  // Fixture encoder (SEPARATE from the decoder, the JpegSpec
  // discipline; the differential partner is the REAL Apache Avro
  // library on the Spark classpath — see AvroSpec).

  private def writeZlong(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = (v0 << 1) ^ (v0 >> 63)
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def writeBytes(out: java.io.ByteArrayOutputStream, b: Array[Byte]): Unit = {
    writeZlong(out, b.length); out.write(b, 0, b.length)
  }

  def schemaJson(fields: Seq[Field]): String =
    """{"type":"record","name":"Rec","fields":[""" + fields.map { f =>
      val t =
        if (!f.nullable) s""""${f.tpe}""""
        else if (f.nullFirst) s"""["null","${f.tpe}"]"""
        else s"""["${f.tpe}","null"]"""
      s"""{"name":"${f.name}","type":$t}"""
    }.mkString(",") + "]}"

  private def writeValue(out: java.io.ByteArrayOutputStream, f: Field, v: Any): Unit = {
    if (f.nullable) {
      val nullIdx = if (f.nullFirst) 0L else 1L
      if (v == null) { writeZlong(out, nullIdx); return }
      writeZlong(out, 1L - nullIdx)
    } else require(v != null, s"null for non-nullable ${f.name}")
    f.tpe match {
      case "int" => writeZlong(out, v.asInstanceOf[Int].toLong)
      case "long" => writeZlong(out, v.asInstanceOf[Long])
      case "float" =>
        val bits = java.lang.Float.floatToIntBits(v.asInstanceOf[Float])
        (0 until 4).foreach(k => out.write((bits >> (8 * k)) & 0xff))
      case "double" =>
        val bits = java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])
        (0 until 8).foreach(k => out.write(((bits >> (8 * k)) & 0xff).toInt))
      case "boolean" => out.write(if (v.asInstanceOf[Boolean]) 1 else 0)
      case "string" => writeBytes(out, v.asInstanceOf[String].getBytes("UTF-8"))
      case "bytes" => writeBytes(out, v.asInstanceOf[Array[Byte]])
      case t => require(false, s"unsupported $t")
    }
  }

  private def deflateRaw(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    try {
      d.setInput(b); d.finish()
      val o = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) o.write(buf, 0, d.deflate(buf))
      o.toByteArray
    } finally d.end()
  }

  /** Build a container shard: `recordsPerBlock` records per block (so
    * block-granular corruption is testable), deterministic sync from
    * `syncSeed`. `corruptBlock` drops the tail of that block's data
    * with a matching declared size (sync intact, stream incomplete →
    * deterministic block-level quarantine — a bit flip can still
    * inflate to structurally-valid bytes, truncation cannot);
    * `corruptSync`
    * flips a byte of the sync marker AFTER block 0 (framing lost →
    * shard-level quarantine). */
  def encode(fields: Seq[Field], records: Seq[Seq[Any]], codec: String,
             recordsPerBlock: Int, syncSeed: Long,
             corruptBlock: Option[Int] = None, corruptSync: Boolean = false): Array[Byte] = {
    require(codec == "null" || codec == "deflate", codec)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic, 0, 4)
    writeZlong(out, 2)
    writeBytes(out, "avro.schema".getBytes("UTF-8"))
    writeBytes(out, schemaJson(fields).getBytes("UTF-8"))
    writeBytes(out, "avro.codec".getBytes("UTF-8"))
    writeBytes(out, codec.getBytes("US-ASCII"))
    writeZlong(out, 0)
    val rnd = new java.util.Random(syncSeed)
    val sync = new Array[Byte](16)
    rnd.nextBytes(sync)
    out.write(sync, 0, 16)
    records.grouped(recordsPerBlock).zipWithIndex.foreach { case (group, bi) =>
      val body = new java.io.ByteArrayOutputStream()
      group.foreach(rec => fields.zip(rec).foreach { case (f, v) => writeValue(body, f, v) })
      val data0 = if (codec == "deflate") deflateRaw(body.toByteArray) else body.toByteArray
      val data = if (corruptBlock.contains(bi))
        java.util.Arrays.copyOf(data0, math.max(1, data0.length - 4))
      else data0
      writeZlong(out, group.length)
      writeZlong(out, data.length)
      out.write(data, 0, data.length)
      val s = if (corruptSync && bi == 0) {
        val c = sync.clone(); c(3) = (c(3) ^ 0x01).toByte; c
      } else sync
      out.write(s, 0, 16)
    }
    out.toByteArray
  }
}
