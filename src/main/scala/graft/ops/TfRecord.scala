package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** TFRecord shard ingestion + tf.Example feature parse — the TensorFlow
  * training-data interchange format (the other half of the shard world
  * next to [[Tar]]'s WebDataset). Both layers are public specs:
  *
  *  - TFRecord framing: each record is `u64le length, u32le
  *    masked_crc32c(length_bytes), data, u32le masked_crc32c(data)`
  *    where the mask is `((crc >> 15) | (crc << 17)) + 0xa282ead8`
  *    over CRC-32C (Castagnoli; the JDK's `java.util.zip.CRC32C`).
  *    BOTH checksums are verified per record; framing is sequential, so
  *    any mismatch or overrun quarantines the whole shard to None (a
  *    torn length field makes every later offset meaningless).
  *  - tf.Example: a protobuf `Example{ Features{ map<string,Feature> }}`
  *    where Feature is one of bytes_list/float_list/int64_list. The
  *    parse is a generic varint/tag walk (wire types 0, 1, 2, 5) that
  *    skips unknown fields, with int64_list accepting both packed and
  *    unpacked encodings.
  *
  * Scale shape: map-only per shard row, per-record rows explode
  * downstream (the [[Stages.explodePayload]] contract).
  */
object TfRecord {

  private def maskedCrc(bytes: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32C()
    c.update(bytes, off, len)
    val crc = c.getValue
    (((crc >>> 15) | (crc << 17)) + 0xa282ead8L) & 0xffffffffL
  }

  private def u32le(bytes: Array[Byte], pos: Int): Long = {
    var v = 0L
    var i = 3
    while (i >= 0) { v = (v << 8) | (bytes(pos + i) & 0xffL); i -= 1 }
    v
  }

  private def u64le(bytes: Array[Byte], pos: Int): Long = {
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (bytes(pos + i) & 0xffL); i -= 1 }
    v
  }

  /** Walk a TFRecord shard, verifying both CRCs of every record. None on
    * any malformation (sequential framing: no per-record recovery). */
  def readRecords(bytes: Array[Byte], maxRecords: Int = 4096,
                  maxBytes: Int = 1 << 26): Option[Seq[(Int, Int)]] = {
    if (bytes == null) return None
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var off = 0
    while (off < bytes.length) {
      if (out.length >= maxRecords) return None
      if (off + 12 > bytes.length) return None
      val len = u64le(bytes, off)
      if (len < 0 || len > maxBytes) return None
      if (u32le(bytes, off + 8) != maskedCrc(bytes, off, 8)) return None
      val dataOff = off + 12
      val n = len.toInt
      if (dataOff + n + 4 > bytes.length) return None
      if (u32le(bytes, dataOff + n) != maskedCrc(bytes, dataOff, n)) return None
      out += ((dataOff, n))
      off = dataOff + n + 4
    }
    Some(out.toSeq)
  }

  /** True iff the payload STARTS with one complete framed record whose
    * length-CRC and data-CRC both verify — the cheap detection probe
    * ([[Sniff.detect]]): O(first record), not O(shard). Full-shard
    * health stays [[readRecords]]. */
  def firstRecordValid(bytes: Array[Byte], maxBytes: Int = 1 << 26): Boolean = {
    if (bytes == null || bytes.length < 16) return false
    val len = u64le(bytes, 0)
    if (len < 0 || len > maxBytes) return false
    if (u32le(bytes, 8) != maskedCrc(bytes, 0, 8)) return false
    val n = len.toInt
    if (12 + n + 4 > bytes.length) return false
    u32le(bytes, 12 + n) == maskedCrc(bytes, 12, n)
  }

  /** One parsed feature: exactly one of the three lists is non-null. */
  final case class Feature(int64s: Seq[Long], floats: Seq[Float], bytess: Seq[Array[Byte]])

  private final class Pb(val bytes: Array[Byte], var pos: Int, val end: Int) {
    def varint(): Long = {
      var v = 0L
      var shift = 0
      while (shift < 64) {
        if (pos >= end) throw new IllegalArgumentException("varint overrun")
        val b = bytes(pos) & 0xff
        pos += 1
        v |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
      }
      throw new IllegalArgumentException("varint too long")
    }
    def lenDelim(): (Int, Int) = {
      val n = varint()
      if (n < 0 || pos + n > end) throw new IllegalArgumentException("length overrun")
      val o = pos
      pos += n.toInt
      (o, n.toInt)
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => pos += 8; if (pos > end) throw new IllegalArgumentException("fixed64 overrun")
      case 2 => lenDelim()
      case 5 => pos += 4; if (pos > end) throw new IllegalArgumentException("fixed32 overrun")
      case _ => throw new IllegalArgumentException(s"wire $wire")
    }
  }

  /** Parse a tf.Example payload to its feature map; None on malformed
    * protobuf. Unknown fields are skipped per proto semantics. */
  def parseExample(bytes: Array[Byte], off: Int, len: Int): Option[Map[String, Feature]] =
    try {
      val out = scala.collection.mutable.Map.empty[String, Feature]
      val ex = new Pb(bytes, off, off + len)
      while (ex.pos < ex.end) {
        val tag = ex.varint()
        val field = (tag >> 3).toInt; val wire = (tag & 7).toInt
        if (field == 1 && wire == 2) { // Features
          val (fo, fl) = ex.lenDelim()
          val fs = new Pb(bytes, fo, fo + fl)
          while (fs.pos < fs.end) {
            val t2 = fs.varint()
            if ((t2 >> 3).toInt == 1 && (t2 & 7).toInt == 2) { // map entry
              val (eo, el) = fs.lenDelim()
              val me = new Pb(bytes, eo, eo + el)
              var key: String = null
              var feat: Feature = null
              while (me.pos < me.end) {
                val t3 = me.varint()
                ((t3 >> 3).toInt, (t3 & 7).toInt) match {
                  case (1, 2) =>
                    val (ko, kl) = me.lenDelim()
                    key = new String(bytes, ko, kl, java.nio.charset.StandardCharsets.UTF_8)
                  case (2, 2) =>
                    val (vo, vl) = me.lenDelim()
                    feat = parseFeature(bytes, vo, vl)
                  case (_, w) => me.skip(w)
                }
              }
              if (key != null && feat != null) out(key) = feat
            } else fs.skip((t2 & 7).toInt)
          }
        } else ex.skip(wire)
      }
      Some(out.toMap)
    } catch { case _: IllegalArgumentException | _: ArrayIndexOutOfBoundsException => None }

  private def parseFeature(bytes: Array[Byte], off: Int, len: Int): Feature = {
    var i64: Seq[Long] = null
    var f32: Seq[Float] = null
    var bs: Seq[Array[Byte]] = null
    val p = new Pb(bytes, off, off + len)
    while (p.pos < p.end) {
      val tag = p.varint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) => // BytesList
          val (o, l) = p.lenDelim()
          val q = new Pb(bytes, o, o + l)
          val acc = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
          while (q.pos < q.end) {
            val t = q.varint()
            if ((t >> 3).toInt == 1 && (t & 7).toInt == 2) {
              val (vo, vl) = q.lenDelim()
              acc += java.util.Arrays.copyOfRange(bytes, vo, vo + vl)
            } else q.skip((t & 7).toInt)
          }
          bs = acc.toSeq
        case (2, 2) => // FloatList (packed floats)
          val (o, l) = p.lenDelim()
          val q = new Pb(bytes, o, o + l)
          val acc = scala.collection.mutable.ArrayBuffer.empty[Float]
          while (q.pos < q.end) {
            val t = q.varint()
            ((t >> 3).toInt, (t & 7).toInt) match {
              case (1, 2) =>
                val (vo, vl) = q.lenDelim()
                if (vl % 4 != 0) throw new IllegalArgumentException("packed float len")
                var i = 0
                while (i < vl) {
                  acc += java.lang.Float.intBitsToFloat(u32le(bytes, vo + i).toInt)
                  i += 4
                }
              case (1, 5) => acc += java.lang.Float.intBitsToFloat(u32le(bytes, q.pos).toInt); q.pos += 4
              case (_, w) => q.skip(w)
            }
          }
          f32 = acc.toSeq
        case (3, 2) => // Int64List (packed varints or a nested packed block)
          val (o, l) = p.lenDelim()
          val q = new Pb(bytes, o, o + l)
          val acc = scala.collection.mutable.ArrayBuffer.empty[Long]
          while (q.pos < q.end) {
            val t = q.varint()
            ((t >> 3).toInt, (t & 7).toInt) match {
              case (1, 0) => acc += q.varint()
              case (1, 2) =>
                val (vo, vl) = q.lenDelim()
                val r = new Pb(bytes, vo, vo + vl)
                while (r.pos < r.end) acc += r.varint()
              case (_, w) => q.skip(w)
            }
          }
          i64 = acc.toSeq
        case (_, w) => p.skip(w)
      }
    }
    Feature(i64, f32, bs)
  }

  /** The Spark seam: one row per record with the conventional training
    * features surfaced as scalars, under the three-way
    * [[Stages.explodePayload]] contract: `label` = first int64 of feature "label", `n_tokens` /
    * `token_sum` over feature "tokens", `text_len` = first bytes value's
    * length of feature "text". Records that are not parseable
    * tf.Examples yield a row with null feature columns (frame-level
    * quarantine — the framing was CRC-sound). */
  def exampleStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame = {
    val sch = StructType(Seq(
      StructField("record_idx", IntegerType), StructField("parsed", BooleanType),
      StructField("label", LongType), StructField("n_tokens", IntegerType),
      StructField("token_sum", LongType), StructField("text_len", IntegerType)))
    Stages.explodePayload(df, payloadCol, outCol, sch)(payload =>
      readRecords(payload).map(_.zipWithIndex.map { case ((o, l), i) =>
        parseExample(payload, o, l) match {
          case Some(fm) =>
            val label = fm.get("label").flatMap(f => Option(f.int64s).flatMap(_.headOption))
            val toks = fm.get("tokens").flatMap(f => Option(f.int64s))
            val text = fm.get("text").flatMap(f => Option(f.bytess).flatMap(_.headOption))
            org.apache.spark.sql.Row(i, true,
              label.map(java.lang.Long.valueOf).orNull,
              toks.map(t => java.lang.Integer.valueOf(t.length)).orNull,
              toks.map(t => java.lang.Long.valueOf(t.sum)).orNull,
              text.map(t => java.lang.Integer.valueOf(t.length)).orNull)
          case None => org.apache.spark.sql.Row(i, false, null, null, null, null)
        }
      }))
  }

  // ---------------------------------------------------------------------
  // Fixture encoder (SEPARATE from the decoder, the JpegSpec discipline).

  private def writeVarint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def lenDelim(out: java.io.ByteArrayOutputStream, field: Int)(body: java.io.ByteArrayOutputStream => Unit): Unit = {
    val b = new java.io.ByteArrayOutputStream()
    body(b)
    writeVarint(out, (field << 3) | 2)
    writeVarint(out, b.size)
    b.writeTo(out)
  }

  /** Encode one tf.Example with the conventional training features. */
  def encodeExample(label: Long, tokens: Seq[Long], text: Array[Byte]): Array[Byte] = {
    val ex = new java.io.ByteArrayOutputStream()
    lenDelim(ex, 1) { fs =>       // Features
      def entry(key: String)(feat: java.io.ByteArrayOutputStream => Unit): Unit =
        lenDelim(fs, 1) { me =>   // map entry
          lenDelim(me, 1)(k => k.write(key.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          lenDelim(me, 2)(feat)   // Feature
        }
      entry("label")(f => lenDelim(f, 3) { il => writeVarint(il, (1 << 3) | 0); writeVarint(il, label) })
      entry("tokens")(f => lenDelim(f, 3) { il =>
        tokens.foreach { t => writeVarint(il, (1 << 3) | 0); writeVarint(il, t) } })
      entry("text")(f => lenDelim(f, 1) { bl => lenDelim(bl, 1)(b => b.write(text)) })
    }
    ex.toByteArray
  }

  /** Frame already-encoded records into a TFRecord shard. */
  def encodeShard(records: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    records.foreach { data =>
      val lenB = new Array[Byte](8)
      var v = data.length.toLong
      var i = 0
      while (i < 8) { lenB(i) = (v & 0xff).toByte; v >>= 8; i += 1 }
      out.write(lenB)
      def le32(x: Long): Unit = { var j = 0; var u = x; while (j < 4) { out.write((u & 0xff).toInt); u >>= 8; j += 1 } }
      le32(maskedCrc(lenB, 0, 8))
      out.write(data)
      le32(maskedCrc(data, 0, data.length))
    }
    out.toByteArray
  }
}
