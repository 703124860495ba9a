package graft.ops

import org.apache.commons.compress.archivers.{ArchiveEntry, ArchiveInputStream, ArchiveOutputStream}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The commons-compress member walk shared by [[Ar]], [[Cpio]] and
  * [[SevenZip]], under the engine's contract:
  *  - a member-count cap; a member past it fails the archive to None;
  *  - per-member and whole-archive output budgets: an oversized member
  *    is drained (skip() may return short) and keeps its metadata with
  *    `data = null`;
  *  - a short read (torn archive) and every library exception → None.
  * Each format supplies only its opener, its minimum length, whether it
  * skips directory entries and its member-count default. Serializable
  * because [[memberStage]]'s decoder closure ships the format object to
  * the executors. */
abstract class Archive(minLength: Int, skipDirs: Boolean, defaultMaxMembers: Int)
    extends Serializable {

  /** Open `bytes` for a sequential walk; any throw fails the archive. */
  protected def open(bytes: Array[Byte]): Archive.Cursor

  /** List + extract the members. None on any container malformation. */
  def members(bytes: Array[Byte], maxMembers: Int = defaultMaxMembers,
              maxMemberBytes: Int = 1 << 24, maxTotal: Long = 1L << 26): Option[Seq[Archive.Member]] = {
    if (bytes == null || bytes.length < minLength) return None
    var in: Archive.Cursor = null
    try {
      in = open(bytes)
      val out = scala.collection.mutable.ArrayBuffer.empty[Archive.Member]
      var total = 0L
      var e = in.next()
      while (e != null) {
        if (!(skipDirs && e.isDirectory)) {
          if (out.length >= maxMembers) return None
          val size = e.getSize
          if (size < 0) return None
          val inBudget = size <= maxMemberBytes && total + size <= maxTotal
          val data: Array[Byte] =
            if (!inBudget) {
              // drain the entry: budget-excluded content must still
              // advance the stream to the next header
              val buf = new Array[Byte](8192)
              var n = in.read(buf, 0, buf.length)
              while (n >= 0) n = in.read(buf, 0, buf.length)
              null
            } else {
              total += size
              val a = new Array[Byte](size.toInt)
              var off = 0
              var n = in.read(a, off, a.length - off)
              while (n > 0 && off + n < a.length) { off += n; n = in.read(a, off, a.length - off) }
              if (a.length > 0 && (n < 0 || off + n < a.length)) return None // short read: torn
              a
            }
          out += Archive.Member(e.getName, size, data)
        }
        e = in.next()
      }
      Some(out.toSeq)
    } catch { case scala.util.control.NonFatal(_) => None }
    finally if (in != null) { try in.close() catch { case scala.util.control.NonFatal(_) => () } }
  }

  /** The Spark seam — one row per member, the three-way
    * [[Stages.explodePayload]] contract (null struct = malformed
    * archive, null-membered struct = valid empty archive, null `data` =
    * oversized member). */
  def memberStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame =
    Stages.explodePayload(df, payloadCol, outCol, Archive.memberSchema)(b =>
      members(b).map(_.map(m => Row(m.name, m.size, m.data))))

  /** The archive parses and every member fits the budgets. */
  def healthy(bytes: Array[Byte]): Boolean = members(bytes).exists(_.forall(_.data != null))
}

object Archive {

  final case class Member(name: String, size: Long, data: Array[Byte])

  private val memberSchema = StructType(Seq(
    StructField("name", StringType), StructField("size", LongType),
    StructField("data", BinaryType)))

  /** One open archive: the next entry (null at the end) and reads of
    * its content. */
  trait Cursor extends java.io.Closeable {
    def next(): ArchiveEntry
    def read(b: Array[Byte], off: Int, len: Int): Int
  }

  def cursor(in: ArchiveInputStream[_ <: ArchiveEntry]): Cursor = new Cursor {
    def next(): ArchiveEntry = in.getNextEntry
    def read(b: Array[Byte], off: Int, len: Int): Int = in.read(b, off, len)
    def close(): Unit = in.close()
  }

  /** Fixture writer: each (name, data) as one entry of the library's own
    * output stream, `entry` building the format's header. */
  def write[E <: ArchiveEntry](members: Seq[(String, Array[Byte])])(
      open: java.io.OutputStream => ArchiveOutputStream[E])(
      entry: (String, Array[Byte]) => E): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val out = open(bo)
    try {
      members.foreach { case (name, data) =>
        out.putArchiveEntry(entry(name, data))
        out.write(data)
        out.closeArchiveEntry()
      }
      out.finish()
    } finally out.close()
    bo.toByteArray
  }
}
