package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Arrow IPC file ingestion — the random-access on-disk format the
  * HuggingFace `datasets` ecosystem memory-maps its training corpora
  * into, and the lingua franca of the in-memory analytics world. Rides
  * the Apache Arrow reference library already on the Spark classpath
  * (arrow-vector 18.x — the same jars Spark itself uses for its Arrow
  * interchange), the ORC/orc-core precedent: for a format whose
  * reference implementation ships with the engine, wrapping it beats
  * re-implementing a FlatBuffers parser.
  *
  * Contract notes (the honest ones): Arrow IPC carries NO data
  * checksums — it is a trusted-lake format, not a crawl format — so
  * quarantine is STRUCTURAL only (both end magics, valid FlatBuffers
  * metadata, batches that load). A bit flip inside a data buffer is
  * undetectable by ANY Arrow reader and is out of scope here, unlike
  * the CRC-bearing formats (TFRecord/zip/bz2/snappy). What IS enforced:
  * a bounded allocator (`maxAlloc`) so a metadata bomb cannot
  * materialize gigabytes (the library's own OOM surfaces as a
  * quarantine, not a task failure), a record cap, every library
  * exception → None, and native buffer cleanup on ALL paths (leaked
  * direct memory on a million-payload executor is an invisible OOM —
  * the Pdf.inflate lesson). */
object ArrowIpc {

  final case class Batch(idx: Int, records: Seq[IndexedSeq[Any]])
  final case class ArrowData(names: Seq[String], batches: Seq[Batch])

  /** Decode an Arrow IPC FILE payload (magic `ARROW1` at both ends).
    * Unsupported column types yield null values for that column (names
    * keep their slot) rather than failing the shard — mixed-schema
    * lakes are normal; a column the engine can't surface shouldn't
    * discard the ones it can. */
  def decode(bytes: Array[Byte], maxRecords: Int = 1 << 16,
             maxAlloc: Long = 1L << 26): Option[ArrowData] = {
    if (bytes == null || bytes.length < 12) return None
    // cheap pre-check before spinning up an allocator
    val magic = "ARROW1".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    if (!(0 until 6).forall(i => bytes(i) == magic(i))) return None
    if (!(0 until 6).forall(i => bytes(bytes.length - 6 + i) == magic(i))) return None
    val allocator = new org.apache.arrow.memory.RootAllocator(maxAlloc)
    var reader: org.apache.arrow.vector.ipc.ArrowFileReader = null
    try {
      reader = new org.apache.arrow.vector.ipc.ArrowFileReader(
        new org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel(bytes), allocator)
      val root = reader.getVectorSchemaRoot
      val names = scala.jdk.CollectionConverters.ListHasAsScala(
        root.getSchema.getFields).asScala.map(_.getName).toSeq
      val batches = scala.collection.mutable.ArrayBuffer.empty[Batch]
      var total = 0L
      while (reader.loadNextBatch()) {
        val n = root.getRowCount
        total += n
        if (total > maxRecords) return None
        val vecs = (0 until names.length).map(root.getVector)
        val recs = (0 until n).map { i =>
          vecs.map { v =>
            if (v.isNull(i)) null
            else v match {
              case b: org.apache.arrow.vector.BigIntVector => b.get(i)
              case c: org.apache.arrow.vector.IntVector => c.get(i)
              case d: org.apache.arrow.vector.Float8Vector => d.get(i)
              case f: org.apache.arrow.vector.Float4Vector => f.get(i)
              case s: org.apache.arrow.vector.VarCharVector =>
                new String(s.get(i), java.nio.charset.StandardCharsets.UTF_8)
              case bb: org.apache.arrow.vector.VarBinaryVector => bb.get(i)
              case bit: org.apache.arrow.vector.BitVector => bit.get(i) == 1
              case _ => null // unsupported column type: see scaladoc
            }
          }.toIndexedSeq
        }
        batches += Batch(batches.length, recs)
        if (batches.length > 4096) return None
      }
      Some(ArrowData(names, batches.toSeq))
    } catch { case scala.util.control.NonFatal(_) => None }
    finally {
      if (reader != null) { try reader.close() catch { case scala.util.control.NonFatal(_) => () } }
      try allocator.close() catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** The Spark seam — the [[Avro.trainingCols]] surfaced per record
    * (the [[Avro.recordStage]] shape) under the three-way
    * [[Stages.explodePayload]] contract. */
  def recordStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame = {
    val sch = StructType(Seq(
      StructField("batch_idx", IntegerType), StructField("record_idx", IntegerType),
      StructField("id", LongType), StructField("label", LongType),
      StructField("text_len", IntegerType), StructField("score", DoubleType),
      StructField("flag", BooleanType)))
    Stages.explodePayload(df, payloadCol, outCol, sch)(bytes =>
      decode(bytes).map { f =>
        val cols = Avro.trainingCols(f.names)
        f.batches.flatMap(b => b.records.zipWithIndex.map { case (rec, i) =>
          org.apache.spark.sql.Row.fromSeq(Seq(b.idx, i) ++ cols(rec))
        })
      })
  }

  // ------------------------------------------------------------------
  // Fixture encoder (the library's writer; batch boundaries explicit so
  // batch-granular assertions are possible).

  /** One fixture record; `payload=None` writes a null. */
  final case class FixRec(id: Long, label: Long, text: String, score: Double,
                          flag: Boolean, payload: Option[Array[Byte]])

  def encode(records: Seq[FixRec], recordsPerBatch: Int): Array[Byte] = {
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
    import scala.jdk.CollectionConverters._
    def fld(name: String, t: ArrowType): Field =
      new Field(name, FieldType.nullable(t), java.util.Collections.emptyList())
    val schema = new Schema(Seq(
      fld("id", new ArrowType.Int(64, true)),
      fld("label", new ArrowType.Int(64, true)),
      fld("text", ArrowType.Utf8.INSTANCE),
      fld("score", new ArrowType.FloatingPoint(
        org.apache.arrow.vector.types.FloatingPointPrecision.DOUBLE)),
      fld("flag", ArrowType.Bool.INSTANCE),
      fld("payload", ArrowType.Binary.INSTANCE)).asJava)
    val allocator = new org.apache.arrow.memory.RootAllocator(1L << 28)
    val root = org.apache.arrow.vector.VectorSchemaRoot.create(schema, allocator)
    val out = new java.io.ByteArrayOutputStream()
    val writer = new org.apache.arrow.vector.ipc.ArrowFileWriter(
      root, null, java.nio.channels.Channels.newChannel(out))
    try {
      writer.start()
      records.grouped(math.max(1, recordsPerBatch)).foreach { group =>
        root.allocateNew()
        val id = root.getVector("id").asInstanceOf[org.apache.arrow.vector.BigIntVector]
        val label = root.getVector("label").asInstanceOf[org.apache.arrow.vector.BigIntVector]
        val text = root.getVector("text").asInstanceOf[org.apache.arrow.vector.VarCharVector]
        val score = root.getVector("score").asInstanceOf[org.apache.arrow.vector.Float8Vector]
        val flag = root.getVector("flag").asInstanceOf[org.apache.arrow.vector.BitVector]
        val payload = root.getVector("payload").asInstanceOf[org.apache.arrow.vector.VarBinaryVector]
        group.zipWithIndex.foreach { case (rec, i) =>
          id.setSafe(i, rec.id)
          label.setSafe(i, rec.label)
          text.setSafe(i, rec.text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          score.setSafe(i, rec.score)
          flag.setSafe(i, if (rec.flag) 1 else 0)
          rec.payload match {
            case Some(b) => payload.setSafe(i, b)
            case None => payload.setNull(i)
          }
        }
        root.setRowCount(group.length)
        writer.writeBatch()
      }
      writer.end()
    } finally {
      try writer.close() catch { case scala.util.control.NonFatal(_) => () }
      root.close()
      try allocator.close() catch { case scala.util.control.NonFatal(_) => () }
    }
    out.toByteArray
  }
}
