package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Shared plumbing for row-wise executor-side stages: append computed
  * fields to each row through one `mapPartitions` with a single
  * RowEncoder. Rows stream one at a time — a row-wise `f` needs no batch
  * buffering, so peak memory is one input row plus its output (the
  * batched variant for extractors that genuinely consume payload BATCHES
  * lives in [[Multimodal.extractFeatures]]).
  *
  * The binary-payload decoders (images, audio, archives, record files,
  * PDF extract) go through the two payload seams: [[payloadStage]] for
  * one value per payload, [[explodePayload]] for containers with one row
  * per member. [[appendFields]] stays for stages that compute from
  * several columns or from no payload at all. */
object Stages {

  def appendFields(df: DataFrame, newFields: Seq[StructField])(f: Row => Seq[Any]): DataFrame = {
    val outSchema = newFields.foldLeft(df.schema)(_ add _)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    df.mapPartitions(rows => rows.map(r => Row.fromSeq(r.toSeq ++ f(r))))(enc)
  }

  /** Append `decode(payload)` as `outCol` of type `outType`; `None` (a
    * malformed payload) gives null. */
  def payloadStage(df: DataFrame, payloadCol: String, outCol: String, outType: DataType)(
      decode: Array[Byte] => Option[Any]): DataFrame = {
    val idx = df.schema.fieldIndex(payloadCol)
    appendFields(df, Seq(StructField(outCol, outType)))(r =>
      Seq(decode(r.getAs[Array[Byte]](idx)).getOrElse(null)))
  }

  /** The container seam: one output row per member `decode` returns,
    * each the input row plus the member as struct `outCol` of `sch`. The
    * three-way contract every container stage follows:
    *  - a malformed payload (`None`) gives one row with a null struct;
    *  - a valid but empty container (`Some(Nil)`) gives one row whose
    *    struct is non-null with every member null, so "scanned and
    *    empty" stays distinguishable from "malformed";
    *  - an absent payload (no input row) gives no row.
    * A container whose empty case carries data of its own (an AVI's
    * header with zero frames) returns that row itself. */
  def explodePayload(df: DataFrame, payloadCol: String, outCol: String, sch: StructType)(
      decode: Array[Byte] => Option[Seq[Row]]): DataFrame = {
    val idx = df.schema.fieldIndex(payloadCol)
    val empty = Row.fromSeq(Seq.fill(sch.length)(null))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(
      df.schema.add(StructField(outCol, sch)))
    df.mapPartitions(rows => rows.flatMap { r =>
      val members: Seq[Row] = decode(r.getAs[Array[Byte]](idx)) match {
        case None => Seq(null)
        case Some(ms) if ms.isEmpty => Seq(empty)
        case Some(ms) => ms
      }
      members.iterator.map(m => Row.fromSeq(r.toSeq :+ m))
    })(enc)
  }
}
