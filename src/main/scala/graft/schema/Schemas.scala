package graft.schema

import org.apache.spark.sql.types._

/** Core document/block schemas (SURVEY.md §1; ref `ingestion/schema.py`).
  *
  * Fixed core + tolerant edges: unknown keys fold into an `extra`
  * map<string,string>; frequently-filtered extras (`section`, `role`,
  * `block_type`, `intent`, `is_heading`, `font_size` — written at ref
  * `ingestion/pdf_parser.py:361-379`) are promoted to real columns so
  * predicates stay native (§1.4).
  */
object Schemas {

  val bbox: StructType = StructType(Seq(
    StructField("x0", DoubleType), StructField("y0", DoubleType),
    StructField("x1", DoubleType), StructField("y1", DoubleType)))

  /** ref `ingestion/schema.py:69-94` */
  val documentMeta: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("file_name", StringType),
    StructField("doc_type", StringType),
    StructField("page_count", IntegerType),
    StructField("ingested_at", TimestampType),
    StructField("source", StringType)))

  /** ref `ingestion/schema.py:101-132`; includes legacy alias columns the
    * reader coalesces (`graft.io.Bundle`). */
  val textBlock: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("doc_id", StringType),
    StructField("page", IntegerType),
    StructField("content", StringType),
    StructField("section", StringType),
    StructField("category", StringType),
    StructField("role", StringType),
    StructField("block_type", StringType),
    StructField("intent", ArrayType(StringType)),
    StructField("is_heading", BooleanType),
    StructField("font_size", DoubleType),
    StructField("bbox", bbox),
    StructField("extra", MapType(StringType, StringType))))

  /** ref `ingestion/schema.py:139-331`; `header` is the legacy alias of
    * `columns`, `markdown_content` of `markdown` (§1.3). */
  val tableBlock: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("doc_id", StringType),
    StructField("page", IntegerType),
    StructField("name", StringType),
    StructField("section", StringType),
    StructField("category", StringType),
    StructField("role", StringType),
    StructField("columns", ArrayType(StringType)),
    StructField("header", ArrayType(StringType)),
    StructField("rows", ArrayType(ArrayType(StringType))),
    StructField("markdown", StringType),
    StructField("markdown_content", StringType),
    StructField("html_content", StringType),
    StructField("source", StringType),
    StructField("method", StringType),
    StructField("numeric_trust", StringType),
    StructField("structured_available", BooleanType),
    StructField("raw_available", BooleanType),
    StructField("structure_lossy", BooleanType),
    StructField("bbox", bbox),
    StructField("extra", MapType(StringType, StringType))))

  /** ref `ingestion/schema.py:338-384`; `image_path` aliases `file_path`. */
  val imageBlock: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("doc_id", StringType),
    StructField("page", IntegerType),
    StructField("file_path", StringType),
    StructField("image_path", StringType),
    StructField("caption", StringType),
    StructField("section", StringType),
    StructField("category", StringType),
    StructField("role", StringType),
    StructField("bbox", bbox),
    StructField("extra", MapType(StringType, StringType))))

  /** ref `backend/services/chunking.py:69-76` */
  val chunk: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("doc_id", StringType),
    StructField("doc_type", StringType),
    StructField("source", StringType),   // ∈ {text, table, image}
    StructField("page", IntegerType),
    StructField("content", StringType),
    StructField("metadata", MapType(StringType, StringType))))

  val numericTrustValues: Seq[String] = Seq("high", "medium", "low", "unknown")
}

/** Typed core for `Dataset[T]` use where compile-time field checks help. */
final case class BBox(x0: Double, y0: Double, x1: Double, y1: Double)
final case class DocumentMeta(doc_id: String, file_name: String, doc_type: String,
                              page_count: Int, ingested_at: java.sql.Timestamp, source: String)
final case class TextBlock(id: String, doc_id: String, page: Int, content: String,
                           section: Option[String], block_type: Option[String])
final case class Chunk(id: String, doc_id: String, doc_type: String, source: String,
                       page: Option[Int], content: String)
