package graft.index

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic embedding stand-ins (SURVEY.md §2.9 V1).
  *
  * The reference embeds with multilingual-e5-large (`backend/services/
  * embeddings.py:32-67`) — a pluggable model stage in our engine
  * (`graft.udf.ModelStage`). The native deterministic path builds sparse
  * lexical vectors as pure Catalyst expressions so the whole index pipeline
  * is codegen'd and oracle-checkable.
  */
object Embed {

  /** Whitespace tokenization, lowercased — matches the reference's explicit
    * whitespace semantics (`rag.py:232`). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Fixed-vocabulary count vector: v[i] = occurrences of vocab(i). The
    * deterministic analog of a bag-of-words embedding (array<double>).
    * Single fold over the tokens — a per-vocab-word filter would re-split
    * the text once per vocabulary entry. */
  def vocabVector(text: Column, vocab: Seq[String]): Column = {
    val toks = tokens(text)
    val vocabArr = array(vocab.map(lit): _*)
    aggregate(toks, array_repeat(lit(0.0), vocab.size), (acc, t) =>
      zip_with(acc, transform(vocabArr, w => when(t === w, 1.0).otherwise(0.0)), (a, b) => a + b))
  }

  /** L2-normalize an array<double> vector (null-safe; zero vector stays 0). */
  def l2Normalize(vec: Column): Column = {
    val norm = sqrt(norm2(vec))
    transform(vec, x => when(norm > 0, x / norm).otherwise(lit(0.0)))
  }

  /** Dot product of two equal-length numeric arrays — sequential fold in
    * element order (deterministic IEEE result, bit-identical to the HOF
    * `aggregate(zip_with(...))` formulation and DuckDB's
    * `list_dot_product`). Runs as the native codegen'd `array_dot`
    * expression (`graft.functions.ArrayDotExpr`) — the HOF chain is
    * interpreted per row, which dominated the candidate-verify joins. */
  def dot(a: Column, b: Column): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    graft.functions.GraftFunctions.register(spark)
    call_function("array_dot", a, b)
  }

  /** Squared L2 norm as a self-dot (same codegen'd expression). */
  def norm2(a: Column): Column = dot(a, a)

  /** Cosine similarity (vectors need not be pre-normalized). */
  def cosine(a: Column, b: Column): Column = {
    val na = sqrt(norm2(a))
    val nb = sqrt(norm2(b))
    when(na > 0 && nb > 0, dot(a, b) / (na * nb)).otherwise(lit(0.0))
  }
}
