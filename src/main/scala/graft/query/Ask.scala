package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.index.{Embed, Rerank}

/** The retrieval/ask pipeline (SURVEY.md §3.2 steps 3–6 + 9–10 as one
  * lazy DataFrame; ref `backend/services/rag.py:492-792`).
  *
  * search (similarity top-k with metadata filters) → keyword rerank →
  * sigmoid-normalized score → relevance threshold filter → Q&A direct-match
  * fallback → SHOW_TABLE tag resolution → sources projection.
  *
  * The plan of `ask` → `resolveShowTableTags` → `sources` scans the corpus
  * once. The scan, the score and the fetch top-k (TakeOrderedAndProject,
  * no full sort) form one codegen'd stage; the keyword overlap, the
  * relevance gate and the final top-k run on the fetched rows only. Tag
  * resolution folds the dimension into one row inside the answers' own
  * task and cross-joins it onto them as a `CartesianProduct`: no
  * `Exchange`, no `BroadcastExchange`, no window. Over parquet inputs,
  * collecting it runs one Spark job with one task.
  *
  * The similarity stage scores with the keyword expression by default; pass
  * `scoreFn` to score differently — e.g. `Embed.dot(col("embedding"),
  * queryVec)` against a model embedding column (V2, via
  * `graft.udf.ModelStage`), see AskSkewSpec's embedding-scored test.
  */
object Ask {

  final case class AskConfig(
    topK: Int = 5,
    overFetch: Int = 3,              // ref fetches k*3 then cuts post-rerank
    minScore: Double = 0.25,
    semanticOnly: Double = 0.75,
    qnaAccept: Double = 0.75,
    stopwords: Seq[String] = Seq("the", "a", "of", "and", "or", "to"))

  /** Full pipeline over a (id, content, meta…) corpus for one query string.
    * `scoreFn` overrides the retrieval score (default: sigmoid-normalized
    * keyword score) — supply an embedding similarity to compose V2
    * retrieval into the pipeline; the keyword overlap still feeds the
    * relevance filter's hybrid gate. */
  def ask(corpus: DataFrame, idCol: String, contentCol: String, query: String,
          cfg: AskConfig = AskConfig(),
          metadataFilter: Column = lit(true),
          scoreFn: Option[Column] = None): DataFrame = {
    val terms = query.toLowerCase.split("\\s+").filterNot(cfg.stopwords.contains).toSeq
    val kw = Rerank.keywordScore(col(contentCol), terms, query)
    val score = scoreFn.getOrElse(Rerank.sigmoid(kw))
    val overlap = Rerank.keywordOverlap(col(contentCol), lit(query), cfg.stopwords)
    val fetched = corpus
      .filter(metadataFilter)                       // P8: pushed-down metadata filters
      .withColumn("score", score)
      .orderBy(col("score").desc, col(idCol))       // T1: TakeOrderedAndProject
      .limit(cfg.topK * cfg.overFetch)
      // only the relevance gate reads the overlap: tokenize the fetched
      // rows, not the corpus
      .withColumn("overlap", overlap)
    fetched
      .filter(Rerank.relevanceFilter(col("score"), col("overlap"), cfg.minScore, cfg.semanticOnly))
      .orderBy(col("score").desc, col(idCol))
      .limit(cfg.topK)
  }

  /** J4/A9: Q&A direct-match fallback — when retrieval returns nothing,
    * score the query against extracted Q&A pairs and accept the best match
    * above the threshold. Scoring is the CPython-exact
    * `difflib.SequenceMatcher.ratio` (native codegen'd expression,
    * `graft.functions.DifflibRatio`) with the reference's argument order
    * `ratio(query, question)` (ref `rag.py:432-433,475`); inputs are
    * lowercased for case-robust matching. */
  def qnaFallback(qnaPairs: DataFrame, questionCol: String, query: String,
                  accept: Double): DataFrame = {
    implicit val spark: org.apache.spark.sql.SparkSession = qnaPairs.sparkSession
    val sim = GraftFunctions.difflib_ratio(lit(query.toLowerCase), lower(col(questionCol)))
    qnaPairs.withColumn("match_score", sim)
      .filter(col("match_score") >= accept)
      .orderBy(col("match_score").desc)
      .limit(1)
  }

  /** §3.2 step 9 — resolve `[SHOW_TABLE:CAT=x]` tags in answer strings
    * against a table-source dimension (ref `backend/main.py:128-163`,
    * `rag.py:745-779`), in one pass over `answers`:
    *
    *  - the dimension folds into ONE row: its `(trim(cat), cat, html)`
    *    entries, sorted, keeping per raw category only the first (lowest
    *    html, nulls first). The fold reads the dimension as one partition,
    *    so its global aggregate plans no exchange, and the row joins the
    *    answers as a `CartesianProduct` (the `shuffle_replicate_nl` hint,
    *    which shuffles nothing here): the answers never shuffle, keep
    *    their order, and no broadcast job runs before them.
    *  - each answer's distinct tags (`regexp_extract_all`) look up every
    *    category equal to the tag after `trim` on both sides; a tag
    *    without a match maps to `""`, which removes it (main.py
    *    semantics).
    *  - the wrapped HTML is substituted with a fold over the answer's
    *    `(tag, replacement)` list in sorted order: if a replacement ever
    *    contained a tag literal itself, fold order would change the
    *    output, and sorting pins it.
    *
    * Answers with a null id, a null answer or no tags pass through
    * untouched; each answer resolves its own tags, duplicate ids
    * included. The id column comes first in the output. The whole
    * dimension must fit in one row, and each tag searches it linearly: it
    * is the handful of table categories of a document set, not a
    * data-sized relation. The cartesian plan evaluates the dimension's
    * plan once per answers partition, so it must also be cheap to
    * compute: a top-k of answers is one partition and folds it once,
    * data-sized answers (`ask2_show_table`) re-read it per partition. */
  def resolveShowTableTags(answers: DataFrame, idCol: String, answerCol: String,
                           tables: DataFrame, catCol: String, htmlCol: String): DataFrame = {
    val tagPat = "\\[SHOW_TABLE:CAT=([^\\]]*)\\]"
    val sorted = tables.coalesce(1).agg(sort_array(collect_list(
      struct(trim(col(catCol)).as("k"), col(catCol).as("c"), col(htmlCol).as("h")))).as("_dim"))
    // the first entry of each raw category is the lowest html, nulls first;
    // null-safe, as a null category sorts first (and never matches a tag)
    val firsts = filter(col("_dim"), (e, i) => !(get(col("_dim"), i - 1).getField("c") <=> e.getField("c")))
    val dim = sorted.select(transform(firsts, e => struct(e.getField("k").as("k"),
      coalesce(concat(lit("<br><div class='table-responsive'>"), e.getField("h"), lit("</div><br>")),
        lit("")).as("r"))).as("_dim"))
    val subs = sort_array(flatten(transform(
      array_distinct(regexp_extract_all(col(answerCol), lit(tagPat), lit(1))), tag => {
        val repls = transform(filter(col("_dim"), e => e.getField("k") === trim(tag)), _.getField("r"))
        transform(when(size(repls) === 0, array(lit(""))).otherwise(repls), r =>
          struct(tag.as("_tag"), r.as("_repl")))
      })))
    val resolved = when(col(idCol).isNull, col(answerCol))
      .otherwise(aggregate(subs, col(answerCol), (acc, t) =>
        replace(acc, concat(lit("[SHOW_TABLE:CAT="), t.getField("_tag"), lit("]")), t.getField("_repl"))))
    answers.crossJoin(dim.hint("shuffle_replicate_nl"))
      .select(col(idCol) +: answers.columns.toSeq.filter(_ != idCol).map(c =>
        if (c == answerCol) resolved.as(answerCol) else col(c)): _*)
  }

  /** Sources projection (ref `rag.py:781-790`): ranked hits → presentation
    * columns with per-chunk content caps (P11). */
  def sources(hits: DataFrame, idCol: String, contentCol: String, maxChars: Int = 3000): DataFrame =
    hits.select(col(idCol), substring(col(contentCol), 1, maxChars).as("snippet"),
      round(col("score"), 6).as("score"))
}
