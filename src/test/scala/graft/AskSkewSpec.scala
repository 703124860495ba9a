package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.index.Rerank
import graft.query.Ask
import graft.ops.Skew

class AskSkewSpec extends SparkSpec {
  import spark.implicits._

  test("Ask pipeline retrieves, reranks, filters, and caps to top-k") {
    val corpus = graft.tables.TestTables.documents(spark, sf)
    val hits = Ask.ask(corpus, "doc_id", "text", "spark join stream",
      Ask.AskConfig(topK = 5))
    val rows = hits.collect()
    assert(rows.length == 5)
    val scores = rows.map(_.getAs[Double]("score")).toSeq
    assert(scores == scores.sorted.reverse, "hits must be score-descending")
    assert(scores.forall(_ >= 0.25))
    val sources = Ask.sources(hits, "doc_id", "text", maxChars = 50).collect()
    assert(sources.forall(_.getAs[String]("snippet").length <= 50))
  }

  test("Ask metadata filter restricts the corpus before scoring") {
    val corpus = graft.tables.TestTables.documents(spark, sf)
    val hits = Ask.ask(corpus, "doc_id", "text", "spark join",
      metadataFilter = col("lang") === "en")
    val langs = hits.select("lang").distinct().collect().map(_.getString(0))
    assert(langs.toSeq == Seq("en"))
  }

  test("ask with scoreFn composes embedding similarity into the pipeline") {
    val emb = graft.tables.TestTables.embeddings(spark, sf)
      .select(col("vec_id").as("doc_id"), col("embedding"),
        concat(lit("doc "), col("vec_id")).as("text"))
    val qv = emb.filter(col("doc_id") === 0).select(col("embedding").as("qv"))
    val corpus = emb.crossJoin(broadcast(qv))
    val hits = Ask.ask(corpus, "doc_id", "text", "irrelevant keywords",
      Ask.AskConfig(topK = 3, minScore = 0.0, semanticOnly = 0.0),
      scoreFn = Some(graft.index.Embed.cosine(col("embedding"), col("qv"))))
      .collect()
    assert(hits.length == 3)
    // the query vector itself must rank first under cosine scoring
    assert(hits.head.getAs[Long]("doc_id") == 0L)
    assert(math.abs(hits.head.getAs[Double]("score") - 1.0) < 1e-9)
  }

  test("ask tokenizes after the fetch cut and returns what the all-rows chain did") {
    // the chain as it was when the overlap was computed on every row
    def allRowsAsk(corpus: DataFrame, query: String, cfg: Ask.AskConfig): DataFrame = {
      val terms = query.toLowerCase.split("\\s+").filterNot(cfg.stopwords.contains).toSeq
      corpus
        .withColumn("score", Rerank.sigmoid(Rerank.keywordScore(col("text"), terms, query)))
        .withColumn("overlap", Rerank.keywordOverlap(col("text"), lit(query), cfg.stopwords))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(cfg.topK * cfg.overFetch)
        .filter(Rerank.relevanceFilter(col("score"), col("overlap"), cfg.minScore, cfg.semanticOnly))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(cfg.topK)
    }
    val corpus = graft.tables.TestTables.documents(spark, sf)
    for ((query, cfg) <- Seq(
        "spark join stream" -> Ask.AskConfig(),
        "the hash of sort" -> Ask.AskConfig(topK = 7),
        "vector join" -> Ask.AskConfig(topK = 4, minScore = 0.5, semanticOnly = 0.9))) {
      val got = Ask.ask(corpus, "doc_id", "text", query, cfg)
      val want = allRowsAsk(corpus, query, cfg)
      assert(got.columns.toSeq == want.columns.toSeq, query)
      val rows = got.collect().toSeq
      assert(rows.nonEmpty, query)
      assert(rows == want.collect().toSeq, query)
    }
  }

  test("resolveShowTableTags substitutes, repeats, and strips unresolved") {
    // the self-join resolution it replaces, kept as the oracle: first match
    // per raw category by a row_number window, tags exploded and joined to
    // the dimension, regrouped per id and joined back onto the answers
    def selfJoinResolve(answers: DataFrame, idCol: String, answerCol: String,
                        tables: DataFrame, catCol: String, htmlCol: String): DataFrame = {
      val tagPat = "\\[SHOW_TABLE:CAT=([^\\]]*)\\]"
      val rn = row_number().over(Window.partitionBy(col(catCol)).orderBy(col(htmlCol)))
      val dim = tables.withColumn("_rn", rn).filter(col("_rn") === 1)
        .select(trim(col(catCol)).as("_cat"),
          concat(lit("<br><div class='table-responsive'>"), col(htmlCol), lit("</div><br>")).as("_repl"))
      val tags = answers.select(col(idCol),
          explode(array_distinct(regexp_extract_all(col(answerCol), lit(tagPat), lit(1)))).as("_tag"))
        .join(broadcast(dim), trim(col("_tag")) === col("_cat"), "left")
        .groupBy(idCol)
        .agg(sort_array(collect_list(struct(col("_tag"), coalesce(col("_repl"), lit("")).as("_repl")))).as("_subs"))
      answers.join(tags, Seq(idCol), "left")
        .withColumn(answerCol,
          when(col("_subs").isNull, col(answerCol))
            .otherwise(aggregate(col("_subs"), col(answerCol), (acc, t) =>
              replace(acc, concat(lit("[SHOW_TABLE:CAT="), t.getField("_tag"), lit("]")), t.getField("_repl")))))
        .drop("_subs")
    }
    def tag(c: String) = s"[SHOW_TABLE:CAT=$c]"
    // id is not the first column: both versions must move it first
    val answers = Seq[(Int, Option[Long], Option[String])](
      (0, Some(1L), Some(s"a ${tag("x")} b ${tag("x")} c")),        // same tag twice
      (1, Some(2L), Some(s"see ${tag("y")} and ${tag("missing")}")), // several tags, one unresolved
      (2, Some(3L), Some("no tags here")),
      (3, Some(4L), Some(s"dup ${tag("d")}")),                       // duplicate category
      (4, Some(5L), Some(s"pad ${tag("w")} and ${tag(" w ")}")),     // padded categories and tag
      (5, Some(6L), Some(s"null html ${tag("n")}")),
      (6, Some(7L), Some(s"empty ${tag("")} tag")),
      (7, Some(8L), None),                                           // null answer
      (8, None, Some(s"null id ${tag("x")}")),
      (9, Some(10L), Some(s"first ${tag("x")}")),                    // duplicate ids
      (10, Some(10L), Some(s"second ${tag("y")} ${tag("d")}")),
      (11, Some(12L), Some(s"${tag("e")} then ${tag("y")}")),        // html holding a later tag
      (12, Some(13L), Some(s"${tag("x")} then ${tag("z")}"))         // html holding an earlier tag
    ).toDF("rank", "id", "answer")
    val tables = Seq[(Option[String], Option[String])](
      Some("x") -> Some("<table>X</table>"), Some("y") -> Some("<table>Y</table>"),
      Some("y") -> Some("<table>ZZZ-later</table>"),
      Some("d") -> Some("<b>2</b>"), Some("d") -> Some("<b>1</b>"), Some("d") -> Some("<b>3</b>"),
      Some(" w") -> Some("<w>lead</w>"), Some("w ") -> Some("<w>trail</w>"), Some("w") -> Some("<w>bare</w>"),
      Some("n") -> Some("<n/>"), Some("n") -> None, Some(" ") -> Some("<blank/>"),
      None -> Some("<nullcat/>"), Some("e") -> Some(tag("y")), Some("z") -> Some(tag("x"))
    ).toDF("cat", "html")
    val out = Ask.resolveShowTableTags(answers, "id", "answer", tables, "cat", "html")
    assert(out.columns.toSeq == Seq("id", "rank", "answer"))
    val byRank = out.collect().map(r => r.getAs[Int]("rank") -> r.getAs[String]("answer")).toMap
    def wrap(h: String) = s"<br><div class='table-responsive'>$h</div><br>"
    assert(byRank(0) == s"a ${wrap("<table>X</table>")} b ${wrap("<table>X</table>")} c")
    assert(byRank(1) == s"see ${wrap("<table>Y</table>")} and ") // first-match on y; unresolved removed
    assert(byRank(2) == "no tags here")
    assert(byRank(3) == s"dup ${wrap("<b>1</b>")}")
    assert(byRank(5) == "null html ")
    assert(byRank(7) == null && byRank(8) == s"null id ${tag("x")}")
    def same(got: DataFrame, want: DataFrame): Unit = {
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(got.collect().map(_.toString).sorted.toSeq == want.collect().map(_.toString).sorted.toSeq)
    }
    same(out, selfJoinResolve(answers, "id", "answer", tables, "cat", "html"))
    val noTables = tables.filter(lit(false))
    same(Ask.resolveShowTableTags(answers, "id", "answer", noTables, "cat", "html"),
      selfJoinResolve(answers, "id", "answer", noTables, "cat", "html"))
    // the cartesian plan folds the dimension once per answers partition:
    // answers over several partitions, a dimension read from several files
    val spread = answers.repartition(3, col("rank"))
    assert(spread.rdd.mapPartitions(rows => Iterator(rows.size)).collect().count(_ > 0) == 3)
    val dimPath = s"${System.getProperty("java.io.tmpdir")}/graft_ask_skew_spec_dim"
    tables.repartition(2).write.mode("overwrite").parquet(dimPath)
    val stored = spark.read.parquet(dimPath)
    assert(stored.inputFiles.length >= 2)
    same(Ask.resolveShowTableTags(spread, "id", "answer", stored, "cat", "html"),
      selfJoinResolve(spread, "id", "answer", stored, "cat", "html"))
  }

  test("qnaFallback accepts only close question matches") {
    val pairs = Seq(
      ("how do i reset the password", "use the reset link"),
      ("what is the capital of france", "paris")).toDF("question", "answer")
    val hit = Ask.qnaFallback(pairs, "question", "how do i reset the password", 0.75)
    assert(hit.count() == 1 && hit.collect()(0).getAs[String]("answer") == "use the reset link")
    val miss = Ask.qnaFallback(pairs, "question", "completely unrelated query text", 0.75)
    assert(miss.count() == 0)
  }

  test("saltedAgg equals plain aggregation on skewed data") {
    val skewed = (1 to 5000).map(i => (if (i % 10 == 0) "cold" + i else "HOT", i.toLong)).toDF("k", "v")
    val salted = Skew.saltedAgg(skewed, Seq("k"), 8, Map("v" -> "sum"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    val plain = skewed.groupBy("k").agg(sum("v").as("s"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(salted.toSeq == plain.toSeq)
  }

  test("skewJoin equals plain join on skewed fact") {
    val fact = (1 to 2000).map(i => (if (i % 4 == 0) 1L else (i % 50).toLong, i)).toDF("k", "v")
    val dim = (0L to 49L).map(k => (k, s"dim$k")).toDF("k", "name")
    val a = Skew.skewJoin(fact, dim, "k", Seq(1L), 8)
      .groupBy("name").count().orderBy("name").collect().map(r => (r.getString(0), r.getLong(1)))
    val b = fact.join(dim, "k")
      .groupBy("name").count().orderBy("name").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
  }
}
