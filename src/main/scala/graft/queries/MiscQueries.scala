package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.TestTables._
import graft.ops.{Cleaning, Layout, Merge, Chunking, TextAnalysis}
import graft.index.Rerank

/** Remaining scalar / projection / rollup inventory (SURVEY.md §2.2
  * P3/P4/P7/P10, §2.4 A3/A5/A6, §2.6 T5, §2.7 U1, §2.8
  * F1/F2/F3/F6/F15/F18/F20 + date functions, S4 schema'd JSON read;
  * prompt family: quality scoring).
  */
object MiscQueries extends QuerySet {

  /** S3: OCR routing — use digital text when meaningful (>5 word chars),
    * otherwise route to the OCR stage (here: the deterministic fallback
    * marker; the real stage is a pluggable `udf.ModelStage`). */
  val s3Routing = Q("s3_ocr_routing",
    Some("""SELECT doc_id,
              CASE WHEN length(regexp_replace(trim(content), '[^A-Za-z0-9]', '', 'g')) > 5
                   THEN trim(content) ELSE concat('OCR:', CAST(doc_id AS VARCHAR)) END AS routed
            FROM (SELECT doc_id, CASE WHEN doc_id % 6 = 0 THEN ' . . ' ELSE substr(text, 1, 40) END AS content
                  FROM documents) t ORDER BY doc_id"""),
    (s, d) => {
      val content = when(col("doc_id") % 6 === 0, lit(" . . ")).otherwise(substring(col("text"), 1, 40))
      documents(s, d)
        .select(col("doc_id"),
          when(length(regexp_replace(trim(content), "[^A-Za-z0-9]", "")) > 5, trim(content))
            .otherwise(concat(lit("OCR:"), col("doc_id").cast("string"))).as("routed"))
        .orderBy("doc_id")
    })

  /** F1: block-type detect on deterministically-prefixed content. */
  val f1BlockType = Q("f1_block_type",
    Some("""SELECT doc_id, CASE
              WHEN regexp_matches(upper(trim(content)), '^(WARNING|CAUTION|DANGER|คำเตือน|ข้อควรระวัง)[:\s]') THEN 'warning'
              WHEN regexp_matches(upper(trim(content)), '^(NOTE|NOTICE|REMARK|หมายเหตุ)[:\s]') THEN 'note'
              WHEN regexp_matches(upper(trim(content)), '^(STEP\s*[0-9]+|[0-9]+[.)]\s|ขั้นตอนที่)') THEN 'step'
              ELSE 'paragraph' END AS block_type
            FROM (SELECT doc_id, CASE
                    WHEN doc_id % 5 = 0 THEN concat('Warning: ', text)
                    WHEN doc_id % 5 = 1 THEN concat('Note: ', text)
                    WHEN doc_id % 5 = 2 THEN concat('Step 3 ', text)
                    ELSE text END AS content FROM documents) t
            ORDER BY doc_id"""),
    (s, d) => {
      val content = when(col("doc_id") % 5 === 0, concat(lit("Warning: "), col("text")))
        .when(col("doc_id") % 5 === 1, concat(lit("Note: "), col("text")))
        .when(col("doc_id") % 5 === 2, concat(lit("Step 3 "), col("text")))
        .otherwise(col("text"))
      documents(s, d)
        .select(col("doc_id"), Layout.blockType(content).as("block_type"))
        .orderBy("doc_id")
    })

  /** F2+A1: heading detect against the per-partition median (window). */
  val f2Heading = Q("f2_heading_detect",
    Some("""SELECT event_id,
              (value > quantile_cont(value, 0.5) OVER (PARTITION BY event_type) * 1.2
               AND length(event_type) < 200
               AND NOT regexp_full_match(event_type, '[\d\s.,%-]+')) AS is_heading
            FROM events ORDER BY event_id"""),
    (s, d) => {
      val df = Layout.partitionMedian(events(s, d), Seq(col("event_type")), col("value"), "med")
      df.select(col("event_id"),
        Layout.isHeading(col("value"), col("med"), col("event_type")).as("is_heading"))
        .orderBy("event_id")
    })

  /** F3: section-title normalization (numbered-prefix strip + cap). */
  val f3Title = Q("f3_title_normalize",
    Some("""SELECT p_partkey, substr(trim(regexp_replace(regexp_replace(
              concat('1.2 ', p_name, '   x'), '^\s*(\d+(\.\d+)*[.)]?|[A-Za-z][.)])\s+', '', 'g'), '\s+', ' ', 'g')), 1, 150) AS title
            FROM part ORDER BY p_partkey"""),
    (s, d) => part(s, d)
      .select(col("p_partkey"),
        Cleaning.normalizeSectionTitle(concat(lit("1.2 "), col("p_name"), lit("   x"))).as("title"))
      .orderBy("p_partkey"))

  /** F6: answer-scope mapping from block type. */
  val f6Scope = Q("f6_answer_scope",
    Some("""SELECT doc_id, CASE bt WHEN 'step' THEN 'procedure' WHEN 'warning' THEN 'warning'
              WHEN 'note' THEN 'note' ELSE 'general' END AS answer_scope
            FROM (SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN 'step'
                    WHEN doc_id % 4 = 1 THEN 'warning' WHEN doc_id % 4 = 2 THEN 'note'
                    ELSE 'paragraph' END AS bt FROM documents) t ORDER BY doc_id"""),
    (s, d) => {
      val bt = when(col("doc_id") % 4 === 0, "step").when(col("doc_id") % 4 === 1, "warning")
        .when(col("doc_id") % 4 === 2, "note").otherwise("paragraph")
      documents(s, d)
        .select(col("doc_id"),
          when(bt === "step", "procedure").when(bt === "warning", "warning")
            .when(bt === "note", "note").otherwise("general").as("answer_scope"))
        .orderBy("doc_id")
    })

  /** P3: Thai de-hyphenation — planted Thai junctions + dot leaders.
    * (Isolated junctions, so the capture-group oracle matches the
    * lookaround implementation exactly.) */
  val p3Thai = Q("p3_thai_dehyphen",
    Some("""SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(
              concat('กา', chr(10), 'รา ', substr(text, 1, 40), ' ...... ', 'ไท', chr(10), 'ย'),
              '([\x{0E00}-\x{0E7F}])\s*[\r\n]+\s*([\x{0E00}-\x{0E7F}])', '\1\2', 'g'),
              '\.{3,}', ' ', 'g'), '\s+', ' ', 'g')) AS cleaned
            FROM documents ORDER BY doc_id"""),
    (s, d) => documents(s, d)
      .select(col("doc_id"), Cleaning.dehyphenateThai(
        concat(lit("กา\nรา "), substring(col("text"), 1, 40), lit(" ...... "), lit("ไท\nย"))).as("cleaned"))
      .orderBy("doc_id"))

  /** P4: header/footer band cut on synthesized layout boxes. */
  val p4Band = Q("p4_content_band",
    Some("""SELECT event_id FROM (
              SELECT event_id, value % 800 AS y0, value % 800 + 20 AS y1 FROM events) t
            WHERE y1 >= 0.07 * CAST(800 AS DOUBLE) AND y0 <= 0.93 * CAST(800 AS DOUBLE)
            ORDER BY event_id"""),
    (s, d) => {
      val df = events(s, d)
        .withColumn("y0", col("value") % 800)
        .withColumn("y1", col("value") % 800 + 20)
      df.filter(Cleaning.inContentBand(col("y0"), col("y1"), lit(800.0)))
        .select("event_id").orderBy("event_id")
    })

  /** P7: relevance gate (score/overlap thresholds) end-to-end. */
  val p7Relevance = Q("p7_relevance_filter",
    Some("""WITH scored AS (
              SELECT doc_id,
                1.0 / (1.0 + exp(-((CASE WHEN contains(lower(text), 'vector') THEN 1.0 ELSE 0.0 END) +
                                   (CASE WHEN contains(lower(text), 'hash') THEN 1.0 ELSE 0.0 END) - 1.0))) AS score,
                len(list_intersect(['vector', 'hash'],
                    list_distinct(string_split_regex(lower(text), '\s+')))) AS overlap
              FROM documents)
            SELECT doc_id, round(score, 6) AS score FROM scored
            WHERE score >= 0.25 AND (overlap >= 1 OR score >= 0.75)
            ORDER BY doc_id"""),
    (s, d) => {
      val score = Rerank.sigmoid(
        Rerank.keywordScore(col("text"), Seq("vector", "hash"), "__nophrase__") - lit(1.0))
      val overlap = Rerank.keywordOverlap(col("text"), lit("vector hash"), Seq("zzzz"))
      documents(s, d)
        .select(col("doc_id"), score.as("score"), overlap.as("overlap"))
        .filter(Rerank.relevanceFilter(col("score"), col("overlap")))
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    })

  /** P10: HTML sanitization (script strip, handler strip, javascript:). */
  val p10Html = Q("p10_html_sanitize",
    Some("""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
              concat('<div onclick="x()" onmouseover=bad>', substr(text, 1, 30),
                     '<script>alert(1)</script><a href="javascript:boom()">ok</a></div>'),
              '(?is)<script.*?</script>', '', 'g'),
              '(?i)\son\w+\s*=\s*("[^"]*"|''[^'']*''|[^\s>]+)', '', 'g'),
              '(?i)javascript:', '', 'g') AS safe_html
            FROM documents ORDER BY doc_id"""),
    (s, d) => documents(s, d)
      .select(col("doc_id"), Cleaning.sanitizeHtml(
        concat(lit("<div onclick=\"x()\" onmouseover=bad>"), substring(col("text"), 1, 30),
          lit("<script>alert(1)</script><a href=\"javascript:boom()\">ok</a></div>"))).as("safe_html"))
      .orderBy("doc_id"))

  /** P15: boilerplate removal by line-level text/link density (the
    * boilerpipe/jusText heuristic, DOM-free): synthesized pages wrap real
    * doc text in a link-dense nav bar, a too-short line, a "related
    * articles" block (long enough but link-dominated — the density gate,
    * not the length gate, must kill it) and a footer. The integer
    * cross-multiplied density (linkChars·3 ≤ textLen) is exact in both
    * engines; the oracle replays the whole line pipeline with the same
    * regexes. */
  val p15Boilerplate = Q("p15_boilerplate_extract",
    Some("""WITH h AS (SELECT doc_id, concat_ws(chr(10),
              '<div class=nav><a href=/>Home</a> <a href=/a>About</a> <a href=/c>Contact</a></div>',
              concat('<p>', substr(text, 1, 80), '</p>'),
              '<p>Short.</p>',
              concat('<p>', substr(text, 81, 80), '</p>'),
              '<div><a href=/x>Related articles</a> <a href=/y>More stories here</a></div>',
              '<footer><a href=/p>Privacy</a> tiny</footer>') AS html FROM documents)
            SELECT doc_id,
              coalesce(list_aggregate(list_transform(list_filter(string_split(html, chr(10)),
                line -> length(trim(regexp_replace(line, '<[^>]*>', '', 'g'))) >= 20
                    AND coalesce(list_sum(list_transform(regexp_extract_all(line, '(?i)<a[^>]*>(.*?)</a>', 1),
                          x -> length(regexp_replace(x, '<[^>]*>', '', 'g')))), 0) * 3
                        <= length(trim(regexp_replace(line, '<[^>]*>', '', 'g')))),
                l -> trim(regexp_replace(l, '<[^>]*>', '', 'g'))), 'string_agg', chr(10)), '') AS main_text
            FROM h ORDER BY doc_id"""),
    (s, d) => {
      val html = concat_ws("\n",
        lit("<div class=nav><a href=/>Home</a> <a href=/a>About</a> <a href=/c>Contact</a></div>"),
        concat(lit("<p>"), substring(col("text"), 1, 80), lit("</p>")),
        lit("<p>Short.</p>"),
        concat(lit("<p>"), substring(col("text"), 81, 80), lit("</p>")),
        lit("<div><a href=/x>Related articles</a> <a href=/y>More stories here</a></div>"),
        lit("<footer><a href=/p>Privacy</a> tiny</footer>"))
      documents(s, d)
        .select(col("doc_id"), Cleaning.mainContent(html).as("main_text"))
        .orderBy("doc_id")
    })

  /** F15: Q&A pair extraction via regex with lookahead-free form. */
  val f15Qna = Q("f15_qna_extract",
    Some("""SELECT doc_id,
              coalesce(list_aggregate(regexp_extract_all(
                concat('Q: what is ', source, '? A: ', lang, '. Q: where? A: here.'),
                'Q: ([^?]+)\?', 1), 'string_agg', ';'), '') AS questions
            FROM documents ORDER BY doc_id"""),
    (s, d) => documents(s, d)
      .select(col("doc_id"),
        concat_ws(";", regexp_extract_all(
          concat(lit("Q: what is "), col("source"), lit("? A: "), col("lang"), lit(". Q: where? A: here.")),
          lit("Q: ([^?]+)\\?"), lit(1))).as("questions"))
      .orderBy("doc_id"))

  /** F18: query-intent routing on short query strings. */
  val f18Intent = Q("f18_query_intent",
    Some("""SELECT doc_id, CASE
              WHEN regexp_matches(q, '(table|column|row)') THEN 'table'
              WHEN regexp_matches(q, '(image|figure|chart)') THEN 'image'
              WHEN regexp_matches(q, '(text|paragraph|section)') THEN 'text'
              ELSE 'general' END AS intent
            FROM (SELECT doc_id, substr(lower(text), 1, 40) AS q FROM documents) t
            ORDER BY doc_id"""),
    (s, d) => {
      val q = substring(lower(col("text")), 1, 40)
      documents(s, d)
        .select(col("doc_id"),
          when(q.rlike("(table|column|row)"), "table")
            .when(q.rlike("(image|figure|chart)"), "image")
            .when(q.rlike("(text|paragraph|section)"), "text")
            .otherwise("general").as("intent"))
        .orderBy("doc_id")
    })

  /** F20: metadata scalarization — struct → JSON string. */
  val f20ToJson = Q("f20_to_json",
    Some("""SELECT doc_id, to_json(struct_pack(doc_id := doc_id, lang := lang, n_chars := n_chars)) AS meta
            FROM documents ORDER BY doc_id"""),
    (s, d) => documents(s, d)
      .select(col("doc_id"),
        to_json(struct(col("doc_id"), col("lang"), col("n_chars"))).as("meta"))
      .orderBy("doc_id"))

  /** S4: schema'd JSON parse (from_json) with backfill coalesce. */
  val s4FromJson = Q("s4_json_schema_read",
    Some("""SELECT event_id, coalesce(CAST(json_extract(props, '$.k') AS BIGINT), -1) AS k,
              coalesce(CAST(json_extract(props, '$.missing') AS VARCHAR), 'default') AS missing
            FROM events ORDER BY event_id"""),
    (s, d) => {
      val parsed = from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("missing", org.apache.spark.sql.types.StringType))))
      events(s, d)
        .select(col("event_id"),
          coalesce(parsed.getField("k"), lit(-1L)).as("k"),
          coalesce(parsed.getField("missing"), lit("default")).as("missing"))
        .orderBy("event_id")
    })

  /** U1: three-way unionByName of per-modality chunk frames. */
  val u1Union3 = Q("u1_union_three_sources",
    Some("""SELECT chunk_source, count(*) AS n FROM (
              SELECT 'text' AS chunk_source, CAST(doc_id AS VARCHAR) AS id FROM documents
              UNION ALL SELECT 'table', CAST(p_partkey AS VARCHAR) FROM part
              UNION ALL SELECT 'image', CAST(s_suppkey AS VARCHAR) FROM supplier) t
            GROUP BY chunk_source ORDER BY chunk_source"""),
    (s, d) => {
      val t1 = documents(s, d).select(lit("text").as("chunk_source"), col("doc_id").cast("string").as("id"))
      val t2 = part(s, d).select(lit("table").as("chunk_source"), col("p_partkey").cast("string").as("id"))
      val t3 = supplier(s, d).select(lit("image").as("chunk_source"), col("s_suppkey").cast("string").as("id"))
      t1.unionByName(t2).unionByName(t3)
        .groupBy("chunk_source").agg(count(lit(1)).as("n"))
        .orderBy("chunk_source")
    })

  /** T5: capped sorted sets (slice of sort_array of collect_set). */
  val t5Caps = Q("t5_capped_sets",
    Some("""SELECT user_id,
              list_aggregate(list_transform(
                list_slice(list_sort(list_distinct(list(CAST(CAST(ts AS DATE) AS VARCHAR)))), 1, 5),
                x -> x), 'string_agg', ',') AS first_days
            FROM events GROUP BY user_id ORDER BY user_id"""),
    (s, d) => events(s, d)
      .groupBy("user_id")
      .agg(concat_ws(",", slice(sort_array(collect_set(col("ts").cast("date").cast("string"))), 1, 5)).as("first_days"))
      .orderBy("user_id"))

  /** Date functions: truncation, extraction, iso weekday. */
  val dt1Dates = Q("dt1_date_functions",
    Some("""SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
              isodow(CAST(min(ts) AS DATE)) AS iso_dow, count(*) AS n,
              min(CAST(date_trunc('hour', ts) = date_trunc('day', ts) AS INT)) AS all_midnight
            FROM events GROUP BY day ORDER BY day"""),
    (s, d) => events(s, d)
      .withColumn("day", col("ts").cast("date").cast("string"))
      .groupBy("day")
      .agg((weekday(min(col("ts")).cast("date")) + 1).cast("long").as("iso_dow"),
        count(lit(1)).as("n"),
        min((date_trunc("hour", col("ts")) === date_trunc("day", col("ts"))).cast("int")).as("all_midnight"))
      .select("day", "iso_dow", "n", "all_midnight")
      .orderBy("day"))

  /** A3: per-key ordered collect_list rollup, serialized. */
  val a3Collect = Q("a3_collect_rollup",
    Some("""SELECT o_custkey, list_aggregate(list(o_orderstatus ORDER BY o_orderkey), 'string_agg', '') AS statuses
            FROM orders GROUP BY o_custkey ORDER BY o_custkey"""),
    (s, d) => orders(s, d)
      .groupBy("o_custkey")
      .agg(concat_ws("", sort_array(collect_list(struct(col("o_orderkey").as("k"), col("o_orderstatus").as("v"))))
        .getField("v")).as("statuses"))
      .orderBy("o_custkey"))

  /** A5: merged-group metadata union — ordered concat + envelope + tag set. */
  val a5MergeGroups = Q("a5_merge_metadata",
    Some("""SELECT user_id,
              list_aggregate(list(event_type ORDER BY ts, event_id), 'string_agg', chr(10)) AS content,
              list_aggregate(list_sort(list_distinct(list(event_type))), 'string_agg', ',') AS tags,
              round(min(value), 2) AS x0, round(max(value), 2) AS x1, count(*) AS n_parts
            FROM events GROUP BY user_id ORDER BY user_id"""),
    (s, d) => {
      val df = events(s, d).withColumn("ts_us", unix_micros(col("ts")))
      Merge.mergeGroups(df, Seq(col("user_id")),
          struct(col("ts_us"), col("event_id")), col("event_type"),
          array(col("event_type")), col("value"), col("value"), col("value"), col("value"))
        .select(col("user_id"), col("content"),
          concat_ws(",", sort_array(col("tags"))).as("tags"),
          round(col("x0"), 2).as("x0"), round(col("x1"), 2).as("x1"), col("n_parts"))
        .orderBy("user_id")
    })

  /** A6: chunk metadata rollup (capped page set, type set, char count). */
  val a6ChunkRollup = Q("a6_chunk_rollup",
    Some("""SELECT source AS chunk_key, min(doc_id % 10) AS page,
              list_aggregate(list_transform(list_slice(list_sort(list_distinct(list(doc_id % 10))), 1, 10),
                x -> CAST(x AS VARCHAR)), 'string_agg', ',') AS pages,
              list_aggregate(list_sort(list_distinct(list(lang))), 'string_agg', ',') AS block_types,
              CAST(sum(length(text)) AS BIGINT) AS n_chars, count(*) AS n_blocks
            FROM documents GROUP BY source ORDER BY chunk_key"""),
    (s, d) => Chunking.chunkRollup(
        documents(s, d).withColumn("page", col("doc_id") % 10),
        Seq(col("source")), col("page"), col("lang"), col("text"))
      .select(col("source").as("chunk_key"), col("page"),
        concat_ws(",", transform(col("pages"), _.cast("string"))).as("pages"),
        concat_ws(",", col("block_types")).as("block_types"),
        col("n_chars"), col("n_blocks"))
      .orderBy("chunk_key"))

  /** Quality scoring (prompt: text analysis) — banded blend in [0,1]. */
  /** The x2 quality expression as a shared CTE chain ending at
    * `q(doc_id, quality)` — ONE copy for x2 and the x14 decile bucketing,
    * so the bucket boundaries provably bucket the same score x2 emits. */
  private val qualityCtes: String =
    """c AS (
              SELECT doc_id, text, CAST(length(text) AS DOUBLE) AS len,
                list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
              FROM documents),
            m AS (
              SELECT doc_id, len, CAST(len(toks) AS DOUBLE) AS ntok,
                CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / greatest(len, 1.0) AS alpha_ratio,
                CAST(len(list_filter(toks, t -> list_contains(['the', 'a', 'of', 'and'], t))) AS DOUBLE) AS sw_hits
              FROM c),
            q AS (
              SELECT doc_id, round(
                (CASE WHEN len >= 200 AND len <= 5000 THEN 1.0 WHEN len >= 50 THEN 0.5 ELSE 0.0 END) * 0.3
                + alpha_ratio * 0.3
                + least(sw_hits / greatest(ntok, 1.0) * 3.0, 1.0) * 0.2
                + (CASE WHEN (len - ntok + 1.0) / greatest(ntok, 1.0) >= 3
                         AND (len - ntok + 1.0) / greatest(ntok, 1.0) <= 10 THEN 1.0 ELSE 0.3 END) * 0.2, 6) AS quality
              FROM m)"""

  val x2Quality = Q("x2_quality_score",
    Some(s"""WITH $qualityCtes
            SELECT doc_id, quality FROM q ORDER BY doc_id"""),
    (s, d) => documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.qualityScore(col("text"), Seq("the", "a", "of", "and")).as("quality"))
      .orderBy("doc_id"))

  /** §3.2 end-to-end: the full ask pipeline (metadata filter → score →
    * over-fetch top-k → relevance filter → final top-k) via `query.Ask`.
    * Scores take discrete sigmoid values, so ordering ties break on doc_id
    * identically in both engines. */
  val ask1Pipeline = Q("ask1_pipeline",
    Some("""WITH scored AS (
              SELECT doc_id,
                1.0 / (1.0 + exp(-((CASE WHEN contains(lower(text), 'spark') THEN 1.0 ELSE 0.0 END) +
                                   (CASE WHEN contains(lower(text), 'join') THEN 1.0 ELSE 0.0 END) +
                                   (CASE WHEN contains(lower(text), 'stream') THEN 1.0 ELSE 0.0 END) +
                                   (CASE WHEN contains(lower(text), 'spark join stream') THEN 3.0 ELSE 0.0 END)))) AS score,
                len(list_intersect(
                  list_distinct(string_split_regex('spark join stream', '\s+')),
                  list_distinct(string_split_regex(lower(text), '\s+')))) AS overlap
              FROM documents),
            fetched AS (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 15)
            SELECT doc_id, round(score, 6) AS score FROM fetched
            WHERE score >= 0.25 AND (overlap >= 1 OR score >= 0.75)
            ORDER BY score DESC, doc_id LIMIT 5"""),
    (s, d) => graft.query.Ask.ask(documents(s, d), "doc_id", "text", "spark join stream",
        graft.query.Ask.AskConfig(topK = 5, stopwords = Seq("zzzz")))
      .select(col("doc_id"), round(col("score"), 6).as("score")))

  /** The EMBEDDING-scored ask pipeline (V1 × V2 composed into retrieval):
    * corpus rows get the seeded 6-word vocab embedding (v1's exact
    * construction), the query embeds as the same vocab's normalized count
    * vector (a 17-significant-digit literal on both sides), and
    * `Ask.ask(scoreFn = …)` runs its full fetch → hybrid relevance filter
    * → top-k over the 6-dp-rounded dot product. The oracle replays
    * embedding, dot, overlap gate, and both cut points — so the composed
    * retrieval DAG, not just its pieces, is hash-gated. */
  val ask3Embedding: Q = {
    val qn = 1.0 / math.sqrt(3.0) // "spark join stream" → 3 unit counts
    val qwSql = f"$qn%.17g"
    Q("ask3_embedding_pipeline",
      Some(s"""WITH t AS (SELECT doc_id, text, ${OracleSql.toksSql} AS toks FROM documents),
              v AS (SELECT doc_id, text, [
                  CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE),
                  CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE),
                  CAST(len(list_filter(toks, x -> x = 'stream')) AS DOUBLE),
                  CAST(len(list_filter(toks, x -> x = 'hash')) AS DOUBLE),
                  CAST(len(list_filter(toks, x -> x = 'sort')) AS DOUBLE),
                  CAST(len(list_filter(toks, x -> x = 'vector')) AS DOUBLE)] AS vec
                FROM t),
              n AS (SELECT doc_id, text, vec,
                  sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm FROM v),
              e AS (SELECT doc_id, text,
                  list_transform(vec, x -> CASE WHEN nrm > 0 THEN x / nrm ELSE 0.0 END) AS emb
                FROM n),
              scored AS (SELECT doc_id,
                  round(list_dot_product(emb, [$qwSql, $qwSql, $qwSql, 0.0, 0.0, 0.0]), 6) AS score,
                  len(list_intersect(
                    list_distinct(string_split_regex('spark join stream', '\\s+')),
                    list_distinct(string_split_regex(lower(text), '\\s+')))) AS overlap
                FROM e),
              fetched AS (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 15)
              SELECT doc_id, score FROM fetched
              WHERE score >= 0.2 AND (overlap >= 1 OR score >= 0.6)
              ORDER BY score DESC, doc_id LIMIT 5"""),
      (s, d) => {
        val vocab = Seq("spark", "join", "stream", "hash", "sort", "vector")
        val corpus = documents(s, d)
          .withColumn("vec", graft.index.Embed.vocabVector(col("text"), vocab))
          .withColumn("embedding", graft.index.Embed.l2Normalize(col("vec")))
        val qv = array(Seq(qn, qn, qn, 0.0, 0.0, 0.0).map(lit): _*)
        val score = round(graft.index.Embed.dot(col("embedding"), qv), 6)
        graft.query.Ask.ask(corpus, "doc_id", "text", "spark join stream",
            graft.query.Ask.AskConfig(topK = 5, minScore = 0.2, semanticOnly = 0.6,
              stopwords = Seq("zzzz")),
            scoreFn = Some(score))
          .select(col("doc_id"), col("score"))
      })
  }

  /** DSIR-style data selection: importance-resample 100 non-English docs
    * toward the English-corpus unigram distribution — log-likelihood-ratio
    * weights (add-one, x8's DECIMAL-summed ln machinery) plus
    * Gumbel-top-k with seedless md5 uniforms, so "sampling ∝ weight" is
    * deterministic and the oracle can replay LMs, weights, Gumbel noise,
    * and the cut exactly. */
  val sel1Importance: Q = Q("sel1_importance_resample",
    Some(s"""WITH tt AS (SELECT doc_id, unnest(${OracleSql.toksSql}) AS w
                   FROM documents WHERE lang = 'en'),
            rr AS (SELECT doc_id, unnest(${OracleSql.toksSql}) AS w
                   FROM documents WHERE lang <> 'en'),
            ct AS (SELECT w, count(*) AS ct FROM tt GROUP BY w),
            cr AS (SELECT w, count(*) AS cr FROM rr GROUP BY w),
            tot AS (SELECT
                (SELECT CAST(sum(ct) AS DOUBLE) FROM ct) AS nt,
                (SELECT CAST(count(*) AS DOUBLE) FROM ct) AS vt,
                (SELECT CAST(sum(cr) AS DOUBLE) FROM cr) AS nr,
                (SELECT CAST(count(*) AS DOUBLE) FROM cr) AS vr),
            sc AS (SELECT rr.doc_id AS id,
                CAST(sum(CAST(ln(coalesce(ct.ct, 0) + 1) AS DECIMAL(25,15))) AS DOUBLE) AS st,
                CAST(sum(CAST(ln(cr.cr + 1) AS DECIMAL(25,15))) AS DOUBLE) AS sr,
                count(*) AS n
              FROM rr JOIN cr USING (w) LEFT JOIN ct USING (w) GROUP BY rr.doc_id),
            g AS (SELECT id,
                (st - sr) / n - ln(nt + vt) + ln(nr + vr) AS logweight,
                (list_reduce(list_transform(range(1, 9),
                    i -> CAST(strpos('0123456789abcdef',
                      substr(md5(CAST(id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
                  (a, c) -> a * 16 + c) + 0.5) / 4294967296.0 AS u
              FROM sc CROSS JOIN tot)
            SELECT id, round(logweight, 6) AS logweight,
              round(logweight - ln(-ln(u)), 6) AS sel_score
            FROM g ORDER BY sel_score DESC, id LIMIT 100"""),
    (s, d) => {
      val docs = documents(s, d)
      graft.ops.Curation.importanceResample(
        docs.filter(col("lang") =!= "en"), docs.filter(col("lang") === "en"),
        col("doc_id"), col("text"), k = 100)
    })

  /** OCR preprocessing, the statistic half (ref cv2 grayscale→Otsu):
    * per-document synthetic RGB pixels → integer luma → Otsu's threshold
    * computed RELATIONALLY — per-doc cumulative histogram windows
    * (partitioned by doc, never global), between-class variance as
    * (s0·w1 − s1·w0)²/(w0·w1) with every intermediate below 2^53 so the
    * doubles are bit-identical across engines, argmax tie-broken to the
    * lowest intensity. Output: threshold + foreground/background pixel
    * counts. The full image pipeline (luma, 3×3 denoise, binarize bytes)
    * runs in `ops.Ocr.preprocessStage`, spec-tested against this math. */
  val ocr1Otsu: Q = Q("ocr1_otsu_binarize",
    Some("""WITH n AS (SELECT doc_id, 400 + (doc_id % 7) * 30 AS n FROM documents),
            ix AS (SELECT doc_id, unnest(range(0, n)) AS i FROM n),
            px AS (SELECT doc_id, i,
                CASE WHEN (i * 7 + doc_id) % 10 < 6 THEN 30 ELSE 190 END AS base
              FROM ix),
            lum AS (SELECT doc_id,
                (299 * (base + i % 11) + 587 * (base + (i * 2) % 13)
                  + 114 * (base + (i * 3) % 7)) // 1000 AS v
              FROM px),
            bins AS (SELECT doc_id, v, count(*) AS c FROM lum GROUP BY doc_id, v),
            cum AS (SELECT doc_id, v, c,
                sum(c) OVER (PARTITION BY doc_id ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w0,
                sum(v * c) OVER (PARTITION BY doc_id ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s0,
                sum(c) OVER (PARTITION BY doc_id) AS nn,
                sum(v * c) OVER (PARTITION BY doc_id) AS ss
              FROM bins),
            scored AS (SELECT doc_id, v,
                CAST((s0 * (nn - w0) - (ss - s0) * w0)
                   * (s0 * (nn - w0) - (ss - s0) * w0) AS DOUBLE)
                  / CAST(w0 * (nn - w0) AS DOUBLE) AS sigma
              FROM cum WHERE w0 < nn),
            mx AS (SELECT doc_id, max(sigma) AS msig FROM scored GROUP BY doc_id),
            thr AS (SELECT s.doc_id, CAST(min(s.v) AS BIGINT) AS threshold
                    FROM scored s JOIN mx USING (doc_id)
                    WHERE s.sigma = mx.msig GROUP BY s.doc_id)
            SELECT b.doc_id, t.threshold,
              CAST(sum(CASE WHEN b.v > t.threshold THEN b.c ELSE 0 END) AS BIGINT) AS n_fg,
              CAST(sum(CASE WHEN b.v <= t.threshold THEN b.c ELSE 0 END) AS BIGINT) AS n_bg
            FROM bins b JOIN thr t USING (doc_id)
            GROUP BY b.doc_id, t.threshold ORDER BY b.doc_id"""),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val n = (lit(400) + (col("doc_id") % 7) * 30).cast("long")
      val base = when((col("i") * 7 + col("doc_id")) % 10 < 6, lit(30L)).otherwise(lit(190L))
      val lum = documents(s, d).select(col("doc_id"), explode(sequence(lit(0L), n - 1)).as("i"))
        .withColumn("base", base)
        .select(col("doc_id"), call_function("div",
          lit(299) * (col("base") + col("i") % 11) + lit(587) * (col("base") + (col("i") * 2) % 13)
            + lit(114) * (col("base") + (col("i") * 3) % 7), lit(1000L)).as("v"))
      val bins = lum.groupBy("doc_id", "v").agg(count(lit(1)).as("c"))
      val wOrd = Window.partitionBy("doc_id").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("doc_id")
      val cum = bins
        .withColumn("w0", sum(col("c")).over(wOrd))
        .withColumn("s0", sum(col("v") * col("c")).over(wOrd))
        .withColumn("nn", sum(col("c")).over(wAll))
        .withColumn("ss", sum(col("v") * col("c")).over(wAll))
      val a = col("s0") * (col("nn") - col("w0")) - (col("ss") - col("s0")) * col("w0")
      val scored = cum.filter(col("w0") < col("nn"))
        .withColumn("sigma", (a * a).cast("double") / (col("w0") * (col("nn") - col("w0"))).cast("double"))
      val thr = scored.groupBy("doc_id")
        .agg(max_by(col("v"), struct(col("sigma"), (-col("v")).cast("double"))).as("threshold"))
      bins.join(thr, Seq("doc_id"))
        .groupBy(col("doc_id"), col("threshold"))
        .agg(sum(when(col("v") > col("threshold"), col("c")).otherwise(0L)).as("n_fg"),
          sum(when(col("v") <= col("threshold"), col("c")).otherwise(0L)).as("n_bg"))
        .orderBy("doc_id")
    })

  /** Retrieval-quality metrics (recall@k / MRR / nDCG@k) — the offline
    * eval loop a retrieval stack is tuned with. Fixture: one deliberately
    * query-blind ranking (global top-10 docs by length) scored against
    * per-language relevance, so every metric is nontrivial and the
    * DECIMAL-summed DCG + fixed-order IDCG fold are both exercised. The
    * oracle replays ranking construction and all three metrics. */
  val ev1Retrieval: Q = Q("ev1_retrieval_metrics",
    Some("""WITH d AS (SELECT doc_id, n_chars, lang FROM documents WHERE lang IS NOT NULL),
            top10 AS (SELECT doc_id, n_chars FROM d ORDER BY n_chars DESC, doc_id LIMIT 10),
            rk AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS rank
                   FROM top10 a JOIN top10 b
                     ON b.n_chars > a.n_chars OR (b.n_chars = a.n_chars AND b.doc_id <= a.doc_id)
                   GROUP BY a.doc_id),
            rel AS (SELECT lang, count(*) AS n_rel FROM d GROUP BY lang),
            hits AS (SELECT d.lang, rk.rank FROM rk JOIN d USING (doc_id)),
            perq AS (SELECT lang, count(*) AS n_hits, min(rank) AS first_rank,
                       sum(CAST(round(1.0 / log2(rank + 1), 9) AS DECIMAL(18,12))) AS dcg
                     FROM hits GROUP BY lang)
            SELECT lang, n_rel,
              round(CAST(coalesce(n_hits, 0) AS DOUBLE) / n_rel, 6) AS recall_at_k,
              round(coalesce(1.0 / first_rank, 0.0), 6) AS mrr,
              round(CAST(coalesce(dcg, 0) AS DOUBLE) /
                list_sum(list_transform(range(1, least(n_rel, 10) + 1),
                  i -> round(1.0 / log2(i + 1), 9))), 6) AS ndcg
            FROM rel LEFT JOIN perq USING (lang) ORDER BY lang"""),
    (s, d) => {
      // NULL-lang rows are excluded on BOTH sides: a NULL query key would
      // sort NULLS FIRST in Spark but NULLS LAST in DuckDB (row-order hash
      // divergence), and it can never equi-join the relevance table anyway
      val docs = documents(s, d).filter(col("lang").isNotNull)
      val ranked = graft.ops.TableOps
        .broadcastTopRank(docs.select(col("doc_id"), col("n_chars")), "n_chars", "doc_id", 10)
        .select("doc_id", "rank")
      val rankedPerQ = docs.select(col("lang")).distinct().crossJoin(ranked)
      graft.eval.Retrieval.metrics(rankedPerQ, docs.select(col("lang"), col("doc_id")),
          "lang", "doc_id", "rank", k = 10)
        .orderBy("lang")
    })

  /** Skew tooling, oracle-checked: the two-phase salted aggregation must
    * be indistinguishable from a plain GROUP BY (the salt only spreads the
    * hot key over more reducers). Values aggregate as integer cents so the
    * partial→final re-aggregation is exact and order-independent — a
    * salted double sum would be bit-nondeterministic. */
  val k1SaltedAgg = Q("k1_salted_agg",
    Some("""SELECT user_id,
              CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_value_cents,
              count(*) AS n
            FROM events GROUP BY user_id ORDER BY user_id"""),
    (s, d) => {
      val cents = events(s, d).select(col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("value_cents"))
      graft.ops.Skew.saltedAgg(cents, Seq("user_id"), saltBuckets = 8,
          aggs = Map("value_cents" -> "sum"))
        .join(events(s, d).groupBy("user_id").agg(count(lit(1)).as("n")), Seq("user_id"))
        .select(col("user_id"), col("sum_value_cents"), col("n"))
        .orderBy("user_id")
    })

  /** Replicated-dim skew join vs the plain join it must equal: events
    * joined to the customer dim with the three hottest users replicated. */
  val k2SkewJoin = Q("k2_skew_join",
    Some("""SELECT c_mktsegment, count(*) AS n,
              CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_value_cents
            FROM events JOIN customer ON user_id = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    (s, d) => {
      val fact = events(s, d).select(col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("value_cents"))
      val dim = customer(s, d).select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      graft.ops.Skew.skewJoin(fact, dim, "user_id", hotKeys = Seq(1L, 2L, 3L), saltBuckets = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("sum_value_cents"))
        .orderBy("c_mktsegment")
    })

  /** Bucketed-table co-located join, oracle-checked end-to-end: both sides
    * persist `bucketBy(8, doc_id)` (`io.Bundle.writeBucketedTable`) and the
    * join result must equal the plain join — BundlePipelineSpec asserts
    * the exchange-free SMJ plan; this query pins the values. */
  val k3Bucketed = Q("k3_bucketed_join",
    Some("""SELECT lang, count(*) AS n, CAST(sum(label) AS BIGINT) AS sum_label
            FROM documents JOIN embeddings ON doc_id = vec_id
            GROUP BY lang ORDER BY lang"""),
    (s, d) => {
      val suffix = Integer.toHexString(d.hashCode)
      val tD = s"graft_bdocs_$suffix"; val tE = s"graft_bemb_$suffix"
      graft.io.Bundle.writeBucketedTable(documents(s, d).select("doc_id", "lang"), tD, "doc_id", buckets = 8)
      graft.io.Bundle.writeBucketedTable(
        embeddings(s, d).select(col("vec_id").as("doc_id"), col("label")), tE, "doc_id", buckets = 8)
      s.table(tD).join(s.table(tE), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("label").cast("long")).as("sum_label"))
        .orderBy("lang")
    })

  /** ROUGE-L (Lin 2004) per document: the candidate rotates the first 3
    * tokens to the end (subsequence order survives — LCS stays near
    * len-3, where BLEU's exact n-grams break) and substitutes every
    * (doc_id+i)%9-th position with 'zz'. The LCS DP is a nested HOF fold
    * in BOTH engines (match-position lists → row-DP), map-only with no
    * shuffle; LCS/lengths are exact integers, F1 pure arithmetic. */
  val ev3RougeL = Q("ev3_rouge_l",
    Some(s"""WITH t AS (SELECT doc_id, ${OracleSql.toksSql} AS toks FROM documents),
            rt AS (SELECT doc_id, toks,
                CASE WHEN len(toks) <= 3 THEN toks
                     ELSE list_concat(toks[4:], toks[1:3]) END AS rot
              FROM t),
            c AS (SELECT doc_id, toks AS ref,
                CASE WHEN len(rot) = 0 THEN CAST([] AS VARCHAR[])
                     ELSE list_transform(range(1, len(rot) + 1),
                        i -> CASE WHEN (i - 1 + doc_id) % 9 = 0 THEN 'zz' ELSE rot[i] END) END AS cand
              FROM rt),
            d AS (SELECT doc_id,
                CASE WHEN len(ref) = 0 OR len(cand) = 0 THEN 0
                     ELSE list_reduce(
                        list_prepend(list_transform(range(0, len(ref) + 1), x -> 0),
                          list_transform(cand, tok -> CAST(list_filter(range(1, len(ref) + 1), j -> ref[j] = tok) AS INT[]))),
                        (old, m) -> list_reduce(
                          list_prepend([0], list_transform(range(1, len(ref) + 1), j -> [CAST(j AS INT)])),
                          (nr, jx) -> list_append(nr,
                            CASE WHEN list_contains(m, jx[1]) THEN old[jx[1]] + 1
                                 ELSE greatest(nr[len(nr)], old[jx[1] + 1]) END)))[len(ref) + 1]
                END AS lcs,
                len(ref) AS r_len, len(cand) AS c_len
              FROM c)
            SELECT doc_id, CAST(lcs AS BIGINT) AS lcs_len,
              CAST(r_len AS BIGINT) AS r_len, CAST(c_len AS BIGINT) AS c_len,
              CASE WHEN lcs = 0 THEN CAST(0.0 AS DOUBLE)
                   ELSE round(CAST(2.0 AS DOUBLE) * (CAST(lcs AS DOUBLE) / CAST(c_len AS DOUBLE))
                        * (CAST(lcs AS DOUBLE) / CAST(r_len AS DOUBLE))
                        / ((CAST(lcs AS DOUBLE) / CAST(c_len AS DOUBLE)) + (CAST(lcs AS DOUBLE) / CAST(r_len AS DOUBLE))), 6)
              END AS rouge_f1
            FROM d ORDER BY doc_id"""),
    (s, d) => {
      val base = documents(s, d).select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ref"))
      val rot = when(size(col("ref")) <= 3, col("ref"))
        .otherwise(concat(slice(col("ref"), lit(4), size(col("ref")) - 3), slice(col("ref"), 1, 3)))
      val withCand = base.withColumn("rot", rot)
        .withColumn("cand",
          when(size(col("rot")) === 0, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(1), size(col("rot"))),
              i => when(((i - 1 + col("doc_id")) % 9) === 0, lit("zz"))
                .otherwise(element_at(col("rot"), i)))))
      graft.eval.Eval.rougeL(withCand, "doc_id", "ref", "cand").orderBy("doc_id")
    })

  /** Per-source KL divergence vs the corpus unigram mix — the
    * distribution-shift statistic a mixing pipeline watches per domain.
    * One (source, token) hash aggregate re-aggregated for the corpus
    * marginal (no second tokenize), token-keyed equi-join, 12-dp-rounded
    * `p·ln(p/q)` terms DECIMAL-summed per source. */
  val dom4Kl = Q("dom4_kl_divergence",
    Some(s"""WITH gw AS (SELECT g, w, count(*) AS c FROM (
                SELECT coalesce(source, '') AS g, unnest(${OracleSql.toksSql}) AS w FROM documents)
              GROUP BY g, w),
            corpus AS (SELECT w, CAST(sum(c) AS BIGINT) AS qc FROM gw GROUP BY w),
            gtot AS (SELECT g, CAST(sum(c) AS BIGINT) AS gt FROM gw GROUP BY g),
            ctot AS (SELECT CAST(sum(c) AS BIGINT) AS ct FROM gw),
            t AS (SELECT g, gt,
                round((CAST(c AS DOUBLE) / CAST(gt AS DOUBLE))
                  * ln((CAST(c AS DOUBLE) / CAST(gt AS DOUBLE)) / (CAST(qc AS DOUBLE) / CAST(ct AS DOUBLE))), 12) AS term
              FROM gw JOIN corpus USING (w) JOIN gtot USING (g) CROSS JOIN ctot)
            SELECT g AS source, gt AS n_tokens,
              round(CAST(sum(CAST(term AS DECIMAL(25,15))) AS DOUBLE), 6) AS kl
            FROM t GROUP BY g, gt ORDER BY source"""),
    (s, d) => TextAnalysis.klBySource(documents(s, d), coalesce(col("source"), lit("")), col("text"))
      .select(col("g").as("source"), col("n_tokens"), col("kl"))
      .orderBy("source"))

  /** Power-law (scaling-law) OLS fit in log-log space: a loss curve is
    * synthesized from doc length with seedless md5 noise (identically in
    * both engines), and the closed-form fit must recover slope ≈ -0.5.
    * ONE moment aggregate (five 12-dp-rounded DECIMAL sums), arithmetic
    * on the single stats row; ln inputs are 9-dp-rounded before any sum
    * so libm drift never compounds. */
  val ml2Powerlaw = Q("ml2_powerlaw_fit",
    Some("""WITH h AS (SELECT doc_id, n_chars,
              list_sum(list_transform(range(1, 9),
                j -> CAST((strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[j]) - 1) AS BIGINT)
                     << (4 * (8 - CAST(j AS INT))))) AS hv
              FROM documents),
            pts AS (SELECT round(ln(CAST(n_chars AS DOUBLE)), 9) AS x,
                round(CAST(-0.5 AS DOUBLE) * round(ln(CAST(n_chars AS DOUBLE)), 9) + CAST(8.0 AS DOUBLE)
                  + ((CAST(hv AS DOUBLE) + 0.5) / 4294967296.0 - CAST(0.5 AS DOUBLE)), 9) AS y
              FROM h),
            m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                CAST(sum(CAST(round(x, 12) AS DECIMAL(25,15))) AS DOUBLE) AS sx,
                CAST(sum(CAST(round(y, 12) AS DECIMAL(25,15))) AS DOUBLE) AS sy,
                CAST(sum(CAST(round(x * x, 12) AS DECIMAL(25,15))) AS DOUBLE) AS sxx,
                CAST(sum(CAST(round(y * y, 12) AS DECIMAL(25,15))) AS DOUBLE) AS syy,
                CAST(sum(CAST(round(x * y, 12) AS DECIMAL(25,15))) AS DOUBLE) AS sxy
              FROM pts)
            SELECT round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
              round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept,
              round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2,
              CAST(n AS BIGINT) AS n
            FROM m"""),
    (s, d) => {
      val x = round(log(col("n_chars").cast("double")), 9)
      val u = TextAnalysis.hashUniform(col("doc_id"))
      val pts = documents(s, d).select(x.as("x"),
        round(lit(-0.5) * x + lit(8.0) + (u - lit(0.5)), 9).as("y"))
      graft.ops.Classifier.olsFit(pts, col("x"), col("y"))
        .select(round(col("slope"), 6).as("slope"), round(col("intercept"), 6).as("intercept"),
          round(col("r2"), 6).as("r2"), col("n"))
    })

  /** The WARC record synthesized from a `documents` row (CRLF header block
    * + blank line + the text's first 60 chars as payload): every 11th
    * doc's Content-Length overstates the payload by 1. Content-Length
    * declares octets (strlen on the DuckDB side). */
  private val warcRecord: Column = {
    val crlf = lit("\r\n")
    val payload = substring(col("text"), 1, 60)
    val declared = (length(payload.cast("binary")) +
      when(col("doc_id") % 11 === 0, 1).otherwise(0)).cast("string")
    concat(lit("WARC/1.0"), crlf,
      lit("WARC-Type: "),
      when(col("doc_id") % 3 === 0, "response")
        .when(col("doc_id") % 3 === 1, "request").otherwise("metadata"), crlf,
      lit("WARC-Record-ID: <urn:uuid:"), col("doc_id").cast("string"), lit(">"), crlf,
      lit("WARC-Target-URI: https://"), coalesce(col("source"), lit("")),
      lit(".example.com/"), col("doc_id").cast("string"), crlf,
      lit("Content-Length: "), declared, crlf, crlf, payload)
  }

  /** The parsed fields of `warcRecord` (warc_type, record_id, target_uri,
    * declared_len, actual_len), computed from `documents` columns. */
  private val warcFieldsSql: String =
    """CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'response' WHEN 1 THEN 'request' ELSE 'metadata' END AS warc_type,
                concat('<urn:uuid:', CAST(doc_id AS VARCHAR), '>') AS record_id,
                concat('https://', coalesce(source, ''), '.example.com/', CAST(doc_id AS VARCHAR)) AS target_uri,
                CAST(strlen(substr(text, 1, 60)) + CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS BIGINT) AS declared_len,
                CAST(strlen(substr(text, 1, 60)) AS BIGINT) AS actual_len"""

  /** WARC (ISO 28500) record parse — the crawl wire format: records are
    * synthesized from doc fields identically in both engines (CRLF header
    * block + blank line + payload), every 11th with a Content-Length
    * overstated by 1 that the integrity check must flag. Header
    * extraction is line-anchored so payload text cannot spoof a header;
    * all parsing is codegen'd regexp/substring — a map-only crawl scan. */
  val warc1Parse = Q("warc1_record_parse",
    Some("""WITH synth AS (
              SELECT doc_id,
                concat('WARC/1.0', chr(13), chr(10),
                  'WARC-Type: ', CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'response' WHEN 1 THEN 'request' ELSE 'metadata' END, chr(13), chr(10),
                  'WARC-Record-ID: <urn:uuid:', CAST(doc_id AS VARCHAR), '>', chr(13), chr(10),
                  'WARC-Target-URI: https://', coalesce(source, ''), '.example.com/', CAST(doc_id AS VARCHAR), chr(13), chr(10),
                  'Content-Length: ', CAST(strlen(substr(text, 1, 60)) + CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS VARCHAR), chr(13), chr(10),
                  chr(13), chr(10), substr(text, 1, 60)) AS rec
              FROM documents),
            hp AS (SELECT doc_id,
                split_part(rec, concat(chr(13), chr(10), chr(13), chr(10)), 1) AS headers,
                regexp_extract(rec, '(?s)\r\n\r\n(.*)$', 1) AS payload
              FROM synth)
            SELECT doc_id,
              regexp_extract(headers, '(?m)^WARC-Type: ([^\r\n]*)', 1) AS warc_type,
              regexp_extract(headers, '(?m)^WARC-Record-ID: ([^\r\n]*)', 1) AS record_id,
              regexp_extract(headers, '(?m)^WARC-Target-URI: ([^\r\n]*)', 1) AS target_uri,
              CAST(regexp_extract(headers, '(?m)^Content-Length: ([^\r\n]*)', 1) AS BIGINT) AS declared_len,
              CAST(strlen(payload) AS BIGINT) AS actual_len,
              CAST(regexp_extract(headers, '(?m)^Content-Length: ([^\r\n]*)', 1) AS BIGINT) = CAST(strlen(payload) AS BIGINT) AS len_ok
            FROM hp ORDER BY doc_id"""),
    (s, d) => {
      val p = graft.ops.Warc.parse(warcRecord)
      documents(s, d)
        .select(col("doc_id"), p.as("w"))
        .select(col("doc_id"), col("w.warc_type"), col("w.record_id"), col("w.target_uri"),
          col("w.declared_len"), col("w.actual_len"), col("w.len_ok"))
        .orderBy("doc_id")
    })

  /** Member-gzip WARC records — the wire format real Common Crawl
    * segments actually use (ISO 28500 Annex D: one record = one complete
    * gzip member, independently decompressible — which is what makes a
    * 100 TB crawl splittable). The same synthesized records as warc1 are
    * gzip-compressed executor-side (`java.util.zip`, the Pdf FlateDecode
    * lesson), every 13th member is TRUNCATED by one byte (a cut-off
    * fetch), then decompressed and parsed. The oracle never sees the
    * compressed bytes — the gzip→gunzip round trip must be the identity,
    * so it predicts the parse output directly from `documents`, with NULL
    * rows exactly where the truncation must make `gunzipMember` fail
    * (member_ok=false). A decompressor that "recovers" garbage instead of
    * failing to null, or a fixture that doesn't really compress, both
    * hash-fail. */
  val warc2Gzip = Q("warc2_gzip_records",
    Some(s"""WITH synth AS (
              SELECT doc_id, $warcFieldsSql
              FROM documents)
            SELECT doc_id,
              doc_id % 13 <> 0 AS member_ok,
              CASE WHEN doc_id % 13 = 0 THEN NULL ELSE warc_type END AS warc_type,
              CASE WHEN doc_id % 13 = 0 THEN NULL ELSE record_id END AS record_id,
              CASE WHEN doc_id % 13 = 0 THEN NULL ELSE target_uri END AS target_uri,
              CASE WHEN doc_id % 13 = 0 THEN NULL ELSE declared_len END AS declared_len,
              CASE WHEN doc_id % 13 = 0 THEN NULL ELSE actual_len END AS actual_len,
              CASE WHEN doc_id % 13 = 0 THEN NULL ELSE declared_len = actual_len END AS len_ok
            FROM synth ORDER BY doc_id"""),
    (s, d) => {
      val zipped = graft.ops.Warc.gzipStage(
          documents(s, d).select(col("doc_id"), warcRecord.as("rec")), "rec", "member")
        // truncated fetch: the cut trailer must make decompression FAIL,
        // not yield a shorter string
        .withColumn("member", when(col("doc_id") % 13 === 0,
          col("member").substr(lit(1), length(col("member")) - 1)).otherwise(col("member")))
      val p = graft.ops.Warc.parse(col("rec2"))
      graft.ops.Warc.gunzipStage(zipped, "member", "rec2")
        .select(col("doc_id"), col("rec2").isNotNull.as("member_ok"), p.as("w"))
        .select(col("doc_id"), col("member_ok"), col("w.warc_type"), col("w.record_id"),
          col("w.target_uri"), col("w.declared_len"), col("w.actual_len"), col("w.len_ok"))
        .orderBy("doc_id")
    })

  /** Concatenated-member WARC segment files — the layout a crawl
    * ACTUALLY ships as (one object = thousands of back-to-back gzip
    * members; ISO 28500 Annex D + RFC 1952 framing). Per source, every
    * record's member is concatenated in doc_id order into one blob
    * (HOF-folded binary concat after one hash aggregate — the segment
    * builder), then `Warc.splitMembers` must walk the explicit gzip
    * framing (header flags, raw-deflate body, CRC32 + ISIZE trailer, both
    * verified) to recover every record with its position. The oracle
    * never sees bytes: split∘concat∘gzip must be the identity, so it
    * predicts (source, seq → record fields) straight from `documents`; a
    * splitter that fuses members (GZIPInputStream semantics), drops the
    * tail, or miscounts a header extension field hash-fails on seq
    * alignment. */
  val warc3Split = Q("warc3_member_split",
    Some(s"""WITH synth AS (
              SELECT doc_id, coalesce(source, '') AS src, $warcFieldsSql
              FROM documents),
            numbered AS (SELECT *,
                CAST(row_number() OVER (PARTITION BY src ORDER BY doc_id) - 1 AS INT) AS seq
              FROM synth)
            SELECT src, seq, warc_type, record_id, target_uri,
              declared_len, actual_len, declared_len = actual_len AS len_ok
            FROM numbered ORDER BY src, seq"""),
    (s, d) => {
      val members = graft.ops.Warc.gzipStage(
        documents(s, d).select(col("doc_id"),
          coalesce(col("source"), lit("")).as("src"), warcRecord.as("rec")), "rec", "member")
      // segment builder: one blob per source, members in doc_id order —
      // sort_array on (doc_id, member) structs orders by id, the binary
      // fold concatenates; blob size is bounded by the group, the 100 TB
      // analog of one segment file per task
      val blobs = members.groupBy("src")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("member")))).as("lst"))
        .select(col("src"),
          aggregate(transform(col("lst"), x => x("member")),
            lit(Array.emptyByteArray), (a, b) => concat(a, b)).as("blob"))
      val p = graft.ops.Warc.parse(col("rec"))
      graft.ops.Warc.splitMembersStage(blobs, "blob", "recs")
        .select(col("src"), posexplode(col("recs")).as(Seq("seq", "rec")))
        .select(col("src"), col("seq"), p.as("w"))
        .select(col("src"), col("seq"), col("w.warc_type"), col("w.record_id"),
          col("w.target_uri"), col("w.declared_len"), col("w.actual_len"), col("w.len_ok"))
        .orderBy("src", "seq")
    })

  /** Oracle CTEs `ruleset(allow, pattern)`, the 7-rule robots.txt every
    * host serves, and `rules(host, allow, pattern, rx)`: the rule set for
    * each host of the FROM item `hosts`, with each pattern translated to
    * an anchored regex. The Spark twin is `robotsRules`. */
  private def robotsRulesCtes(hosts: String): String =
    """ruleset AS (SELECT * FROM (VALUES
              (false, '/private'), (true, '/private/4'), (true, '/public'), (false, '/public'),
              (false, '/tmp/*.html'), (true, '/blog'), (false, '/blog/14$')) t(allow, pattern)),
            rules AS (SELECT host, allow, pattern,
                concat('^', regexp_replace(regexp_replace(regexp_replace(pattern,
                  '([.^$+?()\[\]{}|\\])', '\\\1', 'g'), '\*', '.*', 'g'), '\\\$$', '$')) AS rx
              FROM """ + hosts + " CROSS JOIN ruleset)"

  /** rob1's and crawl1's oracle CTEs: the crawl `urls(doc_id, host,
    * path)` and the verdict `m(host, path, verdict)` of every URL that
    * some rule matches — the longest pattern wins, Allow on ties. */
  private val robotsVerdictCtes: String =
    """hosts AS (SELECT DISTINCT concat(coalesce(source, ''), '.example.com') AS host FROM documents),
            """ + robotsRulesCtes("hosts") + """,
            urls AS (SELECT doc_id, concat(coalesce(source, ''), '.example.com') AS host,
                CASE CAST(doc_id % 5 AS INT)
                  WHEN 0 THEN concat('/private/', CAST(doc_id AS VARCHAR))
                  WHEN 1 THEN concat('/public/', CAST(doc_id AS VARCHAR))
                  WHEN 2 THEN concat('/tmp/file', CAST(doc_id AS VARCHAR), '.html')
                  WHEN 3 THEN concat('/public/img', CAST(doc_id AS VARCHAR))
                  ELSE concat('/blog/', CAST(doc_id AS VARCHAR)) END AS path
              FROM documents),
            m AS (SELECT host, path,
                max_by(allow, length(pattern) * 2 + CAST(allow AS INT)) AS verdict
              FROM (SELECT DISTINCT host, path FROM urls) u JOIN rules USING (host)
              WHERE regexp_matches(path, rx)
              GROUP BY host, path)"""

  /** The crawl URLs (doc_id, host, path) of rob1 and crawl1: one per doc,
    * its path cycling through the cases the rule set distinguishes. */
  private def robotsUrls(s: SparkSession, d: String): DataFrame = {
    val host = concat(coalesce(col("source"), lit("")), lit(".example.com"))
    val idStr = col("doc_id").cast("string")
    val path = when(col("doc_id") % 5 === 0, concat(lit("/private/"), idStr))
      .when(col("doc_id") % 5 === 1, concat(lit("/public/"), idStr))
      .when(col("doc_id") % 5 === 2, concat(lit("/tmp/file"), idStr, lit(".html")))
      .when(col("doc_id") % 5 === 3, concat(lit("/public/img"), idStr))
      .otherwise(concat(lit("/blog/"), idStr))
    documents(s, d).select(col("doc_id"), host.as("host"), path.as("path"))
  }

  /** The 7-rule robots.txt for every host of `urls`, as (host, allow,
    * pattern) rows. */
  private def robotsRules(s: SparkSession, urls: DataFrame): DataFrame = {
    val ruleSet = Seq(false -> "/private", true -> "/private/4", true -> "/public",
      false -> "/public", false -> "/tmp/*.html", true -> "/blog", false -> "/blog/14$")
    val ruleRows = s.range(1).select(explode(array(ruleSet.map { case (a, p) =>
      struct(lit(a).as("allow"), lit(p).as("pattern")) }: _*)).as("r")).select("r.*")
    urls.select("host").distinct().crossJoin(broadcast(ruleRows))
  }

  /** robots.txt (RFC 9309) longest-match crawl verdicts — the politeness
    * gate before any fetch becomes a WARC record. A 7-rule set per host
    * exercises longest-match override (Allow /private/4 inside Disallow
    * /private), Allow-wins-ties (/public both ways), `*` wildcards
    * (the tmp html rule) and the `$` anchor (/blog/14$ fires on /blog/14, not /blog/144). The pattern→regex
    * translation runs as the same regexp_replace chain on the COLUMN in
    * both engines; precedence is the integer key 2·len+allow under ONE
    * max_by per (host, path) — no window, no per-URL rule loop. */
  val rob1Robots = Q("rob1_robots_match",
    Some("WITH " + robotsVerdictCtes + """
            SELECT doc_id, host, path, coalesce(verdict, true) AS allowed
            FROM urls LEFT JOIN m USING (host, path)
            ORDER BY doc_id"""),
    (s, d) => {
      val urls = robotsUrls(s, d)
      val rules = robotsRules(s, urls)
      graft.ops.Robots.decide(urls, rules)
        .select("doc_id", "host", "path", "allowed")
        .orderBy("doc_id")
    })

  /** GROUPING SETS — completes the multi-level aggregation trio next to
    * a11's ROLLUP and a14's CUBE with the GENERAL form: exactly the
    * (source), (lang), and grand-total groupings, no cross products.
    * GROUPING() markers disambiguate a grouped-out NULL from a data
    * NULL (the standard trap); both engines emit the same flags. One
    * expand + one hash aggregate — Spark plans Expand over the scan, so
    * the three groupings cost one shuffle, not three scans. */
  val a17GroupingSets = Q("a17_grouping_sets",
    Some("""SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars,
              CAST(grouping(source) AS INT) AS g_source,
              CAST(grouping(lang) AS INT) AS g_lang
            FROM documents
            GROUP BY GROUPING SETS ((source), (lang), ())
            ORDER BY g_source, g_lang, source, lang"""),
    (s, d) => {
      documents(s, d).createOrReplaceTempView("documents_gs")
      s.sql("""SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS total_chars,
                 CAST(grouping(source) AS INT) AS g_source,
                 CAST(grouping(lang) AS INT) AS g_lang
               FROM documents_gs
               GROUP BY GROUPING SETS ((source), (lang), ())
               ORDER BY g_source, g_lang, source, lang""")
    })

  /** Pivot → unpivot round trip (the relational reshape surface):
    * per-source language counts widen through Spark's pivot (explicit
    * value list — an inferred list would be a second corpus pass AND
    * nondeterministic column order) and melt back through unpivot,
    * zeros filled — the wide detour must be lossless. The oracle builds
    * the same long table from a srcs×langs frame directly; absent
    * combinations must surface as 0, not vanish. */
  val a16Unpivot = Q("a16_pivot_unpivot",
    Some("""WITH langs AS (SELECT unnest(['de', 'en', 'es', 'fr', 'zh']) AS lang),
            d AS (SELECT coalesce(source, '') AS source, lang FROM documents),
            srcs AS (SELECT DISTINCT source FROM d),
            cnt AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
              FROM d WHERE lang IS NOT NULL GROUP BY source, lang)
            SELECT s.source, l.lang, coalesce(cnt.n, 0) AS n
            FROM srcs s CROSS JOIN langs l
            LEFT JOIN cnt ON cnt.source = s.source AND cnt.lang = l.lang
            ORDER BY s.source, l.lang"""),
    (s, d) => {
      val langs = Seq("de", "en", "es", "fr", "zh")
      // coalesce the group key: a NULL source would otherwise join-miss in
      // the oracle and sort differently across engines (the k5/rob2 rule)
      val wide = documents(s, d).withColumn("source", coalesce(col("source"), lit("")))
        .groupBy("source").pivot("lang", langs).count()
        .na.fill(0L, langs)
      wide.unpivot(Array(col("source")), langs.map(col).toArray, "lang", "n")
        .select(col("source"), col("lang"), col("n"))
        .orderBy("source", "lang")
    })

  /** Schema-evolution read (the S-family's long-lived-dataset reality):
    * batch 1 wrote (doc_id, text_len); batch 2 later added (lang,
    * quality). `mergeSchema` reconciles by NAME — old rows surface the
    * new columns as NULL, nothing rewrites — which is how a 100 TB
    * corpus absorbs schema growth without a backfill. The oracle reads
    * the SAME two parquet directories with DuckDB's independent
    * union_by_name reader, so the merge semantics are pinned
    * cross-implementation (the s10 discipline for parquet). */
  val s11SchemaEvolution: Q = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_schema_evo"
    Q("s11_schema_evolution",
      Some(s"""WITH c AS (SELECT * FROM read_parquet(
                ['$out/b1/*.parquet', '$out/b2/*.parquet'], union_by_name=true))
            SELECT doc_id, text_len, lang, quality,
              lang IS NULL AS from_batch1
            FROM c ORDER BY doc_id"""),
      (s, d) => {
        // SF-invariant fixture (range arithmetic, no corpus columns): a
        // bench rerun at another SF rewrites the fixed tmp dirs with
        // identical content — the s10 overwrite-hazard rule
        val base = s.range(0, 500).select(col("id").as("doc_id"),
          ((col("id") * 37) % 1000 + 20).cast("long").as("text_len"),
          concat(lit("l"), (col("id") % 5).cast("string")).as("lang_v"),
          ((col("id") % 100).cast("double") / 100.0).as("quality_v"))
        base.filter(col("doc_id") % 2 === 0)
          .select("doc_id", "text_len")
          .coalesce(1).write.mode("overwrite").parquet(s"$out/b1")
        base.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text_len"),
            col("lang_v").as("lang"), col("quality_v").as("quality"))
          .coalesce(1).write.mode("overwrite").parquet(s"$out/b2")
        s.read.option("mergeSchema", "true").parquet(s"$out/b1", s"$out/b2")
          .select(col("doc_id"), col("text_len"), col("lang"), col("quality"),
            col("lang").isNull.as("from_batch1"))
          .orderBy("doc_id")
      })
  }

  /** CSV source round-trip (the S-family's delimited-text format, next
    * to S4's JSON): fields with embedded commas, quotes, and NEWLINES
    * are written by Spark's CSV writer configured RFC 4180 (escape =
    * `"` — Spark's default backslash escaping is a dialect DuckDB and
    * every standards reader reject; found by this gate) and read back
    * multiLine. The ORACLE reads the very same files with DuckDB's
    * independent CSV parser and compares against expectations rebuilt
    * from the parquet — so writer dialect, reader dialect, and content
    * integrity are all pinned against a second implementation. Fixed
    * tmp path: the oracle string is static (built once), so the path
    * cannot depend on the sf dir. */
  val s10CsvRoundtrip: Q = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_csv_roundtrip"
    Q("s10_csv_roundtrip",
      Some(s"""WITH c AS (SELECT * FROM read_csv('$out/*.csv', header=true,
              columns={'doc_id': 'BIGINT', 'f_comma': 'VARCHAR',
                       'f_quote': 'VARCHAR', 'f_newline': 'VARCHAR'})),
            e AS (SELECT CAST(i AS BIGINT) AS doc_id,
                concat('v,', CAST(i AS VARCHAR), ',end') AS e_comma,
                concat('say "q', CAST(i * 7 AS VARCHAR), '" ok u', chr(252)) AS e_quote,
                concat('line1', chr(10), 'line2-', CAST(i AS VARCHAR)) AS e_newline
              FROM range(0, 500) t(i))
            SELECT c.doc_id,
              c.f_comma = e.e_comma AS ok_comma,
              c.f_quote = e.e_quote AS ok_quote,
              c.f_newline = e.e_newline AS ok_newline,
              CAST(length(c.f_newline) AS BIGINT) AS len_newline
            FROM c JOIN e ON e.doc_id = c.doc_id
            ORDER BY c.doc_id"""),
      (s, d) => {
        // fixture is SF-INVARIANT by design (pure range arithmetic, no
        // corpus text): a bench rerun at another SF overwrites the fixed
        // tmp path with IDENTICAL content, so the driver's later DuckDB
        // read can never observe a different corpus than Verify wrote
        val idStr = col("doc_id").cast("string")
        def expected = Seq(
          concat(lit("v,"), idStr, lit(",end")).as("e_comma"),
          concat(lit("say \"q"), (col("doc_id") * 7).cast("string"), lit("\" ok u\u00fc")).as("e_quote"),
          concat(lit("line1\nline2-"), idStr).as("e_newline"))
        val src = s.range(0, 500).select(col("id").as("doc_id") +: expected: _*)
        src.select(col("doc_id"), col("e_comma").as("f_comma"),
            col("e_quote").as("f_quote"), col("e_newline").as("f_newline"))
          .coalesce(1)
          .write.mode("overwrite")
          .option("header", "true").option("escape", "\"")
          .csv(out)
        val schema = "doc_id LONG, f_comma STRING, f_quote STRING, f_newline STRING"
        val back = s.read.schema(schema)
          .option("header", "true").option("escape", "\"").option("multiLine", "true")
          .csv(out)
        back.join(src, "doc_id")
          .select(col("doc_id"),
            (col("f_comma") === col("e_comma")).as("ok_comma"),
            (col("f_quote") === col("e_quote")).as("ok_quote"),
            (col("f_newline") === col("e_newline")).as("ok_newline"),
            length(col("f_newline")).cast("long").as("len_newline"))
          .orderBy("doc_id")
      })
  }

  /** ORC source/sink round-trip (the S-family's columnar format next to
    * parquet; Spark's built-in `orc` reader/writer over the classpath
    * orc-core): a partitioned write, a partition-PRUNED read-back (the
    * `part` filter must never touch the other five directories — the
    * 100 TB lake-layout discipline, pinned in OrcSpec's plan
    * assertion alongside predicate pushdown), and value integrity for
    * newline/unicode strings, exact doubles, and booleans. DuckDB
    * cannot read ORC, so the oracle predicts the round-trip
    * arithmetically (the planted-fixture discipline) while `ok_text`
    * pins actual-vs-expected equality Spark-side. SF-invariant fixture:
    * a bench rerun at another SF rewrites the fixed tmp dir with
    * identical content (the s10 overwrite-hazard rule). */
  val orc1Roundtrip: Q = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_orc_roundtrip"
    Q("orc1_roundtrip",
      Some("""WITH e AS (SELECT CAST(i AS BIGINT) AS doc_id,
              concat('txt-', CAST(i AS VARCHAR), chr(10), 'u', chr(252)) AS text,
              CAST(i % 97 AS DOUBLE) / 8 AS score,
              i % 3 = 0 AS flag,
              CAST(i % 7 AS BIGINT) AS part
            FROM range(0, 500) t(i) WHERE i % 7 IN (2, 5))
            SELECT doc_id, text, score, flag, part, true AS ok_text
            FROM e ORDER BY doc_id"""),
      (s, d) => {
        val src = s.range(0, 500).select(
          col("id").as("doc_id"),
          concat(lit("txt-"), col("id").cast("string"), lit("\nuü")).as("text"),
          ((col("id") % 97).cast("double") / 8).as("score"),
          (col("id") % 3 === 0).as("flag"),
          (col("id") % 7).as("part"))
        src.coalesce(1).write.mode("overwrite").partitionBy("part").orc(out)
        val back = s.read.orc(out).filter(col("part").isin(2, 5))
        back.join(src.filter(col("part").isin(2, 5))
            .select(col("doc_id"), col("text").as("e_text")), "doc_id")
          .select(col("doc_id"), col("text"), col("score"), col("flag"),
            col("part").cast("long").as("part"),
            (col("text") === col("e_text")).as("ok_text"))
          .orderBy("doc_id")
      })
  }

  /** Parquet footer introspection (`io.ParquetMeta`): row-group /
    * column-chunk metadata of a written parquet file — what
    * `parquet-tools meta` prints and what a stats-layer bootstrap scans
    * (dl3's skipping ledger for a log-less table). The fixture is
    * SF-INVARIANT (pure range arithmetic, fixed tmp path — the s10/orc1
    * overwrite-hazard convention: the oracle SQL must name the path as a
    * literal, so a bench rerun at another SF rewrites IDENTICAL content;
    * concurrent JVMs are excluded by the one-sbt-at-a-time repo
    * discipline) and written coalesce(1) with a 16 KiB block size so it
    * genuinely spans multiple row groups; the oracle is DuckDB's OWN
    * independent `parquet_metadata()` reader over the SAME file, so
    * every row-group row count, per-chunk value/null count and
    * compressed/uncompressed size is cross-validated between two
    * unrelated footer parsers. */
  val pq1Meta = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_pqmeta_fixture"
    Q("pq1_footer_meta",
      Some(s"""SELECT CAST(row_group_id AS INT) AS row_group_id,
              CAST(row_group_num_rows AS BIGINT) AS n_rows,
              path_in_schema AS col_path,
              CAST(num_values AS BIGINT) AS num_values,
              CAST(coalesce(stats_null_count, -1) AS BIGINT) AS null_count,
              CAST(total_compressed_size AS BIGINT) AS compressed,
              CAST(total_uncompressed_size AS BIGINT) AS uncompressed
            FROM parquet_metadata('$out/*.parquet')
            ORDER BY row_group_id, col_path"""),
      (s, d) => {
        val src = s.range(0, 2000).select(
          col("id").as("doc_id"),
          ((col("id") * 7) % 100).cast("int").as("v"),
          concat(lit("row-"), col("id").cast("string"), lit("-"),
            expr("repeat('x', CAST(id % 37 AS INT))")).as("s"),
          when(col("id") % 5 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("n"), col("id").cast("string"))).as("maybe"))
        src.coalesce(1).write.mode("overwrite")
          .option("parquet.block.size", 16 * 1024)
          .option("parquet.page.size", 4 * 1024)
          .parquet(out)
        graft.io.ParquetMeta.footerMeta(s, graft.io.ParquetMeta.partFiles(out))
          .select(col("row_group_id"), col("n_rows"), col("col_path"),
            col("num_values"), col("null_count"), col("compressed"), col("uncompressed"))
          .orderBy("row_group_id", "col_path")
      })
  }

  /** Small-file compaction planning (the k-family's lakehouse op): pack
    * each table partition's files into ~128 MiB target bins by
    * NEXT-FIT-DECREASING — size-desc order, running fill, new bin on
    * overflow — via the SAME exact stateful scan as w4/x7/p17
    * (`Chunking.chunkIdExact`, one flatMapGroups stream per partition,
    * fully distributed on the partition key; a compactor never needs
    * cross-partition bins). Oversized files (fixture plants sizes up to
    * 200 MiB) overflow into bins of their own rather than blocking the
    * stream. The oracle replays the scan as a recursive CTE (the p17
    * convention). At 100 TB this IS the maintenance pass that keeps scan
    * parallelism healthy: the plan is one partitioned window + one
    * per-partition linear scan, never a global sort. */
  val k5Compaction = Q("k5_compaction_plan",
    Some("""WITH RECURSIVE f AS (SELECT coalesce(source, '') AS part, doc_id AS file_id,
              CAST((doc_id * 37) % 200 + 1 AS BIGINT) * 1048576 AS size_bytes
            FROM documents),
            base AS (SELECT part, file_id, size_bytes,
                row_number() OVER (PARTITION BY part ORDER BY size_bytes DESC, file_id) AS rn
              FROM f),
            scan AS (
              SELECT part, rn, file_id, size_bytes,
                CASE WHEN size_bytes > 134217728 THEN 1 ELSE 0 END AS bin,
                size_bytes AS run
              FROM base WHERE rn = 1
              UNION ALL
              SELECT b.part, b.rn, b.file_id, b.size_bytes,
                s.bin + CASE WHEN s.run + b.size_bytes > 134217728 THEN 1 ELSE 0 END,
                CASE WHEN s.run + b.size_bytes > 134217728 THEN b.size_bytes
                     ELSE s.run + b.size_bytes END
              FROM scan s JOIN base b ON b.part = s.part AND b.rn = s.rn + 1)
            SELECT part, file_id, size_bytes, CAST(bin AS BIGINT) AS bin_id
            FROM scan ORDER BY part, bin_id, file_id"""),
    (s, d) => {
      val f = documents(s, d).select(coalesce(col("source"), lit("")).as("part"),
        col("doc_id").as("file_id"),
        (((col("doc_id") * 37) % 200) + 1).cast("long").*(lit(1048576L)).as("size_bytes"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("part")
        .orderBy(col("size_bytes").desc, col("file_id"))
      val ranked = f.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("brk", lit(false))
      val packed = graft.ops.Chunking.chunkIdExact(ranked, "part", "rn", "size_bytes",
        "brk", maxChars = 134217728L)
        .select(col("part"), col("rn"), col("chunk_id").as("bin_id"))
      ranked.join(packed, Seq("part", "rn"))
        .select(col("part"), col("file_id"), col("size_bytes"), col("bin_id"))
        .orderBy("part", "bin_id", "file_id")
    })

  /** Sitemap ingestion — the DISCOVERY half of the crawl frontier (rob1
    * gates fetches, sitemaps seed them): sitemaps.org XML parsed to
    * (loc, lastmod, priority) per URL, absent optional fields → null
    * (priority defaults 0.5 per the spec), then every discovered URL
    * passes the SAME RFC 9309 verdict machinery rob1 uses — parse and
    * gate compose, they don't duplicate. Fixture XML varies whitespace
    * around <loc>, omits fields per-URL, and lands one URL per doc in
    * robots-disallowed space so `allowed` is load-bearing. Map-only
    * parse + explode; the rule join is rob1's broadcast shape. */
  val rob2Sitemap = Q("rob2_sitemap_ingest",
    Some("""WITH h AS (SELECT doc_id,
              concat(coalesce(source, ''), '.example.com') AS host,
              lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') AS mm,
              lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS dd
            FROM documents),
            x AS (SELECT doc_id, host, concat(
                '<urlset>\n<url>\n  <loc>  https://', host, '/private/', CAST(doc_id AS VARCHAR),
                '  </loc>\n  <lastmod>2024-', mm, '-', dd, '</lastmod>\n</url>\n',
                '<url><loc>https://', host, '/blog/', CAST(doc_id AS VARCHAR),
                '</loc><priority>0.', CAST(doc_id % 10 AS VARCHAR), '</priority></url>\n',
                '<url><loc>https://', host, '/public/', CAST(doc_id AS VARCHAR),
                '</loc></url>\n</urlset>') AS xml
              FROM h),
            blocks AS (SELECT doc_id, host, regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1) AS bs FROM x),
            idx AS (SELECT unnest(range(1, 9)) AS i),
            u AS (SELECT doc_id, host, CAST(i - 1 AS BIGINT) AS url_idx, bs[CAST(i AS INT)] AS b
              FROM blocks CROSS JOIN idx WHERE i <= len(bs)),
            f AS (SELECT doc_id, host, url_idx,
                nullif(trim(regexp_extract(b, '<loc>\s*([^<]*?)\s*</loc>', 1)), '') AS loc,
                nullif(regexp_extract(b, '<lastmod>\s*([^<]*?)\s*</lastmod>', 1), '') AS lastmod,
                nullif(regexp_extract(b, '<priority>\s*([^<]*?)\s*</priority>', 1), '') AS priority
              FROM u),
            p AS (SELECT doc_id, url_idx,
                lower(regexp_extract(loc, 'https?://([^/]+)', 1)) AS host,
                regexp_extract(loc, 'https?://[^/]+(/.*)$', 1) AS path,
                TRY_CAST(lastmod AS DATE) AS lastmod,
                coalesce(TRY_CAST(priority AS DOUBLE), 0.5) AS priority
              FROM f),
            """ + robotsRulesCtes("(SELECT DISTINCT host FROM p)") + """,
            m AS (SELECT host, path,
                max_by(allow, length(pattern) * 2 + CAST(allow AS INT)) AS verdict
              FROM (SELECT DISTINCT host, path FROM p) q JOIN rules USING (host)
              WHERE regexp_matches(path, rx)
              GROUP BY host, path)
            SELECT doc_id, url_idx, p.host, p.path, lastmod, priority,
              coalesce(verdict, true) AS allowed
            FROM p LEFT JOIN m USING (host, path)
            ORDER BY doc_id, url_idx"""),
    (s, d) => {
      val host = concat(coalesce(col("source"), lit("")), lit(".example.com"))
      val idStr = col("doc_id").cast("string")
      val mm = lpad((col("doc_id") % 12 + 1).cast("string"), 2, "0")
      val dd = lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0")
      val xml = concat(
        lit("<urlset>\n<url>\n  <loc>  https://"), host, lit("/private/"), idStr,
        lit("  </loc>\n  <lastmod>2024-"), mm, lit("-"), dd, lit("</lastmod>\n</url>\n"),
        lit("<url><loc>https://"), host, lit("/blog/"), idStr,
        lit("</loc><priority>0."), (col("doc_id") % 10).cast("string"), lit("</priority></url>\n"),
        lit("<url><loc>https://"), host, lit("/public/"), idStr,
        lit("</loc></url>\n</urlset>"))
      val parsed = documents(s, d)
        .select(col("doc_id"), posexplode(graft.ops.Robots.parseSitemap(xml)).as(Seq("url_idx", "u")))
        .select(col("doc_id"), col("url_idx").cast("long").as("url_idx"),
          lower(regexp_extract(col("u.loc"), "https?://([^/]+)", 1)).as("host"),
          regexp_extract(col("u.loc"), "https?://[^/]+(/.*)$", 1).as("path"),
          col("u.lastmod").try_cast("date").as("lastmod"),
          coalesce(col("u.priority").try_cast("double"), lit(0.5)).as("priority"))
      val rules = robotsRules(s, parsed)
      graft.ops.Robots.decide(parsed, rules)
        .select("doc_id", "url_idx", "host", "path", "lastmod", "priority", "allowed")
        .orderBy("doc_id", "url_idx")
    })

  /** Link-graph extraction — the step between a fetched page (warc) and
    * the domain graph PageRank ranks (pr1): absolute hrefs parsed from
    * HTML, host-normalized (lowercased, ports stripped), RELATIVE links
    * excluded, self-links kept, duplicate links counted. Per-(src, dst)
    * edge weights from one explode + hash aggregate — the web-graph
    * builder is a map + count at any crawl size. The fixture plants an
    * absolute link to the doc's own host, a cross-host link (lang-derived
    * so edges actually fan out), a RELATIVE link that must NOT become an
    * edge, and a duplicated link that must count 2. */
  val crawl2LinkGraph = Q("crawl2_link_graph",
    Some("""WITH h AS (SELECT doc_id,
              concat(coalesce(source, ''), '.example.com') AS src_host,
              concat('<p><a href="https://', coalesce(source, ''), '.example.com/self">s</a> ',
                '<a href="/relative/path">rel</a> ',
                '<a href="HTTP://', coalesce(lang, 'xx'), '.Example.ORG:8080/page">x</a> ',
                '<a href="http://', coalesce(lang, 'xx'), '.example.org:8080/other">x2</a></p>') AS html
              FROM documents),
            l AS (SELECT doc_id, src_host,
                lower(string_split(unnest(regexp_extract_all(html, '(?i)href="https?://([^/"]+)', 1)), ':')[1]) AS dst_host
              FROM h)
            SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links,
              CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages
            FROM l GROUP BY src_host, dst_host
            ORDER BY src_host, dst_host"""),
    (s, d) => {
      val srcHost = concat(coalesce(col("source"), lit("")), lit(".example.com"))
      val html = concat(
        lit("<p><a href=\"https://"), coalesce(col("source"), lit("")),
        lit(".example.com/self\">s</a> "),
        lit("<a href=\"/relative/path\">rel</a> "),
        lit("<a href=\"HTTP://"), coalesce(col("lang"), lit("xx")),
        lit(".Example.ORG:8080/page\">x</a> "),
        lit("<a href=\"http://"), coalesce(col("lang"), lit("xx")),
        lit(".example.org:8080/other\">x2</a></p>"))
      documents(s, d)
        .select(col("doc_id"), srcHost.as("src_host"),
          explode(regexp_extract_all(html, lit("(?i)href=\"https?://([^/\"]+)"), lit(1))).as("raw"))
        .select(col("doc_id"), col("src_host"),
          lower(element_at(split(col("raw"), ":"), 1)).as("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(count(lit(1)).as("n_links"), countDistinct(col("doc_id")).as("n_pages"))
        .orderBy("src_host", "dst_host")
    })

  /** Crawl-frontier politeness schedule — what a fetcher does with rob1's
    * verdicts: allowed URLs only, one fetch per host per WAVE (wave n =
    * the host's n-th politeness slot; all wave-1 fetches across hosts are
    * concurrent). The wave is a host-PARTITIONED row_number — per-host
    * sequencing is the semantics AND the scale shape (WindowGroupLimit-
    * friendly, no global ordering exists anywhere; a global fetch queue
    * would serialize the planet). Oracle replays verdicts + waves. */
  val crawl1Frontier = Q("crawl1_frontier_schedule",
    Some("WITH " + robotsVerdictCtes + """,
            a AS (SELECT doc_id, host, path
              FROM urls LEFT JOIN m USING (host, path)
              WHERE coalesce(verdict, true)),
            w AS (SELECT doc_id, host, path,
                CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id) AS BIGINT) AS wave
              FROM a)
            SELECT wave, host, path, doc_id FROM w ORDER BY wave, host, doc_id"""),
    (s, d) => {
      val urls = robotsUrls(s, d)
      val rules = robotsRules(s, urls)
      val allowed = graft.ops.Robots.decide(urls, rules)
        .filter(col("allowed")).select("doc_id", "host", "path")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("host").orderBy("doc_id")
      allowed.withColumn("wave", row_number().over(w).cast("long"))
        .select("wave", "host", "path", "doc_id")
        .orderBy("wave", "host", "doc_id")
    })

  /** SQuAD-style token-overlap F1 (Rajpurkar et al. 2016) — the
    * extractive-QA grading metric: MULTISET overlap (each token counts
    * min(freq_pred, freq_gold) times — plain set intersect overcredits
    * repeated tokens), precision vs the prediction, recall vs the gold,
    * harmonic mean. Prediction synthesized from the reference in both
    * engines (ev2's fixture pattern): first 60% of tokens, every
    * (doc_id+i)%5-th replaced by 'zz' — so partial overlap, truncation,
    * and zero-match rows all land in the hash. The multiset overlap runs
    * as explode → per-(doc, token) counts → one equi-join → Σ min — two
    * bounded-key shuffles, fully codegen'd (a nested filter-in-aggregate
    * HOF benched 4.4 s vs 1.5 s for this shape — the lcs_len lesson);
    * the oracle keeps the per-row fold, which IS the semantics spec. */
  /** McNemar's paired test (with Edwards' continuity correction) — the
    * statistically-correct way to compare two classifiers evaluated on
    * the SAME examples (unpaired accuracy deltas ignore that the errors
    * correlate): only the DISCORDANT pairs matter — b = A right/B wrong,
    * c = A wrong/B right — and χ² = (|b−c|−1)²/(b+c). The two
    * "classifiers" are the engine's own rule gates (a length band vs a
    * stopword-hit gate) against an arithmetic ground truth, so both
    * engines replay every prediction. One map-side-combined aggregate:
    * four exact counters, one double at the end; χ² > 3.841 rejects at
    * α = 0.05 with 1 dof. */
  val ev9McNemar = Q("ev9_mcnemar",
    Some(s"""WITH t AS (SELECT doc_id, ${OracleSql.toksSql} AS toks,
              length(coalesce(text, '')) AS len FROM documents),
            p AS (SELECT doc_id,
                doc_id % 3 = 0 AS y,
                len >= 200 AND len <= 2000 AS pred_a,
                len(list_intersect(list_distinct(toks),
                  ['the', 'be', 'to', 'of', 'and'])) >= 2 AS pred_b
              FROM t),
            m AS (SELECT
                CAST(sum(CASE WHEN (pred_a = y) AND (pred_b = y) THEN 1 ELSE 0 END) AS BIGINT) AS both_right,
                CAST(sum(CASE WHEN (pred_a = y) AND (pred_b <> y) THEN 1 ELSE 0 END) AS BIGINT) AS b,
                CAST(sum(CASE WHEN (pred_a <> y) AND (pred_b = y) THEN 1 ELSE 0 END) AS BIGINT) AS c,
                CAST(sum(CASE WHEN (pred_a <> y) AND (pred_b <> y) THEN 1 ELSE 0 END) AS BIGINT) AS both_wrong
              FROM p)
            SELECT both_right, b AS only_a_right, c AS only_b_right, both_wrong,
              round(CASE WHEN b + c = 0 THEN 0.0
                ELSE (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
                   * (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
                   / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)) END, 6) AS chi2,
              CASE WHEN b + c = 0 THEN false
                ELSE (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
                   * (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
                   / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)) > 3.841 END AS significant
            FROM m"""),
    (s, d) => {
      val toks = TextAnalysis.tokens(col("text"))
      val len = length(coalesce(col("text"), lit("")))
      val p = documents(s, d).select(
        (col("doc_id") % 3 === 0).as("y"),
        (len >= 200 && len <= 2000).as("pred_a"),
        (size(array_intersect(array_distinct(toks),
          array(Seq("the", "be", "to", "of", "and").map(lit): _*))) >= 2).as("pred_b"))
      val m = p.agg(
        sum(when(col("pred_a") === col("y") && col("pred_b") === col("y"), 1L).otherwise(0L)).as("both_right"),
        sum(when(col("pred_a") === col("y") && col("pred_b") =!= col("y"), 1L).otherwise(0L)).as("b"),
        sum(when(col("pred_a") =!= col("y") && col("pred_b") === col("y"), 1L).otherwise(0L)).as("c"),
        sum(when(col("pred_a") =!= col("y") && col("pred_b") =!= col("y"), 1L).otherwise(0L)).as("both_wrong"))
      val diff = abs(col("b").cast("double") - col("c").cast("double")) - 1.0
      val chi2 = diff * diff / (col("b").cast("double") + col("c").cast("double"))
      m.select(col("both_right"), col("b").as("only_a_right"), col("c").as("only_b_right"),
        col("both_wrong"),
        round(when(col("b") + col("c") === 0, 0.0).otherwise(chi2), 6).as("chi2"),
        when(col("b") + col("c") === 0, false).otherwise(chi2 > 3.841).as("significant"))
    })

  /** Bootstrap confidence interval via the POISSON bootstrap (Chamandy
    * et al. 2012 — the resampling that scales: each doc's per-replicate
    * multiplicity is drawn as Poisson(1) from a seedless md5 uniform, so
    * no index table, no resampling shuffle, map-only fan-out of B
    * weights per row). Replicate statistics are exact-integer weighted
    * sums divided once; the 95% CI is the 2nd/49th order statistic of
    * the B=50 replicate stats, ranked by a count-join on the 50-row
    * frame (never a global window). Every eval number this engine emits
    * can carry an uncertainty band this way — deterministic, engine-
    * portable, rerun-stable. */
  val ev8BootstrapCi: Q = {
    val B = 50
    Q("ev8_bootstrap_ci",
      Some(s"""WITH t AS (SELECT doc_id, CAST(len(${OracleSql.toksSql}) AS BIGINT) AS x FROM documents),
            reps AS (SELECT unnest(range(0, $B, 1)) AS rep),
            u AS (SELECT rep, doc_id, x,
                CAST(list_sum(list_transform(range(1, 13), i ->
                  CAST(strpos('0123456789abcdef', substr(md5(concat(CAST(rep AS VARCHAR), ':', CAST(doc_id AS VARCHAR))), CAST(i AS INT), 1)) - 1 AS BIGINT)
                    * (1::BIGINT << (4 * (12 - CAST(i AS INT)))))) AS DOUBLE) / 281474976710656.0 AS uu
              FROM t CROSS JOIN reps),
            w AS (SELECT rep, x,
                CASE WHEN uu < 0.3679 THEN 0 WHEN uu < 0.7358 THEN 1 WHEN uu < 0.9197 THEN 2
                     WHEN uu < 0.981 THEN 3 WHEN uu < 0.9963 THEN 4 ELSE 5 END AS w
              FROM u),
            s AS (SELECT rep, round(CAST(sum(w * x) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6) AS stat
              FROM w GROUP BY rep),
            r AS (SELECT a.rep, a.stat, 1 + count(bb.rep) AS rnk
              FROM s a LEFT JOIN s bb ON bb.stat < a.stat OR (bb.stat = a.stat AND bb.rep < a.rep)
              GROUP BY a.rep, a.stat),
            pe AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                round(CAST(sum(x) AS DOUBLE) / count(*), 6) AS mean_tokens FROM t)
            SELECT pe.n_docs, pe.mean_tokens,
              (SELECT stat FROM r WHERE rnk = 2) AS ci_lo,
              (SELECT stat FROM r WHERE rnk = ${B - 1}) AS ci_hi,
              CAST($B AS INT) AS n_replicates
            FROM pe"""),
      (s, d) => {
        val t = documents(s, d).select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("x"))
        val fan = t.select(col("doc_id"), col("x"),
          explode(sequence(lit(0), lit(B - 1))).as("rep"))
        val uu = conv(substring(md5(concat(col("rep").cast("string"), lit(":"),
          col("doc_id").cast("string")).cast("binary")), 1, 12), 16, 10)
          .cast("long").cast("double") / lit(281474976710656.0)
        val wgt = when(uu < 0.3679, 0).when(uu < 0.7358, 1).when(uu < 0.9197, 2)
          .when(uu < 0.981, 3).when(uu < 0.9963, 4).otherwise(5)
        val stats = fan.withColumn("w", wgt)
          .groupBy("rep")
          .agg(round(sum(col("w") * col("x")).cast("double")
            / sum(col("w")).cast("double"), 6).as("stat"))
          .localCheckpoint() // 50-row frame, feeds both rank sides
        val ys = stats.select(col("rep").as("y_rep"), col("stat").as("y_stat"))
        val ranked = stats.join(ys,
            col("y_stat") < col("stat") ||
              (col("y_stat") === col("stat") && col("y_rep") < col("rep")), "left")
          .groupBy(col("rep"), col("stat")).agg((count(col("y_rep")) + 1).as("rnk"))
        val lo = ranked.filter(col("rnk") === 2).select(col("stat").as("ci_lo"))
        val hi = ranked.filter(col("rnk") === B - 1).select(col("stat").as("ci_hi"))
        val pe = t.agg(count(lit(1)).as("n_docs"),
          round(sum("x").cast("double") / count(lit(1)), 6).as("mean_tokens"))
        pe.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
          .select(col("n_docs"), col("mean_tokens"), col("ci_lo"), col("ci_hi"),
            lit(B).cast("int").as("n_replicates"))
      })
  }

  /** pass@k (Chen et al. 2021, Codex) — the unbiased code-eval
    * estimator: with n samples and c correct, pass@k = 1 − C(n−c,k)/C(n,k),
    * computed as the numerically-stable ordered product
    * Π_{j<k}(n−c−j)/(n−j) (never a factorial). The c=0 → 0 and
    * n−c<k → 1 edges are explicit branches (the product would walk
    * through negative factors otherwise); the fold is fixed-order so
    * both engines produce the identical double. Per-doc c varies 0..10
    * by arithmetic, k ∈ {1, 5, 10} explodes map-only. */
  val ev7PassAtK: Q = {
    val n = 10
    val ks = Seq(1, 5, 10)
    def prodSql(k: Int) =
      s"""list_reduce(list_prepend(CAST(1.0 AS DOUBLE), list_transform(range(0, $k, 1),
            j -> (CAST($n - c - j AS DOUBLE)) / (CAST($n - j AS DOUBLE)))), (acc, x) -> acc * x)"""
    val rowsSql = ks.map(k =>
      s"""SELECT doc_id, c, CAST($k AS INT) AS k,
            CASE WHEN c = 0 THEN 0.0 WHEN $n - c < $k THEN 1.0
                 ELSE round(1.0 - ${prodSql(k)}, 6) END AS pass_at_k
          FROM t""").mkString("\n            UNION ALL\n            ")
    Q("ev7_pass_at_k",
      Some(s"""WITH t AS (SELECT doc_id, CAST(doc_id % 11 AS INT) AS c FROM documents)
            SELECT doc_id, CAST($n AS INT) AS n, c, k, pass_at_k FROM (
            $rowsSql) ORDER BY doc_id, k"""),
      (s, d) => {
        val c = (col("doc_id") % 11).cast("int")
        def prodCol(k: Int) = aggregate(sequence(lit(0), lit(k - 1)), lit(1.0),
          (acc, j) => acc * ((lit(n) - col("c") - j).cast("double") / (lit(n) - j).cast("double")))
        val base = documents(s, d).select(col("doc_id"), c.as("c"))
        val withK = base.select(col("doc_id"), col("c"),
          explode(array(ks.map(k => lit(k)): _*)).as("k"))
        withK.select(col("doc_id"), lit(n).cast("int").as("n"), col("c"), col("k"),
            ks.foldLeft(lit(null).cast("double")) { (acc, k) =>
              when(col("k") === k,
                when(col("c") === 0, 0.0).when(lit(n) - col("c") < k, 1.0)
                  .otherwise(round(lit(1.0) - prodCol(k), 6))).otherwise(acc)
            }.as("pass_at_k"))
          .orderBy("doc_id", "k")
      })
  }

  val ev6QaF1: Q = Q("ev6_qa_token_f1",
    Some(s"""WITH t AS (SELECT doc_id, ${OracleSql.toksSql} AS gold FROM documents),
            c AS (SELECT doc_id, gold,
                CASE WHEN len(gold) = 0 THEN CAST([] AS VARCHAR[])
                     ELSE list_transform(range(1, CAST(greatest(((len(gold) * 3) - ((len(gold) * 3) % 5)) / 5, 1) AS BIGINT) + 1),
                        i -> CASE WHEN (i - 1 + doc_id) % 5 = 0 THEN 'zz' ELSE gold[i] END) END AS pred
              FROM t),
            o AS (SELECT doc_id, pred, gold,
                coalesce(CAST(list_sum(list_transform(list_distinct(pred),
                  tk -> least(len(list_filter(pred, x -> x = tk)),
                              len(list_filter(gold, x -> x = tk))))) AS BIGINT), 0) AS ov
              FROM c)
            SELECT doc_id, CAST(len(pred) AS BIGINT) AS n_pred,
              CAST(len(gold) AS BIGINT) AS n_gold, ov AS overlap,
              round(CAST(ov AS DOUBLE) / CAST(greatest(len(pred), 1) AS DOUBLE), 6) AS precision,
              round(CAST(ov AS DOUBLE) / CAST(greatest(len(gold), 1) AS DOUBLE), 6) AS recall,
              CASE WHEN ov = 0 THEN 0.0 ELSE
                round(2.0 * (CAST(ov AS DOUBLE) / CAST(greatest(len(pred), 1) AS DOUBLE))
                  * (CAST(ov AS DOUBLE) / CAST(greatest(len(gold), 1) AS DOUBLE))
                  / ((CAST(ov AS DOUBLE) / CAST(greatest(len(pred), 1) AS DOUBLE))
                    + (CAST(ov AS DOUBLE) / CAST(greatest(len(gold), 1) AS DOUBLE))), 6) END AS f1
            FROM o ORDER BY doc_id"""),
    (s, d) => {
      // materialize the token list BEFORE the element_at lambda — an
      // inline `tokens(text)` subtree re-evaluates the split per element
      // (the m6/x26 re-inlining trap; benched 6.4 s vs 1.5 s)
      val g = documents(s, d).select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("gold"))
      val gold = col("gold")
      val nc = greatest(floor((size(gold) * 3) / lit(5)).cast("int"), lit(1))
      val pred = when(size(gold) === 0, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), nc), i =>
          when((i - 1 + col("doc_id")) % 5 === 0, lit("zz"))
            .otherwise(element_at(gold, i))))
      val base = g.select(col("doc_id"), pred.as("pred"), gold.as("gold"))
      def counts(c: String, out: String) = base
        .select(col("doc_id"), explode(col(c)).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as(out))
      val ovAgg = counts("pred", "cp").join(counts("gold", "cg"), Seq("doc_id", "tok"))
        .groupBy("doc_id").agg(sum(least(col("cp"), col("cg"))).as("ovj"))
      val o = base.join(ovAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("pred"), col("gold"),
          coalesce(col("ovj"), lit(0L)).cast("long").as("ov"))
      val prec = col("ov").cast("double") / greatest(size(col("pred")), lit(1)).cast("double")
      val rec = col("ov").cast("double") / greatest(size(col("gold")), lit(1)).cast("double")
      o.select(col("doc_id"), size(col("pred")).cast("long").as("n_pred"),
          size(col("gold")).cast("long").as("n_gold"), col("ov").as("overlap"),
          round(prec, 6).as("precision"), round(rec, 6).as("recall"),
          when(col("ov") === 0, 0.0)
            .otherwise(round(lit(2.0) * prec * rec / (prec + rec), 6)).as("f1"))
        .orderBy("doc_id")
    })

  /** Brier score + skill — the proper scoring rule completing the
    * classifier-eval family (ml4 calibrates, ml5 thresholds, this scores
    * the probabilities themselves): mean (p−y)², the climatology
    * reference ȳ(1−ȳ) from the same scan, and the skill score
    * 1 − BS/BS_ref. Squared-error terms 12-dp-rounded then
    * DECIMAL-summed (dom4 discipline). */
  val ml6Brier: Q = Q("ml6_brier",
    Some(s"""WITH $mlTrainCtes,
            pf AS (SELECT f.doc_id, f.y, $mlPSql AS p FROM feat f CROSS JOIN w$mlIters),
            agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round((p - y) * (p - y), 12) AS DECIMAL(25,15))) AS DOUBLE) AS se,
                CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS npos
              FROM pf)
            SELECT n, npos,
              round(se / CAST(n AS DOUBLE), 6) AS brier,
              round(CAST(npos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS base_rate,
              round((CAST(npos AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(npos AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS brier_ref,
              round(1.0 - (se / CAST(n AS DOUBLE))
                / greatest((CAST(npos AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(npos AS DOUBLE) / CAST(n AS DOUBLE)), 1e-12), 6) AS skill
            FROM agg"""),
    (s, d) => {
      val base = documents(s, d).select(col("doc_id"), col("n_chars"), col("lang"),
        TextAnalysis.tokens(col("text")).as("toks"))
      val y = when(col("lang") === "en", 1.0).otherwise(0.0)
      val wts = graft.ops.Classifier.logregTrain(base, mlFeatures, y, iters = mlIters, lr = 0.5)
      val scored = graft.ops.Classifier.score(base.withColumn("y", y),
        Seq(col("doc_id"), col("y")), mlFeatures, wts)
      val agg = scored.agg(count(lit(1)).as("n"),
        sum(round((col("p") - col("y")) * (col("p") - col("y")), 12)
          .cast("decimal(25,15)")).cast("double").as("se"),
        sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("npos"))
      val nD = col("n").cast("double")
      val br = col("se") / nD
      val pbar = col("npos").cast("double") / nD
      val ref = pbar * (lit(1.0) - pbar)
      agg.select(col("n"), col("npos"),
        round(br, 6).as("brier"), round(pbar, 6).as("base_rate"),
        round(ref, 6).as("brier_ref"),
        round(lit(1.0) - br / greatest(ref, lit(1e-12)), 6).as("skill"))
    })

  /** Sentence BLEU-2 (Papineni et al. 2002) per document: the candidate
    * is synthesized from the reference identically in both engines (the
    * oracle-strong pattern) — first 80% of the tokens with every
    * (doc_id+i)%7-th position replaced by 'xx', so clipping, truncation
    * brevity penalty, and zero-match paths are all exercised. Clipped
    * n-gram numerators/denominators are exact integers (emitted for the
    * strong check); the composed ln/exp score is 6-dp-rounded. Explode →
    * hash-agg → clip → sum: two bounded gram shuffles, no O(L²) HOF. */
  val ev2Bleu = Q("ev2_bleu",
    Some(s"""WITH t AS (SELECT doc_id, ${OracleSql.toksSql} AS toks FROM documents),
            c AS (SELECT doc_id, toks,
                CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
                     ELSE list_transform(range(1, CAST(greatest(((len(toks) * 4) - ((len(toks) * 4) % 5)) / 5, 1) AS BIGINT) + 1),
                        i -> CASE WHEN (i - 1 + doc_id) % 7 = 0 THEN 'xx' ELSE toks[i] END) END AS cand
              FROM t),
            cb AS (SELECT doc_id,
                CASE WHEN len(cand) < 2 THEN CAST([] AS VARCHAR[])
                     ELSE list_transform(range(1, len(cand)), i -> concat(cand[i], ' ', cand[i + 1])) END AS grams,
                CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                     ELSE list_transform(range(1, len(toks)), i -> concat(toks[i], ' ', toks[i + 1])) END AS rgrams
              FROM c),
            cg1 AS (SELECT doc_id, g, count(*) AS c_cnt FROM (SELECT doc_id, unnest(cand) AS g FROM c) GROUP BY doc_id, g),
            rg1 AS (SELECT doc_id, g, count(*) AS r_cnt FROM (SELECT doc_id, unnest(toks) AS g FROM c) GROUP BY doc_id, g),
            n1 AS (SELECT doc_id, CAST(sum(least(c_cnt, coalesce(r_cnt, 0))) AS BIGINT) AS p1_num
                   FROM cg1 LEFT JOIN rg1 USING (doc_id, g) GROUP BY doc_id),
            cg2 AS (SELECT doc_id, g, count(*) AS c_cnt FROM (SELECT doc_id, unnest(grams) AS g FROM cb) GROUP BY doc_id, g),
            rg2 AS (SELECT doc_id, g, count(*) AS r_cnt FROM (SELECT doc_id, unnest(rgrams) AS g FROM cb) GROUP BY doc_id, g),
            n2 AS (SELECT doc_id, CAST(sum(least(c_cnt, coalesce(r_cnt, 0))) AS BIGINT) AS p2_num
                   FROM cg2 LEFT JOIN rg2 USING (doc_id, g) GROUP BY doc_id),
            lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS r_len, CAST(len(cand) AS BIGINT) AS c_len FROM c)
            SELECT doc_id, coalesce(p1_num, 0) AS p1_num, c_len AS p1_den,
              coalesce(p2_num, 0) AS p2_num, greatest(c_len - 1, 0) AS p2_den,
              CASE WHEN coalesce(p1_num, 0) = 0 OR coalesce(p2_num, 0) = 0 OR greatest(c_len - 1, 0) = 0
                   THEN CAST(0.0 AS DOUBLE)
                   ELSE round((CASE WHEN c_len >= r_len THEN CAST(1.0 AS DOUBLE)
                                    ELSE exp(CAST(1.0 AS DOUBLE) - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE)) END)
                        * exp(CAST(0.5 AS DOUBLE) * ln(CAST(p1_num AS DOUBLE) / CAST(c_len AS DOUBLE))
                            + CAST(0.5 AS DOUBLE) * ln(CAST(p2_num AS DOUBLE) / CAST(greatest(c_len - 1, 0) AS DOUBLE))), 6) END AS bleu
            FROM lens LEFT JOIN n1 USING (doc_id) LEFT JOIN n2 USING (doc_id)
            ORDER BY doc_id"""),
    (s, d) => {
      val toks = TextAnalysis.tokens(col("text"))
      val base = documents(s, d).select(col("doc_id"), toks.as("ref"))
      val n4 = size(col("ref")) * 4
      val keep = greatest(((n4 - (n4 % 5)) / lit(5)).cast("int"), lit(1))
      val withCand = base.withColumn("cand",
        when(size(col("ref")) === 0, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), keep),
            i => when(((i - 1 + col("doc_id")) % 7) === 0, lit("xx"))
              .otherwise(element_at(col("ref"), i)))))
      graft.eval.Eval.bleu2(withCand, "doc_id", "ref", "cand").orderBy("doc_id")
    })

  /** Distributed logistic-regression training (5 full-batch GD rounds,
    * lr=0.5 — an exact binary fraction) of a DCLM/fastText-style quality
    * classifier: predict lang='en' from three cheap text statistics. Each
    * round is ONE map-side-combined gradient aggregate over the cached
    * feature frame; sigmoids are 9-dp-rounded before the gradient (IEEE
    * exp drifts 1 ulp between JVM and C libm — measured — and sigmoid's
    * (0,1) range makes the rounding collision-proof), gradient sums ride
    * DECIMAL(25,15), weights round to 12 dp per update. The oracle
    * replays all 5 rounds as an unrolled CTE chain plus the final
    * accuracy pass. */
  // Shared logreg training CTE chain (ml1 gates the training, ml3 the
  // corpus-scale inference over the SAME learned weights — one source of
  // truth for the unrolled oracle so the two cannot drift).
  private lazy val mlIters = 5
  private lazy val mlFeatSql = s"""SELECT doc_id,
              CAST(n_chars AS DOUBLE) / CAST(1000.0 AS DOUBLE) AS f0,
              CAST(len(toks) AS DOUBLE) / CAST(100.0 AS DOUBLE) AS f1,
              CAST(n_chars AS DOUBLE) / (CAST(len(toks) AS DOUBLE) + CAST(1.0 AS DOUBLE)) AS f2,
              CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y
            FROM (SELECT doc_id, n_chars, lang, ${OracleSql.toksSql} AS toks FROM documents)"""
  private lazy val mlPSql =
    s"""round(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
          + exp(-(w0 + f0 * w1 + f1 * w2 + f2 * w3))), 9)"""
  private lazy val mlTrainCtes: String = {
    val steps = (1 to mlIters).map { k =>
      val gs = (0 to 3).map { j =>
        val term = if (j == 0) "p - y" else s"(p - y) * f${j - 1}"
        s"CAST(sum(CAST($term AS DECIMAL(25,15))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS g$j"
      }.mkString(",\n                ")
      s"""p$k AS (SELECT f.*, $mlPSql AS p FROM feat f CROSS JOIN w${k - 1}),
            g$k AS (SELECT $gs FROM p$k),
            w$k AS (SELECT ${(0 to 3).map(j => s"round(w$j - 0.5 * g$j, 12) AS w$j").mkString(", ")}
              FROM w${k - 1} CROSS JOIN g$k)"""
    }.mkString(",\n            ")
    s"""feat AS ($mlFeatSql),
            w0 AS (SELECT ${(0 to 3).map(j => s"CAST(0.0 AS DOUBLE) AS w$j").mkString(", ")}),
            $steps"""
  }
  private def mlFeatures: Seq[org.apache.spark.sql.Column] = Seq(
    col("n_chars").cast("double") / lit(1000.0),
    size(col("toks")).cast("double") / lit(100.0),
    col("n_chars").cast("double") / (size(col("toks")).cast("double") + lit(1.0)))

  val ml1LogReg: Q = {
    val iters = mlIters
    def pSql(wcte: String) = mlPSql
    val names = Seq("bias", "len_k", "tok_h", "avg_wlen")
    val melt = names.zipWithIndex.map { case (n, j) =>
      s"SELECT $j AS feature_idx, '$n' AS feature, round(w$j, 6) AS weight, n_correct, n_total FROM w$iters CROSS JOIN acc"
    }.mkString(" UNION ALL ")
    Q("ml1_logreg_quality",
      Some(s"""WITH $mlTrainCtes,
            pf AS (SELECT f.*, ${pSql(s"w$iters")} AS p FROM feat f CROSS JOIN w$iters),
            acc AS (SELECT CAST(sum(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
                CAST(count(*) AS BIGINT) AS n_total FROM pf)
            SELECT * FROM ($melt) ORDER BY feature_idx"""),
      (s, d) => {
        val base = documents(s, d).select(col("doc_id"), col("n_chars"), col("lang"),
          TextAnalysis.tokens(col("text")).as("toks"))
        val feats = Seq(
          col("n_chars").cast("double") / lit(1000.0),
          size(col("toks")).cast("double") / lit(100.0),
          col("n_chars").cast("double") / (size(col("toks")).cast("double") + lit(1.0)))
        val y = when(col("lang") === "en", 1.0).otherwise(0.0)
        val wts = graft.ops.Classifier.logregTrain(base, feats, y, iters = iters, lr = 0.5)
        val acc = graft.ops.Classifier.accuracy(base, feats, y, wts)
        wts.crossJoin(broadcast(acc))
          .select(col("feature_idx"),
            element_at(array(names.map(lit): _*), col("feature_idx") + 1).as("feature"),
            round(col("weight"), 6).as("weight"), col("n_correct"), col("n_total"))
          .orderBy("feature_idx")
      })
  }

  /** Corpus-scale classifier INFERENCE — the other half of ml1's
    * lifecycle and the way a DCLM/fastText-style quality model is
    * actually used: train once (ml1's exact 5-round GD, same shared
    * oracle CTE chain — the learned weights cannot drift between the two
    * queries), then score EVERY document in one map-only scan with the
    * (d+1)-row weight table broadcast. Per-doc outputs: 9-dp sigmoid
    * score, predicted label, truth, and the confidence decile a curation
    * pipeline would threshold on. */
  val ml3Inference: Q = Q("ml3_logreg_inference",
    Some(s"""WITH $mlTrainCtes,
            pf AS (SELECT f.doc_id, f.y, $mlPSql AS p FROM feat f CROSS JOIN w$mlIters)
            SELECT doc_id, p AS score, p >= 0.5 AS pred_en, y = 1.0 AS is_en,
              CAST(least(floor(p * 10), 9) AS BIGINT) AS conf_decile
            FROM pf ORDER BY doc_id"""),
    (s, d) => {
      val base = documents(s, d).select(col("doc_id"), col("n_chars"), col("lang"),
        TextAnalysis.tokens(col("text")).as("toks"))
      val y = when(col("lang") === "en", 1.0).otherwise(0.0)
      val wts = graft.ops.Classifier.logregTrain(base, mlFeatures, y, iters = mlIters, lr = 0.5)
      graft.ops.Classifier.score(base.withColumn("y", y),
          Seq(col("doc_id"), col("y")), mlFeatures, wts)
        .select(col("doc_id"), col("p").as("score"),
          (col("p") >= 0.5).as("pred_en"), (col("y") === 1.0).as("is_en"),
          least(floor(col("p") * 10), lit(9)).cast("long").as("conf_decile"))
        .orderBy("doc_id")
    })

  /** Classifier calibration — the reliability diagram + ECE every
    * quality-classifier pipeline should gate on before its scores drive
    * curation thresholds (a miscalibrated DCLM-style filter silently
    * shifts the kept distribution). Composes the SAME shared training
    * chain as ml1/ml3 (weights cannot drift), bins by confidence decile,
    * and emits per-bin mean confidence vs empirical positive rate, the
    * |gap|, and the bin's ECE contribution. Bins are RANGE-NORMALIZED
    * deciles ((p − min)/(max − min), zero-span guarded) — the raw scores
    * of a barely-trained model concentrate near one end, and a
    * single-bin reliability table gates nothing. The 9-dp sigmoid scores
    * are DECIMAL-summed per bin (order-independent); everything after
    * the ml3-shaped scan is a ≤10-row aggregate. */
  val ml4Calibration: Q = Q("ml4_calibration",
    Some(s"""WITH $mlTrainCtes,
            pf AS (SELECT f.doc_id, f.y, $mlPSql AS p FROM feat f CROSS JOIN w$mlIters),
            mm AS (SELECT min(p) AS lo, greatest(max(p) - min(p), 1e-12) AS span FROM pf),
            b AS (SELECT CAST(least(floor((p - lo) / span * 10), 9) AS BIGINT) AS bin,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CAST(p AS DECIMAL(25,15))) AS DOUBLE) AS sum_p,
                CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
              FROM pf CROSS JOIN mm GROUP BY 1),
            tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM b)
            SELECT bin, n_docs,
              round(sum_p / CAST(n_docs AS DOUBLE), 6) AS avg_conf,
              round(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS frac_pos,
              round(abs(sum_p / CAST(n_docs AS DOUBLE) - CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)), 6) AS abs_gap,
              round(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)
                * abs(sum_p / CAST(n_docs AS DOUBLE) - CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)), 6) AS ece_term
            FROM b CROSS JOIN tot ORDER BY bin"""),
    (s, d) => {
      val base = documents(s, d).select(col("doc_id"), col("n_chars"), col("lang"),
        TextAnalysis.tokens(col("text")).as("toks"))
      val y = when(col("lang") === "en", 1.0).otherwise(0.0)
      val wts = graft.ops.Classifier.logregTrain(base, mlFeatures, y, iters = mlIters, lr = 0.5)
      val scored0 = graft.ops.Classifier.score(base.withColumn("y", y),
        Seq(col("doc_id"), col("y")), mlFeatures, wts)
      val mm = scored0.agg(min("p").as("lo"),
        greatest(max(col("p")) - min(col("p")), lit(1e-12)).as("span"))
      val scored = scored0.crossJoin(broadcast(mm))
      val b = scored.groupBy(
          least(floor((col("p") - col("lo")) / col("span") * 10), lit(9)).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("p").cast("decimal(25,15)")).cast("double").as("sum_p"),
          sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_pos"))
      val tot = b.agg(sum("n_docs").as("n_total"))
      val avgConf = col("sum_p") / col("n_docs").cast("double")
      val fracPos = col("n_pos").cast("double") / col("n_docs").cast("double")
      b.crossJoin(broadcast(tot))
        .select(col("bin"), col("n_docs"),
          round(avgConf, 6).as("avg_conf"),
          round(fracPos, 6).as("frac_pos"),
          round(abs(avgConf - fracPos), 6).as("abs_gap"),
          round(col("n_docs").cast("double") / col("n_total").cast("double")
            * abs(avgConf - fracPos), 6).as("ece_term"))
        .orderBy("bin")
    })

  /** Exact tie-aware AUC-ROC for the shared quality classifier — the
    * threshold-free grade the ml family still lacked (ml5's confusion is
    * one operating point; AUC ranks them all): the Mann–Whitney U
    * formulation, U = Σ_{pos,neg} [s⁺ > s⁻] + ½[s⁺ = s⁻], kept EXACT by
    * carrying 2U as an integer (ties contribute odd halves) and dividing
    * once at the end — the same doubles bit-for-bit in both engines.
    * Distributed shape: group to distinct scores (map-side combine),
    * then the global "negatives below" running sum via the TWO-PHASE
    * bucketed scan — per-score-bucket partitioned window plus a
    * broadcast triangular prefix over the 16 bucket totals — because a
    * global unpartitioned window is banned catalog-wide (and is the
    * single-reducer bottleneck at 100 TB; the oracle, which has no such
    * constraint, uses the plain window and must agree exactly). */
  val ml7Auc: Q = Q("ml7_auc",
    Some(s"""WITH $mlTrainCtes,
            pf AS (SELECT f.doc_id, f.y, $mlPSql AS p FROM feat f CROSS JOIN w$mlIters),
            g AS (SELECT p AS score,
                CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS np,
                CAST(sum(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS nn
              FROM pf GROUP BY p),
            c AS (SELECT np, nn,
                CAST(coalesce(sum(nn) OVER (ORDER BY score
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nn_below
              FROM g),
            a AS (SELECT CAST(sum(np * (2 * nn_below + nn)) AS BIGINT) AS u2,
                CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg
              FROM c)
            SELECT n_pos, n_neg, u2,
              CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc,
              CAST(u2 AS DOUBLE) / CAST(n_pos * n_neg AS DOUBLE) - 1.0 AS gini
            FROM a"""),
    (s, d) => {
      val base = documents(s, d).select(col("doc_id"), col("n_chars"), col("lang"),
        TextAnalysis.tokens(col("text")).as("toks"))
      val y = when(col("lang") === "en", 1.0).otherwise(0.0)
      val wts = graft.ops.Classifier.logregTrain(base, mlFeatures, y, iters = mlIters, lr = 0.5)
      val scored = graft.ops.Classifier.score(base.withColumn("y", y),
        Seq(col("doc_id"), col("y")), mlFeatures, wts)
      graft.ops.Classifier.aucExact(scored, col("p"), col("y"))
    })

  /** Association-rule mining (support / confidence / lift — the Agrawal
    * et al. market-basket classic, and what a curation pipeline runs to
    * find co-occurring domains/tags before mixing): baskets are orders,
    * items the DISTINCT part brands they contain (25-item vocabulary,
    * ~3.8 items/basket). Directed rules A→B with support ≥ 2% of
    * baskets; confidence and lift are single divisions of exact BIGINT
    * counts (bit-identical cross-engine, no rounding). Scale shape:
    * pair generation is a self-join WITHIN the basket key (per-basket
    * bounded, never a cross product), item counts broadcast back, one
    * shuffle per aggregate — the d-family blocking discipline applied
    * to co-occurrence. */
  val a18Association: Q = Q("a18_association_rules",
    Some("""WITH bi AS (
              SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS item
              FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
            n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM bi),
            ic AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item FROM bi GROUP BY 1),
            pr AS (
              SELECT a.item AS i1, b.item AS i2, CAST(count(*) AS BIGINT) AS n_ab
              FROM bi a JOIN bi b ON b.ok = a.ok AND a.item < b.item GROUP BY 1, 2),
            dir AS (SELECT i1 AS ant, i2 AS cons, n_ab FROM pr
                    UNION ALL SELECT i2, i1, n_ab FROM pr)
            SELECT d.ant, d.cons, d.n_ab, x.n_item AS n_ant, y.n_item AS n_cons,
              CAST(d.n_ab AS DOUBLE) / CAST(x.n_item AS DOUBLE) AS confidence,
              CAST(d.n_ab * n.n_baskets AS DOUBLE) / CAST(x.n_item * y.n_item AS DOUBLE) AS lift
            FROM dir d JOIN ic x ON x.item = d.ant JOIN ic y ON y.item = d.cons CROSS JOIN n
            WHERE d.n_ab * 50 >= n.n_baskets
            ORDER BY d.ant, d.cons"""),
    (s, d) => {
      // feeds basket count, item counts AND the pair self-join
      val items = lineitem(s, d).select(col("l_orderkey").as("ok"), col("l_partkey"))
        .join(part(s, d).select(col("p_partkey").as("l_partkey"), col("p_brand").as("item")),
          Seq("l_partkey"))
        .select("ok", "item").distinct().localCheckpoint()
      val n = items.agg(count_distinct(col("ok")).as("n_baskets"))
      val ic = items.groupBy("item").agg(count(lit(1)).as("n_item"))
      // probe side rebuilt with renamed columns (checkpointed self-join)
      val pairs = items.join(items.select(col("ok"), col("item").as("item2")), Seq("ok"))
        .filter(col("item") < col("item2"))
        .groupBy("item", "item2").agg(count(lit(1)).as("n_ab"))
      val directed = pairs.select(col("item").as("ant"), col("item2").as("cons"), col("n_ab"))
        .unionByName(pairs.select(col("item2").as("ant"), col("item").as("cons"), col("n_ab")))
      directed
        .join(broadcast(ic.select(col("item").as("ant"), col("n_item").as("n_ant"))), Seq("ant"))
        .join(broadcast(ic.select(col("item").as("cons"), col("n_item").as("n_cons"))), Seq("cons"))
        .crossJoin(broadcast(n))
        .filter(col("n_ab") * 50 >= col("n_baskets"))
        .select(col("ant"), col("cons"), col("n_ab"), col("n_ant"), col("n_cons"),
          (col("n_ab").cast("double") / col("n_ant").cast("double")).as("confidence"),
          ((col("n_ab") * col("n_baskets")).cast("double")
            / (col("n_ant") * col("n_cons")).cast("double")).as("lift"))
        .orderBy("ant", "cons")
    })

  /** Krippendorff's alpha (nominal, 3 raters, no missing data) — the
    * inter-annotator reliability number every RLHF/annotation pipeline
    * gates a labeling batch on (ev5's Cohen kappa handles 2 raters;
    * alpha generalizes). Fixture: a deterministic truth label per doc
    * plus three pseudo-judges with OVERLAPPING deviation slices and
    * distinct offsets, so all-agree, 2-1 split AND all-differ units all
    * occur (doc_id ≡ 3 mod 15 puts judges 1 and 2 on different wrong
    * labels). The
    * coincidence algebra stays EXACT: per-unit disagreeing pairs
    * m² − Σ o_c², expected pairs N² − Σ n_c², and
    * alpha = 1 − dis·(N−1)/(2·de) — one double division of exact
    * BIGINTs (m = 3 makes n·m·(m−1) = 2N·... fold into the constant).
    * ONE aggregate over the ratings — no per-category shuffle. */
  val ev11Krippendorff: Q = Q("ev11_krippendorff_alpha",
    Some("""WITH r AS (
              SELECT doc_id,
                (doc_id + n_chars) % 3 AS t,
                CASE WHEN (doc_id * 31) % 5 = 0 THEN ((doc_id + n_chars) % 3 + 1) % 3
                     ELSE (doc_id + n_chars) % 3 END AS r0,
                CASE WHEN (doc_id * 31 + 17) % 5 = 0 THEN ((doc_id + n_chars) % 3 + 2) % 3
                     ELSE (doc_id + n_chars) % 3 END AS r1,
                CASE WHEN doc_id % 3 = 0 THEN ((doc_id + n_chars) % 3 + 1) % 3
                     ELSE (doc_id + n_chars) % 3 END AS r2
              FROM documents),
            o AS (SELECT
                (CASE WHEN r0 = 0 THEN 1 ELSE 0 END + CASE WHEN r1 = 0 THEN 1 ELSE 0 END
                 + CASE WHEN r2 = 0 THEN 1 ELSE 0 END) AS o0,
                (CASE WHEN r0 = 1 THEN 1 ELSE 0 END + CASE WHEN r1 = 1 THEN 1 ELSE 0 END
                 + CASE WHEN r2 = 1 THEN 1 ELSE 0 END) AS o1,
                (CASE WHEN r0 = 2 THEN 1 ELSE 0 END + CASE WHEN r1 = 2 THEN 1 ELSE 0 END
                 + CASE WHEN r2 = 2 THEN 1 ELSE 0 END) AS o2
              FROM r),
            a AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
                CAST(sum(o0) AS BIGINT) AS n0, CAST(sum(o1) AS BIGINT) AS n1,
                CAST(sum(o2) AS BIGINT) AS n2,
                CAST(sum(9 - (o0*o0 + o1*o1 + o2*o2)) AS BIGINT) AS dis
              FROM o)
            SELECT n_units, n0, n1, n2, dis AS disagree_pairs,
              CAST((3*n_units)*(3*n_units) - (n0*n0 + n1*n1 + n2*n2) AS BIGINT) AS de_pairs,
              CAST(1 AS DOUBLE) - CAST(dis * (3*n_units - 1) AS DOUBLE)
                / CAST(2 * ((3*n_units)*(3*n_units) - (n0*n0 + n1*n1 + n2*n2)) AS DOUBLE) AS alpha
            FROM a"""),
    (s, d) => {
      val t = (col("doc_id") + col("n_chars")) % 3
      // judges 0/1 deviate on DISJOINT doc_id (mod 5) slices with offsets
      // +1/+2; judge 2 on the OVERLAPPING doc_id % 3 slice with +1 — the
      // overlap is what makes all-differ units occur (doc_id ≡ 3 mod 15:
      // judges 1 and 2 deviate with different offsets), alongside
      // same-offset double deviations (≡ 0 mod 15) and plain 2-1 splits
      def judge(j: Int) = j match {
        case 2 => when(col("doc_id") % 3 === 0, (t + 1) % 3).otherwise(t)
        case _ => when((col("doc_id") * 31 + j * 17) % 5 === 0, (t + j + 1) % 3).otherwise(t)
      }
      val rated = documents(s, d).select((0 to 2).map(j => judge(j).as(s"r$j")): _*)
      val o = rated.select((0 to 2).map(c =>
        (0 to 2).map(j => when(col(s"r$j") === c, 1).otherwise(0)).reduce(_ + _).as(s"o$c")): _*)
      val a = o.agg(count(lit(1)).as("n_units"),
        sum("o0").as("n0"), sum("o1").as("n1"), sum("o2").as("n2"),
        sum(lit(9) - (col("o0") * col("o0") + col("o1") * col("o1")
          + col("o2") * col("o2"))).as("dis"))
      val de = (lit(3) * col("n_units")) * (lit(3) * col("n_units")) -
        (col("n0") * col("n0") + col("n1") * col("n1") + col("n2") * col("n2"))
      a.select(col("n_units"), col("n0"), col("n1"), col("n2"),
        col("dis").as("disagree_pairs"), de.cast("long").as("de_pairs"),
        (lit(1.0) - (col("dis") * (lit(3) * col("n_units") - 1)).cast("double")
          / (lit(2) * de).cast("double")).as("alpha"))
    })

  /** Confusion matrix + precision/recall/F1 for the shared quality
    * classifier — the completion of the ml family's evaluation story
    * (ml1 trains, ml3 scores, ml4 calibrates, this grades): one
    * map-side-combined aggregate over the scored scan, then pure
    * arithmetic on four counters. F1 is derived from the SAME
    * sum-expression tree in both engines (never from pre-rounded
    * precision/recall — the avg-of-avgs lesson applied to ratios). */
  val ml5Confusion: Q = Q("ml5_confusion",
    Some(s"""WITH $mlTrainCtes,
            pf AS (SELECT f.doc_id, f.y, $mlPSql AS p FROM feat f CROSS JOIN w$mlIters),
            c AS (SELECT
                CAST(sum(CASE WHEN p >= 0.5 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                CAST(sum(CASE WHEN p >= 0.5 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                CAST(sum(CASE WHEN p < 0.5 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                CAST(sum(CASE WHEN p < 0.5 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
              FROM pf)
            SELECT tp, fp, fn, tn,
              round(CAST(tp AS DOUBLE) / CAST(greatest(tp + fp, 1) AS DOUBLE), 6) AS precision,
              round(CAST(tp AS DOUBLE) / CAST(greatest(tp + fn, 1) AS DOUBLE), 6) AS recall,
              round(CAST(2 * tp AS DOUBLE) / CAST(greatest(2 * tp + fp + fn, 1) AS DOUBLE), 6) AS f1,
              round(CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE), 6) AS accuracy
            FROM c"""),
    (s, d) => {
      val base = documents(s, d).select(col("doc_id"), col("n_chars"), col("lang"),
        TextAnalysis.tokens(col("text")).as("toks"))
      val y = when(col("lang") === "en", 1.0).otherwise(0.0)
      val wts = graft.ops.Classifier.logregTrain(base, mlFeatures, y, iters = mlIters, lr = 0.5)
      val scored = graft.ops.Classifier.score(base.withColumn("y", y),
        Seq(col("doc_id"), col("y")), mlFeatures, wts)
      val pos = col("p") >= 0.5
      val c = scored.agg(
        sum(when(pos && col("y") === 1.0, 1L).otherwise(0L)).as("tp"),
        sum(when(pos && col("y") === 0.0, 1L).otherwise(0L)).as("fp"),
        sum(when(!pos && col("y") === 1.0, 1L).otherwise(0L)).as("fn"),
        sum(when(!pos && col("y") === 0.0, 1L).otherwise(0L)).as("tn"))
      c.select(col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("tp").cast("double") / greatest(col("tp") + col("fp"), lit(1L)).cast("double"), 6).as("precision"),
        round(col("tp").cast("double") / greatest(col("tp") + col("fn"), lit(1L)).cast("double"), 6).as("recall"),
        round((col("tp") * 2).cast("double") / greatest(col("tp") * 2 + col("fp") + col("fn"), lit(1L)).cast("double"), 6).as("f1"),
        round((col("tp") + col("tn")).cast("double") / (col("tp") + col("fp") + col("fn") + col("tn")).cast("double"), 6).as("accuracy"))
    })

  /** Char-ngram language-ID classifier — the fastText-LID shape closed
    * over the engine's own parts (the x19 script-signal family is the
    * heuristic prior; this LEARNS from labels): hashed char-bigram bucket
    * frequencies over a 256-char prefix (codepoint arithmetic
    * `(c1*31+c2) % 8` — replayable exactly by any engine, unlike murmur)
    * feed K=5 one-vs-rest logistic regressions trained with ml1's exact
    * deterministic GD recipe, then ONE map-only inference scan with all
    * five weight rows broadcast picks the argmax language. The oracle
    * replays the full lifecycle — feature hash, 5×3 unrolled GD rounds,
    * argmax with alphabetical tie-break — so a drift anywhere in the
    * train→infer chain hash-fails. Scale: training is 15 map-side-combined
    * aggregates over one checkpointed O(prefix)-per-doc frame; inference
    * is one scan, no shuffle. */
  val x29Lid: Q = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val B = 8
    val iters = 3
    val bsSql = s"""list_transform(range(1, len(s)), i ->
              (unicode(substr(s, CAST(i AS INT), 1)) * 31 + unicode(substr(s, CAST(i AS INT) + 1, 1))) % $B)"""
    val featCols = (0 until B).map(b =>
      s"CAST(len(list_filter(bs, x -> x = $b)) AS DOUBLE) / CAST(greatest(len(bs), 1) AS DOUBLE) AS f$b")
      .mkString(",\n              ")
    val featSql = s"""SELECT doc_id, lang, $featCols
            FROM (SELECT doc_id, lang, $bsSql AS bs
                  FROM (SELECT doc_id, lang, substr(lower(text), 1, 256) AS s FROM documents))"""
    val pExpr = s"""round(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
              + exp(-(w0 ${(0 until B).map(j => s"+ f$j * w${j + 1}").mkString(" ")}))), 9)"""
    def trainCtes(l: String): String = {
      val y = s"CASE WHEN lang = '$l' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
      val steps = (1 to iters).map { k =>
        val gs = (0 to B).map { j =>
          val term = if (j == 0) "p - y" else s"(p - y) * f${j - 1}"
          s"CAST(sum(CAST($term AS DECIMAL(25,15))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS g$j"
        }.mkString(", ")
        s"""p_$l$k AS (SELECT f.*, $pExpr AS p FROM f_$l f CROSS JOIN w_$l${k - 1}),
            g_$l$k AS (SELECT $gs FROM p_$l$k),
            w_$l$k AS (SELECT ${(0 to B).map(j => s"round(w$j - 0.5 * g$j, 12) AS w$j").mkString(", ")}
              FROM w_$l${k - 1} CROSS JOIN g_$l$k)"""
      }.mkString(",\n            ")
      s"""f_$l AS (SELECT f.*, $y AS y FROM feat f),
            w_${l}0 AS (SELECT ${(0 to B).map(j => s"CAST(0.0 AS DOUBLE) AS w$j").mkString(", ")}),
            $steps,
            wf_$l AS (SELECT ${(0 to B).map(j => s"w$j AS ${l}w$j").mkString(", ")} FROM w_$l$iters)"""
    }
    val pCols = langs.map(l =>
      s"""round(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
              + exp(-(${l}w0 ${(0 until B).map(j => s"+ f$j * ${l}w${j + 1}").mkString(" ")}))), 9) AS p_$l""")
      .mkString(",\n              ")
    val crossW = langs.map(l => s"CROSS JOIN wf_$l").mkString(" ")
    val predCase = "CASE " + langs.map(l =>
      s"WHEN ${langs.filter(_ != l).map(o => s"p_$l >= p_$o").mkString(" AND ")} THEN '$l'")
      .mkString(" ") + " END"
    val greatestP = s"greatest(${langs.map(l => s"p_$l").mkString(", ")})"
    Q("x29_lid_classifier",
      Some(s"""WITH feat AS ($featSql),
            ${langs.map(trainCtes).mkString(",\n            ")},
            pf AS (SELECT f.doc_id, f.lang, $pCols FROM feat f $crossW)
            SELECT doc_id, $predCase AS pred_lang, round($greatestP, 6) AS score,
              $predCase = lang AS is_correct
            FROM pf ORDER BY doc_id"""),
      (s, d) => {
        val base = TextAnalysis.spreadSmallInput(documents(s, d))
          .select(col("doc_id"), col("lang"),
            graft.ops.Lid.bigramBuckets(col("text"), B).as("bs"))
          .localCheckpoint() // one bigram pass feeds all 5 trainers +
          // inference; spread first (§2.5) — the single-file scan made
          // the bigram pass AND the checkpointed frame one partition, so
          // every training aggregate downstream ran serial too
        val feats = graft.ops.Lid.bucketFeatures(col("bs"), B)
        val wts = graft.ops.Lid.trainOneVsRest(base, feats, col("lang"), langs, iters, 0.5)
        graft.ops.Lid.classify(base, Seq(col("doc_id"), col("lang")), feats, wts,
            trustedWeights = true) // frames straight out of trainOneVsRest
          .select(col("doc_id"), col("pred_lang"), round(col("score"), 6).as("score"),
            (col("pred_lang") === col("lang")).as("is_correct"))
          .orderBy("doc_id")
      })
  }

  /** Incremental aggregate maintenance — the materialized-view pattern a
    * 100 TB stats table lives by: per-source token/char/doc stats are
    * computed as TWO batch partials (a "snapshot" and a "delta", split by
    * doc_id parity) and MERGED by summing — and the oracle computes the
    * same stats in ONE full pass, so any non-additive leakage (the
    * avg-of-avgs bug: ratios must derive from merged sums, never merge
    * themselves) hash-fails. Exact-integer sums; the derived mean divides
    * once at the end, 6-dp-rounded. */
  val inc1Merge: Q = Q("inc1_merge_aggregates",
    Some(s"""WITH t AS (SELECT source, n_chars, ${graft.queries.OracleSql.toksSql} AS toks FROM documents)
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              CAST(sum(len(toks)) AS BIGINT) AS sum_tokens,
              round(CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_chars
            FROM t GROUP BY source ORDER BY source"""),
    (s, d) => {
      val base = documents(s, d).select(col("source"), col("doc_id"), col("n_chars"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
      def partial(batch: org.apache.spark.sql.DataFrame) = batch.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          sum("n_toks").as("sum_tokens"))
      val snapshot = partial(base.filter(col("doc_id") % 2 === 0))
      val delta = partial(base.filter(col("doc_id") % 2 =!= 0))
      graft.ops.TableOps.mergeAdditive(Seq(snapshot, delta), Seq("source"),
          Seq("n_docs", "sum_chars", "sum_tokens"))
        .select(col("source"), col("n_docs"), col("sum_chars"), col("sum_tokens"),
          round(col("sum_chars").cast("double") / col("n_docs").cast("double"), 6).as("avg_chars"))
        .orderBy("source")
    })

  /** Z-order (Morton) clustering key over the two join dimensions a
    * lineitem lake is queried by — the data-skipping layout primitive
    * (`ZOrder.layout` writes it; Round5Spec proves the bounding boxes
    * shrink vs a linear sort). The oracle SQL is GENERATED from the same
    * bit positions (`ZOrder.zValueSql`), so the interleave cannot drift
    * between engines. Map-only bit expression, no UDF. */
  val k4ZOrder: Q = {
    val bits = 10
    Q("k4_zorder_key",
      Some(s"""WITH z AS (SELECT l_orderkey, l_linenumber,
                CAST(${graft.ops.ZOrder.zValueSql("(l_partkey % 1024)", "(l_suppkey % 1024)", bits)} AS BIGINT) AS zkey
              FROM lineitem)
              SELECT l_orderkey, l_linenumber, zkey
              FROM z ORDER BY zkey, l_orderkey, l_linenumber LIMIT 1000"""),
      (s, d) => lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.ops.ZOrder.zValue(col("l_partkey") % 1024, col("l_suppkey") % 1024, bits).as("zkey"))
        .orderBy("zkey", "l_orderkey", "l_linenumber").limit(1000))
  }

  /** §5.2: the full validator report (ref `ingestion/validator.py`
    * validate_all) over the synthetic block model — every issue code with
    * its violation count. The oracle recomputes each count from the same
    * doc_id arithmetic the model plants violations with. */
  val a13Validator = Q("a13_validator_report",
    Some("""WITH m AS (
              SELECT doc_id,
                CASE WHEN doc_id % 17 = 0 THEN '' ELSE concat(source, '/', CAST(doc_id AS VARCHAR), '.pdf') END AS file_name,
                CASE WHEN doc_id % 23 = 0 THEN 0 ELSE 10 END AS pc
              FROM documents),
            blk AS (
              SELECT doc_id, 'text' AS bt, text FROM documents
              UNION ALL SELECT doc_id, 'text', text FROM documents WHERE doc_id % 29 = 0
              UNION ALL SELECT doc_id, 'table', text FROM documents WHERE doc_id % 3 = 1
              UNION ALL SELECT doc_id, 'image', text FROM documents WHERE doc_id % 3 = 2),
            b AS (
              SELECT blk.doc_id, bt,
                CASE WHEN blk.doc_id % 19 = 0 THEN -1 WHEN blk.doc_id % 13 = 0 THEN 12 ELSE CAST(blk.doc_id % 10 AS INT) + 1 END AS page,
                CASE WHEN blk.doc_id % 31 = 0 THEN 'x' ELSE text END AS content,
                (blk.doc_id % 37 = 0) AS bbox_invalid,
                (blk.doc_id % 41 = 0 AND blk.doc_id % 37 <> 0) AS bbox_oop,
                (blk.doc_id % 5 = 0) AS no_section, (blk.doc_id % 7 = 0) AS no_role,
                (blk.doc_id % 11 = 0) AS no_cols, (blk.doc_id % 47 = 0) AS no_rows,
                (blk.doc_id % 43 = 0) AS ragged, (blk.doc_id % 53 = 0) AS no_cat,
                (blk.doc_id % 61 = 0) AS t_no_role,
                (blk.doc_id % 59 = 0) AS no_path, m.pc
              FROM blk JOIN m ON blk.doc_id = m.doc_id)
            SELECT code, severity, n_violations FROM (
              SELECT 'MISSING_DOC_ID' AS code, 'error' AS severity, (SELECT count(*) FILTER (doc_id IS NULL) FROM m) AS n_violations
              UNION ALL SELECT 'MISSING_FILE_NAME', 'warning', (SELECT count(*) FILTER (file_name = '') FROM m)
              UNION ALL SELECT 'INVALID_PAGE_COUNT', 'warning', (SELECT count(*) FILTER (pc <= 0) FROM m)
              UNION ALL SELECT 'PAGE_COUNT_MISMATCH', 'warning', (SELECT count(*) FROM (SELECT doc_id, max(page) AS mp FROM b GROUP BY doc_id) x JOIN m ON x.doc_id = m.doc_id WHERE mp > pc)
              UNION ALL SELECT 'MISSING_PAGE_COUNT', 'warning', CAST(0 AS BIGINT)
              UNION ALL SELECT 'NO_TEXT_BLOCKS', 'error', (SELECT count(*) FROM m WHERE doc_id NOT IN (SELECT doc_id FROM b WHERE bt = 'text'))
              UNION ALL SELECT 'DUPLICATE_TEXT_ID', 'warning', (SELECT count(*) FROM (SELECT doc_id FROM b WHERE bt = 'text' GROUP BY doc_id HAVING count(*) > 1) z)
              UNION ALL SELECT 'DUPLICATE_TABLE_ID', 'warning', CAST(0 AS BIGINT)
              UNION ALL SELECT 'DUPLICATE_IMAGE_ID', 'warning', CAST(0 AS BIGINT)
              UNION ALL SELECT 'TEXT_PAGE_INVALID', 'warning', (SELECT count(*) FILTER (bt = 'text' AND page <= 0) FROM b)
              UNION ALL SELECT 'TEXT_PAGE_OUT_OF_RANGE', 'warning', (SELECT count(*) FILTER (bt = 'text' AND page > pc) FROM b)
              UNION ALL SELECT 'TEXT_BLOCK_VERY_LONG', 'info', (SELECT count(*) FILTER (bt = 'text' AND length(content) > 500) FROM b)
              UNION ALL SELECT 'TEXT_BLOCK_VERY_SHORT', 'info', (SELECT count(*) FILTER (bt = 'text' AND length(trim(content)) < 2) FROM b)
              UNION ALL SELECT 'TEXT_BBOX_INVALID', 'warning', (SELECT count(*) FILTER (bt = 'text' AND bbox_invalid) FROM b)
              UNION ALL SELECT 'BBOX_OUT_OF_PAGE', 'warning', (SELECT count(*) FILTER (bt <> 'image' AND bbox_oop) FROM b)
              UNION ALL SELECT 'TEXT_NO_SECTION', 'info', (SELECT count(*) FILTER (bt = 'text' AND no_section) FROM b)
              UNION ALL SELECT 'TEXT_NO_ROLE', 'info', (SELECT count(*) FILTER (bt = 'text' AND no_role) FROM b)
              UNION ALL SELECT 'TABLE_PAGE_INVALID', 'warning', (SELECT count(*) FILTER (bt = 'table' AND page <= 0) FROM b)
              UNION ALL SELECT 'TABLE_PAGE_OUT_OF_RANGE', 'warning', (SELECT count(*) FILTER (bt = 'table' AND page > pc) FROM b)
              UNION ALL SELECT 'TABLE_NO_HEADER', 'warning', (SELECT count(*) FILTER (bt = 'table' AND no_cols AND NOT no_rows) FROM b)
              UNION ALL SELECT 'TABLE_NO_ROWS', 'warning', (SELECT count(*) FILTER (bt = 'table' AND NOT no_cols AND no_rows) FROM b)
              UNION ALL SELECT 'ROW_LEN_MISMATCH', 'warning', (SELECT count(*) FILTER (bt = 'table' AND NOT no_rows AND (no_cols OR ragged)) FROM b)
              UNION ALL SELECT 'TABLE_BBOX_INVALID', 'warning', (SELECT count(*) FILTER (bt = 'table' AND bbox_invalid) FROM b)
              UNION ALL SELECT 'TABLE_NO_CATEGORY', 'info', (SELECT count(*) FILTER (bt = 'table' AND no_cat) FROM b)
              UNION ALL SELECT 'TABLE_NO_ROLE', 'info', (SELECT count(*) FILTER (bt = 'table' AND t_no_role) FROM b)
              UNION ALL SELECT 'IMAGE_NO_PATH', 'warning', (SELECT count(*) FILTER (bt = 'image' AND no_path) FROM b)
              UNION ALL SELECT 'IMAGE_PAGE_INVALID', 'warning', (SELECT count(*) FILTER (bt = 'image' AND page <= 0) FROM b)
              UNION ALL SELECT 'IMAGE_PAGE_OUT_OF_RANGE', 'warning', (SELECT count(*) FILTER (bt = 'image' AND page > pc) FROM b)
              UNION ALL SELECT 'DUPLICATE_DOC_ID', 'error', (SELECT count(*) FROM (SELECT doc_id FROM documents GROUP BY doc_id HAVING count(*) > 1) z)
              UNION ALL SELECT 'MISSING_DOC_FIELDS', 'error', (SELECT count(*) FILTER (doc_id IS NULL OR text IS NULL OR text = '' OR lang IS NULL OR lang = '') FROM documents)
              UNION ALL SELECT 'ORDER_KEY_BROKEN_REF', 'error', (SELECT count(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem EXCEPT SELECT DISTINCT o_orderkey FROM orders) z)
              UNION ALL SELECT 'CUST_KEY_BROKEN_REF', 'warning', (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders EXCEPT SELECT DISTINCT c_custkey FROM customer) z)
              UNION ALL SELECT 'DISCOUNT_OUT_OF_RANGE', 'warning', (SELECT count(*) FILTER (l_discount < 0 OR l_discount > 1) FROM lineitem)
              UNION ALL SELECT 'NEGATIVE_PRICE', 'error', (SELECT count(*) FILTER (l_extendedprice < 0) FROM lineitem)
            ) t ORDER BY code"""),
    (s, d) => graft.eval.Validator.validateAll(s, d).orderBy("code"))

  /** §3.2 step 9: SHOW_TABLE tag resolution — answers carry
    * `[SHOW_TABLE:CAT=x]` tags (two per answer, one sometimes unresolvable)
    * that are extracted, first-match-joined to the region table dim, and
    * substituted with wrapped HTML (`Ask.resolveShowTableTags`). The oracle
    * builds the RESOLVED answers directly from the base columns — an
    * independent ground truth for extract+join+replace. */
  val ask2ShowTable = Q("ask2_show_table",
    Some("""WITH r AS (
              SELECT lower(r_name) AS cat,
                concat('<br><div class=''table-responsive''><table><tr><td>', r_name, '</td></tr></table></div><br>') AS repl
              FROM region),
            c AS (
              SELECT c_custkey, c_mktsegment,
                ['africa','america','asia','europe','middle east','nowhere'][CAST(c_custkey % 6 AS INT) + 1] AS cat1,
                ['africa','america','asia','europe','middle east'][CAST(c_custkey % 5 AS INT) + 1] AS cat2
              FROM customer)
            SELECT c_custkey,
              concat('Summary for ', c_mktsegment, ': ', coalesce(r1.repl, ''), ' details ', coalesce(r2.repl, ''), ' end') AS answer
            FROM c LEFT JOIN r r1 ON r1.cat = c.cat1 LEFT JOIN r r2 ON r2.cat = c.cat2
            ORDER BY c_custkey"""),
    (s, d) => {
      val cats1 = array(Seq("africa", "america", "asia", "europe", "middle east", "nowhere").map(lit): _*)
      val cats2 = array(Seq("africa", "america", "asia", "europe", "middle east").map(lit): _*)
      val answers = customer(s, d).select(col("c_custkey"),
        concat(lit("Summary for "), col("c_mktsegment"),
          lit(": [SHOW_TABLE:CAT="), element_at(cats1, (col("c_custkey") % 6).cast("int") + 1),
          lit("] details [SHOW_TABLE:CAT="), element_at(cats2, (col("c_custkey") % 5).cast("int") + 1),
          lit("] end")).as("answer"))
      val dim = region(s, d).select(lower(col("r_name")).as("cat"),
        concat(lit("<table><tr><td>"), col("r_name"), lit("</td></tr></table>")).as("html_content"))
      graft.query.Ask.resolveShowTableTags(answers, "c_custkey", "answer", dim, "cat", "html_content")
        .orderBy("c_custkey")
    })

  /** Oracle CTE `qs(doc_id, level, answer, truth)`: the golden question
    * set of j6 and ev10, with truths that are contained in, overlap or
    * miss the answer. */
  private val goldenQsCte: String =
    """qs AS (
              SELECT doc_id,
                CASE WHEN doc_id % 3 = 0 THEN 'easy' WHEN doc_id % 3 = 1 THEN 'medium' ELSE 'hard' END AS level,
                text AS answer,
                CASE WHEN doc_id % 2 = 0 THEN substr(text, 1, 24)
                     ELSE concat(substr(text, 1, 12), ' zzzq wwwx') END AS truth
              FROM documents)"""

  /** J6/A8: the eval pipeline — golden questions → answer stage → judge
    * stage → per-level rollup with grade banding, via `eval.Eval`. Truths
    * are synthesized so both contained (score 5), partially-overlapping
    * (3), and missed (1) branches fire. */
  val j6Eval = Q("j6_eval_pipeline",
    Some("WITH " + goldenQsCte + """,
            judged AS (
              SELECT level,
                CASE WHEN contains(na, nt) THEN 5
                     WHEN 2 * len(list_filter(tt, t -> contains(na, t))) >= len(tt) THEN 3
                     ELSE 1 END AS score
              FROM (
                SELECT level,
                  lower(regexp_replace(answer, '\s+', ' ', 'g')) AS na,
                  lower(regexp_replace(truth, '\s+', ' ', 'g')) AS nt,
                  list_distinct(list_filter(string_split_regex(lower(regexp_replace(truth, '\s+', ' ', 'g')), ' '), t -> t <> '')) AS tt
                FROM qs) x)
            SELECT level, avg(score) AS avg_score, count(*) AS n,
              CASE WHEN avg(score) >= 4 THEN 'Excellent' WHEN avg(score) >= 3.5 THEN 'Good'
                   WHEN avg(score) >= 2.5 THEN 'Fair' ELSE 'Poor' END AS grade
            FROM judged GROUP BY level ORDER BY level"""),
    (s, d) => {
      val questions = documents(s, d).select(
        when(col("doc_id") % 3 === 0, "easy").when(col("doc_id") % 3 === 1, "medium")
          .otherwise("hard").as("level"),
        col("text").as("answer"),
        when(col("doc_id") % 2 === 0, substring(col("text"), 1, 24))
          .otherwise(concat(substring(col("text"), 1, 12), lit(" zzzq wwwx"))).as("truth"))
      graft.eval.Eval.run(questions, identity)._2
    })

  /** The eval REPORT exhibit (ref `backend/scripts/run_eval.py:179-249`
    * renders the judged golden set to `eval_report.html`, committed at
    * the repo root — the last reference output artifact with no engine
    * analog): the j6 golden set, judged by the same `Eval.judgeScore`,
    * rendered to ONE genuinely-viewable HTML document — summary banner
    * (total percentage + grade banding + per-level score ledgers) and a
    * per-question table row with level class and score badge, mirroring
    * the ref's markup structure. Hash-gated like pdf13's SVG: every
    * number in the document is EXACT integer arithmetic (percentage as
    * integer permille, per-level ledgers as sum/n) — no float
    * formatting, so the string hashes identically cross-engine; truth
    * prefixes are HTML-escaped by an identical replace chain. ONE hash
    * aggregate (conditional sums + per-question bounded collect, the cv1
    * shape) — window-free, scales as one pass over the golden set. */
  val ev10Report = Q("ev10_eval_report",
    Some("WITH " + goldenQsCte + """,
            judged AS (
              SELECT doc_id, level, truth,
                CASE WHEN contains(na, nt) THEN 5
                     WHEN 2 * len(list_filter(tt, t -> contains(na, t))) >= len(tt) THEN 3
                     ELSE 1 END AS score
              FROM (
                SELECT doc_id, level, truth,
                  lower(regexp_replace(answer, '\s+', ' ', 'g')) AS na,
                  lower(regexp_replace(truth, '\s+', ' ', 'g')) AS nt,
                  list_distinct(list_filter(string_split_regex(lower(regexp_replace(truth, '\s+', ' ', 'g')), ' '), t -> t <> '')) AS tt
                FROM qs) x),
            rws AS (
              SELECT doc_id, level, score,
                '<tr class="' || level || '"><td>q' || doc_id || '</td><td>' || level
                  || '</td><td>'
                  || replace(replace(replace(substr(truth, 1, 20), '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
                  || '</td><td><span class="s-' || score || '">' || score
                  || '</span></td></tr>' AS rh
              FROM judged),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_questions,
                CAST(sum(score) AS BIGINT) AS score_sum,
                CAST(sum(CASE WHEN level = 'easy' THEN score ELSE 0 END) AS BIGINT) AS se,
                CAST(sum(CASE WHEN level = 'easy' THEN 1 ELSE 0 END) AS BIGINT) AS ne,
                CAST(sum(CASE WHEN level = 'medium' THEN score ELSE 0 END) AS BIGINT) AS sm,
                CAST(sum(CASE WHEN level = 'medium' THEN 1 ELSE 0 END) AS BIGINT) AS nm,
                CAST(sum(CASE WHEN level = 'hard' THEN score ELSE 0 END) AS BIGINT) AS sh,
                CAST(sum(CASE WHEN level = 'hard' THEN 1 ELSE 0 END) AS BIGINT) AS nh,
                string_agg(rh, '' ORDER BY doc_id) AS body
              FROM rws),
            p AS (SELECT *, (1000 * score_sum) // (5 * n_questions) AS pct10 FROM agg),
            g AS (SELECT *, CASE WHEN pct10 >= 800 THEN 'Excellent'
                     WHEN pct10 >= 700 THEN 'Good' WHEN pct10 >= 500 THEN 'Fair'
                     ELSE 'Poor' END AS grade FROM p)
            SELECT n_questions, score_sum, pct10, grade,
              '<!DOCTYPE html><html><head><meta charset="UTF-8"><title>Eval Report</title></head><body><h1>Evaluation Report</h1><div class="summary">Total: '
                || (pct10 // 10) || '.' || (pct10 % 10) || '% (' || grade
                || ') | easy ' || se || '/' || ne || ' | medium ' || sm || '/' || nm
                || ' | hard ' || sh || '/' || nh
                || '</div><table><tbody>' || body || '</tbody></table></body></html>' AS html
            FROM g"""),
    (s, d) => {
      val questions = documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 3 === 0, "easy").when(col("doc_id") % 3 === 1, "medium")
          .otherwise("hard").as("level"),
        col("text").as("answer"),
        when(col("doc_id") % 2 === 0, substring(col("text"), 1, 24))
          .otherwise(concat(substring(col("text"), 1, 12), lit(" zzzq wwwx"))).as("truth"))
      val judged = questions.withColumn("score",
        graft.eval.Eval.judgeScore(col("answer"), col("truth")))
      val esc = expr(
        "replace(replace(replace(substring(truth, 1, 20), '&', '&amp;'), '<', '&lt;'), '>', '&gt;')")
      val rh = concat(lit("<tr class=\""), col("level"), lit("\"><td>q"), col("doc_id"),
        lit("</td><td>"), col("level"), lit("</td><td>"), esc,
        lit("</td><td><span class=\"s-"), col("score"), lit("\">"), col("score"),
        lit("</span></td></tr>"))
      val agg = judged.select(col("doc_id"), col("level"), col("score"), rh.as("rh"))
        .agg(count(lit(1)).cast("long").as("n_questions"),
          sum("score").cast("long").as("score_sum"),
          sum(when(col("level") === "easy", col("score")).otherwise(0)).cast("long").as("se"),
          sum(when(col("level") === "easy", 1).otherwise(0)).cast("long").as("ne"),
          sum(when(col("level") === "medium", col("score")).otherwise(0)).cast("long").as("sm"),
          sum(when(col("level") === "medium", 1).otherwise(0)).cast("long").as("nm"),
          sum(when(col("level") === "hard", col("score")).otherwise(0)).cast("long").as("sh"),
          sum(when(col("level") === "hard", 1).otherwise(0)).cast("long").as("nh"),
          concat_ws("", transform(array_sort(collect_list(struct(col("doc_id"), col("rh")))),
            x => x.getField("rh"))).as("body"))
      agg.withColumn("pct10", expr("(1000 * score_sum) div (5 * n_questions)"))
        .withColumn("grade", when(col("pct10") >= 800, "Excellent")
          .when(col("pct10") >= 700, "Good").when(col("pct10") >= 500, "Fair")
          .otherwise("Poor"))
        .select(col("n_questions"), col("score_sum"), col("pct10"), col("grade"),
          concat(lit("<!DOCTYPE html><html><head><meta charset=\"UTF-8\"><title>Eval Report</title></head><body><h1>Evaluation Report</h1><div class=\"summary\">Total: "),
            expr("pct10 div 10"), lit("."), expr("pct10 % 10"), lit("% ("), col("grade"),
            lit(") | easy "), col("se"), lit("/"), col("ne"),
            lit(" | medium "), col("sm"), lit("/"), col("nm"),
            lit(" | hard "), col("sh"), lit("/"), col("nh"),
            lit("</div><table><tbody>"), col("body"),
            lit("</tbody></table></body></html>")).as("html"))
    })

  /** The full corpus-curation pipeline (quality gate → PII redaction →
    * exact dedup → LSH near-dup clustering → benchmark decontamination →
    * stratified mixing) as ONE oracle-checked query: documents with
    * doc_id % 13 = 0 play the held-out eval suite, the rest the corpus.
    * Every stage's SQL fragment is the already-verified oracle of its
    * standalone query (x2 / pii1 / d1 / d7 / d6 / x6), chained on CTEs. */
  private def curationSql(extraWhere: String): String = {
    val email = graft.ops.Pii.EmailPattern
    val ip = graft.ops.Pii.Ipv4Pattern
    val phone = graft.ops.Pii.PhonePattern
    val thrEn = TextAnalysis.hexThreshold(0.5)
    val thrZh = TextAnalysis.hexThreshold(0.25)
    val thrDef = TextAnalysis.hexThreshold(0.1)
    s"""WITH RECURSIVE corpus AS (
                SELECT doc_id, lang, text FROM documents WHERE doc_id % 13 <> 0),
              qm AS (
                SELECT doc_id, lang, text, CAST(length(text) AS DOUBLE) AS len,
                  list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
                FROM corpus),
              qq AS (
                SELECT doc_id AS id, lang AS stratum, round(
                  (CASE WHEN len >= 200 AND len <= 5000 THEN 1.0 WHEN len >= 50 THEN 0.5 ELSE 0.0 END) * 0.3
                  + CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / greatest(len, 1.0) * 0.3
                  + least(CAST(len(list_filter(toks, t -> list_contains(['the', 'a', 'of', 'and'], t))) AS DOUBLE)
                          / greatest(CAST(len(toks) AS DOUBLE), 1.0) * 3.0, 1.0) * 0.2
                  + (CASE WHEN (len - CAST(len(toks) AS DOUBLE) + 1.0) / greatest(CAST(len(toks) AS DOUBLE), 1.0) >= 3
                           AND (len - CAST(len(toks) AS DOUBLE) + 1.0) / greatest(CAST(len(toks) AS DOUBLE), 1.0) <= 10
                      THEN 1.0 ELSE 0.3 END) * 0.2, 6) AS quality,
                  regexp_replace(regexp_replace(regexp_replace(text,
                    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$phone', '<PHONE>', 'g') AS text
                FROM qm),
              qs AS (SELECT * FROM qq WHERE quality >= 0.5),
              ex AS (
                SELECT id, stratum, quality, text FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) ORDER BY id) AS rn
                  FROM qs) _w WHERE rn = 1),
              dsrc AS (SELECT id, text FROM ex),
              ${graft.queries.OracleSql.lshPairsCtes("dsrc", shingleWidth = 3, numHashes = 6, rows = 2, threshold = 0.8)},
              de AS (SELECT id_a AS u, id_b AS v FROM pairs
                     UNION SELECT id_b AS u, id_a AS v FROM pairs),
              reach AS (
                SELECT u AS id, u AS r FROM de
                UNION
                SELECT de.u AS id, reach.r FROM de JOIN reach ON de.v = reach.id),
              losers AS (
                SELECT id FROM (SELECT id, min(r) AS cid FROM reach GROUP BY id) t WHERE cid < id),
              dd AS (SELECT * FROM ex WHERE id NOT IN (SELECT id FROM losers)),
              gt AS (SELECT id, ${graft.queries.OracleSql.toksSql} AS toks FROM dd),
              gsh AS (SELECT id, ${graft.queries.OracleSql.shinglesSql(4)} AS sh FROM gt),
              et AS (SELECT ${graft.queries.OracleSql.toksSql} AS toks
                     FROM documents WHERE doc_id % 13 = 0),
              esh AS (SELECT ${graft.queries.OracleSql.shinglesSql(4)} AS sh FROM et),
              eg AS (SELECT DISTINCT unnest(sh) AS g FROM esh),
              contaminated AS (
                SELECT DISTINCT id FROM (SELECT id, unnest(sh) AS g FROM gsh) t
                WHERE g IN (SELECT g FROM eg)),
              clean AS (SELECT * FROM dd WHERE id NOT IN (SELECT id FROM contaminated))
              SELECT id, stratum, quality, text FROM clean
              WHERE md5(CAST(id AS VARCHAR)) <
                CASE stratum WHEN 'en' THEN '$thrEn' WHEN 'zh' THEN '$thrZh' ELSE '$thrDef' END
              $extraWhere
              ORDER BY id"""
  }

  private def curated(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = documents(s, d)
    graft.ops.Curation.curate(
      docs.filter(col("doc_id") % 13 =!= 0), "doc_id", "text", "lang",
      docs.filter(col("doc_id") % 13 === 0))
  }

  val c1Curation: Q = Q("c1_curation_pipeline", Some(curationSql("")),
    (s, d) => curated(s, d).orderBy("id"))

  /** The consumption layout: the curated corpus is WRITTEN
    * `partitionBy(stratum)` — the directory layout a mixture-sampling
    * trainer reads one language at a time — and one stratum is read back
    * with the filter arriving as a partition-level file prune (PlanSpec
    * asserts PartitionFilters), not a scan-and-discard. */
  val c1bCurationStored: Q = Q("c1b_curation_stored", Some(curationSql("AND stratum = 'en'")),
    (s, d) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_curated_${Integer.toHexString(d.hashCode)}"
      curated(s, d).write.mode("overwrite").partitionBy("stratum").parquet(out)
      s.read.parquet(out).filter(col("stratum") === "en")
        .select("id", "stratum", "quality", "text").orderBy("id")
    })

  /** Per-domain curation decision table: volume, length profile, share of
    * docs inside the keep band, and the domain verdict — the report a
    * crawl-mixing pass reads before assigning per-domain sample rates. */
  val dom1DomainStats: Q = Q("dom1_domain_stats",
    Some("""SELECT source AS domain, count(*) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars,
              CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars,
              CAST(sum(CASE WHEN n_chars BETWEEN 200 AND 5000 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS keep_rate,
              CAST(CASE WHEN CAST(sum(CASE WHEN n_chars BETWEEN 200 AND 5000 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) >= 0.6
                   THEN 1 ELSE 0 END AS BIGINT) AS domain_kept
            FROM documents GROUP BY source ORDER BY domain"""),
    (s, d) => graft.ops.Curation.domainStats(documents(s, d), col("source"), col("n_chars"))
      .orderBy("domain"))

  /** Exact interpolated percentiles (p25/p50/p90) of event values per
    * type — the latency/size distribution report. Exact `percentile`
    * (sort-based) rather than the t-digest approximation so the oracle is
    * bit-checkable; outputs rounded at 6 dp to absorb the two engines'
    * algebraically-equal-but-differently-associated interpolation forms. */
  val a15Percentiles: Q = Q("a15_percentiles",
    Some("""SELECT event_type,
              round(quantile_cont(value, 0.25), 6) AS p25,
              round(quantile_cont(value, 0.5), 6) AS p50,
              round(quantile_cont(value, 0.9), 6) AS p90
            FROM events GROUP BY event_type ORDER BY event_type"""),
    (s, d) => events(s, d)
      .groupBy("event_type")
      .agg(round(percentile(col("value"), lit(0.25)), 6).as("p25"),
        round(percentile(col("value"), lit(0.5)), 6).as("p50"),
        round(percentile(col("value"), lit(0.9)), 6).as("p90"))
      .orderBy("event_type"))

  /** ANALYZE-style table statistics in ONE pass — the per-column ledger
    * a cost-based optimizer (and a lakehouse stats layer) ingests:
    * row/null counts, exact NDV, min/max, and an equi-height histogram
    * (p25/p50/p75, the a15 exact-percentile parity rule) for every
    * profiled column, computed in a SINGLE aggregate over the table and
    * then unpivoted into one row per column (never one scan per column —
    * the difference between ANALYZE costing O(cols·N) and O(N)).
    * `amount_ok` nulls out error events so the null path genuinely
    * fires. */
  val an1Analyze: Q = {
    def statsSql(tag: String, e: String) =
      s"""CAST(count($e) AS BIGINT) AS c_$tag,
          CAST(count(DISTINCT $e) AS BIGINT) AS d_$tag,
          round(min($e), 6) AS mn_$tag, round(max($e), 6) AS mx_$tag,
          round(quantile_cont($e, 0.25), 6) AS q1_$tag,
          round(quantile_cont($e, 0.5), 6) AS q2_$tag,
          round(quantile_cont($e, 0.75), 6) AS q3_$tag"""
    Q("an1_analyze_stats",
      Some(s"""WITH src AS (
                SELECT CAST(value AS DOUBLE) AS value,
                  CASE WHEN event_type = 'error' THEN NULL ELSE CAST(value AS DOUBLE) END AS amount_ok,
                  CAST(user_id AS DOUBLE) AS user_dbl
                FROM events),
              a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                ${Seq("value", "amount_ok", "user_dbl").map(c => statsSql(c, c)).mkString(",\n                ")}
                FROM src)
              ${Seq("value", "amount_ok", "user_dbl").map(c =>
                s"""SELECT '$c' AS col_name, n AS n_rows, n - c_$c AS n_nulls, d_$c AS ndv,
                    mn_$c AS min_v, mx_$c AS max_v, q1_$c AS p25, q2_$c AS p50, q3_$c AS p75
                    FROM a""").mkString("\n              UNION ALL\n              ")}
              ORDER BY col_name"""),
      (s, d) => {
        val names = Seq("value", "amount_ok", "user_dbl")
        val src = events(s, d).select(
          col("value").cast("double").as("value"),
          when(col("event_type") === "error", lit(null).cast("double"))
            .otherwise(col("value").cast("double")).as("amount_ok"),
          col("user_id").cast("double").as("user_dbl"))
        val aggs = count(lit(1)).as("n") +: names.flatMap { c =>
          Seq(count(col(c)).as(s"c_$c"), countDistinct(col(c)).as(s"d_$c"),
            round(min(col(c)), 6).as(s"mn_$c"), round(max(col(c)), 6).as(s"mx_$c"),
            round(percentile(col(c), lit(0.25)), 6).as(s"q1_$c"),
            round(percentile(col(c), lit(0.5)), 6).as(s"q2_$c"),
            round(percentile(col(c), lit(0.75)), 6).as(s"q3_$c"))
        }
        val a = src.agg(aggs.head, aggs.tail: _*)
        a.select(explode(array(names.map(c => struct(
            lit(c).as("col_name"), col("n").as("n_rows"),
            (col("n") - col(s"c_$c")).as("n_nulls"), col(s"d_$c").as("ndv"),
            col(s"mn_$c").as("min_v"), col(s"mx_$c").as("max_v"),
            col(s"q1_$c").as("p25"), col(s"q2_$c").as("p50"), col(s"q3_$c").as("p75"))): _*)).as("e"))
          .select(col("e.*"))
          .orderBy("col_name")
      })
  }


  /** Decile bucketing by quality WITHOUT a global sort: a corpus-scale
    * `ntile` forces every row through one partition, so the cuts come from
    * one exact-percentile aggregate (9 doubles, broadcast) and assignment
    * is a map-only comparison against them — the curriculum/quality-tier
    * labeling pass of a pre-training pipeline. Cuts are 6-dp-rounded on
    * both sides (the a15 rule) and ties land in the lower bucket via
    * strict <. */
  val x14QualityBuckets: Q = Q("x14_quality_buckets",
    Some(s"""WITH $qualityCtes,
            cuts AS (SELECT [${(1 to 9).map(i => s"round(quantile_cont(quality, 0.${i}), 6)").mkString(", ")}] AS cs FROM q)
            SELECT doc_id, quality,
              CAST(1 + len(list_filter(cs, c -> c < quality)) AS BIGINT) AS decile
            FROM q CROSS JOIN cuts ORDER BY doc_id"""),
    (s, d) => {
      val scored = documents(s, d).select(col("doc_id"),
        graft.ops.TextAnalysis.qualityScore(col("text"), Seq("the", "a", "of", "and")).as("quality"))
      val cuts = scored.agg(
        array((1 to 9).map(i => round(percentile(col("quality"), lit(i / 10.0)), 6)): _*).as("cs"))
      scored.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("quality"),
          (lit(1) + size(filter(col("cs"), c => c < col("quality")))).cast("long").as("decile"))
        .orderBy("doc_id")
    })

  /** Approximate-percentile variant of the x14 decile bucketing — the
    * cuts come from `approx_percentile` (Greenwald–Khanna sketch, one
    * mergeable aggregate) instead of exact `percentile` (a full
    * sort-aggregate). At corpus scale the exact form's per-group sort is
    * the bottleneck; the sketch's accuracy parameter (10000 ⇒ rank error
    * ≤ N/10000) makes the cut drift bounded and testable. Rows-only by
    * necessity (DuckDB's approx quantile is a different t-digest sketch —
    * the a12 HLL precedent); NoOracleSpec pins every cut within
    * N/10000 + 1 ranks of the exact percentile's, and Round6Spec the
    * per-doc decile drift against x14. */
  val x14bApproxBuckets: Q = Q("x14b_quality_buckets_approx", None,
    (s, d) => {
      val scored = documents(s, d).select(col("doc_id"),
        graft.ops.TextAnalysis.qualityScore(col("text"), Seq("the", "a", "of", "and")).as("quality"))
      val cuts = scored.agg(
        array((1 to 9).map(i =>
          round(percentile_approx(col("quality"), lit(i / 10.0), lit(10000)), 6)): _*).as("cs"))
      scored.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("quality"),
          (lit(1) + size(filter(col("cs"), c => c < col("quality")))).cast("long").as("decile"))
        .orderBy("doc_id")
    })

  /** x14's decile bucketing with cuts from a PORTABLE approximate-quantile
    * path — a deterministic md5 bottom-k sample (the [[graft.ops.Kmv]]
    * sketch discipline over doc_ids: min-hashes are a uniform draw, so the
    * 256 docs with the smallest md5(doc_id) are a uniform corpus sample;
    * Manku et al. 1998's sampling-based quantiles) with exact interpolated
    * percentiles over the sample. Unlike x14b's Greenwald–Khanna sketch
    * (engine-opaque, rows-only), every step here replays in DuckDB, so the
    * approx-quantile capability carries a strict hash gate. Scale shape:
    * the bottom-k sample materializes as TakeOrderedAndProject (k rows,
    * no global sort, no window), cuts aggregate ≤ k values, then one
    * broadcast of 9 cuts — corpus-size-independent beyond the scan. */
  val x14cSampleBuckets: Q = Q("x14c_quality_buckets_sample",
    Some(s"""WITH $qualityCtes,
            smp AS (SELECT quality FROM q ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 256),
            cuts AS (SELECT [${(1 to 9).map(i => s"round(quantile_cont(quality, 0.${i}), 6)").mkString(", ")}] AS cs FROM smp)
            SELECT doc_id, quality,
              CAST(1 + len(list_filter(cs, c -> c < quality)) AS BIGINT) AS decile
            FROM q CROSS JOIN cuts ORDER BY doc_id"""),
    (s, d) => {
      val scored = documents(s, d).select(col("doc_id"),
        graft.ops.TextAnalysis.qualityScore(col("text"), Seq("the", "a", "of", "and")).as("quality"))
      val smp = scored
        .select(col("quality"), md5(col("doc_id").cast("string")).as("h"), col("doc_id"))
        .orderBy(col("h"), col("doc_id")).limit(256)
      val cuts = smp.agg(
        array((1 to 9).map(i => round(percentile(col("quality"), lit(i / 10.0)), 6)): _*).as("cs"))
      scored.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("quality"),
          (lit(1) + size(filter(col("cs"), c => c < col("quality")))).cast("long").as("decile"))
        .orderBy("doc_id")
    })

  /** Per-source quality dashboard — the composed profile a curation run
    * reviews before setting mixture weights: doc count, mean x2 quality,
    * mean x20 entropy (bits/char), and the ≥0.5 quality pass count, per
    * source. Both signal chains are the SHARED oracle CTEs (qualityCtes +
    * the entropy chain), so the dashboard provably aggregates the same
    * scores the per-doc gates emit; means are DECIMAL-summed then divided
    * once (the dom2 discipline). */
  val dom5Profile: Q = Q("dom5_quality_profile",
    Some(s"""WITH $qualityCtes,
            ech AS (SELECT doc_id,
              unnest(list_transform(range(1, length(text) + 1),
                i -> substr(text, CAST(i AS INT), 1))) AS ch
              FROM documents WHERE length(text) >= 1),
            ecnt AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS k FROM ech GROUP BY doc_id, ch),
            etot AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n FROM ecnt GROUP BY doc_id),
            eterms AS (SELECT doc_id, n,
                round(-(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                  * ln(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)), 12) AS term
              FROM ecnt JOIN etot USING (doc_id)),
            e AS (SELECT doc_id, CAST(sum(CAST(term AS DECIMAL(25,15))) AS DOUBLE) AS h
              FROM eterms GROUP BY doc_id),
            j AS (SELECT d.source, q.quality,
                round(coalesce(e.h, 0.0) / 0.6931471805599453, 9) AS bits
              FROM documents d JOIN q ON q.doc_id = d.doc_id
              LEFT JOIN e ON e.doc_id = d.doc_id)
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              round(CAST(sum(CAST(quality AS DECIMAL(25,15))) AS DOUBLE) / count(*), 6) AS avg_quality,
              round(CAST(sum(CAST(bits AS DECIMAL(25,15))) AS DOUBLE) / count(*), 6) AS avg_bits,
              CAST(sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
            FROM j GROUP BY source ORDER BY source"""),
    (s, d) => {
      // one spread scan feeds both the quality and the entropy branch
      // (§2.5: the per-char histogram + quality expressions are the whole
      // compute and ran on the single-file scan's one task)
      val src = TextAnalysis.spreadSmallInput(documents(s, d))
      val q = src.select(col("source"), col("doc_id"),
        TextAnalysis.qualityScore(col("text"), Seq("the", "a", "of", "and")).as("quality"))
      val e = TextAnalysis.charEntropy(src, col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("h"))
      q.join(e, Seq("doc_id"), "left")
        .select(col("source"), col("quality"),
          round(coalesce(col("h"), lit(0.0)) / lit(0.6931471805599453), 9).as("bits"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("quality").cast("decimal(25,15)")).cast("double") / count(lit(1)), 6).as("avg_quality"),
          round(sum(col("bits").cast("decimal(25,15)")).cast("double") / count(lit(1)), 6).as("avg_bits"),
          sum(when(col("quality") >= 0.5, 1L).otherwise(0L)).as("n_pass"))
        .orderBy("source")
    })

  /** Temperature-scaled (α = 0.5) domain mixture weights — the sampling
    * table a multi-domain pre-training run derives from per-domain token
    * counts. The oracle replays the same sqrt-share normalization with the
    * Σ√share normalizer summed in DECIMAL(25,15) on both sides (the x8
    * rule: a parallel double-sum's reduction order must not reach the
    * output). */
  val dom2Mixture: Q = Q("dom2_mixture_weights",
    Some("""WITH per AS (
              SELECT source AS domain, count(*) AS n_docs,
                CAST(sum(len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))) AS BIGINT) AS tokens
              FROM documents GROUP BY source),
            tot AS (SELECT CAST(sum(tokens) AS DOUBLE) AS total_tokens FROM per),
            sh AS (SELECT domain, n_docs, tokens, total_tokens,
                sqrt(CAST(tokens AS DOUBLE) / total_tokens) AS s
              FROM per CROSS JOIN tot),
            nrm AS (SELECT CAST(sum(CAST(s AS DECIMAL(25,15))) AS DOUBLE) AS sum_s FROM sh)
            SELECT domain, n_docs, tokens,
              round(s / sum_s, 6) AS weight,
              round(s / sum_s * total_tokens / CAST(greatest(tokens, 1) AS DOUBLE), 6) AS epochs
            FROM sh CROSS JOIN nrm ORDER BY domain"""),
    (s, d) => graft.ops.Curation.mixtureWeights(documents(s, d), col("source"), col("text"))
      .orderBy("domain"))

  /** Cross-source overlap matrix — corpus forensics: which pairs of
    * sources share content (mirror sites, syndication, scraped reposts)?
    * Distinct (source, 4-word-shingle) pairs self-joined on the shingle,
    * counted per source pair, top-15. Scale shape: the distinct pass is a
    * hash aggregate keyed (source, shingle); the self-join shuffles on the
    * shingle key whose per-key fan-out is bounded by SOURCE COUNT (not
    * corpus size) after the distinct, so the join output is
    * O(shingles · sources²) worst-case and tiny in practice; the final
    * top-15 is TakeOrderedAndProject. */
  val dom3Overlap: Q = Q("dom3_source_overlap",
    Some(s"""WITH t AS (SELECT source, ${graft.queries.OracleSql.toksSql} AS toks FROM documents),
            sh AS (SELECT source, ${graft.queries.OracleSql.shinglesSql(4)} AS shingles FROM t),
            s AS (SELECT DISTINCT source, unnest(shingles) AS g FROM sh),
            p AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
                  FROM s a JOIN s b ON a.g = b.g AND a.source < b.source
                  GROUP BY 1, 2)
            SELECT src_a, src_b, CAST(shared AS BIGINT) AS shared
            FROM p ORDER BY shared DESC, src_a, src_b LIMIT 15"""),
    (s, d) => {
      val sh = documents(s, d)
        .select(col("source"), explode(graft.ops.Dedup.wordShingles(col("text"), 4)).as("g"))
        .distinct()
      sh.as("a").join(sh.as("b"),
          col("a.g") === col("b.g") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("shared"))
        .orderBy(col("shared").desc, col("src_a"), col("src_b")).limit(15)
    })

  /** Source-trust PageRank (the Common Crawl domain-centrality shape:
    * rank sources by link-ish affinity before content filters run). The
    * graph: source A → source B when they share ≥ 10 distinct 4-word
    * shingles (the dom3 affinity, symmetrized by construction since
    * shared-counts are symmetric). Three PageRank iterations via
    * `Graph.pageRank`; the oracle replays them as an UNROLLED generated
    * CTE chain (the tok2/d9c convention) from the same damping constants,
    * so a drift in any iteration's arithmetic hash-fails. Ranks iterate
    * as 12-dp doubles with DECIMAL(25,15) in-neighbor sums — both engines
    * see bit-identical values every round. */
  val pr1PageRank: Q = {
    val iters = 3; val damping = 0.85; val base = 1.0 - damping; val minShared = 10
    val iterCtes = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS node, CAST(r.rank / CAST(o.deg AS DOUBLE) AS DECIMAL(25,15)) AS t
                  FROM r${i - 1} r JOIN e ON e.src = r.node JOIN outdeg o ON o.src = e.src),
            s$i AS (SELECT node, sum(t) AS s FROM c$i GROUP BY node),
            r$i AS (SELECT n.node, round($base / t.n + $damping * coalesce(CAST(s.s AS DOUBLE), 0.0), 12) AS rank
                  FROM nodes n CROSS JOIN tot t LEFT JOIN s$i s ON s.node = n.node)"""
    }.mkString(",\n            ")
    Q("pr1_source_pagerank",
      Some(s"""WITH t AS (SELECT source, ${graft.queries.OracleSql.toksSql} AS toks FROM documents),
            sh AS (SELECT source, ${graft.queries.OracleSql.shinglesSql(4)} AS shingles FROM t),
            sg AS (SELECT DISTINCT source, unnest(shingles) AS g FROM sh),
            e AS (SELECT a.source AS src, b.source AS dst FROM sg a JOIN sg b
                  ON a.g = b.g AND a.source <> b.source
                  GROUP BY 1, 2 HAVING count(*) >= $minShared),
            nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e) z),
            outdeg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
            tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
            r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN tot),
            $iterCtes
            SELECT node AS source, round(rank, 6) AS pagerank
            FROM r$iters ORDER BY source"""),
      (s, dir) => {
        val sg = documents(s, dir)
          .select(col("source"), explode(graft.ops.Dedup.wordShingles(col("text"), 4)).as("g"))
          .distinct()
        val e = sg.as("a").join(sg.as("b"),
            col("a.g") === col("b.g") && col("a.source") =!= col("b.source"))
          .groupBy(col("a.source").as("src"), col("b.source").as("dst"))
          .agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= minShared)
          .select("src", "dst")
        graft.ops.Graph.pageRank(e, iters, damping)
          .select(col("node").as("source"), round(col("rank"), 6).as("pagerank"))
          .orderBy("source")
      })
  }

  /** Preference-pair construction (DPO/RLHF data prep): per prompt group
    * (source here), the chosen sample is the highest-quality document and
    * the rejected the lowest, with deterministic id tiebreaks; pairs with
    * zero quality margin are dropped (no learning signal). ONE aggregate
    * per group via min/max-by structs — no window, no self-join; at scale
    * this is a map-side-combined hash aggregate over the corpus. */
  val pref1DpoPairs: Q = Q("pref1_dpo_pairs",
    Some(s"""WITH $qualityCtes,
            ranked AS (
              SELECT d.source, q.doc_id, q.quality,
                row_number() OVER (PARTITION BY d.source ORDER BY q.quality DESC, q.doc_id) AS rb,
                row_number() OVER (PARTITION BY d.source ORDER BY q.quality ASC, q.doc_id DESC) AS rw
              FROM q JOIN documents d USING (doc_id)),
            best AS (SELECT source, doc_id AS chosen_id, quality AS best_q FROM ranked WHERE rb = 1),
            worst AS (SELECT source, doc_id AS rejected_id, quality AS worst_q FROM ranked WHERE rw = 1)
            SELECT source, chosen_id, rejected_id, round(best_q - worst_q, 6) AS margin
            FROM best JOIN worst USING (source)
            WHERE best_q > worst_q
            ORDER BY source"""),
    (s, d) => {
      val scored = documents(s, d).select(col("source"), col("doc_id"),
        graft.ops.TextAnalysis.qualityScore(col("text"), Seq("the", "a", "of", "and")).as("quality"))
      // max_by equivalent with deterministic ties: order structs so the
      // max is (highest quality, lowest id) and the min (lowest quality,
      // highest id) — id negated inside the struct for the tiebreak
      scored.groupBy("source")
        .agg(
          max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("best"),
          min(struct(col("quality"), (-col("doc_id")).as("nid"))).as("worst"))
        .select(col("source"),
          (-col("best.nid")).cast("long").as("chosen_id"),
          (-col("worst.nid")).cast("long").as("rejected_id"),
          round(col("best.quality") - col("worst.quality"), 6).as("margin"))
        .filter(col("margin") > 0)
        .orderBy("source")
    })

  /** Gini–Simpson lexical diversity per source — the mixture-diagnostics
    * twin of dom4's KL: 1 − Σp² (and its inverse-Simpson "effective
    * vocabulary") says how concentrated each source's token distribution
    * is. One (source, token) hash aggregate; the p² terms are
    * 12-dp-rounded then DECIMAL-summed (the x20/dom4 discipline) so
    * reduction order never reaches the hash. */
  val dom6Gini: Q = Q("dom6_gini_diversity",
    Some(s"""WITH t AS (SELECT source, unnest(${graft.queries.OracleSql.toksSql}) AS tok FROM documents),
            cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS k FROM t GROUP BY source, tok),
            tot AS (SELECT source, CAST(sum(k) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS u
              FROM cnt GROUP BY source),
            terms AS (SELECT cnt.source,
                round((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)), 12) AS p2
              FROM cnt JOIN tot ON tot.source = cnt.source),
            g AS (SELECT source, CAST(sum(CAST(p2 AS DECIMAL(25,15))) AS DOUBLE) AS sp2
              FROM terms GROUP BY source)
            SELECT g.source, tot.n AS n_tokens, tot.u AS n_unique,
              round(1.0 - sp2, 6) AS gini_simpson,
              round(1.0 / greatest(sp2, 1e-12), 6) AS effective_vocab
            FROM g JOIN tot ON tot.source = g.source ORDER BY g.source"""),
    (s, d) => {
      val cnt = documents(s, d)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("k"))
      val tot = cnt.groupBy("source")
        .agg(sum("k").as("n"), count(lit(1)).as("u"))
      val p = col("k").cast("double") / col("n").cast("double")
      val g = cnt.join(tot, Seq("source"))
        .select(col("source"), round(p * p, 12).as("p2"))
        .groupBy("source")
        .agg(sum(col("p2").cast("decimal(25,15)")).cast("double").as("sp2"))
      g.join(tot, Seq("source"))
        .select(col("source"), col("n").cast("long").as("n_tokens"),
          col("u").cast("long").as("n_unique"),
          round(lit(1.0) - col("sp2"), 6).as("gini_simpson"),
          round(lit(1.0) / greatest(col("sp2"), lit(1e-12)), 6).as("effective_vocab"))
        .orderBy("source")
    })

  /** Cohen's kappa between two independent document judges — the
    * inter-annotator agreement check an LLM-judge eval pipeline runs
    * before trusting labels (raw agreement flatters judges that both
    * say "good" to everything; kappa subtracts chance). Judge A = the
    * shared x2 quality rule AT ITS OWN MEDIAN (a fixed 0.5 cut fires on
    * 499/500 docs here — a degenerate marginal makes kappa vacuous);
    * judge B = a length-band rule. One map-side-combined aggregate to
    * four counters, then pure arithmetic — the SAME expression tree in
    * both engines, marginals divided as doubles, nothing pre-rounded. */
  val ev5JudgeKappa: Q = Q("ev5_judge_kappa",
    Some(s"""WITH $qualityCtes,
            med AS (SELECT round(quantile_cont(quality, 0.5), 6) AS m FROM q),
            j AS (SELECT q.doc_id,
                CASE WHEN q.quality >= m THEN 1 ELSE 0 END AS a,
                CASE WHEN d.n_chars BETWEEN 200 AND 2000 THEN 1 ELSE 0 END AS b
              FROM q JOIN documents d ON d.doc_id = q.doc_id CROSS JOIN med),
            kc AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree,
                CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb FROM j)
            SELECT n, agree, na, nb,
              round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
              round((CAST(na AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
                + (1.0 - CAST(na AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(nb AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS pe,
              round((CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
                  - ((CAST(na AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
                    + (1.0 - CAST(na AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))))
                / greatest(1.0 - ((CAST(na AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
                    + (1.0 - CAST(na AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))), 1e-12), 6) AS kappa
            FROM kc"""),
    (s, d) => {
      val q = graft.ops.TextAnalysis.qualityScore(col("text"), Seq("the", "a", "of", "and"))
      val med = documents(s, d).select(q.as("quality"))
        .agg(round(percentile(col("quality"), lit(0.5)), 6).as("m"))
      val a = when(q >= col("m"), 1L).otherwise(0L)
      val b = when(col("n_chars").between(200, 2000), 1L).otherwise(0L)
      val c = documents(s, d).crossJoin(broadcast(med)).select(a.as("a"), b.as("b"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"),
          sum("a").as("na"), sum("b").as("nb"))
      val nD = col("n").cast("double")
      val pa = col("na").cast("double") / nD
      val pb = col("nb").cast("double") / nD
      val po = col("agree").cast("double") / nD
      val pe = pa * pb + (lit(1.0) - pa) * (lit(1.0) - pb)
      c.select(col("n"), col("agree"), col("na"), col("nb"),
        round(po, 6).as("po"), round(pe, 6).as("pe"),
        round((po - pe) / greatest(lit(1.0) - pe, lit(1e-12)), 6).as("kappa"))
    })

  /** Corpus data card — the datasheet-for-datasets summary row a corpus
    * release ships (Gebru et al. 2021): size, token volume, language
    * share, source fan-out, mean quality (shared x2 chain), and the
    * exact-dup rate (d1's normalized-text key). One scan feeds four
    * map-side-combined aggregates joined as 1-row frames; the dup rate
    * is 1 − distinct keys / docs, so it mirrors exactly what d1 keeps.
    * Exact-integer counts; means divide once at the end. */
  val dom7Datacard: Q = Q("dom7_datacard",
    Some(s"""WITH $qualityCtes,
            base AS (SELECT d.doc_id, d.source, d.lang, d.n_chars,
                len(${graft.queries.OracleSql.toksSql}) AS ntok,
                md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS dk,
                q.quality
              FROM documents d JOIN q ON q.doc_id = d.doc_id),
            agg AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(ntok) AS BIGINT) AS n_tokens,
                CAST(sum(n_chars) AS BIGINT) AS n_chars,
                CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                CAST(count(DISTINCT dk) AS BIGINT) AS n_unique,
                CAST(sum(CAST(quality AS DECIMAL(25,15))) AS DOUBLE) AS sum_q
              FROM base)
            SELECT n_docs, n_tokens, n_chars, n_sources,
              round(CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS pct_en,
              round(sum_q / CAST(n_docs AS DOUBLE), 6) AS mean_quality,
              round(1.0 - CAST(n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS dup_rate
            FROM agg"""),
    (s, d) => {
      val base = documents(s, d).select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("ntok"),
        md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("dk"),
        TextAnalysis.qualityScore(col("text"), Seq("the", "a", "of", "and")).as("quality"))
      val agg = base.agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"),
        sum("n_chars").as("n_chars"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        countDistinct("source").as("n_sources"),
        countDistinct("dk").as("n_unique"),
        sum(col("quality").cast("decimal(25,15)")).cast("double").as("sum_q"))
      val nD = col("n_docs").cast("double")
      agg.select(col("n_docs"), col("n_tokens").cast("long").as("n_tokens"),
        col("n_chars").cast("long").as("n_chars"), col("n_sources"),
        round(col("n_en").cast("double") / nD, 6).as("pct_en"),
        round(col("sum_q") / nD, 6).as("mean_quality"),
        round(lit(1.0) - col("n_unique").cast("double") / nD, 6).as("dup_rate"))
    })

  /** Capped water-filling token-budget allocation — the planning step
    * BETWEEN dom2's mixture weights and the x17/x18 samplers: budget =
    * 1.5× corpus tokens, every domain capped at 2 epochs of its own data,
    * capped overflow redistributed proportionally among open domains over
    * 3 unrolled fixed-point rounds. The oracle replays the whole chain
    * (sqrt-temperature weights → per-round least/cap, DECIMAL frame sums,
    * proportional refill) so a drift in any round hash-fails. ONE corpus
    * aggregate; all iterations on the 20-row domain frame. */
  val dom8Budget: Q = {
    // cap 1.55 sits INSIDE this corpus's 1.40–1.64 unconstrained epoch
    // spread: some domains cap, the refill lifts others across the line in
    // later rounds, and the fixed point is mixed — both CASE arms and the
    // redistribution are load-bearing in the hash (at cap 2.0 nothing
    // capped; at cap = budget factor the all-capped fixed point is
    // degenerate)
    val (bf, me, rounds) = (1.5, 1.55, 3)
    val steps = (1 to rounds).map { k =>
      s"""c$k AS (SELECT *, least(t, cap) AS c FROM f${k - 1}),
            s$k AS (SELECT max(budget) - CAST(sum(CAST(c AS DECIMAL(25,15))) AS DOUBLE) AS leftover,
                CAST(sum(CASE WHEN c < cap THEN CAST(w AS DECIMAL(25,15)) END) AS DOUBLE) AS open_w
              FROM c$k),
            f$k AS (SELECT domain, tokens, w, budget, cap,
                CASE WHEN c >= cap THEN cap
                     WHEN open_w IS NULL OR open_w <= 0.0 THEN c
                     ELSE round(c + greatest(leftover, 0.0) * w / open_w, 12) END AS t
              FROM c$k CROSS JOIN s$k)"""
    }.mkString(",\n            ")
    Q("dom8_budget_allocation",
      Some(s"""WITH per AS (SELECT source AS domain,
                CAST(sum(len(${graft.queries.OracleSql.toksSql})) AS BIGINT) AS tokens
              FROM documents GROUP BY source),
            tot AS (SELECT CAST(sum(tokens) AS DOUBLE) AS total_tokens FROM per),
            sh AS (SELECT domain, tokens, total_tokens,
                sqrt(CAST(tokens AS DOUBLE) / total_tokens) AS s
              FROM per CROSS JOIN tot),
            nrm AS (SELECT CAST(sum(CAST(s AS DECIMAL(25,15))) AS DOUBLE) AS sum_s FROM sh),
            f0a AS (SELECT domain, tokens, round(s / sum_s, 12) AS w,
                total_tokens * $bf AS budget, CAST(tokens AS DOUBLE) * $me AS cap
              FROM sh CROSS JOIN nrm),
            f0 AS (SELECT *, round(budget * w, 12) AS t FROM f0a),
            $steps
            SELECT domain, tokens, round(w, 6) AS weight,
              round(least(t, cap), 6) AS target_tokens,
              round(least(t, cap) / CAST(greatest(tokens, 1) AS DOUBLE), 6) AS epochs,
              t >= cap AS capped
            FROM f$rounds ORDER BY domain"""),
      (s, d) => graft.ops.Curation.budgetAllocation(documents(s, d), col("source"), col("text"),
          budgetFactor = bf, maxEpochs = me, rounds = rounds)
        .orderBy("domain"))
  }

  /** Bradley–Terry strengths from pairwise outcomes — the arena-style
    * leaderboard computation (Hunter 2004 MM updates) over a match log
    * synthesized identically in both engines: docs at stride 1/2/3 play
    * a match, higher x2 quality wins (ties → lower doc_id), same-source
    * matches dropped; items are sources. Spark runs
    * [[graft.ops.Preference.bradleyTerry]] (one shuffle to pair counts,
    * then k-item broadcast iterations); the oracle unrolls the SAME
    * 3 MM iterations as CTEs — 12-dp-rounded terms, DECIMAL sums, so
    * both engines walk bit-identical trajectories. */
  val pref2BradleyTerry: Q = {
    val iters = 3
    val iterCtes = (1 to iters).map { k =>
      s"""d$k AS (SELECT md.src,
              CAST(sum(CAST(round(CAST(md.n AS DOUBLE) / (pa.p + pb.p), 12) AS DECIMAL(25,15))) AS DOUBLE) AS den
            FROM md JOIN p${k - 1} pa ON pa.src = md.src JOIN p${k - 1} pb ON pb.src = md.opp
            GROUP BY md.src),
          r$k AS (SELECT d$k.src, round((CAST(coalesce(w.wins, 0) AS DOUBLE) + 0.5) / den, 12) AS praw
            FROM d$k LEFT JOIN w ON w.src = d$k.src),
          s$k AS (SELECT CAST(sum(CAST(praw AS DECIMAL(25,15))) AS DOUBLE) AS s FROM r$k),
          p$k AS (SELECT src, round(praw / s, 12) AS p FROM r$k CROSS JOIN s$k)"""
    }.mkString(",\n          ")
    val strideUnion = (1 to 3).map { st =>
      s"""SELECT a.source AS sa, b.source AS sb, a.quality AS qa, b.quality AS qb
          FROM dq a JOIN dq b ON b.doc_id = a.doc_id + $st"""
    }.mkString(" UNION ALL ")
    Q("pref2_bradley_terry",
      Some(s"""WITH $qualityCtes,
          dq AS (SELECT d.doc_id, d.source, q.quality FROM documents d JOIN q ON q.doc_id = d.doc_id),
          pr AS ($strideUnion),
          mt AS (SELECT CASE WHEN qa >= qb THEN sa ELSE sb END AS winner,
                        CASE WHEN qa >= qb THEN sb ELSE sa END AS loser
                 FROM pr WHERE sa <> sb),
          md AS (SELECT src, opp, CAST(count(*) AS BIGINT) AS n FROM (
                   SELECT winner AS src, loser AS opp FROM mt
                   UNION ALL SELECT loser AS src, winner AS opp FROM mt)
                 GROUP BY src, opp),
          w AS (SELECT winner AS src, CAST(count(*) AS BIGINT) AS wins FROM mt GROUP BY winner),
          items AS (SELECT DISTINCT src FROM md),
          kf AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM items),
          p0 AS (SELECT src, round(CAST(1.0 AS DOUBLE) / k, 12) AS p FROM items CROSS JOIN kf),
          $iterCtes,
          nm AS (SELECT src, CAST(sum(n) AS BIGINT) AS n_matches FROM md GROUP BY src)
          SELECT p$iters.src AS item, CAST(coalesce(w.wins, 0) AS BIGINT) AS wins,
            nm.n_matches, round(p$iters.p, 6) AS strength
          FROM p$iters JOIN nm ON nm.src = p$iters.src LEFT JOIN w ON w.src = p$iters.src
          ORDER BY item"""),
      (s, d) => {
        // ONE qualityScore pass, materialized: the stride pairing below
        // reads it twice (probe + build) instead of re-tokenizing the
        // corpus six times (2 join sides × 3 stride joins); the three
        // joins fuse into ONE equi-join on an exploded (a_id + st) key —
        // same pair multiset, two fewer shuffles.
        val dq = documents(s, d).select(col("doc_id"), col("source"),
          graft.ops.TextAnalysis.qualityScore(col("text"), Seq("the", "a", "of", "and")).as("quality"))
          .localCheckpoint()
        val aSide = dq.select(col("doc_id").as("a_id"), col("source").as("a_src"),
            col("quality").as("a_q"))
          .withColumn("st", explode(array(lit(1), lit(2), lit(3))))
          .withColumn("b_id", col("a_id") + col("st"))
        val bSide = dq.select(col("doc_id").as("b_id"), col("source").as("b_src"),
          col("quality").as("b_q"))
        val pairs = aSide.join(bSide, Seq("b_id"))
        val aWins = col("a_q") >= col("b_q")
        val matches = pairs.filter(col("a_src") =!= col("b_src"))
          .select(when(aWins, col("a_src")).otherwise(col("b_src")).as("winner"),
            when(aWins, col("b_src")).otherwise(col("a_src")).as("loser"))
        graft.ops.Preference.bradleyTerry(matches, iters = iters, prior = 0.5)
          .orderBy("item")
      })
  }

  /** Exact triangle count + local clustering coefficient over a link
    * graph — the structure signal that separates organic neighborhoods
    * from link farms before PageRank runs (a spam ring is star/bipartite:
    * clustering ≈ 0 at any degree). Degree-ordered orientation
    * (Chiba–Nishizeki): wedges generate only at each edge's LOWER
    * (degree, id) endpoint, the O(m^{3/2}) bound that keeps web-scale
    * hub nodes from squaring. The fixture graph is a pseudo-random
    * 30-node multigraph from doc_id arithmetic — self-loops must drop,
    * duplicate edges must collapse, and the oracle replays orientation,
    * wedge ordering, and the closing join arithmetically. */
  val g1Triangles = Q("g1_triangle_clustering",
    Some("""WITH raw AS (SELECT doc_id % 30 AS a, (doc_id * 7 + 3) % 30 AS b FROM documents),
            e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM raw WHERE a <> b),
            deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
                    FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
                    GROUP BY node),
            o AS (SELECT
                CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN u ELSE v END AS lo,
                CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN v ELSE u END AS hi,
                CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN dv.deg ELSE du.deg END AS dhi
              FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
            tri AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
              FROM o e1 JOIN o e2 ON e1.lo = e2.lo
                AND (e1.dhi < e2.dhi OR (e1.dhi = e2.dhi AND e1.hi < e2.hi))
              JOIN o e3 ON e3.lo = e1.hi AND e3.hi = e2.hi),
            tn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri
                   FROM (SELECT a AS node FROM tri UNION ALL SELECT b AS node FROM tri
                         UNION ALL SELECT c AS node FROM tri)
                   GROUP BY node)
            SELECT deg.node, deg.deg AS degree,
              coalesce(tn.n_tri, 0) AS n_triangles,
              round(CASE WHEN deg.deg >= 2
                         THEN 2.0 * coalesce(tn.n_tri, 0) / (deg.deg * (deg.deg - 1.0))
                         ELSE 0.0 END, 6) AS clustering
            FROM deg LEFT JOIN tn ON tn.node = deg.node
            ORDER BY deg.node"""),
    (s, d) => {
      val edges = documents(s, d).select((col("doc_id") % 30).as("src"),
        ((col("doc_id") * 7 + 3) % 30).as("dst"))
      graft.ops.Graph.triangleStats(edges).orderBy("node")
    })

  /** HITS hubs/authorities over the directed fixture graph — the
    * directory-vs-content split next to pr1's PageRank: 3 unrolled
    * iterations of the mutual recursion, L2-normalized per side per
    * round, replayed by the oracle as generated CTEs from the same
    * constants (the pr1 convention). Mass sums DECIMAL(25,15), scores
    * iterate as 12-dp doubles — bit-identical both engines. */
  val g2Hits: Q = {
    val iters = 3
    val iterCtes = (1 to iters).map { i =>
      s"""ar$i AS (SELECT e.dst AS node, CAST(sum(CAST(h AS DECIMAL(25,15))) AS DOUBLE) AS a
                 FROM h${i - 1} hh JOIN e ON hh.node = e.src GROUP BY e.dst),
            an$i AS (SELECT CAST(sum(CAST(round(a * a, 12) AS DECIMAL(25,15))) AS DOUBLE) AS n2 FROM ar$i),
            a$i AS (SELECT n.node,
                CASE WHEN nf.n2 > 0 THEN round(coalesce(ar.a, 0.0) / sqrt(nf.n2), 12) ELSE 0.0 END AS a
              FROM nodes n CROSS JOIN an$i nf LEFT JOIN ar$i ar ON ar.node = n.node),
            hr$i AS (SELECT e.src AS node, CAST(sum(CAST(a AS DECIMAL(25,15))) AS DOUBLE) AS h
                 FROM a$i aa JOIN e ON aa.node = e.dst GROUP BY e.src),
            hn$i AS (SELECT CAST(sum(CAST(round(h * h, 12) AS DECIMAL(25,15))) AS DOUBLE) AS n2 FROM hr$i),
            h$i AS (SELECT n.node,
                CASE WHEN nf.n2 > 0 THEN round(coalesce(hr.h, 0.0) / sqrt(nf.n2), 12) ELSE 0.0 END AS h
              FROM nodes n CROSS JOIN hn$i nf LEFT JOIN hr$i hr ON hr.node = n.node)"""
    }.mkString(",\n            ")
    Q("g2_hits",
      Some(s"""WITH raw AS (SELECT doc_id % 30 AS src, (doc_id * 7 + 3) % 30 AS dst FROM documents),
            e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
            nodes AS (SELECT DISTINCT node FROM
              (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
            h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM nodes),
            $iterCtes
            SELECT n.node, h$iters.h AS hub, a$iters.a AS authority
            FROM nodes n JOIN h$iters ON h$iters.node = n.node
            JOIN a$iters ON a$iters.node = n.node
            ORDER BY n.node"""),
      (s, d) => {
        val edges = documents(s, d).select((col("doc_id") % 30).as("src"),
          ((col("doc_id") * 7 + 3) % 30).as("dst"))
        graft.ops.Graph.hits(edges, iters).orderBy("node")
      })
  }

  def all: Seq[Q] = Seq(s3Routing, f1BlockType, f2Heading, f3Title, f6Scope, p3Thai, p4Band,
    p7Relevance, p10Html, f15Qna, f18Intent, f20ToJson, s4FromJson, s10CsvRoundtrip, s11SchemaEvolution, orc1Roundtrip, pq1Meta, a16Unpivot, a17GroupingSets, u1Union3,
    t5Caps, dt1Dates, a3Collect, a5MergeGroups, a6ChunkRollup, x2Quality,
    ask1Pipeline, ask2ShowTable, ask3Embedding, ev1Retrieval, ev2Bleu, ev3RougeL, warc1Parse, warc2Gzip, warc3Split, rob1Robots, rob2Sitemap, crawl1Frontier, crawl2LinkGraph, p15Boilerplate, ocr1Otsu, sel1Importance,
    a13Validator, k1SaltedAgg, k2SkewJoin, k3Bucketed, k4ZOrder, k5Compaction, ml1LogReg, ml3Inference, ml4Calibration, ml5Confusion, ml6Brier, ml7Auc, a18Association, ev11Krippendorff, ev6QaF1, ev7PassAtK, ev8BootstrapCi, ev9McNemar, ev10Report, inc1Merge, j6Eval,
    c1Curation, c1bCurationStored, dom1DomainStats, a15Percentiles, an1Analyze, dom2Mixture,
    x14QualityBuckets, x14bApproxBuckets, x14cSampleBuckets, dom3Overlap, dom4Kl, dom5Profile, dom6Gini, dom7Datacard, ev5JudgeKappa, ml2Powerlaw, pref1DpoPairs, pref2BradleyTerry, pr1PageRank, x29Lid, dom8Budget, g1Triangles, g2Hits)
}
