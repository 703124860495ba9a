package graft.queries

import org.apache.spark.sql.functions._
import graft.tables.TestTables._
import graft.ops.{Cleaning, Sections, TextAnalysis}
import graft.index.Rerank

/** Text-operator inventory over `documents` (SURVEY.md §2.2 P1/P2/P9,
  * §2.8 F-family, §2.9 V3 fallback; prompt family: text analysis).
  *
  * All pure expressions — the map stages carry no shuffle; the only
  * exchanges are the final presentation sorts.
  */
object TextQueries extends QuerySet {

  /** Deterministic mixed-quality content: every 7th doc becomes a bare page
    * number, every 11th a punctuation-only scrap — computed identically in
    * both engines so the noise filter has real work to do. */
  private val mixedSql =
    """CASE WHEN doc_id % 7 = 0 THEN concat('- ', CAST(doc_id AS VARCHAR), ' -')
            WHEN doc_id % 11 = 0 THEN '***'
            ELSE text END"""
  private def mixed = when(col("doc_id") % 7 === 0, concat(lit("- "), col("doc_id").cast("string"), lit(" -")))
    .when(col("doc_id") % 11 === 0, lit("***"))
    .otherwise(col("text"))

  /** P1: text normalization (control/zero-width strip, whitespace collapse). */
  val p1Normalize = Q("p1_normalize",
    Some("""SELECT doc_id, trim(
              regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                text,
                '[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
                '\x{00A0}', ' ', 'g'),
                '[ \t]+', ' ', 'g'),
                ' *\n *', '\n', 'g'),
                '\n{3,}', '\n\n', 'g')) AS norm_text
            FROM documents ORDER BY doc_id"""),
    (s, d) => documents(s, d)
      .select(col("doc_id"), Cleaning.normalizeText(col("text")).as("norm_text"))
      .orderBy("doc_id"))

  /** P2: noise filter over deterministically-degraded content. */
  val p2Noise = Q("p2_noise_filter",
    Some(s"""SELECT doc_id FROM (SELECT doc_id, $mixedSql AS content FROM documents) t
             WHERE NOT (regexp_full_match(trim(content), '-?\\s*[0-9]+\\s*-?')
                        OR length(regexp_replace(trim(content), '[^A-Za-z0-9\\x{0E00}-\\x{0E7F}]', '', 'g')) <= 1)
             ORDER BY doc_id"""),
    (s, d) => documents(s, d).withColumn("content", mixed)
      .filter(!Cleaning.isNoise(col("content")))
      .select("doc_id").orderBy("doc_id"))

  /** P8: metadata filters — the ref's native-where vs python-refilter dual
    * path collapses to one Catalyst `isin` predicate (pushed to parquet). */
  val p8Metadata = Q("p8_metadata_filter",
    Some("""SELECT doc_id, lang, source FROM documents
            WHERE lang IN ('en', 'de') AND source IN ('src1', 'src3', 'src5') AND n_chars >= 100
            ORDER BY doc_id"""),
    (s, d) => documents(s, d)
      .filter(col("lang").isin("en", "de") && col("source").isin("src1", "src3", "src5")
        && col("n_chars") >= 100)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id"))

  /** P9: doc_id sanitization. */
  val p9Sanitize = Q("p9_docid_sanitize",
    Some("""SELECT doc_id,
            regexp_replace(regexp_replace(lower(trim(concat(upper(source), ' Doc #', CAST(doc_id AS VARCHAR), '!'))), '\s+', '_', 'g'), '[^a-z0-9_\-\x{0E00}-\x{0E7F}]', '', 'g') AS clean_id
            FROM documents ORDER BY doc_id"""),
    (s, d) => documents(s, d)
      .select(col("doc_id"),
        Cleaning.sanitizeDocId(concat(upper(col("source")), lit(" Doc #"), col("doc_id").cast("string"), lit("!"))).as("clean_id"))
      .orderBy("doc_id"))

  /** F16: rule-based classifier — first-match keyword cascade. */
  val f16Classify = Q("f16_classifier",
    Some("""SELECT label, count(*) AS n FROM (
              SELECT CASE
                WHEN lower(text) ~ '.*(stream|window).*' THEN 'streaming'
                WHEN lower(text) ~ '.*(join|merge).*' THEN 'relational'
                WHEN lower(text) ~ '.*(vector|embed).*' THEN 'vector'
                WHEN lower(text) ~ '.*(scan|filter).*' THEN 'scan'
                ELSE 'generic' END AS label
              FROM documents) t GROUP BY label ORDER BY label"""),
    (s, d) => documents(s, d)
      .select(Sections.classify(col("text"), Seq(
        "streaming" -> ".*(stream|window).*",
        "relational" -> ".*(join|merge).*",
        "vector" -> ".*(vector|embed).*",
        "scan" -> ".*(scan|filter).*"), "generic").as("label"))
      .groupBy("label").agg(count(lit(1)).as("n")).orderBy("label"))

  /** A7/F4: intent scoring — keyword-hit counts → ranked intents, primary
    * intent = max by (score, name). */
  val a7Intent = Q("a7_intent_primary",
    Some("""WITH c AS (
              SELECT doc_id, 'agg' AS intent, len(regexp_extract_all(lower(text), 'agg')) AS score FROM documents
              UNION ALL SELECT doc_id, 'join', len(regexp_extract_all(lower(text), 'join')) FROM documents
              UNION ALL SELECT doc_id, 'scan', len(regexp_extract_all(lower(text), 'scan')) FROM documents
              UNION ALL SELECT doc_id, 'sort', len(regexp_extract_all(lower(text), 'sort')) FROM documents),
            r AS (SELECT doc_id, intent,
                    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, intent) AS rn
                  FROM c WHERE score > 0)
            SELECT d.doc_id, r.intent AS primary_intent
            FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id AND r.rn = 1
            ORDER BY d.doc_id"""),
    (s, d) => {
      val scores = Sections.intentScores(col("text"), Seq(
        "agg" -> "agg", "join" -> "join", "scan" -> "scan", "sort" -> "sort"))
      documents(s, d)
        .select(col("doc_id"), Sections.primaryIntent(scores).as("primary_intent"))
        .orderBy("doc_id")
    })

  /** F5: entity extraction — regexp_extract_all + distinct + cap. */
  val f5Entities = Q("f5_entity_extract",
    Some("""SELECT doc_id,
            coalesce(list_aggregate(list_sort(list_distinct(regexp_extract_all(text, '\b(spark|hash|vector|stream)\b'))), 'string_agg', ','), '') AS entities
            FROM documents ORDER BY doc_id"""),
    (s, d) => documents(s, d)
      .select(col("doc_id"),
        concat_ws(",", sort_array(array_distinct(
          regexp_extract_all(col("text"), lit("\\b(spark|hash|vector|stream)\\b"), lit(0))))).as("entities"))
      .orderBy("doc_id"))

  /** F7: stopword-free keyword overlap between a fixed query and content. */
  val f7Overlap = Q("f7_keyword_overlap",
    Some("""SELECT doc_id, len(list_intersect(
              list_distinct(string_split_regex(lower('the fast hash join over a stream'), '\s+')) ,
              list_distinct(string_split_regex(lower(text), '\s+'))
            )) - len(list_intersect(
              ['the','a','over'],
              list_distinct(string_split_regex(lower(text), '\s+'))
            )) AS overlap
            FROM documents ORDER BY doc_id"""),
    (s, d) => documents(s, d)
      .select(col("doc_id"),
        Rerank.keywordOverlap(col("text"), lit("the fast hash join over a stream"),
          Seq("the", "a", "over")).as("overlap"))
      .orderBy("doc_id"))

  /** T2+F8: keyword rerank with sigmoid normalization, top-20. */
  val t2Rerank = Q("t2_keyword_rerank",
    Some("""SELECT doc_id, round(1.0 / (1.0 + exp(-(
              (CASE WHEN contains(lower(text), 'spark') THEN 1.0 ELSE 0 END) +
              (CASE WHEN contains(lower(text), 'join') THEN 1.0 ELSE 0 END) +
              (CASE WHEN contains(lower(text), 'stream') THEN 1.0 ELSE 0 END) +
              (CASE WHEN contains(lower(text), 'spark join') THEN 3.0 ELSE 0 END)))), 6) AS score
            FROM documents ORDER BY score DESC, doc_id LIMIT 20"""),
    (s, d) => {
      val score = Rerank.sigmoid(Rerank.keywordScore(col("text"), Seq("spark", "join", "stream"), "spark join"))
      Rerank.topK(documents(s, d).select(col("doc_id"), round(score, 6).as("score")),
        col("score"), col("doc_id"), 20)
    })

  /** F9: string-similarity ratio via levenshtein (nation×region small join). */
  val f9Similarity = Q("f9_levenshtein_ratio",
    Some("""SELECT n_name, r_name,
            round(1.0 - CAST(levenshtein(lower(n_name), lower(r_name)) AS DOUBLE) /
                  greatest(length(n_name), length(r_name)), 6) AS sim
            FROM nation, region ORDER BY n_name, r_name"""),
    (s, d) => nation(s, d).crossJoin(broadcast(region(s, d)))
      .select(col("n_name"), col("r_name"),
        round(lit(1.0) - levenshtein(lower(col("n_name")), lower(col("r_name"))).cast("double") /
          greatest(length(col("n_name")), length(col("r_name"))), 6).as("sim"))
      .orderBy("n_name", "r_name"))

  /** F9 exact-parity variant: difflib SequenceMatcher.ratio as a native
    * codegen'd Catalyst expression (graft.functions.DifflibRatioExpr).
    * No DuckDB oracle exists for difflib semantics → rows-only check;
    * exact parity with CPython is asserted in DifflibSpec, and
    * NoOracleSpec checks every pair against `DifflibRatio.ratio` on the
    * driver. */
  val f9Difflib = Q("f9b_difflib_ratio", None,
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      nation(s, d).crossJoin(broadcast(region(s, d)))
        .selectExpr("n_name", "r_name",
          "round(difflib_ratio(lower(n_name), lower(r_name)), 6) AS sim")
        .orderBy("n_name", "r_name")
    })

  /** F10: money parsing with currency symbols and accounting negatives —
    * strings synthesized deterministically from order totals. */
  val f10Money = Q("f10_money_parse",
    Some("""SELECT o_orderkey, round(CASE WHEN raw LIKE '(%' THEN -core ELSE core END, 2) AS amount
            FROM (
              SELECT o_orderkey, raw,
                CAST(regexp_replace(regexp_replace(raw, '[,฿$\s]|(บาท)|(baht)', '', 'g'), '[()]', '', 'g') AS DOUBLE) AS core
              FROM (
                SELECT o_orderkey,
                  CASE WHEN o_orderkey % 3 = 0 THEN concat('(', printf('%.2f', o_totalprice), ')')
                       WHEN o_orderkey % 3 = 1 THEN concat('$', printf('%.2f', o_totalprice))
                       ELSE concat('฿1,23', printf('%.2f', o_totalprice), ' บาท') END AS raw
                FROM orders) a) b ORDER BY o_orderkey"""),
    (s, d) => {
      val formatted = format_string("%.2f", col("o_totalprice"))
      val raw = when(col("o_orderkey") % 3 === 0, concat(lit("("), formatted, lit(")")))
        .when(col("o_orderkey") % 3 === 1, concat(lit("$"), formatted))
        .otherwise(concat(lit("฿1,23"), formatted, lit(" บาท")))
      orders(s, d)
        .select(col("o_orderkey"), round(Cleaning.parseMoney(raw), 2).as("amount"))
        .orderBy("o_orderkey")
    })

  /** F11: header canonicalization — ordered substring→canon mapping. */
  val f11Canon = Q("f11_header_canon",
    Some("""SELECT p_partkey,
            CASE WHEN contains(lower(p_type), 'brass') THEN 'metal'
                 WHEN contains(lower(p_type), 'steel') THEN 'metal'
                 WHEN contains(lower(p_type), 'copper') THEN 'metal'
                 WHEN contains(lower(p_type), 'anodized') THEN 'coated'
                 WHEN contains(lower(p_type), 'polished') THEN 'coated'
                 ELSE 'other' END AS canon
            FROM part ORDER BY p_partkey"""),
    (s, d) => part(s, d)
      .select(col("p_partkey"),
        graft.ops.TableOps.canonicalizeHeader(col("p_type"), Seq(
          "brass" -> "metal", "steel" -> "metal", "copper" -> "metal",
          "anodized" -> "coated", "polished" -> "coated")).as("canon"))
      .orderBy("p_partkey"))

  /** F13: content fingerprint via md5. */
  val f13Md5 = Q("f13_md5_fingerprint",
    Some("""SELECT doc_id, md5(concat(lower(text), '|', lang)) AS fp
            FROM documents ORDER BY doc_id"""),
    (s, d) => documents(s, d)
      .select(col("doc_id"), graft.ops.Chunking.fingerprint(lower(col("text")), lit("|"), col("lang")).as("fp"))
      .orderBy("doc_id"))

  /** F14: id-from-filename normalization. */
  val f14IdFromName = Q("f14_id_from_filename",
    Some("""SELECT doc_id, regexp_replace(regexp_extract(concat(source, '/report ', CAST(doc_id AS VARCHAR), ' final.pdf'), '([^/]+)\.pdf$', 1), '[ \-]+', '_', 'g') AS stem_id
            FROM documents ORDER BY doc_id"""),
    (s, d) => documents(s, d)
      .select(col("doc_id"),
        regexp_replace(
          regexp_extract(concat(col("source"), lit("/report "), col("doc_id").cast("string"), lit(" final.pdf")), "([^/]+)\\.pdf$", 1),
          "[ \\-]+", "_").as("stem_id"))
      .orderBy("doc_id"))

  /** F21/F20: JSON extraction from the events props column. */
  val f21Json = Q("f21_json_extract",
    Some("""SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
            FROM events ORDER BY event_id"""),
    (s, d) => events(s, d)
      .select(col("event_id"), get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .orderBy("event_id"))

  /** Language ID (prompt: text analysis) — stopword-profile scoring,
    * checked against the labeled lang column. */
  val x1LangAgg = Q("x1_token_stats",
    Some("""SELECT lang, count(*) AS n_docs,
            CAST(sum(len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))) AS BIGINT) AS total_tokens,
            CAST(CAST(sum(length(text)) AS BIGINT) AS DOUBLE) / count(*) AS avg_chars
            FROM documents GROUP BY lang ORDER BY lang"""),
    (s, d) => documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("total_tokens"),
        (sum(length(col("text"))).cast("long").cast("double") / count(lit(1))).as("avg_chars"))
      .orderBy("lang"))

  /** Repetition stats (Gopher-style quality filters): duplicate-word
    * fraction, top-bigram fraction, longest same-token run — the
    * training-data repetition signals, as explode+window+agg (shuffles on
    * doc_id, no per-row quadratic array work). */
  val x5Repetition = Q("x5_repetition_stats",
    Some("""WITH t AS (
              SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
              FROM documents),
            e AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos FROM t),
            s2 AS (
              SELECT doc_id, pos, w,
                lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt,
                CASE WHEN lag(w) OVER (PARTITION BY doc_id ORDER BY pos) = w THEN 0 ELSE 1 END AS brk
              FROM e),
            r AS (SELECT doc_id, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id FROM s2),
            runs AS (
              SELECT doc_id, CAST(max(run_len) AS BIGINT) AS max_run FROM (
                SELECT doc_id, run_id, count(*) AS run_len FROM r GROUP BY doc_id, run_id) z
              GROUP BY doc_id),
            words AS (SELECT doc_id, count(*) AS n_tokens, count(DISTINCT w) AS n_distinct FROM e GROUP BY doc_id),
            bgs AS (
              SELECT doc_id, max(n) AS max_bg, sum(n) AS tot_bg FROM (
                SELECT doc_id, concat(w, ' ', nxt) AS g, count(*) AS n FROM s2 WHERE nxt IS NOT NULL
                GROUP BY doc_id, g) z
              GROUP BY doc_id)
            SELECT words.doc_id, n_tokens,
              CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens AS dup_word_frac,
              coalesce(CAST(max_bg AS DOUBLE) / tot_bg, 0.0) AS top_bigram_frac,
              max_run
            FROM words JOIN runs ON words.doc_id = runs.doc_id
            LEFT JOIN bgs ON words.doc_id = bgs.doc_id
            ORDER BY words.doc_id"""),
    (s, d) => TextAnalysis.repetitionStats(documents(s, d), col("doc_id"), col("text"))
      .orderBy("doc_id"))

  /** KenLM-style LM quality scoring with a self-built unigram model:
    * add-one-smoothed mean token log-probability per document — the
    * perplexity filter of CCNet/Gopher pipelines, minus the external
    * model. Scale shape: the model is ONE word-count aggregate (vocab-
    * bounded, broadcastable at any corpus size); scoring is a token→count
    * equi-join + per-doc aggregate. Both engines compute
    * (Σ ln(c+1) − n·ln(N+V))/n and round to 6dp. The Σ runs in
    * DECIMAL(25,15) — a raw double sum picks up the shuffle's reduction
    * order, which differs from the oracle's sequential sum (the d9 rule;
    * at 6-dp rounding the drift only bites at a boundary, but a flaky
    * gate is the worst failure mode). */
  /** The x8 unigram score as a shared CTE chain ending at
    * `sc8(doc_id, mean_logprob, n_tokens)` — ONE copy for x8 and the sel2
    * perplexity bucketing, so the bucket cuts provably bucket the same
    * score x8 emits (the qualityCtes/x14 convention). */
  private val unigramCtes: String =
    """t8 AS (
              SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS w
              FROM documents),
            cnt8 AS (SELECT w, count(*) AS c FROM t8 GROUP BY w),
            tot8 AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total, CAST(count(*) AS DOUBLE) AS v FROM cnt8),
            sc8 AS (
              SELECT doc_id,
                round((CAST(sum(CAST(ln(c + 1) AS DECIMAL(25,15))) AS DOUBLE) - count(*) * ln(n_total + v)) / count(*), 6) AS mean_logprob,
                CAST(count(*) AS BIGINT) AS n_tokens
              FROM t8 JOIN cnt8 USING (w) CROSS JOIN tot8
              GROUP BY doc_id, n_total, v)"""

  /** The x8 Spark plan, shared with sel2 (same single-copy rule). */
  private def unigramScored(s: org.apache.spark.sql.SparkSession, d: String) = {
    val toks = documents(s, d).select(col("doc_id"),
      explode(filter(split(lower(col("text")), "\\s+"), t => t =!= "")).as("w"))
    val counts = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum("c").cast("double").as("n_total"),
      count(lit(1)).cast("double").as("v"))
    toks.join(counts, "w")
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(round((sum(log(col("c") + 1).cast("decimal(25,15)")).cast("double")
          - count(lit(1)) * log(first(col("n_total")) + first(col("v"))))
          / count(lit(1)), 6).as("mean_logprob"),
        count(lit(1)).as("n_tokens"))
  }

  val x8Unigram = Q("x8_unigram_logprob",
    Some(s"""WITH $unigramCtes
            SELECT doc_id, mean_logprob, n_tokens FROM sc8 ORDER BY doc_id"""),
    (s, d) => unigramScored(s, d).orderBy("doc_id"))

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): split the
    * corpus into head/middle/tail by LM-score terciles — the data-selection
    * pass that keeps the fluent third of a crawl. Higher mean log-prob =
    * lower perplexity = head. Cuts come from ONE exact-percentile
    * aggregate over the 6-dp-rounded x8 score (two doubles, broadcast) and
    * assignment is a map-only strict-< comparison — never a corpus-wide
    * ntile (the x14 rule: a global rank serializes at scale). */
  val sel2Perplexity = Q("sel2_perplexity_buckets",
    Some(s"""WITH $unigramCtes,
            cuts AS (SELECT [round(quantile_cont(mean_logprob, 1.0/3), 6),
                             round(quantile_cont(mean_logprob, 2.0/3), 6)] AS cs FROM sc8)
            SELECT doc_id, mean_logprob,
              CASE len(list_filter(cs, c -> c < mean_logprob))
                   WHEN 2 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
            FROM sc8 CROSS JOIN cuts ORDER BY doc_id"""),
    (s, d) => {
      val scored = unigramScored(s, d).select(col("doc_id"), col("mean_logprob"))
      val cuts = scored.agg(array(
        round(percentile(col("mean_logprob"), lit(1.0) / 3), 6),
        round(percentile(col("mean_logprob"), lit(2.0) / 3), 6)).as("cs"))
      val nBelow = size(filter(col("cs"), c => c < col("mean_logprob")))
      scored.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("mean_logprob"),
          when(nBelow === 2, "head").when(nBelow === 1, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    })

  /** Stratified deterministic sampling — the data-mixing primitive:
    * per-language keep rates via seedless md5 thresholds, so the same doc
    * always samples the same way in any engine. */
  val x6Sample: Q = {
    val rates = Seq("en" -> 0.5, "zh" -> 0.25)
    val defaultRate = 0.1
    val caseSql = rates.map { case (s, r) =>
      s"WHEN '$s' THEN '${TextAnalysis.hexThreshold(r)}'"
    }.mkString("CASE lang ", " ", s" ELSE '${TextAnalysis.hexThreshold(defaultRate)}' END")
    Q("x6_stratified_sample",
      Some(s"""SELECT doc_id, lang FROM documents
               WHERE md5(CAST(doc_id AS VARCHAR)) < $caseSql
               ORDER BY doc_id"""),
      (s, d) => TextAnalysis.sampleByStrata(documents(s, d), col("doc_id"), col("lang"),
          rates, defaultRate)
        .select("doc_id", "lang").orderBy("doc_id"))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis): top-50
    * by `ln(u)/w` with the deterministic md5 uniform and w = n_chars —
    * longer docs proportionally likelier, yet seedless and rerun-stable.
    * Map-only key + TakeOrderedAndProject; the oracle rebuilds the same
    * uniform with a strpos hex fold. Keys are 10-dp-rounded before
    * ranking so libm ln drift cannot reorder the cutoff. */
  val x17Weighted = Q("x17_weighted_sample",
    Some("""WITH h AS (SELECT doc_id, n_chars,
              list_sum(list_transform(range(1, 9),
                j -> CAST((strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[j]) - 1) AS BIGINT)
                     << (4 * (8 - CAST(j AS INT))))) AS hv
              FROM documents),
            k AS (SELECT doc_id, n_chars,
              round(ln((CAST(hv AS DOUBLE) + 0.5) / 4294967296.0) / CAST(n_chars AS DOUBLE), 10) AS es_key
              FROM h)
            SELECT doc_id, n_chars, es_key FROM k
            ORDER BY es_key DESC, doc_id LIMIT 50"""),
    (s, d) => TextAnalysis.weightedSample(documents(s, d), col("doc_id"), col("n_chars"), 50)
      .select("doc_id", "n_chars", "es_key")
      .orderBy(col("es_key").desc, col("doc_id")))

  /** Per-language weighted sample (x17's key, stratified): top-5 ES keys
    * within each lang — the "k docs per language, longer docs likelier"
    * mixing primitive. The rank window partitions by lang
    * (WindowGroupLimit per-partition heaps, no global window). */
  val x18WeightedGroup = Q("x18_group_weighted_sample",
    Some("""WITH h AS (SELECT doc_id, lang, n_chars,
              list_sum(list_transform(range(1, 9),
                j -> CAST((strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[j]) - 1) AS BIGINT)
                     << (4 * (8 - CAST(j AS INT))))) AS hv
              FROM documents),
            k AS (SELECT doc_id, lang, n_chars,
              round(ln((CAST(hv AS DOUBLE) + 0.5) / 4294967296.0) / CAST(n_chars AS DOUBLE), 10) AS es_key
              FROM h),
            r AS (SELECT doc_id, lang, n_chars, es_key,
              row_number() OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id) AS rn FROM k)
            SELECT doc_id, lang, n_chars, es_key FROM r WHERE rn <= 5
            ORDER BY lang, es_key DESC, doc_id"""),
    (s, d) => TextAnalysis.weightedSamplePerGroup(documents(s, d), col("doc_id"), col("lang"),
        col("n_chars"), 5)
      .select("doc_id", "lang", "n_chars", "es_key")
      .orderBy(col("lang"), col("es_key").desc, col("doc_id")))

  /** Subword (BPE-ish) counting. */
  val x3Subword = Q("x3_subword_count",
    Some("""SELECT doc_id,
            len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_subwords
            FROM documents ORDER BY doc_id"""),
    (s, d) => documents(s, d)
      .select(col("doc_id"), TextAnalysis.subwordCount(col("text")).as("n_subwords"))
      .orderBy("doc_id"))

  /** Character-level Shannon entropy per doc — the compression-flavored
    * quality gate (high = binary junk/random, low = repeated
    * boilerplate). One (doc, char) hash aggregate over the per-doc
    * alphabet; terms 12-dp-rounded then DECIMAL-summed (the dom4 KL
    * discipline) so reduction order never reaches the hash; nats and
    * bits (÷ the exact ln 2 literal in BOTH engines) both emitted. */
  val x20CharEntropy = Q("x20_char_entropy",
    Some("""WITH ch AS (SELECT doc_id,
              unnest(list_transform(range(1, length(text) + 1),
                i -> substr(text, CAST(i AS INT), 1))) AS c
              FROM documents WHERE length(text) >= 1),
            cnt AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k FROM ch GROUP BY doc_id, c),
            tot AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS u
              FROM cnt GROUP BY doc_id),
            terms AS (SELECT doc_id, n, u,
                round(-(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                  * ln(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)), 12) AS term
              FROM cnt JOIN tot USING (doc_id)),
            e AS (SELECT doc_id, n, u, CAST(sum(CAST(term AS DECIMAL(25,15))) AS DOUBLE) AS h
              FROM terms GROUP BY doc_id, n, u)
            SELECT d.doc_id, coalesce(n, 0) AS n_chars, coalesce(u, 0) AS n_unique,
              round(coalesce(h, 0.0), 6) AS entropy_nats,
              round(coalesce(h, 0.0) / 0.6931471805599453, 6) AS bits_per_char
            FROM documents d LEFT JOIN e ON e.doc_id = d.doc_id ORDER BY d.doc_id"""),
    (s, d) => {
      // §2.5: the per-char histogram is the query's whole compute and ran
      // on the single-file scan's one task — spread first (no-op at scale)
      val e = TextAnalysis.charEntropy(
        TextAnalysis.spreadSmallInput(documents(s, d)), col("doc_id"), col("text"))
      documents(s, d).select(col("doc_id"))
        .join(e.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n"), lit(0L)).cast("long").as("n_chars"),
          coalesce(col("u"), lit(0L)).cast("long").as("n_unique"),
          round(coalesce(col("h"), lit(0.0)), 6).as("entropy_nats"),
          round(coalesce(col("h"), lit(0.0)) / lit(0.6931471805599453), 6).as("bits_per_char"))
        .orderBy("doc_id")
    })

  /** Safety wordlist filter with obfuscation folding — the blocklist
    * pass every production corpus runs, made non-trivial the way real
    * content evades it: leet-speak substitutions (0→o, 1→i, 3→e, @→a,
    * $→s) are folded by one codegen'd `translate` BEFORE tokenize +
    * blocklist intersection, so 't0x1n' and 'v1per' hit the same list as
    * their plain forms. Planted occurrences: obfuscated every 4th doc,
    * plain every 4th+1, the rest must stay clean — both the catch and
    * the no-false-positive side are in the hash. Map-only at any corpus
    * size. */
  val x21Safety: Q = {
    val wordlist = Seq("toxin", "viper")
    val wlSql = wordlist.map(w => s"'$w'").mkString("[", ", ", "]")
    Q("x21_safety_wordlist",
      Some(s"""WITH t AS (SELECT doc_id,
                concat(text, CASE WHEN doc_id % 4 = 0 THEN ' t0x1n and v1per w@rning'
                                  WHEN doc_id % 4 = 1 THEN ' toxin plainly'
                                  ELSE '' END) AS raw
              FROM documents),
            n AS (SELECT doc_id,
                list_filter(string_split_regex(translate(lower(raw), '013@$$', 'oieas'), '\\s+'),
                  x -> x <> '') AS toks
              FROM t)
            SELECT doc_id,
              CAST(len(list_filter(toks, x -> list_contains($wlSql, x))) AS BIGINT) AS n_hits,
              len(list_filter(toks, x -> list_contains($wlSql, x))) >= 1 AS flagged
            FROM n ORDER BY doc_id"""),
      (s, d) => {
        val raw = concat(col("text"),
          when(col("doc_id") % 4 === 0, " t0x1n and v1per w@rning")
            .when(col("doc_id") % 4 === 1, " toxin plainly").otherwise(""))
        val toks = filter(split(translate(lower(raw), "013@$", "oieas"), "\\s+"), t => t =!= "")
        val wl = array(wordlist.map(lit): _*)
        val hits = size(filter(toks, x => array_contains(wl, x)))
        documents(s, d)
          .select(col("doc_id"), hits.cast("long").as("n_hits"), (hits >= 1).as("flagged"))
          .orderBy("doc_id")
      })
  }

  /** Aho–Corasick blocklist tagging — x21's scale successor: one compiled
    * O(text + matches) automaton pass counts ALL occurrences (overlapping
    * AND nested — the blocklist here is a deliberate substring chain
    * spark ⊃ park ⊃ ark ⊃ ar, t ⊂ tab ⊂ table, str ⊂ stream ⊅ ream —
    * so the dict-suffix links are load-bearing in the hash, not just the
    * trie). The oracle replays the pinned position-scan definition per
    * pattern; the full per-pattern counts array is in the output, so one
    * miscounted nested match anywhere hash-fails. Map-only at any corpus
    * size; the automaton builds once at plan time and rides the plan,
    * O(text) per row regardless of dictionary size (vs the O(text ×
    * patterns) regex loop the reference runs).
    *
    * The per-pattern counts vector is serialized as a JSON string
    * (`to_json` in both engines) rather than `array<int>`: the driver's
    * oracle harness canonical-sorts result rows via pandas, which cannot
    * lexsort an array column — the full counts information stays in the
    * hash, just as a driver-sortable scalar. */
  val x30Blocklist: Q = {
    val pats = Seq("spark", "park", "ark", "ar", "tab", "table", "t", "str", "stream", "ream", "a")
    val patSqlList = pats.map(p => s"'$p'").mkString("[", ", ", "]")
    val cntExprs = pats.map(p =>
      s"len(list_filter(range(1, len(s) - ${p.length} + 2), i -> substr(s, CAST(i AS INT), ${p.length}) = '$p'))")
      .mkString("[", ",\n              ", "]")
    Q("x30_blocklist_hits",
      Some(s"""WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
            c AS (SELECT doc_id, $cntExprs AS cnts FROM t)
            SELECT doc_id,
              CAST(to_json(list_transform(cnts, x -> CAST(x AS INT))) AS VARCHAR) AS counts,
              CAST(list_aggregate(cnts, 'sum') AS BIGINT) AS total_hits,
              CAST(len(list_filter(cnts, x -> x > 0)) AS INT) AS n_terms,
              ($patSqlList)[CAST(list_position(cnts, list_aggregate(cnts, 'max')) AS INT)] AS top_term
            FROM c ORDER BY doc_id"""),
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val patsArr = array(pats.map(lit): _*)
        documents(s, d)
          .withColumn("counts", call_function("ac_counts", lower(col("text")), patsArr))
          .select(col("doc_id"), to_json(col("counts")).as("counts"),
            aggregate(col("counts"), lit(0L), (acc, x) => acc + x).as("total_hits"),
            size(filter(col("counts"), x => x > 0)).as("n_terms"),
            element_at(patsArr,
              array_position(col("counts"), array_max(col("counts"))).cast("int")).as("top_term"))
          .orderBy("doc_id")
      })
  }

  /** Deterministic sentence-structure synthesis: the corpus text is
    * terminator-free word salad, so sentence boundaries are planted
    * identically in both engines — every 9th token gains a terminator,
    * cycling . ! ? by sentence index (the x21/pii1 oracle-strong fixture
    * pattern). */
  private val punctSql =
    """array_to_string(list_transform(range(1, len(toks) + 1),
         i -> concat(toks[i], CASE WHEN (i - 1) % 9 = 8
           THEN ['.', '!', '?'][((i - 1) // 9) % 3 + 1] ELSE '' END)), ' ')"""
  private def punctText: org.apache.spark.sql.Column = {
    val toks = filter(split(col("text"), "\\s+"), t => t =!= "")
    concat_ws(" ", transform(toks, (t, i) =>
      concat(t, when(i % 9 === 8,
        element_at(array(lit("."), lit("!"), lit("?")),
          (floor(i / lit(9)) % 3 + 1).cast("int")))
        .otherwise(lit("")))))
  }

  /** Flesch reading-ease banding (prompt: text analysis / quality
    * scoring) — readability over the synthesized-punctuation text via
    * [[TextAnalysis.fleschStats]]: terminator-run sentences, letter-only
    * words, vowel-group syllables, the classic 206.835 − 1.015·wps −
    * 84.6·spw score banded easy/medium/hard ON THE 6-DP-ROUNDED value
    * (so a band boundary cannot drift between engines). Map-only. */
  val x22Readability = Q("x22_readability",
    Some(s"""WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks FROM documents),
            p AS (SELECT doc_id, $punctSql AS ptext FROM t),
            w AS (SELECT doc_id, ptext,
                list_filter(list_transform(
                  list_filter(string_split_regex(lower(ptext), '\\s+'), x -> x <> ''),
                  x -> regexp_replace(x, '[^a-z]', '', 'g')), x -> x <> '') AS words
              FROM p),
            st AS (SELECT doc_id,
                CAST(greatest(len(regexp_extract_all(ptext, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
                CAST(len(words) AS BIGINT) AS n_words,
                coalesce(CAST(list_sum(list_transform(words,
                  x -> greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1))) AS BIGINT), 0) AS n_syllables
              FROM w),
            f AS (SELECT doc_id, n_sentences, n_words, n_syllables,
                round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                  - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE)), 6) AS flesch
              FROM st)
            SELECT doc_id, n_sentences, n_words, n_syllables, flesch,
              CASE WHEN flesch >= 60 THEN 'easy' WHEN flesch >= 30 THEN 'medium' ELSE 'hard' END AS band
            FROM f ORDER BY doc_id"""),
    (s, d) => documents(s, d)
      // two-stage select: the synthesized text materializes once, not
      // per fleschStats sub-expression (the ev6/m6 re-inlining trap)
      .select(col("doc_id"), punctText.as("ptext"))
      .select(col("doc_id"), TextAnalysis.fleschStats(col("ptext")).as("st"))
      .select(col("doc_id"), col("st.n_sentences").as("n_sentences"),
        col("st.n_words").as("n_words"), col("st.n_syllables").as("n_syllables"),
        col("st.flesch").as("flesch"))
      .withColumn("band", when(col("flesch") >= 60, "easy")
        .when(col("flesch") >= 30, "medium").otherwise("hard"))
      .orderBy("doc_id"))

  /** Length winsorization — outlier clipping at the p05/p95 cuts (the
    * tail-taming a loss-weighted sampler or length-bucketed batcher runs
    * first). ONE percentile aggregate broadcasts two scalars; the clip
    * itself is map-only — the x14 cut-table shape. */
  val x23Winsorize = Q("x23_winsorize_length",
    Some("""WITH cuts AS (SELECT round(quantile_cont(CAST(n_chars AS DOUBLE), 0.05), 6) AS lo,
                round(quantile_cont(CAST(n_chars AS DOUBLE), 0.95), 6) AS hi FROM documents)
            SELECT doc_id, n_chars,
              round(least(greatest(CAST(n_chars AS DOUBLE), lo), hi), 6) AS clipped,
              (CAST(n_chars AS DOUBLE) < lo OR CAST(n_chars AS DOUBLE) > hi) AS is_clipped
            FROM documents CROSS JOIN cuts ORDER BY doc_id"""),
    (s, d) => {
      val cuts = documents(s, d).agg(
        round(percentile(col("n_chars").cast("double"), lit(0.05)), 6).as("lo"),
        round(percentile(col("n_chars").cast("double"), lit(0.95)), 6).as("hi"))
      documents(s, d).crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("n_chars"),
          round(least(greatest(col("n_chars").cast("double"), col("lo")), col("hi")), 6).as("clipped"),
          (col("n_chars").cast("double") < col("lo")
            || col("n_chars").cast("double") > col("hi")).as("is_clipped"))
        .orderBy("doc_id")
    })

  /** Distinct-n diversity (Li et al. 2016, the text-generation degeneracy
    * metric) via [[TextAnalysis.distinctN]] — unique/total unigram and
    * bigram ratios per doc; bigrams are a zip_with over two token-list
    * slices (no explode, no shuffle), d2 NULL below 2 tokens. */
  val x24DistinctN = Q("x24_distinct_n",
    Some(s"""WITH t AS (SELECT doc_id, ${graft.queries.OracleSql.toksSql} AS toks FROM documents),
            b AS (SELECT doc_id, toks,
                CASE WHEN len(toks) >= 2
                  THEN list_transform(range(1, len(toks)), i -> concat(toks[i], ' ', toks[i + 1]))
                  ELSE CAST([] AS VARCHAR[]) END AS bg
              FROM t)
            SELECT doc_id,
              CAST(len(toks) AS BIGINT) AS n_unigrams,
              round(CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS d1,
              CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n_bigrams,
              CASE WHEN len(toks) >= 2
                THEN round(CAST(len(list_distinct(bg)) AS DOUBLE) / CAST(len(toks) - 1 AS DOUBLE), 6) END AS d2
            FROM b ORDER BY doc_id"""),
    (s, d) => documents(s, d)
      .select(col("doc_id"), TextAnalysis.distinctN(col("text")).as("dn"))
      .select(col("doc_id"), col("dn.n_unigrams").as("n_unigrams"), col("dn.d1").as("d1"),
        col("dn.n_bigrams").as("n_bigrams"), col("dn.d2").as("d2"))
      .orderBy("doc_id"))

  /** Abbreviation-aware sentence segmentation — the chunker's natural
    * boundary unit (sentence-boundary chunking beats fixed windows for
    * RAG). No lookaround (RE2 has none): known abbreviations' dots are
    * first swapped to a \u0001 marker (literal replace for the
    * two-dot e.g./i.e., one anchored regexp for single-dot titles), a
    * \u0002 marker is injected after each remaining terminator run, the
    * split restores the protected dots. Every 6th doc is prefixed with
    * an abbreviation-dense clause so the protection is load-bearing in
    * the hash. Map-only until the final explode. */
  /** The p16 sentence chain as shared CTEs ending at
    * `sen(doc_id, sent_idx, sentence, n_words)` — ONE copy for the split
    * gate and the p17 sentence-boundary chunker built on it. */
  private val sentenceCtes: String =
    s"""t AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks FROM documents),
            p AS (SELECT doc_id, concat(CASE WHEN doc_id % 6 = 0
                THEN 'dr. x no. 7 arrived? e.g. see fig. 2 then ' ELSE '' END, $punctSql) AS t0 FROM t),
            pr AS (SELECT doc_id,
                regexp_replace(
                  regexp_replace(
                    replace(replace(t0, 'e.g.', concat('e', chr(1), 'g', chr(1))),
                      'i.e.', concat('i', chr(1), 'e', chr(1))),
                    '(^|[ ])(dr|mr|mrs|ms|prof|etc|no|vs|fig)\\.', concat('\\1\\2', chr(1)), 'g'),
                  '([.!?]+) ', concat('\\1', chr(2)), 'g') AS t4
              FROM p),
            sp AS (SELECT doc_id, list_filter(list_transform(string_split(t4, chr(2)),
                x -> trim(replace(x, chr(1), '.'))), x -> x <> '') AS ss FROM pr),
            se AS (SELECT doc_id, unnest(list_transform(range(1, len(ss) + 1),
                i -> {'idx': i - 1, 's': ss[i]})) AS u FROM sp),
            sen AS (SELECT doc_id, CAST(u.idx AS BIGINT) AS sent_idx, u.s AS sentence,
                CAST(len(list_filter(string_split_regex(u.s, '\\s+'), x -> x <> '')) AS BIGINT) AS n_words
              FROM se)"""

  /** The Spark half of the shared sentence chain (same contract as the
    * `sen` CTE). */
  private def sentencesDf(s: org.apache.spark.sql.SparkSession, d: String) = {
    val prefix = when(col("doc_id") % 6 === 0,
      lit("dr. x no. 7 arrived? e.g. see fig. 2 then ")).otherwise(lit(""))
    val t0 = concat(prefix, punctText)
    val t2 = replace(replace(t0, lit("e.g."), lit("e\u0001g\u0001")),
      lit("i.e."), lit("i\u0001e\u0001"))
    val t3 = regexp_replace(t2, "(^|[ ])(dr|mr|mrs|ms|prof|etc|no|vs|fig)\\.", "$1$2\u0001")
    val t4 = regexp_replace(t3, "([.!?]+) ", "$1\u0002")
    val ss = filter(transform(split(t4, "\u0002"),
      x => trim(replace(x, lit("\u0001"), lit(".")))), x => x =!= "")
    documents(s, d).select(col("doc_id"), posexplode(ss).as(Seq("sent_idx", "sentence")))
      .select(col("doc_id"), col("sent_idx").cast("long").as("sent_idx"), col("sentence"),
        size(filter(split(col("sentence"), "\\s+"), x => x =!= "")).cast("long").as("n_words"))
  }

  val p16SentenceSplit: Q = Q("p16_sentence_split",
    Some(s"""WITH $sentenceCtes
            SELECT doc_id, sent_idx, sentence, n_words
            FROM sen ORDER BY doc_id, sent_idx"""),
    (s, d) => sentencesDf(s, d).orderBy("doc_id", "sent_idx"))

  /** Sentence-boundary chunking — the RAG chunker p16 exists for:
    * sentences fill a 40-word budget greedily (never splitting a
    * sentence), via the SAME exact stateful scan as w4/x7
    * ([[graft.ops.Chunking.chunkIdExact]], one flatMapGroups stream per
    * doc — fully distributed, keyed by doc); the oracle replays the
    * recursion as a recursive CTE over the shared sentence chain. */
  val p17SentenceChunks: Q = Q("p17_sentence_chunks",
    Some(s"""WITH RECURSIVE $sentenceCtes,
            base AS (SELECT doc_id, sent_idx, n_words,
                row_number() OVER (PARTITION BY doc_id ORDER BY sent_idx) AS rn FROM sen),
            scan AS (
              SELECT doc_id, rn, sent_idx,
                CASE WHEN n_words > 40 THEN 1 ELSE 0 END AS chunk,
                CAST(n_words AS BIGINT) AS run
              FROM base WHERE rn = 1
              UNION ALL
              SELECT b.doc_id, b.rn, b.sent_idx,
                s.chunk + CASE WHEN s.run + b.n_words > 40 THEN 1 ELSE 0 END,
                CASE WHEN s.run + b.n_words > 40 THEN b.n_words ELSE s.run + b.n_words END
              FROM scan s JOIN base b ON b.doc_id = s.doc_id AND b.rn = s.rn + 1)
            SELECT sc.doc_id, CAST(sc.chunk AS BIGINT) AS chunk_id,
              CAST(count(*) AS BIGINT) AS n_sentences,
              CAST(sum(sen.n_words) AS BIGINT) AS n_words,
              CAST(min(sc.sent_idx) AS BIGINT) AS first_sent_idx
            FROM scan sc JOIN sen ON sen.doc_id = sc.doc_id AND sen.sent_idx = sc.sent_idx
            GROUP BY sc.doc_id, sc.chunk ORDER BY sc.doc_id, chunk_id"""),
    (s, d) => {
      val sent = sentencesDf(s, d)
      val chunked = graft.ops.Chunking.chunkIdExact(
          sent.withColumn("brk", lit(false)), "doc_id", "sent_idx", "n_words", "brk", maxChars = 40)
        .select(col("doc_id").cast("long").as("doc_id"), col("sent_idx"), col("chunk_id"))
      chunked.join(sent, Seq("doc_id", "sent_idx"))
        .groupBy("doc_id", "chunk_id")
        .agg(count(lit(1)).as("n_sentences"), sum("n_words").as("n_words"),
          min("sent_idx").as("first_sent_idx"))
        .select(col("doc_id"), col("chunk_id"), col("n_sentences"),
          col("n_words").cast("long").as("n_words"), col("first_sent_idx"))
        .orderBy("doc_id", "chunk_id")
    })

  /** Answer attribution / span grounding — the citation step behind the
    * reference's sources projection (`backend/services/rag.py` returns
    * source chunks with every answer): given a claim, find the sentence
    * that SUPPORTS it, as argmax of SQuAD multiset-token F1 (the ev6
    * metric) over the doc's p16 sentence chain. The claim is synthesized
    * from sentence (doc_id mod n_sentences) — first 6 tokens + one noise
    * token — so `attributed` (best == target) is load-bearing: a ranking
    * slip, an F1 direction swap, or a tie-break drift hash-fails.
    * Per-sentence F1 is a bounded HOF fold (claims are ≤ 7 tokens —
    * explode-join would shuffle more than it saves here, the inverse of
    * the ev6 call); the argmax is a doc-partitioned window. */
  val ask5Attribution: Q = {
    def f1Sql(pred: String, gold: String) = {
      val ov = s"""coalesce(CAST(list_sum(list_transform(list_distinct($pred),
            tk -> least(len(list_filter($pred, x -> x = tk)),
                        len(list_filter($gold, x -> x = tk))))) AS BIGINT), 0)"""
      s"""CASE WHEN $ov = 0 THEN 0.0 ELSE
            round(2.0 * (CAST($ov AS DOUBLE) / CAST(greatest(len($pred), 1) AS DOUBLE))
              * (CAST($ov AS DOUBLE) / CAST(greatest(len($gold), 1) AS DOUBLE))
              / ((CAST($ov AS DOUBLE) / CAST(greatest(len($pred), 1) AS DOUBLE))
                + (CAST($ov AS DOUBLE) / CAST(greatest(len($gold), 1) AS DOUBLE))), 6) END"""
    }
    Q("ask5_attribution",
      Some(s"""WITH $sentenceCtes,
            ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sent FROM sen GROUP BY doc_id),
            tgt AS (SELECT sen.doc_id, sen.sent_idx AS target_idx,
                list_append(list_filter(string_split_regex(lower(sen.sentence), '\\s+'), x -> x <> '')[1:6], 'zz') AS claim
              FROM sen JOIN ns ON ns.doc_id = sen.doc_id AND sen.sent_idx = sen.doc_id % ns.n_sent),
            scored AS (SELECT sen.doc_id, t.target_idx, sen.sent_idx,
                ${f1Sql("t.claim", "list_filter(string_split_regex(lower(sen.sentence), '\\s+'), x -> x <> '')")} AS f1
              FROM sen JOIN tgt t ON t.doc_id = sen.doc_id),
            ranked AS (SELECT doc_id, target_idx, sent_idx, f1,
                row_number() OVER (PARTITION BY doc_id ORDER BY f1 DESC, sent_idx) AS rn
              FROM scored)
            SELECT doc_id, target_idx, sent_idx AS best_idx, f1 AS best_f1,
              sent_idx = target_idx AS attributed
            FROM ranked WHERE rn = 1 ORDER BY doc_id"""),
      (s, d) => {
        val sent = sentencesDf(s, d).select(col("doc_id"), col("sent_idx"),
          TextAnalysis.tokens(col("sentence")).as("toks"))
        val ns = sent.groupBy("doc_id").agg(count(lit(1)).as("n_sent"))
        val tgt = sent.join(ns, "doc_id")
          .filter(col("sent_idx") === col("doc_id") % col("n_sent"))
          .select(col("doc_id"), col("sent_idx").as("target_idx"),
            concat(slice(col("toks"), 1, 6), array(lit("zz"))).as("claim"))
        val pred = col("claim"); val gold = col("toks")
        val ov = coalesce(aggregate(array_distinct(pred), lit(0L), (acc, tk) =>
          acc + least(size(filter(pred, x => x === tk)), size(filter(gold, x => x === tk)))), lit(0L))
        val scored = sent.join(tgt, "doc_id").withColumn("ov", ov)
        val prec = col("ov").cast("double") / greatest(size(pred), lit(1)).cast("double")
        val rec = col("ov").cast("double") / greatest(size(gold), lit(1)).cast("double")
        val f1 = when(col("ov") === 0, 0.0)
          .otherwise(round(lit(2.0) * prec * rec / (prec + rec), 6))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("f1").desc, col("sent_idx"))
        scored.withColumn("f1", f1)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("target_idx"), col("sent_idx").as("best_idx"),
            col("f1").as("best_f1"), (col("sent_idx") === col("target_idx")).as("attributed"))
          .orderBy("doc_id")
      })
  }

  /** Deflate compression-ratio signal via
    * [[TextAnalysis.compressionStage]] — the LZ-window repetition tell
    * that catches long-range redundancy per-char entropy (x20) cannot.
    * Every 5th doc is planted as one 30-char phrase pasted 40 times, so
    * the repetitive band is non-empty and the flag non-vacuous.
    * Rows-only by necessity (no Deflate in DuckDB SQL — the a12/f9b
    * precedent); ratio ordering, determinism, and null edges are pinned
    * by Round6Spec, and NoOracleSpec checks ratio = compressed_len /
    * raw_len (6 places) on every row and the flag on every planted doc. */
  val x25Compression = Q("x25_compression_ratio", None,
    (s, d) => {
      val planted = documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat_ws(" ", transform(sequence(lit(1), lit(40)), _ => substring(col("text"), 1, 30))))
          .otherwise(col("text")).as("t"))
      TextAnalysis.compressionStage(planted, "t")
        .select(col("doc_id"), col("raw_len"), col("compressed_len"), col("ratio"),
          (col("ratio") < 0.2).as("is_repetitive"))
        .orderBy("doc_id")
    })

  /** Vocabulary coverage / OOV rate — the tokenizer-fit diagnostic run
    * before committing a vocab to a corpus mix: the top-64 tokens by
    * global count (ties → token asc, so the cut is deterministic) become
    * the vocabulary; each source reports its out-of-vocabulary token
    * share. The vocab cut is a TakeOrderedAndProject (per-partition
    * heaps, the t1 shape) broadcast into one left join — no global sort,
    * no second corpus pass. */
  val tok5VocabCoverage = Q("tok5_vocab_coverage",
    Some(s"""WITH t AS (SELECT source, unnest(${graft.queries.OracleSql.toksSql}) AS tok FROM documents),
            vc AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
            vocab AS (SELECT tok FROM vc ORDER BY c DESC, tok LIMIT 64),
            j AS (SELECT t.source, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
                  FROM t LEFT JOIN vocab v ON v.tok = t.tok)
            SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(oov) AS BIGINT) AS n_oov,
              round(CAST(sum(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS oov_rate
            FROM j GROUP BY source ORDER BY source"""),
    (s, d) => {
      val t = documents(s, d)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val vocab = t.groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(64).select("tok")
      val j = t.join(broadcast(vocab.withColumn("_v", lit(1))), Seq("tok"), "left")
        .select(col("source"), when(col("_v").isNull, 1L).otherwise(0L).as("oov"))
      j.groupBy("source")
        .agg(count(lit(1)).as("n_tokens"), sum("oov").as("n_oov"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6).as("oov_rate"))
        .orderBy("source")
    })

  /** N-gram novelty rate — the ingest-order dedup accounting a rolling
    * corpus tracks (how much of each new doc is content never seen
    * before?): a 4-shingle is NOVEL in the doc where it first appears
    * (min doc_id over the corpus — one hash aggregate on the gram key),
    * and each doc reports its novel-gram share. Exact-dup docs score
    * 0.0 novelty, fresh docs 1.0; the signal that drives d8-style
    * incremental-dedup budgeting. One bounded-key shuffle (gram), one
    * join back, no windows. */
  val x28NgramNovelty = Q("x28_ngram_novelty",
    Some(s"""WITH t AS (SELECT doc_id, ${graft.queries.OracleSql.toksSql} AS toks FROM documents),
            g AS (SELECT doc_id, ${graft.queries.OracleSql.shinglesSql(4)} AS grams FROM t),
            ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
            first AS (SELECT gram, min(doc_id) AS first_doc FROM ex GROUP BY gram),
            per AS (SELECT ex.doc_id,
                CAST(count(*) AS BIGINT) AS n_grams,
                CAST(sum(CASE WHEN f.first_doc = ex.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
              FROM ex JOIN first f USING (gram) GROUP BY ex.doc_id)
            SELECT doc_id, n_grams, n_novel,
              round(CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS novelty
            FROM per ORDER BY doc_id"""),
    (s, d) => {
      val ex = documents(s, d)
        .select(col("doc_id"), explode(graft.ops.Dedup.wordShingles(col("text"), 4)).as("gram"))
      val first = ex.groupBy("gram").agg(min("doc_id").as("first_doc"))
      ex.join(first, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_grams").cast("double"), 6).as("novelty"))
        .orderBy("doc_id")
    })

  /** T5/UL2-style span corruption — the denoising-objective data prep:
    * fixed-width 5-token spans, every 4th span masked (25% noise
    * density), each masked run collapsed to one ordinal `<extra_id_k>`
    * sentinel in the input and expanded to `sentinel + tokens` in the
    * target. Pure HOF transforms over the token list (no explode, no
    * shuffle) — the 100 TB objective-building pass is a straight map. */
  val x26SpanCorruption = Q("x26_span_corruption",
    Some(s"""WITH t AS (SELECT doc_id, ${graft.queries.OracleSql.toksSql} AS toks FROM documents),
            e AS (SELECT doc_id, list_transform(range(1, len(toks) + 1), i -> {
                't': toks[i], 'm': ((i - 1) // 5) % 4 = 3,
                'k': ((i - 1) // 5) // 4, 'f': (i - 1) % 5 = 0 }) AS ms FROM t)
            SELECT doc_id,
              coalesce(array_to_string(list_filter(list_transform(ms, s ->
                CASE WHEN NOT s.m THEN s.t
                     WHEN s.f THEN concat('<extra_id_', CAST(s.k AS VARCHAR), '>')
                     ELSE NULL END), x -> x IS NOT NULL), ' '), '') AS corrupted,
              coalesce(array_to_string(list_filter(list_transform(ms, s ->
                CASE WHEN s.m AND s.f THEN concat('<extra_id_', CAST(s.k AS VARCHAR), '> ', s.t)
                     WHEN s.m THEN s.t ELSE NULL END), x -> x IS NOT NULL), ' '), '') AS target,
              CAST(len(list_filter(ms, s -> s.m)) AS BIGINT) AS n_masked,
              CAST(len(list_distinct(list_transform(list_filter(ms, s -> s.m), s -> s.k))) AS BIGINT) AS n_spans
            FROM e ORDER BY doc_id"""),
    (s, d) => {
      // materialize the marked list once — `ms` feeds four downstream
      // expressions, and an inline transform subtree would re-tokenize
      // per reference (the ev6/m6 re-inlining trap)
      val msExpr = transform(TextAnalysis.tokens(col("text")), (t, i) => {
        val span = floor(i / lit(5)).cast("long")
        struct(t.as("t"), (span % 4 === 3).as("m"),
          floor(span / lit(4)).cast("long").as("k"), (i % 5 === 0).as("f"))
      })
      val ms = col("ms")
      val corrupted = array_join(filter(transform(ms, e =>
        when(!e.getField("m"), e.getField("t"))
          .when(e.getField("f"),
            concat(lit("<extra_id_"), e.getField("k").cast("string"), lit(">")))),
        x => x.isNotNull), " ")
      val target = array_join(filter(transform(ms, e =>
        when(e.getField("m") && e.getField("f"),
          concat(lit("<extra_id_"), e.getField("k").cast("string"), lit("> "), e.getField("t")))
          .when(e.getField("m"), e.getField("t"))),
        x => x.isNotNull), " ")
      val masked = filter(ms, e => e.getField("m"))
      documents(s, d).select(col("doc_id"), msExpr.as("ms"))
        .select(col("doc_id"), corrupted.as("corrupted"), target.as("target"),
          size(masked).cast("long").as("n_masked"),
          size(array_distinct(transform(masked, e => e.getField("k")))).cast("long").as("n_spans"))
        .orderBy("doc_id")
    })

  /** Fill-in-the-middle transform (Bavarian et al. 2022) — the code-model
    * pretraining reorder: token range split 40/40/20 into prefix / middle
    * / suffix at exact integer cuts, emitted in PSM order with sentinel
    * markers plus the three segment lengths. Map-only substring
    * arithmetic on the token list. */
  val x27FimTransform = Q("x27_fim_transform",
    Some(s"""WITH t AS (SELECT doc_id, ${graft.queries.OracleSql.toksSql} AS toks FROM documents),
            c AS (SELECT doc_id, toks, (len(toks) * 2) // 5 AS a, (len(toks) * 4) // 5 AS b FROM t)
            SELECT doc_id,
              concat('<PRE> ', array_to_string(toks[1:a], ' '),
                ' <SUF> ', array_to_string(toks[b+1:len(toks)], ' '),
                ' <MID> ', array_to_string(toks[a+1:b], ' ')) AS fim_text,
              CAST(a AS BIGINT) AS n_prefix,
              CAST(b - a AS BIGINT) AS n_middle,
              CAST(len(toks) - b AS BIGINT) AS n_suffix
            FROM c ORDER BY doc_id"""),
    (s, d) => {
      val toks = TextAnalysis.tokens(col("text"))
      val n = size(toks)
      val a = floor((n * 2) / lit(5)).cast("int")
      val b = floor((n * 4) / lit(5)).cast("int")
      documents(s, d)
        .select(col("doc_id"), toks.as("toks"), a.as("a"), b.as("b"), n.as("n"))
        .select(col("doc_id"),
          concat(lit("<PRE> "), array_join(slice(col("toks"), lit(1), col("a")), " "),
            lit(" <SUF> "), array_join(slice(col("toks"), col("b") + 1, col("n") - col("b")), " "),
            lit(" <MID> "), array_join(slice(col("toks"), col("a") + 1, col("b") - col("a")), " ")).as("fim_text"),
          col("a").cast("long").as("n_prefix"),
          (col("b") - col("a")).cast("long").as("n_middle"),
          (col("n") - col("b")).cast("long").as("n_suffix"))
        .orderBy("doc_id")
    })

  /** PII scrub: the corpus text is deterministic word salad with no real
    * identifiers, so the PII-bearing text is synthesized from base columns
    * identically in both engines (the oracle-strong pattern), then redacted
    * and counted with the same RE2-compatible patterns. Rows with
    * doc_id % 3 = 0 carry a phone; every row carries an email + an IPv4. */
  val pii1Scrub: Q = {
    val email = graft.ops.Pii.EmailPattern
    val ip = graft.ops.Pii.Ipv4Pattern
    val phone = graft.ops.Pii.PhonePattern
    Q("pii1_scrub",
      Some(s"""WITH s AS (
                SELECT doc_id, concat('Reach u', doc_id, '@', source, '.example.com or ',
                  CASE WHEN doc_id % 3 = 0
                       THEN concat('+1-202-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
                       ELSE 'nobody' END,
                  ' via 10.', CAST(doc_id % 200 AS VARCHAR), '.0.',
                  CAST((doc_id * 7) % 250 AS VARCHAR), ' :: ', substr(text, 1, 40)) AS t
                FROM documents),
              r1 AS (SELECT doc_id, t, regexp_replace(t, '$email', '<EMAIL>', 'g') AS t1 FROM s),
              r2 AS (SELECT doc_id, t, t1, regexp_replace(t1, '$ip', '<IP>', 'g') AS t2 FROM r1)
              SELECT doc_id,
                regexp_replace(t2, '$phone', '<PHONE>', 'g') AS clean,
                len(regexp_extract_all(t, '$email')) AS n_emails,
                len(regexp_extract_all(t1, '$ip')) AS n_ips,
                len(regexp_extract_all(t2, '$phone')) AS n_phones
              FROM r2 ORDER BY doc_id"""),
      (s, d) => {
        val synth = concat(lit("Reach u"), col("doc_id").cast("string"), lit("@"),
          col("source"), lit(".example.com or "),
          when(col("doc_id") % 3 === 0,
            concat(lit("+1-202-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("nobody")),
          lit(" via 10."), (col("doc_id") % 200).cast("string"), lit(".0."),
          ((col("doc_id") * 7) % 250).cast("string"), lit(" :: "), substring(col("text"), 1, 40))
        val sc = graft.ops.Pii.scrub(synth)
        documents(s, d)
          .select(col("doc_id"), sc.getField("text").as("clean"),
            sc.getField("n_emails").cast("long").as("n_emails"),
            sc.getField("n_ips").cast("long").as("n_ips"),
            sc.getField("n_phones").cast("long").as("n_phones"))
          .orderBy("doc_id")
      })
  }

  /** Luhn-validated payment-card detection (ISO/IEC 7812) — the checksum
    * gate a real PII scrubber runs before redacting: a bare 13-19-digit
    * regex false-positives on order numbers and IDs, so candidates
    * (maximal digit runs, length-filtered — RE2-safe, no lookbehind) are
    * validated with Spark's built-in codegen'd `luhn_check`. Fixtures
    * plant a 16-digit number whose check digit is COMPUTED by the Luhn
    * arithmetic in both engines (corrupted +1 mod 10 every 3rd doc); the
    * oracle re-validates with its own independent digit-fold, so a
    * parity-offset bug in either direction hash-fails. The decoy order
    * number (9 digits) and ref (5) must not surface as candidates. */
  val pii2Luhn: Q = {
    def luhnSumSql(c: String, doubledParity: Int) =
      s"""CAST(list_sum(list_transform(range(1, length($c) + 1), i ->
            CASE WHEN i % 2 = $doubledParity THEN
              CASE WHEN CAST(substr(reverse($c), CAST(i AS INT), 1) AS INT) * 2 > 9
                   THEN CAST(substr(reverse($c), CAST(i AS INT), 1) AS INT) * 2 - 9
                   ELSE CAST(substr(reverse($c), CAST(i AS INT), 1) AS INT) * 2 END
            ELSE CAST(substr(reverse($c), CAST(i AS INT), 1) AS INT) END)) AS BIGINT)"""
    Q("pii2_luhn",
      Some(s"""WITH s AS (SELECT doc_id,
                lpad(CAST((doc_id * 7919 + 13) % 1000000000 AS VARCHAR), 15, '1') AS payload
              FROM documents),
            k AS (SELECT doc_id, payload,
                (10 - ${luhnSumSql("payload", 1)} % 10) % 10 AS chk
              FROM s),
            cards AS (SELECT doc_id, concat(payload,
                CAST(CASE WHEN doc_id % 3 = 0 THEN (chk + 1) % 10 ELSE chk END AS VARCHAR)) AS card
              FROM k),
            txt AS (SELECT doc_id, card,
                concat('order ', CAST(doc_id * 1000003 AS VARCHAR), ' card ', card, ' ref 12345') AS t
              FROM cards),
            cand AS (SELECT doc_id, t,
                list_filter(regexp_extract_all(t, '\\d+'), x -> length(x) >= 13 AND length(x) <= 19) AS cs
              FROM txt)
            SELECT doc_id, CAST(len(cs) AS BIGINT) AS n_candidates, cs[1] AS card,
              ${luhnSumSql("cs[1]", 0)} % 10 = 0 AS luhn_ok
            FROM cand ORDER BY doc_id"""),
      (s, d) => {
        val payload = lpad(((col("doc_id") * 7919 + 13) % 1000000000).cast("string"), 15, "1")
        val chk = graft.ops.Pii.luhnCheckDigit(payload)
        val card = concat(payload,
          when(col("doc_id") % 3 === 0, (chk + 1) % 10).otherwise(chk).cast("string"))
        val t = concat(lit("order "), (col("doc_id") * 1000003).cast("string"),
          lit(" card "), card, lit(" ref 12345"))
        documents(s, d)
          .withColumn("cs", graft.ops.Pii.cardCandidates(t))
          .select(col("doc_id"), size(col("cs")).cast("long").as("n_candidates"),
            element_at(col("cs"), 1).as("card"),
            graft.ops.Pii.luhnValid(element_at(col("cs"), 1)).as("luhn_ok"))
          .orderBy("doc_id")
      })
  }

  /** IBAN detection with the ISO 7064 mod-97-10 checksum (ISO 13616) —
    * the pii2 discipline for bank accounts: shape-matching candidates
    * ([A-Z]{2}\d{2}[A-Z0-9]{11,30}, RE2-safe) are only PII when the
    * rearranged+digitized value ≡ 1 mod 97, computed as the chunked
    * digit fold (34-char IBANs overflow int64). Fixtures COMPUTE valid
    * German IBAN check digits from arithmetic, corrupt the first BBAN
    * digit on every 4th doc (any single-digit bump shifts the residue —
    * 10^k mod 97 is never 0 — so invalidity is deterministic), and plant
    * a too-short decoy that must not surface as a candidate. The oracle
    * replays the fold with its own list_reduce. */
  val pii3Iban: Q = {
    def mod97Sql(x: String) =
      s"""list_reduce(list_prepend(0, list_transform(range(1, length($x) + 1),
            i -> CAST(($x)[CAST(i AS INT)] AS INT))), (acc, dg) -> (acc * 10 + dg) % 97)"""
    def digitizeSql(c: String) =
      s"""list_aggregate(list_transform(range(1, length($c) + 1),
            i -> CASE WHEN ($c)[CAST(i AS INT)] BETWEEN '0' AND '9' THEN ($c)[CAST(i AS INT)]
                      ELSE CAST(ascii(($c)[CAST(i AS INT)]) - 55 AS VARCHAR) END),
            'string_agg', '')"""
    Q("pii3_iban",
      Some(s"""WITH s AS (SELECT doc_id,
                concat(lpad(CAST((doc_id * 31) % 1000000 AS VARCHAR), 6, '0'),
                       lpad(CAST((doc_id * 77) % 1000000 AS VARCHAR), 6, '0'),
                       lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0')) AS bban
              FROM documents),
            k AS (SELECT doc_id, bban,
                lpad(CAST(98 - ${mod97Sql("concat(bban, '131400')")} AS VARCHAR), 2, '0') AS cc
              FROM s),
            ib AS (SELECT doc_id,
                concat('DE', cc,
                  CASE WHEN doc_id % 4 = 0
                       THEN concat(CAST((CAST(bban[1] AS INT) + 1) % 10 AS VARCHAR), substr(bban, 2, 17))
                       ELSE bban END) AS iban
              FROM k),
            txt AS (SELECT doc_id, concat('pay to ', iban, ' ref AB12SHORT end') AS t FROM ib),
            cand AS (SELECT doc_id,
                regexp_extract_all(t, '\\b[A-Z]{2}\\d{2}[A-Z0-9]{11,30}\\b') AS cs
              FROM txt),
            v AS (SELECT doc_id, cs, cs[1] AS iban,
                ${mod97Sql(s"(${digitizeSql("concat(substr(cs[1], 5), substr(cs[1], 1, 4))")})")} = 1 AS iban_valid
              FROM cand)
            SELECT doc_id, CAST(len(cs) AS BIGINT) AS n_candidates, iban, iban_valid
            FROM v ORDER BY doc_id"""),
      (s, d) => {
        import graft.ops.Pii
        // bind every intermediate to an ATTRIBUTE before the next fold:
        // mod97 over an inline ibanDigits(...) re-inlines the
        // regexp+digitize subtree into all ~34 fold steps (76 s/bench at
        // sf0.1 before binding — the m5/ev6 re-inlining lesson)
        val withBban = documents(s, d).withColumn("bban", concat(
          lpad(((col("doc_id") * 31) % 1000000).cast("string"), 6, "0"),
          lpad(((col("doc_id") * 77) % 1000000).cast("string"), 6, "0"),
          lpad((col("doc_id") % 1000000).cast("string"), 6, "0")))
        val bban = col("bban")
        // ibanCheckDigits nests digitize inside the mod-97 fold; binding
        // the digit string first keeps every fold step O(1)
        val withCc = withBban
          .withColumn("dg0", Pii.ibanDigits(concat(lit("DE00"), bban)))
          .withColumn("cc",
            lpad((lit(98) - Pii.mod97(col("dg0"))).cast("string"), 2, "0"))
        val bbanOut = when(col("doc_id") % 4 === 0,
            concat(((bban.substr(1, 1).cast("int") + 1) % 10).cast("string"), bban.substr(2, 17)))
          .otherwise(bban)
        val t = concat(lit("pay to "), concat(lit("DE"), col("cc"), bbanOut), lit(" ref AB12SHORT end"))
        withCc
          .withColumn("cs", Pii.ibanCandidates(t))
          .withColumn("iban", element_at(col("cs"), 1))
          .withColumn("dg", Pii.ibanDigits(col("iban")))
          .select(col("doc_id"), size(col("cs")).cast("long").as("n_candidates"),
            col("iban"), (Pii.mod97(col("dg")) === 1).as("iban_valid"))
          .orderBy("doc_id")
      })
  }

  /** BM25 keyword retrieval over the corpus: one-row stats agg (N, avgdl,
    * per-term df) broadcast into a map-only scoring scan, global top-15 via
    * TakeOrderedAndProject. The oracle SQL is generated from the SAME term
    * list and k1/b constants so the two expression trees are provably
    * identical; ranking happens on the 6-dp-rounded score (see
    * `Bm25.topK`). */
  val b1Bm25: Q = {
    val terms = Seq("spark", "join", "stream")
    val k1 = 1.2; val b = 0.75
    val dfsSql = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS df_$i"
    }.mkString(",\n                ")
    val termSql = terms.indices.map { i =>
      s"""ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5))
           * (tf_$i * ${k1 + 1.0}) / (tf_$i + $k1 * ((1.0 - $b) + $b * dl / avgdl))"""
    }.mkString("\n              + ")
    val tfsSql = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf_$i"
    }.mkString(",\n                ")
    Q("b1_bm25_topk",
      Some(s"""WITH t AS (SELECT doc_id, ${OracleSql.toksSql} AS toks FROM documents),
            stats AS (
              SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl,
                $dfsSql
              FROM t),
            d AS (
              SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
                $tfsSql
              FROM t),
            scored AS (
              SELECT doc_id, round(
                $termSql, 6) AS bm25
              FROM d CROSS JOIN stats)
            SELECT doc_id, bm25 FROM scored WHERE bm25 > 0.0
            ORDER BY bm25 DESC, doc_id LIMIT 15"""),
      (s, d) => graft.index.Bm25.topK(documents(s, d), "doc_id", "text", terms, k = 15,
          k1 = k1, b = b)
        .orderBy(col("bm25").desc, col("doc_id")))
  }

  /** RM3 pseudo-relevance feedback (Lavrenko/Croft relevance models):
    * seed-term BM25 top-10 → relevance-weighted expansion-term extraction
    * (`Σ (tf/dl)·score`, length ≥ 4, seeds excluded) → top-5 expansion
    * terms → re-retrieve with the widened query. Both retrieval passes
    * use the DYNAMIC inverted-index BM25 (`Bm25.topKDynamic` — postings
    * semi-joined to the broadcast term set; per-term contributions
    * DECIMAL-summed because a groupBy sum has no fixed operand order).
    * The oracle replays both passes and the expansion ranking. */
  val b2Rm3: Q = {
    val seeds = Seq("spark", "vector")
    val k1 = 1.2; val b = 0.75
    def scoreCte(tfCte: String, dfCte: String, out: String) =
      s"""$out AS (SELECT id, round(CAST(sum(CAST(
            ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
            * (tf * ${k1 + 1.0}) / (tf + $k1 * (${1.0 - b} + $b * dl / avgdl))
          AS DECIMAL(25,15))) AS DOUBLE), 6) AS s
          FROM $tfCte JOIN $dfCte USING (term) JOIN dl USING (id) CROSS JOIN n GROUP BY id)"""
    Q("b2_rm3_expansion",
      Some(s"""WITH base AS (SELECT doc_id AS id, ${OracleSql.toksSql} AS toks FROM documents),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM base),
            dl AS (SELECT id, CAST(len(toks) AS DOUBLE) AS dl FROM base),
            posts AS (SELECT id, unnest(toks) AS term FROM base),
            seed AS (SELECT * FROM (VALUES ${seeds.map(t => s"('$t')").mkString(", ")}) t(term)),
            tf1 AS (SELECT id, term, CAST(count(*) AS DOUBLE) AS tf FROM posts JOIN seed USING (term) GROUP BY id, term),
            df1 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf1 GROUP BY term),
            ${scoreCte("tf1", "df1", "c1")},
            fb AS (SELECT id, s FROM c1 WHERE s > 0.0 ORDER BY s DESC, id LIMIT 10),
            exf AS (SELECT p.id, p.term FROM posts p JOIN fb ON p.id = fb.id
                    WHERE length(p.term) >= 4 AND p.term NOT IN (SELECT term FROM seed)),
            tfe AS (SELECT id, term, CAST(count(*) AS DOUBLE) AS tf FROM exf GROUP BY id, term),
            wexp AS (SELECT term, CAST(sum(CAST((tf / dl) * s AS DECIMAL(25,15))) AS DOUBLE) AS w
                     FROM tfe JOIN dl USING (id) JOIN fb USING (id) GROUP BY term),
            exp5 AS (SELECT term FROM wexp ORDER BY round(w, 6) DESC, term LIMIT 5),
            allt AS (SELECT term FROM seed UNION SELECT term FROM exp5),
            tf2 AS (SELECT id, term, CAST(count(*) AS DOUBLE) AS tf FROM posts JOIN allt USING (term) GROUP BY id, term),
            df2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf2 GROUP BY term),
            ${scoreCte("tf2", "df2", "c2")}
            SELECT id AS doc_id, s AS bm25 FROM c2 WHERE s > 0.0
            ORDER BY bm25 DESC, doc_id LIMIT 15"""),
      (s, d) => {
        val docsDf = documents(s, d)
        val seedDf = s.range(1).select(explode(array(seeds.map(lit): _*)).as("term"))
        val fb = graft.index.Bm25.topKDynamic(docsDf, "doc_id", "text", seedDf, k = 10, k1 = k1, b = b)
        val exp = graft.index.Bm25.rm3ExpansionTerms(docsDf, "doc_id", "text", fb, seeds, n = 5)
        val allT = seedDf.unionByName(exp).distinct()
        graft.index.Bm25.topKDynamic(docsDf, "doc_id", "text", allT, k = 15, k1 = k1, b = b)
          .orderBy(col("bm25").desc, col("doc_id"))
      })
  }

  /** BATCHED multi-query BM25 — the shape an eval harness / hard-negative
    * miner / online service actually runs: ONE corpus pass scores five
    * queries (overlapping and disjoint term sets, one query whose terms
    * miss the corpus entirely and must return nothing). Postings/tf/df
    * are shared across queries; the per-query top-5 is a qid-PARTITIONED
    * rank window (WindowGroupLimit heaps — no global sort at any corpus
    * size). The oracle replays the shared-statistics join plan: a doc's
    * score for query A must be identical whether or not query B also
    * contains the term. */
  val b3BatchBm25: Q = {
    val qs = Seq(1 -> "spark join", 2 -> "join stream window", 3 -> "vector hash sort",
      4 -> "the", 5 -> "zzzqx qqzzy")
    val k = 5; val k1 = 1.2; val b = 0.75
    val qsSql = qs.map { case (i, q) => s"($i, '$q')" }.mkString(", ")
    Q("b3_batch_bm25",
      Some(s"""WITH qs AS (SELECT * FROM (VALUES $qsSql) q(qid, query)),
            t AS (SELECT doc_id, ${OracleSql.toksSql} AS toks FROM documents),
            stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM t),
            qterms AS (SELECT qid, unnest(list_distinct(list_filter(
                string_split_regex(lower(query), '\\s+'), x -> x <> ''))) AS term FROM qs),
            terms AS (SELECT DISTINCT term FROM qterms),
            posts AS (SELECT doc_id, unnest(toks) AS term FROM t),
            tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
                   FROM posts JOIN terms USING (term) GROUP BY doc_id, term),
            dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
            dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM t),
            contrib AS (SELECT qid, doc_id,
                ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
                * (tf * ${k1 + 1.0}) / (tf + $k1 * (${1.0 - b} + $b * dl / avgdl)) AS c
              FROM tf JOIN qterms USING (term) JOIN dft USING (term)
              JOIN dl USING (doc_id) CROSS JOIN stats),
            score AS (SELECT qid, doc_id,
                round(CAST(sum(CAST(c AS DECIMAL(25,15))) AS DOUBLE), 6) AS bm25
              FROM contrib GROUP BY qid, doc_id),
            ranked AS (SELECT qid, doc_id, bm25,
                CAST(row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
              FROM score WHERE bm25 > 0.0)
            SELECT qid, doc_id, bm25, rank FROM ranked WHERE rank <= $k
            ORDER BY qid, rank"""),
      (s, d) => {
        import s.implicits._
        val queries = qs.toDF("qid", "query")
        graft.index.Bm25.topKBatch(documents(s, d), "doc_id", "text",
            queries, "qid", "query", k = k, k1 = k1, b = b)
          .orderBy("qid", "rank")
      })
  }

  /** The BPE merge-step statistic: corpus-wide counts of adjacent symbol
    * pairs within words (round 1 of tokenizer training — the top pair is
    * the next merge rule). Explode-to-pairs is map-only; the aggregate's
    * key space is tiny, so map-side partial aggregation collapses the
    * shuffle to per-executor partials. */
  val tok1BpePairs = Q("tok1_bpe_pairs",
    Some(s"""WITH t AS (SELECT ${OracleSql.toksSql} AS toks FROM documents),
            w AS (SELECT unnest(toks) AS w FROM t),
            p AS (SELECT unnest(list_transform(range(1, length(w)),
                    i -> substr(w, CAST(i AS INT), 2))) AS pair FROM w)
            SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM p
            GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20"""),
    (s, d) => TextAnalysis.bpePairCounts(documents(s, d), col("text"), topN = 20)
      .orderBy(col("cnt").desc, col("pair")))

  /** The full iterative BPE merge LOOP (tok1 computes only round 1's
    * statistic): k rounds of count-pairs → take the top pair → rewrite the
    * vocabulary, emitting the learned merge table. The oracle replays all
    * k rounds as an unrolled CTE chain over the same U+0001-separator
    * encoding, with the merge application as a literal `replace` — greedy
    * left-to-right non-overlapping in both engines — so every learned
    * rule AND its count are compared exactly. */
  private def bpeOracleCtes(k: Int): String = {
    val steps = (1 to k).map { i =>
      s"""s$i AS (SELECT cnt, string_split(trim(enc, chr(1)), chr(1) || chr(1)) AS syms FROM v${i - 1}),
            pr$i AS (SELECT cnt, unnest(list_transform(range(1, len(syms)),
                j -> struct_pack(a := syms[j], b := syms[j + 1]))) AS pr FROM s$i),
            p$i AS (SELECT pr.a AS a, pr.b AS b, CAST(sum(cnt) AS BIGINT) AS total
              FROM pr$i GROUP BY pr.a, pr.b),
            t$i AS (SELECT a, b, total FROM p$i ORDER BY total DESC, a, b LIMIT 1),
            v$i AS (SELECT w, cnt, replace(enc, chr(1)||a||chr(1)||chr(1)||b||chr(1),
                chr(1)||a||b||chr(1)) AS enc FROM v${i - 1} CROSS JOIN t$i)"""
    }.mkString(",\n            ")
    s"""WITH t0 AS (SELECT ${OracleSql.toksSql} AS toks FROM documents),
            words AS (SELECT unnest(toks) AS w FROM t0),
            v0 AS (SELECT w, count(*) AS cnt,
                regexp_replace(w, '(.)', chr(1) || '\\1' || chr(1), 'g') AS enc
              FROM words WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY w),
            $steps"""
  }

  private def bpeOracleSql(k: Int): String = {
    val sel = (1 to k)
      .map(i => s"SELECT $i AS step, a AS lhs, b AS rhs, total AS cnt FROM t$i")
      .mkString(" UNION ALL ")
    s"""${bpeOracleCtes(k)}
            SELECT step, lhs, rhs, cnt FROM ($sel) ORDER BY step"""
  }

  val tok2BpeMerges = Q("tok2_bpe_merges",
    Some(bpeOracleSql(8)),
    (s, d) => TextAnalysis.bpeTrain(documents(s, d), col("text"), nMerges = 8)
      .orderBy("step"))

  /** The ENCODER applied at corpus scale: train 8 merges, re-encode the
    * vocabulary with `bpeEncode` (a map-only chain of literal replaces),
    * and report the corpus tokenization profile — total words / chars /
    * symbols plus symbols-per-word and chars-per-symbol, the compression
    * numbers a tokenizer run is judged by. The oracle reads the SAME
    * unrolled chain's final vocabulary (v8), so the Spark encoder output
    * is compared against the oracle's trained state symbol-for-symbol. */
  /** WordPiece encoding (Wu et al. 2016 / BERT's tokenizer) — greedy
    * longest-match-first against a fixed vocabulary with `##`
    * continuations, the third tokenizer family next to BPE (tok3) and
    * unigram-Viterbi (tok4). BERT semantics exactly: per word, repeatedly
    * consume the LONGEST matching piece (start pieces at position 1,
    * continuation pieces after); ANY unmatchable position → the whole
    * word becomes one [UNK]; words over 16 chars are [UNK] upfront (the
    * max_input_chars_per_word guard). The fold is a bounded 16-step HOF
    * per word — each step consumes ≥1 char, so 16 steps always finish a
    * ≤16-char word — and the oracle replays it as 16 generated step CTEs
    * (the pr1/tok2 unrolled-iteration convention) from the SAME vocab
    * list, so the two greedy walks cannot drift. Map-only per doc; one
    * hash aggregate for the corpus stats. */
  val tok6WordPiece: Q = {
    val startPieces = Seq("spark", "stream", "join", "data", "the", "th",
      "pro", "con", "re", "ing") ++ ('a' to 'z').map(_.toString)
    val contPieces = Seq("ing", "tion", "ream", "ed", "er", "es", "s") ++
      ('a' to 'z').map(_.toString)
    val maxLen = 16
    def bestSql(pieces: Seq[String]) = "greatest(" + pieces.map(p =>
      s"CASE WHEN substr(word, CAST(pos AS INT), ${p.length}) = '$p' THEN ${p.length} ELSE 0 END")
      .mkString(", ") + ")"
    val stepCtes = (1 to maxLen).map { i =>
      s"""w$i AS (SELECT doc_id, word,
            CASE WHEN fin OR best = 0 THEN pos ELSE pos + best END AS pos,
            CASE WHEN fin OR best = 0 THEN cnt ELSE cnt + 1 END AS cnt,
            CASE WHEN fin THEN unk WHEN best = 0 THEN true ELSE unk END AS unk
          FROM (SELECT doc_id, word, pos, cnt, unk,
                  (unk OR pos > length(word)) AS fin,
                  CASE WHEN pos = 1 THEN ${bestSql(startPieces)}
                       ELSE ${bestSql(contPieces)} END AS best
                FROM w${i - 1}))"""
    }.mkString(",\n            ")
    Q("tok6_wordpiece_stats",
      Some(s"""WITH t AS (SELECT doc_id, ${OracleSql.toksSql} AS toks FROM documents),
            words AS (SELECT doc_id, unnest(toks) AS word FROM t),
            w0 AS (SELECT doc_id, word, 1 AS pos, 0 AS cnt,
                length(word) > $maxLen AS unk FROM words),
            $stepCtes,
            pieces AS (SELECT doc_id,
                CASE WHEN unk THEN 1 ELSE cnt END AS n_pieces,
                CASE WHEN unk THEN 1 ELSE 0 END AS n_unk
              FROM w$maxLen)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
              CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
              CAST(sum(n_unk) AS BIGINT) AS n_unk
            FROM pieces GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) => {
        def wordFold(word: org.apache.spark.sql.Column) =
          TextAnalysis.wordPieceStats(word, startPieces, contPieces, maxLen)
        // fold once per DISTINCT word (the v11 vocab-bounded discipline —
        // the 16-step × |pieces| match fold runs |vocab| times, not once
        // per token occurrence), then join the 2-int result back
        val words = documents(s, d).select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("word"))
        val vocabW = words.select("word").distinct()
          .withColumn("r", wordFold(col("word")))
        words.join(vocabW, "word")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(col("r.n_pieces")).cast("long").as("n_pieces"),
            sum(col("r.n_unk")).cast("long").as("n_unk"))
          .orderBy("doc_id")
      })
  }

  val tok3BpeEncode = Q("tok3_bpe_encode_stats",
    Some(s"""${bpeOracleCtes(8)},
            stats AS (SELECT cnt, length(w) AS n_chars,
                len(string_split(trim(enc, chr(1)), chr(1) || chr(1))) AS n_syms
              FROM v8)
            SELECT CAST(sum(cnt) AS BIGINT) AS total_words,
              CAST(sum(n_chars * cnt) AS BIGINT) AS total_chars,
              CAST(sum(n_syms * cnt) AS BIGINT) AS total_symbols,
              round(CAST(sum(n_syms * cnt) AS DOUBLE) / sum(cnt), 6) AS symbols_per_word,
              round(CAST(sum(n_chars * cnt) AS DOUBLE) / sum(n_syms * cnt), 6) AS chars_per_symbol
            FROM stats"""),
    (s, d) => {
      val docs = documents(s, d)
      val merges = TextAnalysis.bpeTrain(docs, col("text"), nMerges = 8)
        .orderBy("step").collect().map(r => (r.getString(1), r.getString(2))).toSeq
      // the unrolled oracle chain CROSS JOINs an empty t_i into an empty
      // v8 if the vocabulary exhausts pairs early (one all-NULL stats row)
      // while this side would return real totals for the shorter list —
      // fail loudly instead of silently hash-diverging
      require(merges.size == 8,
        s"tok3 requires a corpus admitting 8 BPE merges, got ${merges.size}")
      val symbols = docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .select(col("cnt"), length(col("w")).cast("long").as("n_chars"),
          size(TextAnalysis.bpeEncode(col("w"), merges)).cast("long").as("n_syms"))
      symbols.agg(
        sum(col("cnt")).as("total_words"),
        sum(col("n_chars") * col("cnt")).as("total_chars"),
        sum(col("n_syms") * col("cnt")).as("total_symbols"),
        round(sum(col("n_syms") * col("cnt")).cast("double") / sum(col("cnt")), 6)
          .as("symbols_per_word"),
        round(sum(col("n_chars") * col("cnt")).cast("double") / sum(col("n_syms") * col("cnt")), 6)
          .as("chars_per_symbol"))
    })

  /** ONE copy of the cdc1/cdc2 oracle's chunk-building CTE chain (the
    * O(L*w) fold-from-zero window-hash replay of `cdc_boundaries` + the
    * same slicing). */
  private val cdcOracleCtes: String = """WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
            b AS (SELECT doc_id, t, list_filter(range(16, length(t) + 1),
                    i -> list_reduce(list_transform(range(i - 15, i + 1),
                           j -> CAST(ord(substr(t, CAST(j AS INT), 1)) AS BIGINT)),
                           (acc, c) -> (acc * 257 + c) % 1000000007) % 64 = 0) AS bounds
                  FROM d),
            e AS (SELECT doc_id, t,
                    CASE WHEN len(bounds) > 0 AND bounds[-1] = length(t) THEN bounds
                         ELSE list_append(bounds, length(t)) END AS ends
                  FROM b),
            x AS (SELECT doc_id, t, ends, unnest(range(1, len(ends) + 1)) AS i FROM e),
            c AS (SELECT doc_id, i AS chunk_idx,
                    substr(t,
                      CAST((CASE WHEN i = 1 THEN 0 ELSE ends[CAST(i - 1 AS INT)] END) + 1 AS INT),
                      CAST(ends[CAST(i AS INT)]
                        - (CASE WHEN i = 1 THEN 0 ELSE ends[CAST(i - 1 AS INT)] END) AS INT)) AS chunk
                  FROM x)"""

  /** Content-defined chunking: Rabin-Karp rolling-hash boundaries (w=16
    * code points, divisor 64 → ~64-char expected chunks), tail closed at
    * end-of-text, chunks emitted as (idx, len, md5). The oracle replays
    * every window hash as an O(L·w) fold-from-zero — bit-identical to the
    * native expression's O(L) rolling recurrence — then the same slicing. */
  val cdc1Chunks = Q("cdc1_content_chunks",
    Some(s"""$cdcOracleCtes
            SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
              CAST(length(chunk) AS BIGINT) AS chunk_len, md5(chunk) AS digest
            FROM c WHERE length(chunk) > 0 ORDER BY doc_id, chunk_idx"""),
    (s, d) => graft.ops.Chunking.cdcChunks(documents(s, d), col("doc_id"), col("text"),
        w = 16, divisor = 64)
      .orderBy("doc_id", "chunk_idx"))

  /** Unicode script-composition profile (the LID prior): multiscript text
    * is synthesized from base columns identically in both engines —
    * doc_id%4 CJK and doc_id%3 Cyrillic characters appended to the Latin
    * body — and the per-script counts, Latin share, and arithmetic-only
    * dominant-script verdict must all match. The script character
    * classes are single Scala strings interpolated into BOTH the Spark
    * regex and the oracle SQL, so the pattern bytes cannot drift. */
  val x19Scripts: Q = {
    val latin = "[A-Za-z]"; val cjk = "[一-鿿]"; val cyr = "[Ѐ-ӿ]"
    Q("x19_script_ratios",
      Some(s"""WITH t AS (SELECT doc_id,
                concat(text, repeat('中', CAST(doc_id % 4 AS INT)),
                  repeat('ы', CAST(doc_id % 3 AS INT))) AS t2
              FROM documents),
            c AS (SELECT doc_id, CAST(length(t2) AS BIGINT) AS n_total,
                CAST(length(t2) - length(regexp_replace(t2, '$latin', '', 'g')) AS BIGINT) AS n_latin,
                CAST(length(t2) - length(regexp_replace(t2, '$cjk', '', 'g')) AS BIGINT) AS n_cjk,
                CAST(length(t2) - length(regexp_replace(t2, '$cyr', '', 'g')) AS BIGINT) AS n_cyrillic
              FROM t)
            SELECT doc_id, n_total, n_latin, n_cjk, n_cyrillic,
              CAST(n_latin AS DOUBLE) / CAST(greatest(n_total, 1) AS DOUBLE) AS latin_share,
              CASE WHEN n_latin >= n_cjk AND n_latin >= n_cyrillic THEN 'latin'
                   WHEN n_cjk >= n_cyrillic THEN 'cjk' ELSE 'cyrillic' END AS dominant
            FROM c ORDER BY doc_id"""),
      (s, d) => {
        val t2 = concat(col("text"),
          expr("repeat('中', CAST(doc_id % 4 AS INT))"),
          expr("repeat('ы', CAST(doc_id % 3 AS INT))"))
        documents(s, d)
          .withColumn("t2", t2)
          .withColumn("c", TextAnalysis.scriptCounts(col("t2"),
            Seq("n_latin" -> latin, "n_cjk" -> cjk, "n_cyrillic" -> cyr)))
          .select(col("doc_id"), length(col("t2")).cast("long").as("n_total"),
            col("c.n_latin"), col("c.n_cjk"), col("c.n_cyrillic"))
          .withColumn("latin_share",
            col("n_latin").cast("double") / greatest(col("n_total"), lit(1L)).cast("double"))
          .withColumn("dominant",
            when(col("n_latin") >= col("n_cjk") && col("n_latin") >= col("n_cyrillic"), "latin")
              .when(col("n_cjk") >= col("n_cyrillic"), "cjk").otherwise("cyrillic"))
          .orderBy("doc_id")
      })
  }

  /** Cross-document CDC chunk dedup accounting (the storage-dedup
    * statistic: bytes a content-addressed store skips): every chunk
    * occurrence that is not the corpus-wide FIRST holder of its digest
    * counts as duplicate bytes. First-holder via one map-side min per
    * digest (the d10 winner pattern); the oracle encodes the
    * (doc, idx) order as doc·10⁶+idx — the same total order. The
    * fixture's planted near-dup docs share real chunks (367 duplicate
    * occurrences of 2838 at sf0.01 — measured, non-vacuous). */
  val cdc2ChunkDedup = Q("cdc2_chunk_dedup",
    Some(s"""$cdcOracleCtes,
            ch AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                    CAST(length(chunk) AS BIGINT) AS chunk_len, md5(chunk) AS digest
                  FROM c WHERE length(chunk) > 0),
            f AS (SELECT digest, min(doc_id * 1000000 + chunk_idx) AS fk FROM ch GROUP BY digest),
            j AS (SELECT ch.doc_id, ch.chunk_len,
                    (ch.doc_id * 1000000 + ch.chunk_idx) <> fk AS is_dup
                  FROM ch JOIN f USING (digest))
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
              CAST(sum(chunk_len) AS BIGINT) AS total_bytes,
              CAST(sum(CASE WHEN is_dup THEN chunk_len ELSE 0 END) AS BIGINT) AS dup_bytes,
              CAST(sum(CASE WHEN is_dup THEN chunk_len ELSE 0 END) AS DOUBLE)
                / CAST(sum(chunk_len) AS DOUBLE) AS dup_ratio
            FROM j GROUP BY doc_id ORDER BY doc_id"""),
    (s, d) => graft.ops.Chunking.cdcDedupStats(documents(s, d), col("doc_id"), col("text"),
        w = 16, divisor = 64)
      .orderBy("doc_id"))

  /** Count-Min sketch heavy hitters (Cormode-Muthukrishnan): a 4×256
    * counter sketch built in ONE vocab-sized aggregate (update stream =
    * vocab × 4 salted-md5 buckets, map-side combined to ≤1024 keys —
    * the sketch shuffle is CONSTANT in corpus size, the property that
    * makes CMS the 100 TB heavy-hitter tool), then the exact top-20
    * tokens scored against it. Estimates obey est ≥ exact (one-sided CMS
    * error, spec-pinned); the oracle replays the bucket hashing (last two
    * md5 hex chars), the counter build, and the min-over-rows estimate. */
  val sk1CmsHeavyHitters = Q("sk1_cms_heavy_hitters",
    Some(s"""WITH t AS (SELECT unnest(${OracleSql.toksSql}) AS w FROM documents),
            v AS (SELECT w, count(*) AS cnt FROM t GROUP BY w),
            ev AS (SELECT w, cnt, r, md5(concat(CAST(r AS VARCHAR), ':', w)) AS dig
                   FROM v, range(0, 4) q(r)),
            h AS (SELECT w, cnt, r,
                (strpos('0123456789abcdef', substr(dig, 31, 1)) - 1) * 16
                  + strpos('0123456789abcdef', substr(dig, 32, 1)) - 1 AS bucket
              FROM ev),
            sk AS (SELECT r, bucket, CAST(sum(cnt) AS BIGINT) AS c FROM h GROUP BY r, bucket),
            top AS (SELECT w, cnt FROM v ORDER BY cnt DESC, w LIMIT 20),
            est AS (SELECT top.w, top.cnt, min(sk.c) AS est
                    FROM top JOIN h ON h.w = top.w
                    JOIN sk ON sk.r = h.r AND sk.bucket = h.bucket
                    GROUP BY top.w, top.cnt)
            SELECT w AS term, CAST(cnt AS BIGINT) AS cnt, est
            FROM est ORDER BY cnt DESC, term"""),
    (s, d) => {
      val cnt = documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
      val ev = cnt.select(col("w"), col("cnt"), explode(sequence(lit(0), lit(3))).as("r"))
        .withColumn("dig", md5(concat(col("r").cast("string"), lit(":"), col("w")).cast("binary")))
        .withColumn("bucket", conv(substring(col("dig"), 31, 2), 16, 10).cast("long"))
      val sketch = ev.groupBy("r", "bucket").agg(sum("cnt").as("c"))
      val top = cnt.orderBy(col("cnt").desc, col("w")).limit(20)
      top.join(ev.select("w", "r", "bucket"), Seq("w"))
        .join(sketch, Seq("r", "bucket"))
        .groupBy("w", "cnt").agg(min("c").as("est"))
        .select(col("w").as("term"), col("cnt"), col("est"))
        .orderBy(col("cnt").desc, col("term"))
    })

  /** Engine-portable HyperLogLog distinct-count sketch — the sk1
    * discipline applied to cardinality: md5-derived (bucket, rho)
    * registers instead of an opaque binary sketch, so the DuckDB oracle
    * replays registers, REGISTER-WISE-MAX MERGE across parity batches,
    * and the full estimator (alpha_m·m²/ΣHarmonic + linear-counting
    * small-range correction) bit-for-bit. The output hash-gates three
    * things at once: the estimate itself, `merge_consistent` (sketch of
    * parts merged ≡ sketch of the whole — the EXACT algebra incremental
    * accounting relies on), and the relative error against the exact
    * distinct count. Register build is one (source, bucket) aggregate —
    * ≤ 20×256 rows out of any corpus size; the 4-shingle stream keeps
    * per-source cardinality in the raw-estimator regime, not the
    * trivially-corrected one. */
  val sk2HllDistinct: Q = {
    // shared SQL (Hll.regSql/estSql — the same generators a12b uses):
    // registers over a distinct (keys, w) stream, then the estimator;
    // generated twice (whole / merged) with different key sets
    def regSql(src: String, keys: String) = graft.ops.Hll.regSql(src, keys)
    def estSql(regs: String) = graft.ops.Hll.estSql(regs, "source")
    Q("sk2_hll_distinct",
      Some(s"""WITH t AS (SELECT doc_id, source, ${OracleSql.toksSql} AS toks FROM documents),
            shl AS (SELECT doc_id, source, ${OracleSql.shinglesSql(4)} AS shingles FROM t),
            g AS (SELECT source, doc_id % 2 AS b, unnest(shingles) AS w FROM shl),
            rw AS ${regSql("g", "source")},
            rp AS ${regSql("g", "source, b")},
            rm AS (SELECT source, bucket, max(rho) AS rho FROM rp GROUP BY source, bucket),
            ew AS ${estSql("rw")},
            em AS ${estSql("rm")},
            ex AS (SELECT source, CAST(count(DISTINCT w) AS BIGINT) AS n_exact FROM g GROUP BY source)
            SELECT ex.source, n_exact, round(ew.est, 4) AS est_hll,
              round(abs(round(ew.est, 4) - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 4) AS rel_err,
              round(em.est, 4) = round(ew.est, 4) AS merge_consistent
            FROM ex JOIN ew ON ew.source = ex.source JOIN em ON em.source = ex.source
            ORDER BY ex.source"""),
      (s, d) => {
        import graft.ops.Hll
        val g = documents(s, d).select(col("source"), (col("doc_id") % 2).as("b"),
          explode(graft.ops.Dedup.wordShingles(col("text"), 4)).as("w"))
        val whole = Hll.estimate(Hll.registers(g, Seq("source"), col("w")), Seq("source"))
          .withColumnRenamed("est_distinct", "est_whole")
        val merged = Hll.estimate(
            Hll.merge(Hll.registers(g, Seq("source", "b"), col("w")), Seq("source")), Seq("source"))
          .withColumnRenamed("est_distinct", "est_merged")
        val exact = g.groupBy("source").agg(countDistinct("w").as("n_exact"))
        exact.join(whole, Seq("source")).join(merged, Seq("source"))
          .select(col("source"), col("n_exact"), col("est_whole").as("est_hll"),
            round(abs(col("est_whole") - col("n_exact").cast("double"))
              / col("n_exact").cast("double"), 4).as("rel_err"),
            (col("est_merged") === col("est_whole")).as("merge_consistent"))
          .orderBy("source")
      })
  }

  /** Curriculum data ordering (Bengio et al. 2009, baby-steps
    * schedule): docs band into fixed difficulty bins by token count
    * (short = easy; fixed 25-token cuts, capped — quantile bins would
    * need a second pass and dom8/x32 already own adaptive allocation),
    * and within each bin the order is the seedless md5 shuffle (x10
    * discipline) so every epoch replays identically. The emitted
    * (stage, pos_in_stage) pair IS the training order: stage k unlocks
    * after k−1, positions shuffle within. One map pass + one
    * bin-partitioned row_number — no global sort anywhere. */
  val c2Curriculum = Q("c2_curriculum_order",
    Some(s"""WITH t AS (SELECT doc_id,
              CAST(len(${OracleSql.toksSql}) AS BIGINT) AS n_tokens FROM documents),
            b AS (SELECT doc_id, n_tokens,
                CAST(least(n_tokens // 25, 4) AS INT) AS stage FROM t),
            r AS (SELECT doc_id, n_tokens, stage,
                row_number() OVER (PARTITION BY stage
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos_in_stage
              FROM b)
            SELECT doc_id, n_tokens, stage, CAST(pos_in_stage AS BIGINT) AS pos_in_stage
            FROM r ORDER BY stage, pos_in_stage"""),
    (s, d) => {
      val t = documents(s, d).select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      val staged = t.withColumn("stage",
        least(call_function("div", col("n_tokens"), lit(25L)), lit(4L)).cast("int"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("stage")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      staged.withColumn("pos_in_stage", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("n_tokens"), col("stage"), col("pos_in_stage"))
        .orderBy("stage", "pos_in_stage")
    })

  /** Population-stability-index drift detection — the production
    * monitoring gate between a reference corpus snapshot and the current
    * one (doc_id parity stands in for the two snapshots): doc lengths
    * band into 10 fixed 60-char buckets + overflow, shares are
    * Laplace-smoothed ((n+1)/(N+B) — ln(0) can't occur), and each
    * bucket contributes (p−q)·ln(p/q). The conventional read: PSI < 0.1
    * stable, 0.1–0.25 drifting, > 0.25 shifted. One map-only banding +
    * one tiny aggregate — runs at scan bandwidth at any corpus size. */
  val x33PsiDrift: Q = {
    val B = 11 // 10 width-60 bands + overflow
    Q("x33_psi_drift",
      Some(s"""WITH b AS (SELECT doc_id % 2 AS half,
              least(length(coalesce(text, '')) // 60, 10) AS bucket
            FROM documents),
            cnt AS (SELECT bucket,
                CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
                CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
              FROM b GROUP BY bucket),
            ${OracleSql.psiSql(B, "n_ref", "n_cur", "p_ref", "p_cur")}"""),
      (s, d) => {
        val bucket = least(call_function("div",
          length(coalesce(col("text"), lit(""))).cast("long"), lit(60L)), lit(10L))
        val b = documents(s, d).select((col("doc_id") % 2).as("half"), bucket.as("bucket"))
        val cnt = b.groupBy("bucket").agg(
          sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_cur"))
        graft.ops.Drift.psiTerms(cnt, B, "n_ref", "n_cur", "p_ref", "p_cur")
      })
  }

  /** MinHash-LSH parameter planning — the S-curve engineering the d2
    * chain's (bands, rows) constants come from: for a hash budget H,
    * every divisor split (b, r) has capture probability
    * p(s) = 1 − (1 − s^r)^b and implied threshold (1/b)^(1/r); the
    * planner picks the split whose implied threshold sits closest to
    * the target (ties → more bands, i.e. recall over precision). Pure
    * closed-form arithmetic — identical expression trees both engines —
    * but the decision is exactly what configures a 100 TB dedup run. */
  val d19LshTuning: Q = {
    val H = 24
    val target = 0.8
    val splits = Seq((1, 24), (2, 12), (3, 8), (4, 6), (6, 4), (8, 3), (12, 2), (24, 1))
    val sims = Seq(0.5, 0.7, 0.8, 0.9)
    def pSql(b: Int, r: Int, s: String) = s"1.0 - power(1.0 - power($s, $r.0), $b.0)"
    val rowsSql = splits.map { case (b, r) =>
      s"""SELECT CAST($b AS INT) AS bands, CAST($r AS INT) AS rows_per_band,
            round(power(1.0 / $b.0, 1.0 / $r.0), 6) AS implied_threshold,
            ${sims.zipWithIndex.map { case (sv, i) =>
              s"round(${pSql(b, r, s"$sv")}, 6) AS p_at_${(sv * 100).toInt}" }.mkString(", ")},
            abs(power(1.0 / $b.0, 1.0 / $r.0) - $target) AS dist"""
    }.mkString("\n            UNION ALL\n            ")
    Q("d19_lsh_tuning",
      Some(s"""WITH cand AS (
            $rowsSql),
            best AS (SELECT min(dist) AS md FROM cand)
            SELECT bands, rows_per_band, implied_threshold,
              ${sims.map(sv => s"p_at_${(sv * 100).toInt}").mkString(", ")},
              dist = md AND bands = (SELECT max(bands) FROM cand c2, best b2 WHERE c2.dist = b2.md) AS chosen
            FROM cand CROSS JOIN best ORDER BY bands"""),
      (s, d) => {
        val rows = splits.map { case (b, r) =>
          val cols = Seq(lit(b).cast("int").as("bands"), lit(r).cast("int").as("rows_per_band"),
            round(pow(lit(1.0) / b, lit(1.0) / r), 6).as("implied_threshold")) ++
            sims.map(sv => round(lit(1.0) - pow(lit(1.0) - pow(lit(sv), r.toDouble), b.toDouble), 6)
              .as(s"p_at_${(sv * 100).toInt}"))
          s.range(1).select(cols: _*)
        }.reduce(_ union _)
          .withColumn("dist", abs(pow(lit(1.0) / col("bands").cast("double"),
            lit(1.0) / col("rows_per_band").cast("double")) - target))
        val best = rows.agg(min("dist").as("md"))
        val bestBands = rows.crossJoin(broadcast(best)).filter(col("dist") === col("md"))
          .agg(max("bands").as("mb"))
        val outCols = Seq(col("bands"), col("rows_per_band"), col("implied_threshold")) ++
          sims.map(sv => col(s"p_at_${(sv * 100).toInt}")) :+
          (col("dist") === col("md") && col("bands") === col("mb")).as("chosen")
        rows.crossJoin(broadcast(best)).crossJoin(broadcast(bestBands))
          .select(outCols: _*)
          .orderBy("bands")
      })
  }

  /** Neyman-optimal stratified sampling — the survey-sampling allocator
    * (n_h ∝ N_h·σ_h) that oversamples high-variance strata, the right
    * way to spend an eval-set budget over a heterogeneous corpus (x6's
    * stratified and x17's weighted draws allocate by size/weight, not
    * variance). Exact integer moments per stratum, 12-dp DECIMAL-summed
    * Neyman weights, Hamilton largest-remainder seats (Σ alloc == budget
    * exactly; remainder rank is a count-join on the k-row strata frame,
    * never a global window), seedless md5 draw per stratum. */
  val x32Neyman = Q("x32_neyman_sample",
    Some("""WITH base AS (SELECT source AS stratum,
              CAST(length(coalesce(text, '')) AS BIGINT) AS v, doc_id AS id FROM documents),
            mom AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_h,
                CAST(sum(v) AS BIGINT) AS s1, CAST(sum(v * v) AS BIGINT) AS s2
              FROM base GROUP BY stratum),
            st AS (SELECT stratum, round(CAST(n_h AS DOUBLE) * sqrt(greatest(
                CAST(s2 AS DOUBLE) / CAST(n_h AS DOUBLE)
                - (CAST(s1 AS DOUBLE) / CAST(n_h AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n_h AS DOUBLE)),
                0.0)), 6) AS w FROM mom),
            tw AS (SELECT CAST(sum(CAST(w AS DECIMAL(25,12))) AS DOUBLE) AS tw FROM st),
            sh AS (SELECT stratum, CASE WHEN tw > 0 THEN 100 * w / tw ELSE 0.0 END AS share
              FROM st CROSS JOIN tw),
            fr AS (SELECT stratum, CAST(floor(share) AS BIGINT) AS fl,
                round(share - floor(share), 12) AS rem FROM sh),
            rk AS (SELECT x.stratum, x.fl, x.rem, count(y.stratum) AS nbigger
              FROM fr x LEFT JOIN fr y
                ON y.rem > x.rem OR (y.rem = x.rem AND y.stratum < x.stratum)
              GROUP BY x.stratum, x.fl, x.rem),
            ko AS (SELECT 100 - sum(fl) AS k FROM fr),
            alloc AS (SELECT r.stratum,
                least(r.fl + CASE WHEN r.nbigger < k THEN 1 ELSE 0 END, m.n_h) AS alloc
              FROM rk r JOIN mom m ON m.stratum = r.stratum CROSS JOIN ko),
            drawn AS (SELECT b.stratum, a.alloc, b.id,
                row_number() OVER (PARTITION BY b.stratum
                  ORDER BY md5(CAST(b.id AS VARCHAR)), b.id) AS rk2
              FROM base b JOIN alloc a USING (stratum))
            SELECT stratum, CAST(alloc AS BIGINT) AS alloc, id AS doc_id
            FROM drawn WHERE rk2 <= alloc ORDER BY stratum, doc_id"""),
    (s, d) => graft.ops.Curation.neymanSample(documents(s, d), col("source"),
        length(coalesce(col("text"), lit(""))), col("doc_id"), budget = 100)
      .select(col("stratum"), col("alloc"), col("id").as("doc_id"))
      .orderBy("stratum", "doc_id"))

  /** Homoglyph confusable-skeleton dedup (UTS #39-lite) — the spoof
    * detector exact content-hash dedup is blind to: Cyrillic/Greek
    * lookalikes fold to Latin, fullwidth ASCII to ASCII, zero-width
    * chars are stripped, then the SKELETON is hashed. The fixture
    * plants SPOOF PAIRS: every (6k+3)rd doc is its own text
    * fullwidth-obfuscated + a leading ZWSP, and every 6k-th doc is a
    * CYRILLIC-obfuscated COPY of doc 6k−3's raw text — two raw-distinct
    * rows whose skeletons collide, so `hidden_dup` marks exactly the
    * groups raw-hash dedup would have missed (load-bearing: ~83 planted
    * pairs at sf0.01, zero without the fold). One codegen'd translate
    * per row, one skeleton aggregate: map + hash-agg at any crawl
    * size. */
  val x31Confusable: Q = {
    val C = graft.ops.Cleaning.Confusables
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val (f, t, cnt, zw) = (q(C.from), q(C.to), q(C.countable), q(C.zeroWidth))
    Q("x31_confusable_skeleton",
      Some(s"""WITH c AS (SELECT d.doc_id,
              CASE WHEN d.doc_id % 6 = 0 THEN translate(coalesce(s.text, d.text, ''), 'aeopcxy', 'аеорсху')
                   WHEN d.doc_id % 6 = 3 THEN concat(chr(8203), translate(coalesce(d.text, ''), 'lmnst', 'ｌｍｎｓｔ'))
                   ELSE coalesce(d.text, '') END AS t
            FROM documents d LEFT JOIN documents s ON s.doc_id = d.doc_id - 3 AND d.doc_id % 6 = 0),
            sk AS (SELECT doc_id, md5(t) AS raw_md5,
                md5(lower(translate(t, $f, $t))) AS skel_md5,
                CAST(length(t) - length(translate(t, $cnt, '')) AS BIGINT) AS n_confusable,
                CAST(length(t) - length(translate(t, $zw, '')) AS BIGINT) AS n_zero_width,
                lower(translate(t, $f, $t)) <> lower(t) AS skeleton_changed
              FROM c),
            g AS (SELECT skel_md5, CAST(count(*) AS BIGINT) AS skeleton_dups,
                count(DISTINCT raw_md5) > 1 AS hidden_dup
              FROM sk GROUP BY skel_md5)
            SELECT doc_id, n_confusable, n_zero_width, skeleton_changed,
              sk.skel_md5, skeleton_dups, hidden_dup
            FROM sk JOIN g USING (skel_md5) ORDER BY doc_id"""),
      (s, d) => {
        val base = documents(s, d).select(col("doc_id"), col("text"))
        // spoof source: 6k-th docs copy doc 6k-3's raw text (shifted-key
        // self-join; the planted pair generator)
        val src = base.select((col("doc_id") + 3).as("doc_id"), col("text").as("src_text"))
        val withSrc = base.join(src.hint("broadcast"), Seq("doc_id"), "left")
        val txt = coalesce(col("text"), lit(""))
        val spoofed = when(col("doc_id") % 6 === 0,
            translate(coalesce(col("src_text"), col("text"), lit("")), "aeopcxy", "аеорсху"))
          .when(col("doc_id") % 6 === 3,
            concat(lit("\u200B"), translate(txt, "lmnst", "ｌｍｎｓｔ")))
          .otherwise(txt)
        val sk = withSrc.withColumn("t", spoofed)
          .select(col("doc_id"), md5(col("t").cast("binary")).as("raw_md5"),
            md5(graft.ops.Cleaning.confusableSkeleton(col("t")).cast("binary")).as("skel_md5"),
            (length(col("t")) - length(translate(col("t"), C.countable, ""))).cast("long").as("n_confusable"),
            (length(col("t")) - length(translate(col("t"), C.zeroWidth, ""))).cast("long").as("n_zero_width"),
            (graft.ops.Cleaning.confusableSkeleton(col("t")) =!= lower(col("t"))).as("skeleton_changed"))
        val g = sk.groupBy("skel_md5").agg(count(lit(1)).as("skeleton_dups"),
          (countDistinct("raw_md5") > 1).as("hidden_dup"))
        sk.join(g, Seq("skel_md5"))
          .select(col("doc_id"), col("n_confusable"), col("n_zero_width"),
            col("skeleton_changed"), col("skel_md5"), col("skeleton_dups"), col("hidden_dup"))
          .orderBy("doc_id")
      })
  }

  /** Engine-portable KMV / bottom-k distinct sketch — the sk2 ledger's
    * companion when the pipeline needs the distinct-item SAMPLE, not just
    * the count (min-hashes are a uniform draw over distinct items, the
    * basis for snapshot-overlap audits). The output hash-gates the
    * estimator ((k−1)/v_k from the 48-bit prefix of the k-th minimum,
    * EXACT counts for keys below k), the relative error, and
    * `merge_consistent`: bottom-k of the union of per-parity part
    * sketches ≡ bottom-k of the whole stream — KMV's merge algebra is
    * exact by construction (every global bottom-k hash is inside its own
    * part's bottom-k), which is what makes the two-level sharded build
    * the 100 TB path (each window ranks one shard; the merge input is
    * k rows per shard, never the corpus). */
  val sk3KmvDistinct: Q = {
    val K = graft.ops.Kmv.k
    def vkSql(h: String) =
      s"""list_sum(list_transform(range(1, 13), i ->
            CAST(strpos('0123456789abcdef', substr($h, CAST(i AS INT), 1)) - 1 AS BIGINT)
              * (1::BIGINT << (4 * (12 - CAST(i AS INT))))))"""
    def estSql(sk: String) =
      s"""(SELECT source,
              CASE WHEN n < $K THEN CAST(n AS DOUBLE)
                   ELSE ${K - 1}.0 / (CAST(${vkSql("hk")} AS DOUBLE) / 281474976710656.0)
              END AS est
            FROM (SELECT source, count(*) AS n, max(h) AS hk FROM $sk GROUP BY source))"""
    Q("sk3_kmv_distinct",
      Some(s"""WITH t AS (SELECT doc_id, source, ${OracleSql.toksSql} AS toks FROM documents),
            shl AS (SELECT doc_id, source, ${OracleSql.shinglesSql(4)} AS shingles FROM t),
            g AS (SELECT source, doc_id % 2 AS b, unnest(shingles) AS w FROM shl),
            hw AS (SELECT source, md5(w) AS h FROM (SELECT DISTINCT source, w FROM g)),
            rw AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS pos FROM hw),
            skw AS (SELECT source, h FROM rw WHERE pos <= $K),
            hp AS (SELECT source, b, md5(w) AS h FROM (SELECT DISTINCT source, b, w FROM g)),
            rp AS (SELECT source, b, h, row_number() OVER (PARTITION BY source, b ORDER BY h) AS pos FROM hp),
            mu AS (SELECT DISTINCT source, h FROM rp WHERE pos <= $K),
            rm AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS pos FROM mu),
            skm AS (SELECT source, h FROM rm WHERE pos <= $K),
            ew AS ${estSql("skw")},
            em AS ${estSql("skm")},
            ex AS (SELECT source, CAST(count(DISTINCT w) AS BIGINT) AS n_exact FROM g GROUP BY source)
            SELECT ex.source, n_exact, round(ew.est, 4) AS est_kmv,
              round(abs(round(ew.est, 4) - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 4) AS rel_err,
              round(em.est, 4) = round(ew.est, 4) AS merge_consistent
            FROM ex JOIN ew ON ew.source = ex.source JOIN em ON em.source = ex.source
            ORDER BY ex.source"""),
      (s, d) => {
        import graft.ops.Kmv
        val g = documents(s, d).select(col("source"), (col("doc_id") % 2).as("b"),
          explode(graft.ops.Dedup.wordShingles(col("text"), 4)).as("w"))
        val whole = Kmv.estimate(Kmv.sketch(g, Seq("source"), col("w")), Seq("source"))
          .withColumnRenamed("est_distinct", "est_whole")
        val parts = Kmv.sketch(g, Seq("source", "b"), col("w")).select("source", "h")
        val merged = Kmv.estimate(Kmv.merge(parts, Seq("source")), Seq("source"))
          .withColumnRenamed("est_distinct", "est_merged")
        val exact = g.groupBy("source").agg(countDistinct("w").as("n_exact"))
        exact.join(whole, Seq("source")).join(merged, Seq("source"))
          .select(col("source"), col("n_exact"), col("est_whole").as("est_kmv"),
            round(abs(col("est_whole") - col("n_exact").cast("double"))
              / col("n_exact").cast("double"), 4).as("rel_err"),
            (col("est_merged") === col("est_whole")).as("merge_consistent"))
          .orderBy("source")
      })
  }

  /** Interpolated bigram LM score (the KenLM-shaped quality filter): train
    * unigram + bigram counts on the corpus itself, score each doc's mean
    * ln(0.7·P_bigram + 0.3·P_unigram) with add-one smoothing. All ratio
    * inputs are exact integers and both engines build the same expression
    * tree, so the doubles agree (ln parity at 6 dp — x8 precedent). */
  val x9Bigram = Q("x9_bigram_logprob",
    Some(s"""WITH t AS (SELECT doc_id, ${OracleSql.toksSql} AS toks FROM documents),
            tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
            cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
            tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total, CAST(count(*) AS DOUBLE) AS v FROM cnt),
            bp AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                     i -> [toks[i], toks[i+1]])) AS pr FROM t),
            b AS (SELECT doc_id, pr[1] AS p, pr[2] AS w FROM bp),
            bcnt AS (SELECT p, w, count(*) AS cb FROM b GROUP BY p, w),
            scored AS (
              SELECT b.doc_id,
                ln(0.7 * (CAST(cb AS DOUBLE) + 1.0) / (CAST(cp.c AS DOUBLE) + v)
                 + 0.3 * (CAST(cw.c AS DOUBLE) + 1.0) / (n_total + v)) AS lp
              FROM b JOIN bcnt USING (p, w)
              JOIN cnt cp ON cp.w = b.p
              JOIN cnt cw ON cw.w = b.w
              CROSS JOIN tot)
            SELECT doc_id,
              round(CAST(sum(CAST(lp AS DECIMAL(25,15))) AS DOUBLE) / count(*), 6) AS mean_logprob,
              CAST(count(*) AS BIGINT) AS n_bigrams
            FROM scored GROUP BY doc_id ORDER BY doc_id"""),
    (s, d) => {
      val t = documents(s, d).select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      val tok = t.select(col("doc_id"), explode(col("toks")).as("w"))
      val cnt = tok.groupBy("w").agg(count(lit(1)).as("c"))
      val tot = cnt.agg(sum("c").cast("double").as("n_total"), count(lit(1)).cast("double").as("v"))
      val b = t.select(col("doc_id"), explode(TextAnalysis.adjacentTokenPairs(col("toks"))).as("pr"))
        .select(col("doc_id"), col("pr.p").as("p"), col("pr.w").as("w"))
      val bcnt = b.groupBy("p", "w").agg(count(lit(1)).as("cb"))
      b.join(bcnt, Seq("p", "w"))
        .join(cnt.select(col("w").as("p"), col("c").as("cp")), Seq("p"))
        .join(cnt.select(col("w"), col("c").as("cw")), Seq("w"))
        .crossJoin(broadcast(tot))
        .withColumn("lp",
          log(lit(0.7) * (col("cb").cast("double") + 1.0) / (col("cp").cast("double") + col("v"))
            + lit(0.3) * (col("cw").cast("double") + 1.0) / (col("n_total") + col("v"))))
        .groupBy("doc_id")
        // decimal sum: order-independent across the shuffle (the d9 rule)
        .agg(round(sum(col("lp").cast("decimal(25,15)")).cast("double") / count(lit(1)), 6).as("mean_logprob"),
          count(lit(1)).as("n_bigrams"))
        .orderBy("doc_id")
    })

  /** Deterministic 80/10/10 train/val/test split — seedless md5-threshold
    * ladder, so the assignment is stable across reruns, engines, and
    * cluster layouts. */
  val x10Split: Q = {
    val cuts = Seq("train" -> 0.8, "val" -> 0.9)
    val t1 = TextAnalysis.hexThreshold(0.8); val t2 = TextAnalysis.hexThreshold(0.9)
    Q("x10_train_val_test_split",
      Some(s"""SELECT doc_id,
               CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '$t1' THEN 'train'
                    WHEN md5(CAST(doc_id AS VARCHAR)) < '$t2' THEN 'val'
                    ELSE 'test' END AS split
               FROM documents ORDER BY doc_id"""),
      (s, d) => documents(s, d)
        .select(col("doc_id"), TextAnalysis.assignSplit(col("doc_id"), cuts, "test").as("split"))
        .orderBy("doc_id"))
  }

  /** Winnowing fingerprint summary: per doc, the size and lexicographic
    * bounds of the winnowed hash set (k=5 char-grams, w=4 windows). The
    * set itself is what a local-dup index stores; the summary keeps the
    * gate output compact while still pinning the whole selection. */
  val x11Winnow = Q("x11_winnowing",
    Some("""WITH l AS (SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents),
            g AS (
              SELECT doc_id,
                CASE WHEN length(t) >= 5
                     THEN list_transform(range(1, length(t) - 3),
                            i -> md5(substr(t, CAST(i AS INT), 5)))
                     ELSE [md5(t)] END AS hs
              FROM l),
            w AS (
              SELECT doc_id,
                CASE WHEN len(hs) >= 4
                     THEN list_transform(range(1, len(hs) - 2),
                            j -> list_aggregate(list_slice(hs, j, j + 3), 'min'))
                     ELSE [list_aggregate(hs, 'min')] END AS wins
              FROM g),
            f AS (SELECT doc_id, list_distinct(wins) AS fp FROM w)
            SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fp,
              list_aggregate(fp, 'min') AS fp_min, list_aggregate(fp, 'max') AS fp_max
            FROM f ORDER BY doc_id"""),
    (s, d) => TextAnalysis.spreadSmallInput(documents(s, d)) // §2.5: map-only
      // fingerprint compute otherwise serializes on the one-task scan
      .withColumn("fp", TextAnalysis.winnowingFingerprints(lower(col("text")), k = 5, w = 4))
      .select(col("doc_id"), size(col("fp")).cast("long").as("n_fp"),
        array_min(col("fp")).as("fp_min"), array_max(col("fp")).as("fp_max"))
      .orderBy("doc_id"))

  /** Per-document top-3 TF-IDF terms — the keyword-extraction staple.
    * Scores are ranked on the 6-dp-rounded value (b1's rule) so libm ln
    * drift can't flip the per-doc ordering between engines. */
  val x12Tfidf = Q("x12_tfidf_top_terms",
    Some(s"""WITH t AS (SELECT doc_id, unnest(${OracleSql.toksSql}) AS w FROM documents),
            tf AS (SELECT doc_id, w, count(*) AS tf FROM t GROUP BY doc_id, w),
            df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
            n AS (SELECT count(*) AS n FROM documents),
            scored AS (
              SELECT doc_id, w AS term,
                round(CAST(tf AS DOUBLE) * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS score
              FROM tf JOIN df USING (w) CROSS JOIN n),
            ranked AS (
              SELECT doc_id, term, score,
                row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
              FROM scored)
            SELECT doc_id, rn, term, score FROM ranked WHERE rn <= 3
            ORDER BY doc_id, rn"""),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val t = documents(s, d).select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      val tf = t.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val n = documents(s, d).agg(count(lit(1)).as("n"))
      val scored = tf.join(df, "w").crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf").cast("double") * log(col("n").cast("double") / col("df").cast("double")), 6))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("w"))))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn").cast("long").as("rn"), col("w").as("term"), col("score"))
        .orderBy("doc_id", "rn")
    })

  /** Unicode NFC normalization, oracle-gated: every third doc gets a
    * decomposed suffix (e + U+0301 + a + U+0308) synthesized identically
    * in both engines; the normalizer must compose it (é, ä — length
    * drops by 2) and leave the rest byte-identical. DuckDB's
    * utf8proc-backed nfc_normalize is the independent reference for the
    * JDK Normalizer implementation. */
  val p13Nfc = Q("p13_unicode_nfc",
    // text coalesced in BOTH engines: Spark concat null-propagates while
    // DuckDB concat skips NULLs \u2014 without the coalesce a NULL text row
    // would diverge
    Some("""WITH s AS (
              SELECT doc_id,
                CASE WHEN doc_id % 3 = 0
                     THEN concat(substr(coalesce(text, ''), 1, 40), 'e', chr(769), 'a', chr(776))
                     ELSE substr(coalesce(text, ''), 1, 40) END AS raw
              FROM documents),
            n AS (SELECT doc_id, raw, nfc_normalize(raw) AS norm FROM s)
            SELECT doc_id, length(raw) AS len_raw, length(norm) AS len_norm,
              md5(norm) AS digest
            FROM n ORDER BY doc_id"""),
    (s, d) => {
      val base = substring(coalesce(col("text"), lit("")), 1, 40)
      val raw = when(col("doc_id") % 3 === 0, concat(base, lit("e\u0301a\u0308")))
        .otherwise(base)
      documents(s, d)
        .withColumn("raw", raw)
        .withColumn("norm", Cleaning.nfcNormalize(col("raw")))
        .select(col("doc_id"), length(col("raw")).as("len_raw"),
          length(col("norm")).as("len_norm"), md5(col("norm").cast("binary")).as("digest"))
        .orderBy("doc_id")
    })

  /** Zipf profile: the top-20 rank/frequency table with each rank's
    * cumulative share of all tokens — the one-glance corpus-health report
    * (a too-steep curve = boilerplate, too-flat = noise). Share is an
    * exact-integer ratio divided once as doubles, so no rounding is
    * needed for parity. */
  val x13Zipf = Q("x13_zipf_stats",
    Some(s"""WITH t AS (SELECT unnest(${OracleSql.toksSql}) AS w FROM documents),
            cnt AS (SELECT w, count(*) AS c FROM t GROUP BY w),
            tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total FROM cnt),
            ranked AS (SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rank FROM cnt),
            cum AS (SELECT rank, w, c,
                sum(c) OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
              FROM ranked)
            SELECT rank, w AS term, CAST(c AS BIGINT) AS cnt,
              CAST(cumc AS DOUBLE) / n_total AS cum_share
            FROM cum CROSS JOIN tot
            WHERE rank <= 20 ORDER BY rank"""),
    (s, d) => {
      // NO global window: the full-vocabulary rank used to run through an
      // unpartitioned row_number + cum-sum WindowExec — at web scale the
      // vocabulary grows with the corpus (Heaps' law) and that plan moves
      // the whole token-count table to one partition. Only ranks <= 20
      // survive, so take the top 20 via orderBy().limit(20)
      // (TakeOrderedAndProject: per-partition heaps, driver merge of 20-row
      // slices) and derive rank + cumulative count from a 20x20 broadcast
      // self-join — bounded by construction, no WindowExec anywhere.
      val cnt = documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val tot = cnt.agg(sum("c").cast("double").as("n_total"))
      graft.ops.TableOps.broadcastTopRank(cnt, "c", "w", 20)
        .crossJoin(broadcast(tot))
        .select(col("rank"), col("w").as("term"),
          col("c").as("cnt"), (col("cum").cast("double") / col("n_total")).as("cum_share"))
        .orderBy("rank")
    })

  /** URL canonicalization (crawl-dedup key building): a messy URL is
    * synthesized from base columns identically in both engines (the
    * oracle-strong pattern) — uppercase scheme/www/host, a default or
    * non-default port by parity, doubled trailing slashes, tracking
    * params out of order, a fragment — and `TextAnalysis.normalizeUrl`
    * must collapse all of it to the canonical form the oracle rebuilds
    * step by step. */
  val p14Url = Q("p14_url_normalize",
    Some("""WITH u AS (
              SELECT doc_id, concat('HTTPS://WWW.', upper(coalesce(source, '')), '.Example.COM',
                CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':8443' END,
                '/Docs/', CAST(doc_id AS VARCHAR), '//?utm_source=feed&ref=abc&id=',
                CAST(doc_id AS VARCHAR), '&b=2&a=1#sec', coalesce(lang, '')) AS url
              FROM documents),
            nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM u),
            parts AS (SELECT doc_id, nf,
                lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^[^@]*@', '') AS hostport,
                regexp_replace(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '') AS rawpath,
                regexp_extract(nf, '\?([^#]*)', 1) AS query
              FROM nf),
            p2 AS (SELECT doc_id, nf, scheme,
                regexp_replace(lower(regexp_extract(hostport, '^([^:]*)', 1)), '^www\.', '') AS host,
                regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
                CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
                list_sort(list_filter(string_split(query, '&'),
                  p -> p <> '' AND NOT regexp_matches(p, '(?i)^(utm_[^=]*|ref|fbclid|gclid)(=|$)'))) AS kept
              FROM parts)
            SELECT doc_id, host, CASE WHEN scheme = '' THEN nf ELSE
              concat(scheme, '://', host,
                CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
                          OR (scheme = 'http' AND port = '80')
                     THEN '' ELSE concat(':', port) END,
                path,
                CASE WHEN len(kept) = 0 THEN '' ELSE concat('?', array_to_string(kept, '&')) END)
              END AS url_norm
            FROM p2 ORDER BY doc_id"""),
    (s, d) => {
      // coalesce both free-text columns: Spark's concat null-propagates
      // while DuckDB's skips NULLs (the f23 rule) — a NULL source/lang row
      // must not null the whole URL on the Spark side only
      val url = concat(lit("HTTPS://WWW."), upper(coalesce(col("source"), lit(""))), lit(".Example.COM"),
        when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit(":8443")),
        lit("/Docs/"), col("doc_id").cast("string"), lit("//?utm_source=feed&ref=abc&id="),
        col("doc_id").cast("string"), lit("&b=2&a=1#sec"), coalesce(col("lang"), lit("")))
      documents(s, d)
        .withColumn("url_norm", TextAnalysis.normalizeUrl(url))
        .select(col("doc_id"),
          regexp_extract(col("url_norm"), "^[a-z]+://([^/:?#]*)", 1).as("host"),
          col("url_norm"))
        .orderBy("doc_id")
    })

  /** C4-style global span dedup: 8-token spans, first occurrence
    * corpus-wide wins, documents reassembled from their surviving spans.
    * The oracle replays the whole pipeline — segment build, global
    * first-wins, ordered reassembly — so the kept_text strings are
    * compared byte-for-byte. */
  val d10SpanDedup = Q("d10_span_dedup",
    Some(s"""WITH t AS (SELECT doc_id, ${OracleSql.toksSql} AS toks FROM documents),
            segd AS (SELECT doc_id,
                list_transform(range(0, (len(toks) + 7) // 8),
                  i -> array_to_string(toks[i*8+1 : i*8+8], ' ')) AS segs
              FROM t),
            seg AS (SELECT doc_id, unnest(segs) AS seg,
                generate_subscripts(segs, 1) - 1 AS seg_idx
              FROM segd),
            k AS (SELECT doc_id, seg_idx, seg,
                row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
              FROM seg),
            tot AS (SELECT doc_id, count(*) AS n_spans FROM seg GROUP BY doc_id),
            ka AS (SELECT doc_id, count(*) AS n_kept,
                string_agg(seg, ' ' ORDER BY seg_idx) AS kept_text
              FROM k WHERE rn = 1 GROUP BY doc_id)
            SELECT d.doc_id, CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
              CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
              coalesce(kept_text, '') AS kept_text
            FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN ka USING (doc_id)
            ORDER BY d.doc_id"""),
    (s, d) => TextAnalysis.spanDedup(documents(s, d), col("doc_id"), col("text"), 8)
      .orderBy("doc_id"))

  /** SFT sample construction: chat-template render + completion-only
    * loss-mask boundary, synthesized from base columns identically in
    * both engines. The oracle recomputes the prefix length arithmetic, so
    * a template drift that would silently shift the mask hash-fails. */
  val f23Chat = Q("f23_chat_template",
    Some("""WITH s AS (
              SELECT doc_id,
                concat('<|system|>', 'You are a precise assistant.',
                       '<|user|>', concat('What is ', source, '?'),
                       '<|assistant|>') AS prefix,
                substr(coalesce(text, ''), 1, 80) AS answer
              FROM documents)
            SELECT doc_id, concat(prefix, answer, '<|end|>') AS sample,
              CAST(length(prefix) + 1 AS BIGINT) AS mask_start
            FROM s ORDER BY doc_id"""),
    (s, d) => {
      // source coalesced: Spark concat null-propagates while DuckDB's
      // skips NULLs — without it a NULL source nulls the whole sample
      val ct = TextAnalysis.chatTemplate(
        lit("You are a precise assistant."),
        concat(lit("What is "), coalesce(col("source"), lit("")), lit("?")),
        substring(coalesce(col("text"), lit("")), 1, 80))
      documents(s, d)
        .withColumn("ct", ct)
        .select(col("doc_id"), col("ct.sample").as("sample"),
          col("ct.mask_start").as("mask_start"))
        .orderBy("doc_id")
    })

  /** Stupid-backoff trigram LM scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation" — the backoff designed FOR
    * distributed count tables: no discount normalization, so each order's
    * counts aggregate independently). The model trains on the even-doc_id
    * half of the corpus and scores every document, so held-out docs
    * genuinely exercise all three backoff tiers: trigram hit →
    * c3(uvw)/c2(uv); bigram fallback → 0.4·c2(vw)/c1(v); unigram floor →
    * 0.4²·(c1(w)+1)/(N+V) (add-one, so an unseen word never hits ln 0).
    *
    * Scale shape: three Heaps-sublinear count aggregates (all map-side
    * combined) + five hash equi-joins from the event table — no windows,
    * no driver traffic; the DECIMAL(25,15) sum keeps the per-doc mean
    * independent of shuffle reduction order (x8/x9 precedent). */
  val x15Backoff = Q("x15_stupid_backoff",
    Some(s"""WITH t AS (SELECT doc_id, ${OracleSql.toksSql} AS toks FROM documents),
            tr AS (SELECT doc_id,
                     unnest(list_transform(range(1, len(toks) - 1), i -> toks[i])) AS u,
                     unnest(list_transform(range(1, len(toks) - 1), i -> toks[i+1])) AS v,
                     unnest(list_transform(range(1, len(toks) - 1), i -> toks[i+2])) AS w
                   FROM t WHERE len(toks) >= 3),
            train AS (SELECT toks FROM t WHERE doc_id % 2 = 0),
            c1 AS (SELECT w, count(*) AS c FROM (SELECT unnest(toks) AS w FROM train) z GROUP BY w),
            tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total, CAST(count(*) AS DOUBLE) AS v_size FROM c1),
            c2 AS (SELECT p, w, count(*) AS c FROM (
                     SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS p,
                            unnest(list_transform(range(1, len(toks)), i -> toks[i+1])) AS w
                     FROM train WHERE len(toks) >= 2) z GROUP BY p, w),
            c3 AS (SELECT u, v, w, count(*) AS c FROM (
                     SELECT unnest(list_transform(range(1, len(toks) - 1), i -> toks[i])) AS u,
                            unnest(list_transform(range(1, len(toks) - 1), i -> toks[i+1])) AS v,
                            unnest(list_transform(range(1, len(toks) - 1), i -> toks[i+2])) AS w
                     FROM train WHERE len(toks) >= 3) z GROUP BY u, v, w),
            scored AS (SELECT tr.doc_id,
                CASE WHEN c3.c IS NOT NULL THEN CAST(c3.c AS DOUBLE) / CAST(c2uv.c AS DOUBLE)
                     WHEN c2vw.c IS NOT NULL THEN 0.4 * CAST(c2vw.c AS DOUBLE) / CAST(c1v.c AS DOUBLE)
                     ELSE 0.16 * (CAST(coalesce(c1w.c, 0) AS DOUBLE) + 1.0) / (n_total + v_size) END AS p
              FROM tr
              LEFT JOIN c3 ON c3.u = tr.u AND c3.v = tr.v AND c3.w = tr.w
              LEFT JOIN c2 c2uv ON c2uv.p = tr.u AND c2uv.w = tr.v
              LEFT JOIN c2 c2vw ON c2vw.p = tr.v AND c2vw.w = tr.w
              LEFT JOIN c1 c1v ON c1v.w = tr.v
              LEFT JOIN c1 c1w ON c1w.w = tr.w
              CROSS JOIN tot)
            SELECT doc_id,
              round(CAST(sum(CAST(ln(p) AS DECIMAL(25,15))) AS DOUBLE) / count(*), 6) AS mean_logprob,
              CAST(count(*) AS BIGINT) AS n_trigrams
            FROM scored GROUP BY doc_id ORDER BY doc_id"""),
    (s, d) => {
      val t = documents(s, d).select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      val tr = t.select(col("doc_id"), explode(TextAnalysis.adjacentTokenTriples(col("toks"))).as("g"))
        .select(col("doc_id"), col("g.u").as("u"), col("g.v").as("v"), col("g.w").as("w"))
      val train = t.filter(col("doc_id") % 2 === 0)
      val c1 = train.select(explode(col("toks")).as("w")).groupBy("w").agg(count(lit(1)).as("c"))
      val tot = c1.agg(sum("c").cast("double").as("n_total"), count(lit(1)).cast("double").as("v_size"))
      val c2 = train.select(explode(TextAnalysis.adjacentTokenPairs(col("toks"))).as("pr"))
        .select(col("pr.p").as("p"), col("pr.w").as("w"))
        .groupBy("p", "w").agg(count(lit(1)).as("c"))
      val c3 = train.select(explode(TextAnalysis.adjacentTokenTriples(col("toks"))).as("g"))
        .select(col("g.u").as("u"), col("g.v").as("v"), col("g.w").as("w"))
        .groupBy("u", "v", "w").agg(count(lit(1)).as("c"))
      val p = when(col("c3c").isNotNull, col("c3c").cast("double") / col("c2uv").cast("double"))
        .when(col("c2vw").isNotNull,
          lit(0.4) * col("c2vw").cast("double") / col("c1v").cast("double"))
        .otherwise(lit(0.16) * (coalesce(col("c1w"), lit(0L)).cast("double") + 1.0)
          / (col("n_total") + col("v_size")))
      tr.join(c3.withColumnRenamed("c", "c3c"), Seq("u", "v", "w"), "left")
        .join(c2.select(col("p").as("u"), col("w").as("v"), col("c").as("c2uv")), Seq("u", "v"), "left")
        .join(c2.select(col("p").as("v"), col("w"), col("c").as("c2vw")), Seq("v", "w"), "left")
        .join(c1.select(col("w").as("v"), col("c").as("c1v")), Seq("v"), "left")
        .join(c1.withColumnRenamed("c", "c1w"), Seq("w"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("lp", log(p))
        .groupBy("doc_id")
        // decimal sum: order-independent across the shuffle (the d9 rule)
        .agg(round(sum(col("lp").cast("decimal(25,15)")).cast("double") / count(lit(1)), 6)
          .as("mean_logprob"),
          count(lit(1)).as("n_trigrams"))
        .orderBy("doc_id")
    })

  /** Unigram-LM Viterbi segmentation (SentencePiece inference, Kudo 2018)
    * — the OTHER tokenizer family next to tok1-3's BPE: per distinct
    * corpus word, the max-probability segmentation score over a
    * deterministically-constructed piece vocabulary (all single chars +
    * top-50 multi-char grams, ln(count/total)). The oracle replays the
    * forward DP as a RECURSIVE CTE with bounded lookback — pieces are ≤ 4
    * chars, so carrying (dp[i], dp[i-1], dp[i-2], dp[i-3]) as columns
    * makes each step four vocabulary lookups + a null-skipping greatest,
    * exactly the candidate set of the Spark fold. Scores are identical
    * doubles by construction (same ln inputs, same positional additions);
    * the gate rounds at 6 dp (the x8 ln-parity rule). Segmentation
    * backtrack (the piece strings) is Spark-side API, pinned in
    * Round5Spec incl. the greedy-beating case. */
  val tok4Viterbi: Q = {
    val k = 50
    Q("tok4_unigram_viterbi",
      Some(s"""WITH RECURSIVE wcnt AS (
              SELECT w AS word, count(*) AS wc FROM (
                SELECT unnest(${OracleSql.toksSql}) AS w FROM documents) z GROUP BY w),
            g AS (SELECT unnest(list_transform(range(1, length(word) - l + 2),
                    p -> substr(word, CAST(p AS INT), CAST(l AS INT)))) AS piece, wc
                  FROM wcnt CROSS JOIN range(1, 5) rl(l) WHERE length(word) >= l),
            gcnt AS (SELECT piece, sum(wc) AS c FROM g GROUP BY piece),
            singles AS (SELECT piece, c FROM gcnt WHERE length(piece) = 1),
            multi AS (SELECT piece, c FROM gcnt WHERE length(piece) >= 2
                      ORDER BY c DESC, piece LIMIT $k),
            vocab AS (SELECT piece, c FROM singles UNION ALL SELECT piece, c FROM multi),
            tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM vocab),
            v AS (SELECT piece, ln(CAST(c AS DOUBLE) / tot) AS logp FROM vocab CROSS JOIN tot),
            seg AS (
              SELECT word, 0 AS i, CAST(0 AS DOUBLE) AS d0,
                CAST(NULL AS DOUBLE) AS d1, CAST(NULL AS DOUBLE) AS d2, CAST(NULL AS DOUBLE) AS d3
              FROM wcnt
              UNION ALL
              SELECT s.word, s.i + 1,
                greatest(s.d0 + v1.logp, s.d1 + v2.logp, s.d2 + v3.logp, s.d3 + v4.logp) AS d0,
                s.d0 AS d1, s.d1 AS d2, s.d2 AS d3
              FROM seg s
              LEFT JOIN v v1 ON v1.piece = substr(s.word, s.i + 1, 1)
              LEFT JOIN v v2 ON s.i >= 1 AND v2.piece = substr(s.word, s.i, 2)
              LEFT JOIN v v3 ON s.i >= 2 AND v3.piece = substr(s.word, s.i - 1, 3)
              LEFT JOIN v v4 ON s.i >= 3 AND v4.piece = substr(s.word, s.i - 2, 4)
              WHERE s.i < length(s.word))
            SELECT s.word, CAST(c.wc AS BIGINT) AS wc, round(s.d0, 6) AS score
            FROM seg s JOIN wcnt c ON c.word = s.word
            WHERE s.i = length(s.word) ORDER BY s.word"""),
      (s, d) => {
        val wcnt = documents(s, d)
          .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("wc"))
        val vocab = TextAnalysis.unigramPieceVocab(wcnt, k)
        TextAnalysis.viterbiSegment(wcnt.select("word"), vocab)
          .join(wcnt, "word")
          .select(col("word"), col("wc"), round(col("score"), 6).as("score"))
          .orderBy("word")
      })
  }

  /** Gopher rule-set quality filter (Rae et al. 2021, appendix A1.1) —
    * every rule statistic plus the composed keep verdict per document.
    * The fixture text is single-line, so line structure is synthesized
    * from the text identically in both engines (the oracle-strong
    * pattern): ' a ' starts a bullet line, ' the ' ends a line with an
    * ellipsis — giving the bullet/ellipsis line rules real work. Map-only
    * except the output sort; every ratio is one exact-integer division. */
  val x16Gopher = Q("x16_gopher_rules",
    Some("""WITH s AS (SELECT doc_id,
                replace(replace(coalesce(text, ''), ' a ', chr(10) || '• '), ' the ', '...' || chr(10)) AS t
              FROM documents),
            tk AS (SELECT doc_id, t,
                list_filter(string_split_regex(lower(t), '\s+'), x -> x <> '') AS toks,
                list_filter(list_transform(string_split(t, chr(10)), l -> trim(l)), l -> l <> '') AS lines
              FROM s),
            st AS (SELECT doc_id,
                CAST(len(toks) AS BIGINT) AS n_words,
                CAST(coalesce(list_aggregate(list_transform(toks, w -> length(w)), 'sum'), 0) AS DOUBLE)
                  / greatest(len(toks), 1) AS mean_word_len,
                CAST(len(regexp_extract_all(t, '#|\.\.\.')) AS DOUBLE) / greatest(len(toks), 1) AS symbol_ratio,
                CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
                  / greatest(len(toks), 1) AS alpha_word_frac,
                CAST(len(list_intersect(list_distinct(toks),
                  ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS BIGINT) AS n_stop_hits,
                CAST(len(list_filter(lines, l -> starts_with(l, '•') OR starts_with(l, '- '))) AS DOUBLE)
                  / greatest(len(lines), 1) AS bullet_line_frac,
                CAST(len(list_filter(lines, l -> ends_with(l, '...') OR ends_with(l, '…'))) AS DOUBLE)
                  / greatest(len(lines), 1) AS ellipsis_line_frac
              FROM tk)
            SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac, n_stop_hits,
              bullet_line_frac, ellipsis_line_frac,
              (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
               AND symbol_ratio <= 0.1 AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
               AND alpha_word_frac >= 0.8 AND n_stop_hits >= 2) AS keep
            FROM st ORDER BY doc_id"""),
    (s, d) => {
      val lified = replace(
        replace(coalesce(col("text"), lit("")), lit(" a "), lit("\n• ")),
        lit(" the "), lit("...\n"))
      documents(s, d)
        .withColumn("gr", TextAnalysis.gopherRules(lified))
        .select(col("doc_id"), col("gr.n_words").as("n_words"),
          col("gr.mean_word_len").as("mean_word_len"),
          col("gr.symbol_ratio").as("symbol_ratio"),
          col("gr.alpha_word_frac").as("alpha_word_frac"),
          col("gr.n_stop_hits").as("n_stop_hits"),
          col("gr.bullet_line_frac").as("bullet_line_frac"),
          col("gr.ellipsis_line_frac").as("ellipsis_line_frac"),
          col("gr.keep").as("keep"))
        .orderBy("doc_id")
    })

  /** DSIR — Data Selection with Importance Resampling (Xie et al. 2023):
    * the data-selection pass that picks raw-corpus documents LOOKING
    * LIKE a target domain. Hashed n-gram features (unigrams + bigrams →
    * 64 md5 buckets, the portable-hash idiom), two add-1-smoothed
    * multinomials over the buckets (target = the doc_id % 13 = 0 eval
    * slice — d6's convention; raw = everything else), per-document
    * importance weight Σ_b count_b · log(p_b/q_b), and a top-20%
    * selection cut from ONE exact-percentile aggregate over the
    * 6-dp-rounded weights (the sel2 rule: never a corpus-wide rank).
    * Determinism follows x8's ln discipline: λ_b combines four ln terms
    * in one pinned parenthesization, per-doc terms sum in
    * DECIMAL(25,15) (order-independent), weights round to 6 dp.
    * Scale: the bucket models are 64-row broadcast frames; the corpus
    * is touched by exactly two map-side-combinable aggregates — no
    * pairwise anything. */
  val sel3Dsir = Q("sel3_dsir",
    Some(s"""WITH t AS (SELECT doc_id, ${OracleSql.toksSql} AS toks FROM documents),
            g0 AS (
              SELECT doc_id, unnest(toks) AS g FROM t
              UNION ALL
              SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i + 1])) AS g
              FROM t WHERE len(toks) >= 2),
            g AS (SELECT doc_id,
                ((strpos('0123456789abcdef', md5(g)[1]) - 1) * 16
                 + (strpos('0123456789abcdef', md5(g)[2]) - 1)) % 64 AS b,
                doc_id % 13 = 0 AS is_tgt
              FROM g0),
            bc AS (SELECT b,
                CAST(sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT) AS tc,
                CAST(sum(CASE WHEN is_tgt THEN 0 ELSE 1 END) AS BIGINT) AS rc
              FROM g GROUP BY b),
            grid AS (SELECT unnest(range(0, 64)) AS b),
            bcf AS (SELECT grid.b AS b, coalesce(tc, 0) AS tc, coalesce(rc, 0) AS rc
              FROM grid LEFT JOIN bc ON bc.b = grid.b),
            tot AS (SELECT CAST(sum(tc) AS DOUBLE) AS tt, CAST(sum(rc) AS DOUBLE) AS rt
              FROM bcf),
            lam AS (SELECT b,
                (ln(tc + 1.0) - ln(tt + 64.0)) - (ln(rc + 1.0) - ln(rt + 64.0)) AS lam
              FROM bcf CROSS JOIN tot),
            db AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS cnt
              FROM g WHERE NOT is_tgt GROUP BY doc_id, b),
            w AS (SELECT doc_id,
                round(CAST(sum(CAST(cnt * lam AS DECIMAL(25,15))) AS DOUBLE), 6) AS weight,
                CAST(sum(cnt) AS BIGINT) AS n_feats
              FROM db JOIN lam USING (b) GROUP BY doc_id),
            cut AS (SELECT round(quantile_cont(weight, 0.8), 6) AS c FROM w)
            SELECT doc_id, n_feats, weight, weight > c AS selected
            FROM w CROSS JOIN cut ORDER BY doc_id"""),
    (s, d) => {
      val t = documents(s, d).select(col("doc_id"),
        filter(split(lower(col("text")), "\\s+"), x => x =!= "").as("toks"))
      val bigrams = when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat(element_at(col("toks"), i), lit(" "), element_at(col("toks"), i + 1))))
        .otherwise(array().cast("array<string>"))
      val g = t.select(col("doc_id"),
          explode(concat(col("toks"), bigrams)).as("g"))
        .select(col("doc_id"),
          (conv(substring(md5(col("g")), 1, 2), 16, 10).cast("int") % 64).as("b"),
          (col("doc_id") % 13 === 0).as("is_tgt"))
        .localCheckpoint() // feeds the bucket models AND the per-doc counts
      val bc = g.groupBy("b").agg(
        sum(when(col("is_tgt"), 1L).otherwise(0L)).as("tc"),
        sum(when(col("is_tgt"), 0L).otherwise(1L)).as("rc"))
      val grid = s.range(64).select(col("id").cast("int").as("b"))
      val bcf = grid.join(bc, Seq("b"), "left")
        .select(col("b"), coalesce(col("tc"), lit(0L)).as("tc"),
          coalesce(col("rc"), lit(0L)).as("rc"))
      val tot = bcf.agg(sum("tc").cast("double").as("tt"), sum("rc").cast("double").as("rt"))
      // the pinned parenthesization — both engines combine the four ln
      // terms in exactly this order
      val lam = bcf.crossJoin(broadcast(tot))
        .select(col("b"),
          ((log(col("tc") + 1.0) - log(col("tt") + 64.0))
            - (log(col("rc") + 1.0) - log(col("rt") + 64.0))).as("lam"))
      val db = g.filter(!col("is_tgt")).groupBy("doc_id", "b")
        .agg(count(lit(1)).as("cnt"))
      val w = db.join(broadcast(lam), Seq("b"))
        .groupBy("doc_id")
        .agg(round(sum((col("cnt") * col("lam")).cast("decimal(25,15)")).cast("double"), 6)
          .as("weight"), sum("cnt").as("n_feats"))
        .localCheckpoint() // feeds the percentile cut AND the output rows
      val cut = w.agg(round(percentile(col("weight"), lit(0.8)), 6).as("c"))
      w.crossJoin(broadcast(cut))
        .select(col("doc_id"), col("n_feats").cast("long").as("n_feats"), col("weight"),
          (col("weight") > col("c")).as("selected"))
        .orderBy("doc_id")
    })

  /** ExactSubstr-style duplicated-substring spans (Lee et al. 2022):
    * 8-token OVERLAPPING grams mark duplicated positions corpus-wide;
    * overlapping marks merge into maximal spans (so a shared 20-token run
    * reports as ONE 20-token span, at any alignment — what d10's fixed
    * non-overlapping windows cannot see). The oracle replays the mark +
    * gaps-and-islands merge; the merge window is partitioned by doc_id. */
  val d11DupSubstr = Q("d11_dup_substring_spans",
    Some(s"""WITH t AS (SELECT doc_id, ${OracleSql.toksSql} AS toks FROM documents),
            g AS (SELECT doc_id,
                    unnest(range(1, len(toks) - 6)) - 1 AS pos,
                    unnest(list_transform(range(1, len(toks) - 6),
                      i -> array_to_string(toks[i : i+7], ' '))) AS gram
                  FROM t WHERE len(toks) >= 8),
            hot AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
            m AS (SELECT doc_id, pos FROM g JOIN hot USING (gram)),
            b AS (SELECT doc_id, pos,
                    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                         THEN 1 ELSE 0 END AS brk FROM m),
            isl AS (SELECT doc_id, pos,
                    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM b),
            sp AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 8 AS e FROM isl GROUP BY doc_id, island),
            agg AS (SELECT doc_id, count(*) AS n_dup_spans, sum(e - s) AS dup_tokens FROM sp GROUP BY doc_id)
            SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
              CAST(coalesce(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
              CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
              CAST(coalesce(dup_tokens, 0) AS DOUBLE) / greatest(len(toks), 1) AS dup_frac
            FROM t LEFT JOIN agg USING (doc_id) ORDER BY t.doc_id"""),
    (s, d) => TextAnalysis.dupSubstringSpans(documents(s, d), col("doc_id"), col("text"), 8)
      .orderBy("doc_id"))

  def all: Seq[Q] = Seq(p1Normalize, p2Noise, p8Metadata, p9Sanitize, f16Classify, a7Intent,
    f5Entities, f7Overlap, t2Rerank, f9Similarity, f9Difflib, f10Money, f11Canon, f13Md5,
    f14IdFromName, f21Json, x1LangAgg, x3Subword, x5Repetition, x6Sample, x8Unigram, pii1Scrub, pii2Luhn, pii3Iban, x20CharEntropy, x21Safety,
    x22Readability, x23Winsorize, x24DistinctN, x25Compression, p16SentenceSplit,
    x26SpanCorruption, x27FimTransform, tok5VocabCoverage, p17SentenceChunks, x28NgramNovelty, ask5Attribution,
    b1Bm25, b2Rm3, b3BatchBm25, tok1BpePairs, tok2BpeMerges, tok3BpeEncode, tok6WordPiece, cdc1Chunks, cdc2ChunkDedup,
    sk1CmsHeavyHitters, sk2HllDistinct, sk3KmvDistinct, x31Confusable, x32Neyman, x33PsiDrift, d19LshTuning, c2Curriculum, x9Bigram,
    x10Split, x11Winnow, x12Tfidf, p13Nfc, x13Zipf, p14Url, d10SpanDedup, f23Chat,
    x15Backoff, x16Gopher, d11DupSubstr, sel2Perplexity, sel3Dsir, tok4Viterbi, x17Weighted,
    x18WeightedGroup, x19Scripts, x30Blocklist, lic1License)

  /** SPDX-style license detection ([[TextAnalysis.licenseDetect]]) — the
    * governance gate code/doc training sets run before admission. Texts
    * are synthesized with one canonical license-anchor phrase each
    * (every even doc UPPERCASED so case-insensitivity is load-bearing);
    * the oracle predicts (license, family) from the planting. Pure
    * codegen expressions, no UDF, map-only. */
  lazy val lic1License = Q("lic1_license_detect",
    Some("""WITH p AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS k FROM documents)
            SELECT doc_id,
              CASE k WHEN 0 THEN 'MIT' WHEN 1 THEN 'Apache-2.0' WHEN 2 THEN 'GPL-3.0'
                     WHEN 3 THEN 'LGPL-3.0' WHEN 4 THEN 'MPL-2.0' WHEN 5 THEN 'BSD-3-Clause'
                     WHEN 6 THEN 'CC-BY-4.0' ELSE 'none' END AS license,
              CASE WHEN k IN (2, 3, 4) THEN 'copyleft' WHEN k = 6 THEN 'cc'
                   WHEN k = 7 THEN 'none' ELSE 'permissive' END AS family
            FROM p ORDER BY doc_id"""),
    (s, d) => {
      val phrases = Seq(
        "Permission is hereby granted, free of charge, to any person",
        "Licensed under the Apache License, Version 2.0 (the License)",
        "under the terms of the GNU General Public License as published",
        // the real LGPL-3.0 body also carries the GPL anchor verbatim —
        // the fixture plants both so LGPL-before-GPL ordering is
        // load-bearing (a GPL-first detector misclassifies this doc)
        "under the terms of the GNU Lesser General Public License, which " +
          "incorporates the terms and conditions of version 3 of the GNU " +
          "General Public License",
        "subject to the terms of the Mozilla Public License, v. 2.0",
        "Redistribution and use in source and binary forms, with or without",
        "licensed under a Creative Commons Attribution 4.0 International License",
        "all rights reserved; internal use only")
      val phrase = element_at(
        array(phrases.map(lit): _*), (col("doc_id") % 8 + 1).cast("int"))
      val header = when(col("doc_id") % 2 === 0, upper(phrase)).otherwise(phrase)
      val text = concat(lit("/* "), header, lit(" */\nfn main() {} // id "),
        col("doc_id").cast("string"))
      val det = TextAnalysis.licenseDetect(text)
      documents(s, d).select(col("doc_id"),
          det.getField("license").as("license"), det.getField("family").as("family"))
        .orderBy("doc_id")
    })
}
