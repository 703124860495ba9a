package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The operator inventory lives in `graft.queries.*` (one `Q` per SURVEY §2
  * row: Spark implementation + DuckDB oracle SQL); the underlying operator
  * implementations live in `graft.ops`, `graft.index`, `graft.stream`.
  */
object SparkEntry {

  private val querySets: Seq[QuerySet] =
    Seq(Relational, WindowQueries, TextQueries, VectorQueries, StreamingQueries,
      TableQueries, MiscQueries, PdfQueries, EntityQueries, LakehouseQueries, TimeSeriesQueries, GovernanceQueries, FeatureStoreQueries,
      ConversationQueries)

  private lazy val catalog: Seq[Q] = querySets.flatMap(_.all)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full lifecycle in one DAG (SURVEY §3.1 + §3.2 steps 1–10, plus
    * the corpus-curation front door): curate the raw corpus (quality →
    * PII redact → dedup → cluster → decontaminate → mix) → synthesize
    * text blocks → ingest pipeline (clean → order → sections → chunk →
    * dedup → embed) → retrieval over the chunk index (score → filter →
    * top-k) → answer assembly with `[SHOW_TABLE:CAT=…]` tags resolved
    * against the per-section table dim (step 9) → sources projection. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val docs = graft.tables.TestTables.documents(spark, d)
    // keep-everything mixing rates: curation here demonstrates the stage
    // order; the flagship shouldn't sample away retrieval content
    val curated = graft.ops.Curation.curate(
      docs.filter(col("doc_id") % 13 =!= 0), "doc_id", "text", "lang",
      docs.filter(col("doc_id") % 13 === 0),
      graft.ops.Curation.CurationConfig(minQuality = 0.3, rates = Seq.empty, defaultRate = 1.0))
      .select(col("id").as("doc_id"), col("text"))
    val blocks = graft.pipeline.IngestPipeline.blocksFromFrame(curated)
    val chunks = graft.pipeline.IngestPipeline.run(blocks)
      // chunk_id is only unique per doc — Ask's top-k tiebreak needs a
      // globally unique id for deterministic results
      .withColumn("uid", concat_ws("#", col("doc_id"), col("chunk_id")))
    val hits = graft.query.Ask.ask(chunks, "uid", "content", "spark join stream",
        graft.query.Ask.AskConfig(topK = 10))
    // step 9: each hit's draft answer embeds a table tag for its section;
    // the section dim supplies the substituted HTML
    val answers = hits.select(col("uid"), col("doc_id"), col("chunk_id"), col("score"),
      concat(substring(col("content"), 1, 120),
        lit(" [SHOW_TABLE:CAT="), col("section"), lit("]")).as("answer"))
    val sectionDim = chunks.select(col("section").as("cat"),
      concat(lit("<table><tr><td>"), col("section"), lit("</td></tr></table>")).as("html")).distinct()
    graft.query.Ask.resolveShowTableTags(answers, "uid", "answer", sectionDim, "cat", "html")
      .select(col("doc_id"), col("chunk_id"), col("score"), col("answer"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → driver records a weaker
    * rows-only check. */
  def oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(o => q.name -> o)).toMap

  /** The local session [[Bench]] and [[Verify]] run the catalog in:
    * `local[SPARK_GRAFT_CPUS]` (default 32) with as many shuffle
    * partitions, UTC, no UI. */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark 4 defaults spark.sql.ui.explainMode=formatted and computes a
      // FORMATTED explain string for EVERY execution event even with the
      // UI off; on this catalog's biggest composed plans (dl38's two-log
      // assembly) ExplainUtils.getSubqueries burned minutes of driver CPU
      // per action (jstack-verified). The event text is unread here.
      .config("spark.sql.ui.explainMode", "simple")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
