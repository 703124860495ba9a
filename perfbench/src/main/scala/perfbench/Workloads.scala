package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{Embed, Search, Upsert}
import graft.ops.{Curation, Dedup, Pii, TextAnalysis}
import graft.pipeline.IngestPipeline
import graft.query.Ask

/** A value reported under a metric name, with its unit and sample count. */
final case class Metric(name: String, value: Double, unit: String, n: Int)

/** One benchmark workload. A workload's unit is one closed-loop request of
  * its single client: a question, a churn round. */
trait Workload {
  /** Generates the inputs under `dir` and builds the state the operations
    * run against. Returns the input sizes. */
  def setup(dir: String): Seq[(String, Long)]
  /** Digest of the generated inputs. */
  def digest: String
  /** Runs units until their summed time reaches `seconds` (and the
    * workload's minimum unit count), checking each one's output outside
    * the timed region. Marks operations whose check fails and returns the
    * failures. A warm-up run does the least work that takes every code
    * path once. */
  def run(t: Tracer, seconds: Double, warmup: Boolean): Seq[String]
  /** Operation kinds that make up a unit; the operations of one unit share
    * their `group`. */
  def unitKinds: Set[String]
  /** The workload's end-to-end metrics under their own names. */
  def metrics(ops: Seq[Op]): Seq[Metric]
  /** Failures found by set-up's own checks. */
  val setupFailures: ArrayBuffer[String] = ArrayBuffer.empty
  /** Runs calls made outside measured operations, such as checks. */
  protected lazy val untraced = new Tracer(SparkSession.active, traced = false)
  /** Module counts recorded by traced runs: name -> (unit, samples). */
  val layerCounts: collection.mutable.LinkedHashMap[String, (String, ArrayBuffer[Double])] =
    collection.mutable.LinkedHashMap.empty

  protected def count(traced: Boolean, name: String, unit: String)(v: => Double): Unit =
    if (traced) layerCounts.getOrElseUpdate(name, (unit, ArrayBuffer.empty))._2 += v

  protected def latency(name: String, ops: Seq[Op], kind: String, p: Double = 50): Metric = {
    val xs = ops.filter(o => o.ok && o.kind == kind).map(_.ms)
    Metric(name, if (xs.isEmpty) Double.NaN else Stats.percentile(xs, p), "ms", xs.size)
  }
}

object Workloads {
  val names: Seq[String] = Seq("ask_serve", "index_churn")

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "ask_serve" => new AskServe(spark, seed)
    case "index_churn" => new IndexChurn(spark, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected one of ${names.mkString(", ")})")
  }

  /** Loops `unit` until the units' summed time reaches `seconds` and at
    * least `minUnits` ran. `unit` returns the time it measured. */
  def loop(seconds: Double, minUnits: Int)(unit: Int => Double): Unit = {
    var spent = 0.0
    var i = 0
    while (spent < seconds * 1000 || i < minUnits) { spent += unit(i); i += 1 }
  }

  def fail(op: Op, failures: ArrayBuffer[String], why: Seq[String]): Unit =
    if (why.nonEmpty) {
      op.ok = false
      failures ++= why.take(5).map(w => s"${op.kind}#${op.id}: $w")
    }

  /** Runs `body` as operation `kind`; an exception fails the operation. */
  def attempt(t: Tracer, failures: ArrayBuffer[String], kind: String, group: Int = -1)
             (body: => Unit): Option[Op] =
    try Some(t.op(kind, group)(body)._2)
    catch {
      case e: Exception =>
        failures += s"$kind#${t.ops.last.id}: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
}

/** The ingest path: curation of a seeded corpus with planted duplicates,
  * contamination and low-quality documents, then ingest into a chunk index. */
final class Ingest(spark: SparkSession) {
  import spark.implicits._
  // 8 LSH bands of 2 rows: a planted near duplicate (Jaccard >= 0.95)
  // escapes every band with probability below 1e-9, so the planted-truth
  // check never fails by chance.
  val cfg: Curation.CurationConfig = Curation.CurationConfig(numHashes = 16, rowsPerBand = 2,
    rates = Seq("en" -> 0.9, "zh" -> 0.7), defaultRate = 0.8)

  def write(c: Gen.Corpus, dir: String): Unit = {
    c.docs.toDF().write.mode("overwrite").parquet(s"$dir/corpus")
    c.evalSet.toDF().write.mode("overwrite").parquet(s"$dir/eval")
  }

  def corpus(dir: String): DataFrame = spark.read.parquet(s"$dir/corpus").select("doc_id", "text")
  def curated(dir: String): DataFrame =
    spark.read.parquet(s"$dir/curated").select(col("id").as("doc_id"), col("text"))

  /** Curates `dir/corpus` into `dir/curated`. */
  def curate(t: Tracer, dir: String): Unit = t.span("ops.Curation", "curate") {
    Curation.curate(spark.read.parquet(s"$dir/corpus"), "doc_id", "text", "stratum",
      spark.read.parquet(s"$dir/eval"), cfg).write.mode("overwrite").parquet(s"$dir/curated")
  }

  /** Ingests `docs` (doc_id, text) into the chunk index `dir/chunks`. */
  def chunk(t: Tracer, dir: String, docs: => DataFrame): Unit = t.span("pipeline.IngestPipeline", "run") {
    val blocks = t.span("pipeline.IngestPipeline", "blocksFromFrame")(IngestPipeline.blocksFromFrame(docs))
    IngestPipeline.run(blocks)
      // chunk_id is unique only within a document; the top-k tiebreak
      // needs a global id
      .withColumn("uid", concat_ws("#", col("doc_id"), col("chunk_id")))
      .write.mode("overwrite").parquet(s"$dir/chunks")
  }

  /** (doc_id, fingerprint) of every chunk in `dir/chunks`. */
  def chunkKeys(dir: String): Seq[(Long, String)] =
    spark.read.parquet(s"$dir/chunks").select("doc_id", "fingerprint").as[(Long, String)].collect().toSeq

  /** Checks a curate-then-chunk pass against the corpus's planted truth and
    * counts its rows into `count`. */
  def check(c: Gen.Corpus, dir: String, count: (String, String, Double) => Unit): Seq[String] = {
    val kept = spark.read.parquet(s"$dir/curated").select("id").as[Long].collect().toSet
    val chunks = chunkKeys(dir)
    count("ops.Curation.rows_in", "count", c.docs.size)
    count("ops.Curation.rows_out", "count", kept.size)
    count("ops.Curation.keep_frac", "frac", kept.size.toDouble / c.docs.size)
    count("pipeline.IngestPipeline.blocks_in", "count",
      IngestPipeline.blocksFromFrame(curated(dir)).count().toDouble)
    count("pipeline.IngestPipeline.chunks_out", "count", chunks.size)
    Checks.ingest(c, kept, chunks)
  }

  /** The dedup stages of one curation, each timed on the previous stage's
    * materialized output. Returns the near-duplicate pairs. */
  def dedupStages(t: Tracer, dir: String): DataFrame = {
    val scored = t.span("ops.Curation", "score") {
      spark.read.parquet(s"$dir/corpus").select(col("doc_id").as("id"),
        TextAnalysis.qualityScore(col("text"), cfg.stopwords).as("quality"),
        Pii.redact(col("text")).as("text"))
        .filter(col("quality") >= cfg.minQuality).localCheckpoint()
    }
    val exact = t.span("ops.Dedup", "exact")(Dedup.exact(scored, col("text"), col("id")).localCheckpoint())
    val pairs = t.span("ops.Dedup", "minhash") {
      Dedup.minHashDuplicates(exact, "id", col("text"), cfg.shingleWidth, cfg.numHashes,
        cfg.rowsPerBand, cfg.jaccard).localCheckpoint()
    }
    val losers = t.span("ops.Dedup", "components") {
      Dedup.connectedComponents(pairs).filter(col("cluster_id") < col("id")).select("id").localCheckpoint()
    }
    t.span("ops.Dedup", "decontaminate") {
      Dedup.decontaminate(exact.join(losers, Seq("id"), "left_anti"),
        spark.read.parquet(s"$dir/eval").select(col("doc_id").as("id"), col("text")),
        "id", "text", cfg.decontamN).localCheckpoint()
    }
    pairs
  }
}

/** Closed-loop questions against a chunk index that set-up ingests from a
  * seeded corpus: the latency a user waits for, where the driver's fixed
  * cost per query shows, with the ingest pipeline's cost in set-up. */
final class AskServe(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._
  val Docs = 1000
  val MinQuestions = 30
  // questions keep getting faster for the first hundred or so while the JVM
  // compiles the driver's code; these take the steepest part out
  val WarmupQuestions = 30
  val cfg: Ask.AskConfig = Ask.AskConfig()
  private val ingest = new Ingest(spark)
  private val embedVocab = IngestPipeline.Config().vocab
  private lazy val questions = Gen.questions(seed, 4096, embedVocab)
  private var corpus: Gen.Corpus = _
  private var dir: String = _
  private var dim: Map[String, String] = _
  private var chunks: DataFrame = _
  private var sections: DataFrame = _
  private val ingestMs = ArrayBuffer.empty[Double]
  // every question of a run is new: a repeat could reuse generated code
  private var asked = 0

  def setup(d: String): Seq[(String, Long)] = {
    dir = d
    corpus = Gen.corpus(seed, Docs)
    ingest.write(corpus, dir)
    val t0 = System.nanoTime()
    ingest.chunk(untraced, dir, ingest.corpus(dir))
    ingestMs += (System.nanoTime() - t0) / 1e6
    setupFailures ++= Checks.chunks(corpus.docs.map(_.doc_id).toSet, ingest.chunkKeys(dir))
      .take(5).map("setup: " + _)
    chunks = spark.read.parquet(s"$dir/chunks")
    dim = chunks.filter(col("section").isNotNull).select(substring_index(col("section"), " ", 1))
      .distinct().as[String].collect().map(c => c -> s"<table><tr><td>$c</td></tr></table>").toMap
    dim.toSeq.toDF("cat", "html").write.mode("overwrite").parquet(s"$dir/sections")
    sections = spark.read.parquet(s"$dir/sections")
    Seq("docs" -> corpus.docs.size.toLong, "exact_groups" -> corpus.exactGroups.size.toLong,
      "near_groups" -> corpus.nearGroups.size.toLong, "contaminated" -> corpus.contaminated.size.toLong,
      "low_quality" -> corpus.lowQuality.size.toLong, "chunks" -> chunks.count(),
      "categories" -> dim.size.toLong)
  }

  def digest: String = Gen.sha256(Iterator(corpus.digest) ++ questions.iterator.map(_.toString))
  def unitKinds: Set[String] = Set("ask")

  private lazy val index: Seq[Gen.Chunk] =
    chunks.select(col("uid"), col("content"), col("section"), col("embedding"))
      .as[(String, String, Option[String], Seq[Double])].collect().toSeq
      .map { case (u, c, s, e) => Gen.Chunk(u, c, s, e) }

  private def queryVec(q: Gen.Question): Option[Seq[Double]] = if (!q.embedded) None else {
    val toks = q.text.toLowerCase.split("\\s+").toSeq
    val v = embedVocab.map(w => toks.count(_ == w).toDouble)
    val norm = math.sqrt(Checks.dot(v, v))
    Some(v.map(_ / norm))
  }

  def run(t: Tracer, seconds: Double, warmup: Boolean): Seq[String] = {
    val failures = ArrayBuffer.empty[String]
    Workloads.loop(if (warmup) 0 else seconds, if (warmup) WarmupQuestions else MinQuestions) { _ =>
      val i = asked
      asked += 1
      val q = questions(i % questions.size)
      val qv = queryVec(q)
      var rows: Seq[(String, String, Double)] = Nil
      Workloads.attempt(t, failures, "ask") {
        val hits = t.span("query.Ask", "ask") {
          Ask.ask(chunks, "uid", "content", q.text, cfg,
            scoreFn = qv.map(v => t.span("index.Embed", "dot")(Embed.dot(col("embedding"), array(v.map(lit): _*)))))
        }
        val answers = hits.select(col("uid"), col("score"),
          concat(substring(col("content"), 1, 120), lit(" [SHOW_TABLE:CAT="),
            coalesce(substring_index(col("section"), " ", 1), lit(AskServe.NoSection)), lit("]")).as("answer"))
        val resolved = t.span("query.Ask", "resolveShowTableTags") {
          Ask.resolveShowTableTags(answers, "uid", "answer", sections, "cat", "html")
        }
        val out = t.span("query.Ask", "sources")(Ask.sources(resolved, "uid", "answer"))
        rows = t.span("spark", "collect")(out.as[(String, String, Double)].collect().toSeq)
      } match {
        case Some(op) =>
          val why = ArrayBuffer.empty[String]
          if (!Checks.nonIncreasing(rows.map(_._3))) why += s"scores increase down the list: ${rows.map(_._3)}"
          if (i % 10 == 0) {
            why ++= Checks.sameRanking(Checks.ask(index, dim, q.text, qv, cfg.topK, cfg.overFetch,
              cfg.minScore, cfg.semanticOnly, cfg.stopwords), rows, 1.5e-6).map(s"'${q.text}': " + _)
          }
          Workloads.fail(op, failures, why.toSeq)
          count(t.traced, "query.Ask.fill_frac", "frac")(rows.size.toDouble / cfg.topK)
          op.ms
        case None => 0.0
      }
    }
    // a traced run also profiles the whole ingest path on the set-up corpus:
    // curation, then chunking of what it kept
    if (t.traced) {
      val profile = s"$dir/profile"
      ingest.write(corpus, profile)
      Workloads.attempt(t, failures, "ingest_pass") {
        ingest.curate(t, profile)
        ingest.chunk(t, profile, ingest.curated(profile))
      }.foreach { op =>
        Workloads.fail(op, failures, ingest.check(corpus, profile, (name, unit, v) => count(true, name, unit)(v)))
      }
      var pairs: DataFrame = null
      Workloads.attempt(t, failures, "dedup_stages") { pairs = ingest.dedupStages(t, profile) }
      if (pairs != null) count(true, "ops.Dedup.minhash_pairs", "count")(pairs.count().toDouble)
    }
    failures.toSeq
  }

  def metrics(ops: Seq[Op]): Seq[Metric] =
    Seq(latency("ask_p50_ms", ops, "ask"), latency("ask_p90_ms", ops, "ask", 90),
      Metric("ingest_docs_per_s", Docs / (Stats.median(ingestMs.toSeq) / 1000), "1/s", ingestMs.size))
}

object AskServe {
  /** Category tagged on answers whose chunk has no section; it resolves to
    * nothing. */
  val NoSection = "none"

  /** An answer's table category: the first word of its chunk's section, so
    * the table dimension stays small, as the reference's table categories
    * are. The ask operation derives it in Spark with `substring_index`. */
  def category(section: String): String = section.split(" ", -1).head
}

/** Upserts, deletes and cell-pruned queries against one IVF vector index,
  * ended by compaction: read cost grows with the write history, so a
  * read-path gain that slows writes, or the reverse, shows here. */
final class IndexChurn(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._
  val Vectors = 3000
  val Dim = 64
  val Cells = 16
  val Rounds = 2
  val Updates = 200
  val Inserts = 200
  val Deletes = 200
  val Queries = 2
  val K = 10
  private var base: Gen.Vectors = _
  private var dir: String = _
  private var cycles = 0

  def setup(d: String): Seq[(String, Long)] = {
    dir = d
    base = Gen.vectors(seed, Vectors, Dim, Cells)
    Upsert.writeBase(withCells(base.rows.toDF("vec_id", "vec")), "cell", s"$dir/base")
    Seq("vectors" -> Vectors.toLong, "dim" -> Dim.toLong, "cells" -> Cells.toLong,
      "rounds_per_cycle" -> Rounds.toLong, "upsert_rows" -> (Updates + Inserts).toLong,
      "deletes" -> Deletes.toLong, "queries_per_round" -> Queries.toLong)
  }

  // a cycle's plan is a function of the seed, the cycle and the base
  def digest: String = Gen.sha256(Iterator(base.digest,
    Gen.churnDigest(Gen.churn(seed, 0, base, Rounds, Updates, Inserts, Deletes, Queries))))
  def unitKinds: Set[String] = Set("upsert", "delete", "index_query")

  private def withCells(df: DataFrame): DataFrame =
    df.withColumn("cell", Search.ivfCell(col("vec"), base.centroids))

  private def queryRow(q: Array[Double]): DataFrame =
    Seq(q).toDF("q").select(Search.ivfCell(col("q"), base.centroids).as("cell"))

  private def topK(t: Tracer, index: String, q: Array[Double]): Seq[(Long, Double)] = {
    val row = t.span("index.Search", "ivfCell")(queryRow(q))
    val view = t.span("index.Upsert", "readPrunedResolved")(Upsert.readPrunedResolved(spark, index, row))
    val top = t.span("index.Search", "bruteForceTopK") {
      Search.bruteForceTopK(view, "vec", "vec_id", array(q.toSeq.map(lit): _*), K)
    }
    t.span("spark", "collect")(top.select("vec_id", "score").as[(Long, Double)].collect().toSeq)
  }

  /** Brute-force top-k over the fully resolved index, restricted to the
    * query's cell, computed on the driver. */
  private def expectedTopK(index: String, q: Array[Double]): Seq[(Long, Double)] = {
    val cell = queryRow(q).as[Int].head()
    val rows = Upsert.resolve(spark, index).filter(col("cell") === cell)
      .select("vec_id", "vec").as[(Long, Seq[Double])].collect().toSeq
    Checks.topK(rows.map { case (id, v) => (id, Checks.dot(v, q.toSeq)) }, K)
  }

  private def sameTopK(expected: Seq[(Long, Double)], actual: Seq[(Long, Double)]): Seq[String] =
    Checks.sameRanking(expected.map { case (i, s) => (i, "", s) }, actual.map { case (i, s) => (i, "", s) }, 0)

  def run(t: Tracer, seconds: Double, warmup: Boolean): Seq[String] = {
    val failures = ArrayBuffer.empty[String]
    Workloads.loop(if (warmup) 0 else seconds, 1) { _ =>
      // cycles restart from the base index, so every cycle sees a write
      // history of the same shape; the warm-up cycle is one round
      val cycle = cycles
      cycles += 1
      val live = s"$dir/live"
      val compacted = s"$dir/compacted"
      copyTree(Paths.get(s"$dir/base"), Paths.get(live))
      val rounds = Gen.churn(seed, cycle, base, if (warmup) 1 else Rounds, Updates, Inserts,
        Deletes, Queries)
      var spent = 0.0
      rounds.zipWithIndex.foreach { case (r, ri) =>
        val group = cycle * Rounds + ri
        Workloads.attempt(t, failures, "upsert", group) {
          val batch = t.span("index.Search", "ivfCell")(withCells(r.upserts.toDF("vec_id", "vec")))
          t.span("index.Upsert", "upsert")(Upsert.upsert(spark, live, batch))
        }.foreach { op =>
          spent += op.ms
          if (t.traced) {
            val segs = spark.read.parquet(live)
            val last = segs.agg(max("seg")).as[Long].head()
            count(true, "index.Upsert.segments", "count")(segs.select("seg").distinct().count().toDouble)
            val written = segs.filter(col("seg") === last)
            count(true, "index.Upsert.rows_written", "count")(written.count().toDouble)
            count(true, "index.Upsert.tombstones_written", "count")(written.filter(col("deleted")).count().toDouble)
          }
        }
        Workloads.attempt(t, failures, "delete", group) {
          t.span("index.Upsert", "delete")(Upsert.delete(spark, live, r.deletes.toDF("vec_id")))
        }.foreach(op => spent += op.ms)
        r.queries.zipWithIndex.foreach { case (q, qi) =>
          var got: Seq[(Long, Double)] = Nil
          Workloads.attempt(t, failures, "index_query", group) { got = topK(t, live, q) }.foreach { op =>
            spent += op.ms
            if (qi == 0) Workloads.fail(op, failures, sameTopK(expectedTopK(live, q), got))
            if (t.traced) {
              val scanned = spark.read.parquet(live).join(queryRow(q), Seq("cell")).count()
              val resolved = Upsert.readPrunedResolved(spark, live, queryRow(q)).count()
              count(true, "index.Upsert.resolved_rows", "count")(resolved.toDouble)
              count(true, "index.Search.live_frac", "frac")(resolved.toDouble / scanned)
            }
          }
        }
      }
      val probes = rounds.last.queries.take(1)
      val before = probes.map(q => topK(untraced, live, q))
      Workloads.attempt(t, failures, "compact") {
        t.span("index.Upsert", "compact")(Upsert.compact(spark, live, compacted))
      }.foreach { op =>
        val after = probes.map(q => topK(untraced, compacted, q))
        val liveCount = Upsert.resolve(spark, compacted).count()
        Workloads.fail(op, failures, before.zip(after).flatMap { case (b, a) => sameTopK(b, a) } ++
          (if (liveCount != rounds.last.liveAfter)
            Seq(s"live count $liveCount, generator bookkeeping ${rounds.last.liveAfter}") else Nil))
      }
      spent
    }
    failures.toSeq
  }

  private def copyTree(from: Path, to: Path): Unit = {
    if (Files.exists(to)) Main.deleteTree(to)
    Files.walk(from).iterator().asScala.foreach { p =>
      Files.copy(p, to.resolve(from.relativize(p)), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def metrics(ops: Seq[Op]): Seq[Metric] = {
    val compact = latency("compact_s", ops, "compact")
    Seq(latency("upsert_p50_ms", ops, "upsert"), latency("delete_p50_ms", ops, "delete"),
      latency("index_query_p50_ms", ops, "index_query"),
      latency("index_query_p90_ms", ops, "index_query", 90),
      compact.copy(value = compact.value / 1000, unit = "s"))
  }
}
