package perfbench

import scala.math.BigDecimal.RoundingMode

/** Output checks. Each returns the violations it found; an empty result
  * means the output is correct. They work on data collected to the driver
  * and share no code with the program under test. */
object Checks {

  /** A chunk index of (doc_id, fingerprint) rows: non-empty, every chunk
    * from one of `docs`, fingerprints unique. */
  def chunks(docs: Set[Long], chunks: Seq[(Long, String)]): Seq[String] =
    chunks.map(_._1).distinct.filterNot(docs).map(id => s"chunk from uncurated doc $id") ++
      chunks.groupBy(_._2).collect { case (fp, rs) if rs.size > 1 => s"fingerprint $fp repeated" } ++
      (if (docs.isEmpty || chunks.isEmpty) Seq("empty output") else Nil)

  /** A curate-then-chunk pass: planted exact and near duplicates keep at
    * most their original, contaminated and low-quality documents are gone,
    * and the chunk index passes [[chunks]] over the curated documents. */
  def ingest(c: Gen.Corpus, curated: Set[Long], chunkKeys: Seq[(Long, String)]): Seq[String] = {
    def groups(kind: String, gs: Seq[Seq[Long]]) = gs.flatMap { g =>
      val kept = g.filter(curated)
      if (kept.size > 1 || kept.exists(_ != g.head)) Some(s"$kind group ${g.mkString(",")} kept ${kept.mkString(",")}")
      else None
    }
    groups("exact-duplicate", c.exactGroups) ++ groups("near-duplicate", c.nearGroups) ++
      c.contaminated.filter(curated).map(id => s"contaminated doc $id kept") ++
      c.lowQuality.filter(curated).map(id => s"low-quality doc $id kept") ++
      chunks(curated, chunkKeys)
  }

  def dot(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.size) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Top-k by score descending, ties by id ascending. */
  def topK[K: Ordering](scored: Seq[(K, Double)], k: Int): Seq[(K, Double)] =
    scored.sortBy { case (id, s) => (-s, id) }.take(k)

  def nonIncreasing(scores: Seq[Double]): Boolean =
    scores.zip(scores.drop(1)).forall { case (a, b) => a >= b }

  /** The ask pipeline recomputed from its reference semantics: keyword or
    * embedding score, keyword-overlap relevance gate over an over-fetched
    * top-k, show-table tag resolution, and the sources projection. Returns
    * (uid, snippet, score) rows in rank order. */
  def ask(index: Seq[Gen.Chunk], sections: Map[String, String], question: String,
          queryVec: Option[Seq[Double]], topK: Int, overFetch: Int, minScore: Double,
          semanticOnly: Double, stopwords: Seq[String]): Seq[(String, String, Double)] = {
    val q = question.toLowerCase
    val terms = q.split("\\s+").filterNot(stopwords.contains).toSeq
    val qTerms = q.split("\\s+").filter(_.nonEmpty).distinct.filterNot(stopwords.contains).toSet
    val scored = index.map { c =>
      val lc = c.content.toLowerCase
      val kw = terms.foldLeft(0.0)((acc, t) => acc + (if (lc.contains(t)) 1.0 else 0.0)) +
        (if (lc.contains(q)) 3.0 else 0.0)
      val score = queryVec.fold(1.0 / (1.0 + StrictMath.exp(-kw)))(v => dot(c.embedding, v))
      (c, score)
    }
    val fetched = scored.sortBy { case (c, s) => (-s, c.uid) }.take(topK * overFetch)
    val hits = fetched.filter { case (c, s) =>
      val overlap = c.content.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.count(qTerms)
      s >= minScore && (overlap >= 1 || s >= semanticOnly)
    }.take(topK)
    hits.map { case (c, s) =>
      val tag = c.section.map(AskServe.category).getOrElse(AskServe.NoSection)
      val html = sections.get(tag.trim)
        .fold("")(h => s"<br><div class='table-responsive'>$h</div><br>")
      val answer = (c.content.take(120) + s" [SHOW_TABLE:CAT=$tag]")
        .replace(s"[SHOW_TABLE:CAT=$tag]", html)
      (c.uid, answer.take(3000), BigDecimal(s).setScale(6, RoundingMode.HALF_UP).toDouble)
    }
  }

  /** Two ranked result lists agree: same ids and snippets in the same order,
    * scores within `tol`. */
  def sameRanking[K](expected: Seq[(K, String, Double)], actual: Seq[(K, String, Double)],
                     tol: Double): Seq[String] =
    if (expected.size != actual.size) Seq(s"expected ${expected.size} results, got ${actual.size}")
    else expected.zip(actual).zipWithIndex.collect {
      case (((ei, es, ev), (ai, as, av)), i) if ei != ai || es != as || math.abs(ev - av) > tol =>
        s"rank $i: expected ($ei, $ev) got ($ai, $av)"
    }
}
