package perfbench

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("generators: equal seeds give identical inputs, other seeds different ones") {
    assert(Gen.corpus(7, 800).digest == Gen.corpus(7, 800).digest)
    assert(Gen.corpus(7, 800).digest != Gen.corpus(8, 800).digest)
    val vocab = Seq("spark", "join")
    assert(Gen.questions(7, 50, vocab) == Gen.questions(7, 50, vocab))
    assert(Gen.questions(7, 50, vocab) != Gen.questions(8, 50, vocab))
    val v7 = Gen.vectors(7, 300, 8, 4)
    assert(v7.digest == Gen.vectors(7, 300, 8, 4).digest)
    assert(v7.digest != Gen.vectors(8, 300, 8, 4).digest)
    def plan(seed: Long) = Gen.churnDigest(Gen.churn(seed, 0, v7, 2, 10, 10, 10, 2))
    assert(plan(7) == plan(7))
    assert(plan(7) != plan(8))
  }

  test("generators: the planted truth is what the corpus holds") {
    val c = Gen.corpus(3, 2000)
    val text = c.docs.map(d => d.doc_id -> d.text).toMap
    assert(c.exactGroups.nonEmpty && c.nearGroups.nonEmpty && c.contaminated.nonEmpty && c.lowQuality.nonEmpty)
    c.exactGroups.foreach(g => assert(g.map(text).distinct.size == 1 && g.head == g.min))
    c.nearGroups.foreach { g =>
      val Seq(a, b) = g.map(text(_).split(" ").toSeq)
      assert(a.size == b.size && a.zip(b).count { case (x, y) => x != y } == 1 && g.head == g.min)
    }
    val evalWords = Gen.EvalVocab.toSet
    c.contaminated.foreach(id => assert(text(id).split(" ").count(evalWords) == 6))
    assert(c.docs.filterNot(d => c.contaminated(d.doc_id)).forall(d => !d.text.split(" ").exists(evalWords)))
    // churn bookkeeping: inserts add, deletes remove
    val v = Gen.vectors(3, 100, 4, 2)
    val rounds = Gen.churn(3, 0, v, 3, 5, 7, 4, 1)
    assert(rounds.map(_.liveAfter) == Seq(103, 106, 109))
  }

  test("ingest check: a corpus that skipped dedup and decontamination fails") {
    val c = Gen.corpus(5, 1500)
    val all = c.docs.map(_.doc_id).toSet
    val curated = all -- c.exactGroups.flatMap(_.tail) -- c.nearGroups.flatMap(_.tail) --
      c.contaminated -- c.lowQuality
    val chunks = curated.toSeq.map(id => (id, s"fp$id"))
    assert(Checks.ingest(c, curated, chunks).isEmpty)
    val skipped = Checks.ingest(c, all, all.toSeq.map(id => (id, s"fp$id")))
    Seq("exact-duplicate", "near-duplicate", "contaminated", "low-quality")
      .foreach(kind => assert(skipped.exists(_.startsWith(kind)), kind))
    assert(Checks.ingest(c, curated, chunks :+ ((all -- curated).head, "fpX")).exists(_.contains("uncurated")))
    assert(Checks.ingest(c, curated, chunks :+ ((chunks.head._1, chunks.head._2))).exists(_.contains("repeated")))
  }

  test("ask check: the recomputed ranking, and a ranking that differs fails") {
    val index = Seq(
      Gen.Chunk("c1", "spark join window", Some("join plans"), Seq(1.0, 0.0)),
      Gen.Chunk("c2", "spark scan", None, Seq(0.6, 0.8)),
      Gen.Chunk("c3", "batch stream", Some("stream"), Seq(0.0, 1.0)))
    val dim = Map("join" -> "<t>join</t>")
    val kw = Checks.ask(index, dim, "spark join", None, 5, 3, 0.25, 0.75, Seq("the"))
    assert(kw.map(_._1) == Seq("c1", "c2"))
    assert(kw.head._2 == "spark join window <br><div class='table-responsive'><t>join</t></div><br>")
    assert(kw.head._3 == 0.993307) // sigmoid(1 + 1 + 3), six decimals
    val emb = Checks.ask(index, dim, "stream", Some(Seq(0.0, 1.0)), 5, 3, 0.25, 0.75, Seq("the"))
    assert(emb.map(_._1) == Seq("c3", "c2"))
    assert(Checks.sameRanking(kw, kw, 0).isEmpty)
    assert(Checks.sameRanking(kw, kw.reverse, 0).nonEmpty)
    assert(Checks.sameRanking(kw, kw.take(1), 0).nonEmpty)
    assert(Checks.nonIncreasing(Seq(3.0, 2.0, 2.0)) && !Checks.nonIncreasing(Seq(1.0, 2.0)))
    assert(Checks.topK(Seq((2L, 1.0), (1L, 1.0), (3L, 5.0)), 2) == Seq((3L, 5.0), (1L, 1.0)))
  }

  test("percentiles interpolate between ranks of known samples") {
    val xs = (1 to 10).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.median(xs) == 5.5)
    assert(math.abs(Stats.percentile(xs, 90) - 9.1) < 1e-12)
    assert(Stats.median(Seq(4.0)) == 4.0)
    assert(Stats.median(Seq(1.0, 3.0, 100.0)) == 3.0)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("span union and self time") {
    assert(Tracer.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L))) == 20L)
    assert(Tracer.unionLength(Nil) == 0L)
  }
}
