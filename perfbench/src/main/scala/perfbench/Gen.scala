package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Each is a pure function of its seed and sizes,
  * records the facts it planted (the truth the output checks test against),
  * and digests what it generated, so that equal seeds give byte-identical
  * inputs and a run can name the inputs it measured. */
object Gen {

  /** Word list and language mix of the repository's synthetic `documents`
    * table, copied in as constants; nothing is read from it at run time. */
  val Vocab: Vector[String] = Vector("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
  val Strata: Vector[(String, Double)] =
    Vector("en" -> 0.386, "fr" -> 0.164, "es" -> 0.160, "zh" -> 0.148, "de" -> 0.142)
  /** Words that occur only in the evaluation suite, so a corpus document can
    * share an evaluation n-gram only through a planted copy. */
  val EvalVocab: Vector[String] = Vector("mmlu", "gsm", "arc", "hellaswag", "winogrande",
    "piqa", "boolq", "truthfulqa", "drop", "squad")

  final case class Doc(doc_id: Long, stratum: String, text: String)

  /** A corpus and its planted truth. Exact and near-duplicate groups list
    * their original (smallest id) first. */
  final case class Corpus(docs: Vector[Doc], evalSet: Vector[Doc],
                          exactGroups: Vector[Vector[Long]], nearGroups: Vector[Vector[Long]],
                          contaminated: Set[Long], lowQuality: Set[Long]) {
    lazy val digest: String = sha256((docs ++ evalSet).iterator.map(d =>
      s"${d.doc_id}\t${d.stratum}\t${d.text}\n"))
  }

  def sha256(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  private def pick[T](rnd: Random, xs: Vector[T]): T = xs(rnd.nextInt(xs.size))

  private def stratum(rnd: Random): String = {
    val u = rnd.nextDouble() * Strata.map(_._2).sum
    Strata.scanLeft(("", 0.0)) { case ((_, acc), (s, w)) => (s, acc + w) }.tail
      .find(_._2 > u).getOrElse(Strata.last)._1
  }

  /** About `n` documents. Of the seeds drawn: 3% get one to three exact
    * copies, 3% get a copy whose first or last word is replaced (one
    * changed 3-word shingle, Jaccard >= 0.95), 2% carry a six-word span of
    * an evaluation document, 2% are digit noise that fails the quality
    * gate, and 10% carry an e-mail address or phone number for redaction. */
  def corpus(seed: Long, n: Int): Corpus = {
    val rnd = new Random(seed)
    val evalSet = Vector.tabulate(math.max(8, n / 200)) { j =>
      Doc(j.toLong, "eval", Vector.fill(24)(pick(rnd, EvalVocab)).mkString(" "))
    }
    val docs = Vector.newBuilder[Doc]
    var next = 0L
    def add(s: String, text: String): Long = { docs += Doc(next, s, text); next += 1; next - 1 }
    val exact, near = Vector.newBuilder[Vector[Long]]
    val contaminated, lowQuality = Set.newBuilder[Long]
    while (next < n) {
      val s = stratum(rnd)
      val words = Vector.fill(50 + rnd.nextInt(50))(pick(rnd, Vocab))
      val pii = rnd.nextDouble() match {
        case u if u < 0.05 => Seq(s"contact user${rnd.nextInt(10000)}@example.com")
        case u if u < 0.10 => Seq(f"call 555-${rnd.nextInt(1000)}%03d-${rnd.nextInt(10000)}%04d")
        case _ => Seq.empty
      }
      val text = (words ++ pii).mkString(" ")
      rnd.nextDouble() match {
        case u if u < 0.03 =>
          val orig = add(s, text)
          exact += (orig +: Vector.fill(1 + rnd.nextInt(3))(add(s, text)))
        case u if u < 0.06 =>
          val orig = add(s, text)
          val at = if (rnd.nextBoolean()) 0 else words.size - 1
          val other = pick(rnd, Vocab.filterNot(_ == words(at)))
          near += Vector(orig, add(s, (words.updated(at, other) ++ pii).mkString(" ")))
        case u if u < 0.08 =>
          val src = pick(rnd, evalSet).text.split(" ")
          val from = rnd.nextInt(src.length - 6)
          val (head, tail) = words.splitAt(rnd.nextInt(words.size))
          contaminated += add(s, (head ++ src.slice(from, from + 6) ++ tail ++ pii).mkString(" "))
        case u if u < 0.10 =>
          lowQuality += add(s, ("err" +: Vector.fill(20)(rnd.nextInt(100000).toString)).mkString(" "))
        case _ => add(s, text)
      }
    }
    Corpus(docs.result(), evalSet, exact.result(), near.result(),
      contaminated.result(), lowQuality.result())
  }

  /** One chunk of a retrieval index as the ask check reads it back. */
  final case class Chunk(uid: String, content: String, section: Option[String], embedding: Seq[Double])

  /** A closed-loop question stream: two or three content words each. Every
    * fourth question is scored by embedding similarity and so carries at
    * least one word of the ingest embedding vocabulary. */
  final case class Question(text: String, embedded: Boolean)

  def questions(seed: Long, n: Int, embedVocab: Seq[String]): Vector[Question] = {
    val rnd = new Random(seed * 31 + 7)
    val content = Vocab.filterNot(Set("a", "the"))
    Vector.tabulate(n) { i =>
      val embedded = i % 4 == 3
      val ws = Vector.fill(2 + rnd.nextInt(2))(pick(rnd, content))
      Question((if (embedded) ws.updated(0, pick(rnd, embedVocab.toVector)) else ws).mkString(" "),
        embedded)
    }
  }

  /** A vector index: `n` vectors of dimension `dim` drawn around `cells`
    * Gaussian centroids. */
  final case class Vectors(centroids: Vector[Vector[Double]], rows: Vector[(Long, Array[Double])]) {
    lazy val digest: String = sha256(centroids.iterator.map(_.mkString(",")) ++
      rows.iterator.map { case (id, v) => s"$id:${v.mkString(",")}\n" })
  }

  def vectors(seed: Long, n: Int, dim: Int, cells: Int): Vectors = {
    val rnd = new Random(seed * 17 + 3)
    val centroids = Vector.fill(cells)(Vector.fill(dim)(rnd.nextGaussian() * 3))
    Vectors(centroids, Vector.tabulate(n)(i => (i.toLong, near(rnd, pick(rnd, centroids)))))
  }

  private def near(rnd: Random, c: Vector[Double]): Array[Double] =
    c.map(_ + rnd.nextGaussian()).toArray

  /** One churn round: an upsert batch (updates of live vectors, drawn around
    * a fresh centroid so that many move cells, plus inserts of new ids), a
    * disjoint set of live ids to delete, and query vectors. `liveAfter` is
    * the bookkeeping the index must agree with after the round. */
  final case class Round(upserts: Vector[(Long, Array[Double])], deletes: Vector[Long],
                         queries: Vector[Array[Double]], liveAfter: Int)

  /** `rounds` churn rounds over `base`, seeded by (seed, cycle). Every
    * cycle starts from the base index. */
  def churn(seed: Long, cycle: Int, base: Vectors, rounds: Int, updates: Int, inserts: Int,
            deletes: Int, queries: Int): Vector[Round] = {
    val rnd = new Random(seed * 1000003L + cycle)
    val live = mutable.LinkedHashSet.from(base.rows.map(_._1))
    var nextId = base.rows.map(_._1).max + 1
    Vector.fill(rounds) {
      val ids = live.toVector
      val updated = rnd.shuffle(ids).take(updates)
      val inserted = Vector.fill(inserts) { nextId += 1; nextId - 1 }
      val batch = (updated ++ inserted).map(id => (id, near(rnd, pick(rnd, base.centroids))))
      val deleted = rnd.shuffle(ids.filterNot(updated.toSet)).take(deletes)
      live ++= inserted
      live --= deleted
      Round(batch, deleted, Vector.fill(queries)(near(rnd, pick(rnd, base.centroids))), live.size)
    }
  }

  def churnDigest(rounds: Seq[Round]): String = sha256(rounds.iterator.map { r =>
    r.upserts.map { case (id, v) => s"$id:${v.mkString(",")}" }.mkString(";") + "|" +
      r.deletes.mkString(",") + "|" + r.queries.map(_.mkString(",")).mkString(";") + "\n"
  })
}
