package graft

import org.apache.spark.sql.functions._
import graft.queries.{MiscQueries, TextQueries, VectorQueries}

/** The catalog's four approximate or engine-specific alternates have no
  * DuckDB oracle. Each test runs the catalog query's own `fn` and checks
  * its output against an exact computation on the driver, within the bound
  * the query's doc states. */
class NoOracleSpec extends SparkSpec {
  import spark.implicits._

  /** Spark's `round` on a double: HALF_UP on the decimal form. */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("a12_approx_distinct: HLL counts within 3 rsd of the exact distinct counts") {
    val got = VectorQueries.a12Approx.fn(spark, sf).as[(String, Long, Long)].collect()
    val exact = graft.tables.TestTables.documents(spark, sf).select("lang", "source", "doc_id")
      .as[(String, String, Long)].collect().groupBy(_._1)
      .map { case (lang, rows) => lang -> ((rows.map(_._2).distinct.length, rows.map(_._3).distinct.length)) }
    assert(got.map(_._1).toSeq == exact.keys.toSeq.sorted)
    for ((lang, sources, docs) <- got) {
      val (exactSources, exactDocs) = exact(lang)
      // rsd 0.05 (the default) for sources, 0.02 for doc ids
      assert(math.abs(sources - exactSources) <= 3 * 0.05 * exactSources,
        s"$lang: approx sources $sources, exact $exactSources")
      assert(math.abs(docs - exactDocs) <= 3 * 0.02 * exactDocs,
        s"$lang: approx docs $docs, exact $exactDocs")
    }
  }

  test("f9b_difflib_ratio: every nation x region pair equals the driver's difflib ratio") {
    import org.apache.spark.unsafe.types.UTF8String
    val got = TextQueries.f9Difflib.fn(spark, sf).as[(String, String, Double)].collect()
    val nations = graft.tables.TestTables.nation(spark, sf).select("n_name").as[String].collect()
    val regions = graft.tables.TestTables.region(spark, sf).select("r_name").as[String].collect()
    assert(nations.length == 25 && regions.length == 5)
    val want = (for (n <- nations; r <- regions) yield (n, r, round6(graft.functions.DifflibRatio.ratio(
      UTF8String.fromString(n.toLowerCase(java.util.Locale.ROOT)),
      UTF8String.fromString(r.toLowerCase(java.util.Locale.ROOT)))))).sortBy(t => (t._1, t._2))
    assert(got.toSeq == want.toSeq)
  }

  test("x14b_quality_buckets_approx: each cut is within the sketch's rank error of the exact percentile") {
    val got = MiscQueries.x14bApproxBuckets.fn(spark, sf).as[(Long, Double, Long)].collect()
    val sorted = got.map(_._2).sorted
    val n = sorted.length
    // accuracy 10000: rank error at most n / 10000, plus one row for the
    // sketch returning a stored value where the exact percentile
    // interpolates between two
    val slack = n / 10000.0 + 1
    for (i <- 1 to 9) {
      val rank = (n - 1) * i / 10.0 // the exact percentile's (interpolated) rank
      val cuts = sorted.indices.filter(k => math.abs(k - rank) <= slack).map(k => round6(sorted(k))).distinct
      // a row sits in decile <= i exactly when its quality is at most cut i
      assert(cuts.exists(c => got.forall { case (_, q, decile) => (decile <= i) == (q <= c) }),
        s"cut $i: no value within $slack ranks of the exact percentile (rank $rank) splits the deciles")
    }
  }

  test("x25_compression_ratio: ratio is compressed/raw on every row; planted documents are repetitive") {
    val got = TextQueries.x25Compression.fn(spark, sf).collect()
    assert(got.nonEmpty)
    for (r <- got) {
      val raw = r.getLong(1)
      val compressed = r.getLong(2)
      assert(r.getDouble(3) == round6(compressed.toDouble / raw), s"doc ${r.getLong(0)}")
      if (r.getLong(0) % 5 == 0) assert(r.getBoolean(4), s"planted doc ${r.getLong(0)} not flagged repetitive")
    }
  }
}
