package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.index.Search

/** Differential check of the native `ivf_probe_cells` kernel against the
  * higher-order-function chain it replaced, kept here as the oracle: full
  * probe order must match row for row, in generated and interpreted code,
  * on the null / length-mismatch / NaN / infinity / exact-tie edges. */
class IvfProbeCellsSpec extends SparkSpec {
  private val dim = 8
  private val k = 8

  /** The replaced chain: per-centroid squared distance folded by
    * `aggregate(zip_with(...))`, sorted as `struct(d2, cell)`. */
  private def hofProbeCells(vec: Column, centroids: Seq[Seq[Double]], nprobe: Int): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val cv = array(c.map(lit): _*)
      val d2 = aggregate(zip_with(vec, cv, (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, x) => acc + x)
      struct(d2.as("d2"), lit(i).as("cell"))
    }
    transform(slice(sort_array(array(scored: _*)), 1, nprobe), s => s.getField("cell"))
  }

  // random cells far from the origin, two unit cells (2 and 5) exactly
  // equidistant from it, and one cell with +inf in its first coordinate
  private val centroids: Seq[Seq[Double]] = {
    val rng = new scala.util.Random(5)
    Seq.tabulate(k) { c =>
      if (c == 2) Seq.tabulate(dim)(i => if (i == 0) 1.0 else 0.0)
      else if (c == 5) Seq.tabulate(dim)(i => if (i == 1) 1.0 else 0.0)
      else if (c == 6) Double.PositiveInfinity +: Seq.fill(dim - 1)(rng.nextGaussian() * 3)
      else Seq.fill(dim)(2.0 + rng.nextGaussian() * 3)
    }
  }

  private def vectors: DataFrame = {
    val rng = new scala.util.Random(17)
    val random = (0 until 400).map(i => Row(i.toLong, Seq.fill(dim)(rng.nextGaussian() * 4)))
    val edges = Seq(
      Row(1000L, null), // null vector
      Row(1001L, Seq.fill(dim - 1)(1.0)), // length mismatch
      Row(1002L, Seq.fill(dim)(0.5).updated(3, Double.NaN)), // NaN element
      Row(1003L, Seq.fill(dim)(0.0)), // exact tie between cells 2 and 5
      Row(1004L, Seq.fill(dim)(0.25).updated(0, Double.PositiveInfinity)), // NaN beside inf
      Row(1005L, Seq.fill(dim)(1.0).updated(2, null))) // null element
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(DoubleType, containsNull = true))))
    // repartitioned so the projection runs in a real stage, not folded
    // into the local relation on the driver
    spark.createDataFrame(spark.sparkContext.parallelize(random ++ edges, 2), schema).repartition(2)
  }

  private def mismatches(v: Column, nprobe: Int): Seq[String] =
    vectors.select(col("id"),
        Search.ivfProbeCells(v, centroids, nprobe).as("native"),
        hofProbeCells(v, centroids, nprobe).as("hof"))
      .collect().toSeq
      .filter(r => r.getSeq[Int](1) != r.getSeq[Int](2))
      .map(r => s"id ${r.getLong(0)}: native ${r.getSeq[Int](1)} vs hof ${r.getSeq[Int](2)}")

  // generated code (whole-stage) vs the interpreted eval path
  private val modes = Seq(
    "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  for ((mode, confs) <- modes; nprobe <- Seq(1, 3, k); elem <- Seq("double", "float"))
    test(s"ivfProbeCells matches the HOF chain: $mode, nprobe $nprobe, array<$elem>") {
      val prior = confs.keys.map(c => c -> spark.conf.getOption(c)).toMap
      confs.foreach { case (c, v) => spark.conf.set(c, v) }
      try {
        val bad = mismatches(col("v").cast(s"array<$elem>"), nprobe)
        assert(bad.isEmpty, bad.take(5).mkString("; "))
      } finally prior.foreach {
        case (c, Some(v)) => spark.conf.set(c, v)
        case (c, None) => spark.conf.unset(c)
      }
    }

  test("ivfProbeCells edge rows: null/mismatch rank every cell by id, the tie goes to the lower cell") {
    val got = vectors.filter(col("id") >= 1000)
      .select(col("id"), Search.ivfProbeCells(col("v"), centroids, k).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got(1000L) == (0 until k) && got(1001L) == (0 until k) && got(1005L) == (0 until k))
    assert(got(1002L) == (0 until k), "an all-NaN distance row keeps cell order")
    assert(got(1003L).take(2) == Seq(2, 5), s"exact tie must rank cell 2 first, got ${got(1003L)}")
    assert(got(1004L).last == 6, s"the NaN distance must rank last, got ${got(1004L)}")
  }

  test("pqCodes matches the per-subspace HOF argmin as tinyint codes") {
    val subDim = 2
    val rng = new scala.util.Random(3)
    val codebooks = Seq.fill(dim / subDim)(Seq.fill(4)(Seq.fill(subDim)(rng.nextGaussian())))
    // the replaced pqCodes chain, byte codes sorted inside the struct
    val hof = array(codebooks.zipWithIndex.map { case (cents, m) =>
      val sub = slice(col("v"), m * subDim + 1, subDim)
      val scored = cents.zipWithIndex.map { case (c, j) =>
        val d2 = aggregate(zip_with(sub, array(c.map(lit): _*),
          (x, y) => (x.cast("double") - y) * (x.cast("double") - y)), lit(0.0), (acc, x) => acc + x)
        struct(d2.as("d2"), lit(j.toByte).as("code"))
      }
      element_at(sort_array(array(scored: _*)), 1).getField("code")
    }: _*)
    val rows = vectors.select(Search.pqCodes(col("v"), codebooks, subDim).as("native"), hof.as("hof"))
    assert(rows.schema("native").dataType.asInstanceOf[ArrayType].elementType == ByteType)
    val bad = rows.collect().filter(r => r.getSeq[Byte](0) != r.getSeq[Byte](1))
    assert(bad.isEmpty, bad.take(5).mkString("; "))
  }
}
