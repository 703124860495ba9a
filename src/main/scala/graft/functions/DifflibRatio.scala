package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** difflib-compatible sequence similarity (SURVEY.md §4 custom-Expression
  * candidate; ref `backend/services/rag.py:432-433` uses
  * `SequenceMatcher.ratio` as the no-reranker Q&A match score).
  *
  * `ratio` reproduces CPython difflib's algorithm exactly for inputs under
  * the autojunk threshold (200 chars; above it CPython starts dropping
  * "popular" characters — we deliberately skip autojunk, which only makes
  * long-string scores slightly more accurate): recursive longest-matching-
  * block decomposition, M = total matched chars, ratio = 2M / (|a|+|b|).
  *
  * Implemented as a native `BinaryExpression` with `doGenCode` so it stays
  * inside whole-stage codegen (a Scala UDF would break the codegen stage
  * and add serialization per row).
  */
object DifflibRatio {

  /** CPython difflib SequenceMatcher.find_longest_match + ratio. */
  def ratio(a: UTF8String, b: UTF8String): Double = {
    val sa = a.toString
    val sb = b.toString
    val la = sa.length
    val lb = sb.length
    if (la + lb == 0) return 1.0 // difflib: ratio of two empty sequences is 1
    // b2j: char → ascending positions in b
    val b2j = new java.util.HashMap[Char, java.util.ArrayList[Int]]()
    var j = 0
    while (j < lb) {
      val c = sb.charAt(j)
      var l = b2j.get(c)
      if (l == null) { l = new java.util.ArrayList[Int](); b2j.put(c, l) }
      l.add(j)
      j += 1
    }

    def longestMatch(alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
      var besti = alo; var bestj = blo; var bestsize = 0
      var j2len = new java.util.HashMap[Int, Int]()
      var i = alo
      while (i < ahi) {
        val newj2len = new java.util.HashMap[Int, Int]()
        val positions = b2j.get(sa.charAt(i))
        if (positions != null) {
          var pi = 0
          while (pi < positions.size()) {
            val jj = positions.get(pi)
            if (jj >= blo) {
              if (jj < bhi) {
                val k = j2len.getOrDefault(jj - 1, 0) + 1
                newj2len.put(jj, k)
                if (k > bestsize) { besti = i - k + 1; bestj = jj - k + 1; bestsize = k }
              }
            }
            pi += 1
          }
        }
        j2len = newj2len
        i += 1
      }
      (besti, bestj, bestsize)
    }

    // matching_blocks: recursive decomposition (iterative queue, as CPython)
    var matched = 0
    val queue = scala.collection.mutable.Stack[(Int, Int, Int, Int)]((0, la, 0, lb))
    while (queue.nonEmpty) {
      val (alo, ahi, blo, bhi) = queue.pop()
      val (i, jm, k) = longestMatch(alo, ahi, blo, bhi)
      if (k > 0) {
        matched += k
        queue.push((alo, i, blo, jm))
        queue.push((i + k, ahi, jm + k, bhi))
      }
    }
    2.0 * matched / (la + lb)
  }
}

case class DifflibRatioExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "difflib_ratio"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DifflibRatio.ratio(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DifflibRatio.ratio($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration: per-session (`register`) or cluster-wide via
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`. */
object GraftFunctions {
  val info = new ExpressionInfo(classOf[DifflibRatioExpr].getName, "difflib_ratio")

  // once-per-session guard: column builders call register() on every
  // construction (srpBucket alone builds 16+ dot columns), and repeated
  // registry mutation is wasted work. Synchronized with add-AFTER-register:
  // a losing thread must not proceed to analyze a call_function column
  // while the winner is still mid-registration (Verify builds queries on a
  // thread pool). NOTE: builders resolve the session via
  // SparkSession.active — in a multi-session app, register explicitly on
  // each session (or install GraftExtensions cluster-wide).
  private val registeredSessions =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  def register(spark: org.apache.spark.sql.SparkSession): Unit = registeredSessions.synchronized {
    if (registeredSessions.contains(spark)) return
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "difflib_ratio", exprs => DifflibRatioExpr(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "array_dot", exprs => ArrayDotExpr(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ivf_probe_cells", exprs => IvfProbeCellsExpr(exprs(0), exprs(1), exprs(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_mins", exprs => MinHashMinsExpr(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash_bits", exprs => SimHashBitsExpr(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash_bits64", exprs => SimHashBits64Expr(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cdc_boundaries", exprs => CdcBoundariesExpr(exprs(0), exprs(1), exprs(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "char_ngrams", exprs => CharNgramsExpr(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_shingles", exprs => WordShinglesExpr(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnow_hashes", exprs => WinnowHashesExpr(exprs(0), exprs(1), exprs(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nfc_normalize", exprs => NfcNormalizeExpr(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "lcs_len", exprs => LcsLenExpr(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "image_dims", exprs => ImageDimsExpr(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "mp4_meta", exprs => Mp4MetaExpr(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ac_counts", exprs => AhoCorasickCountsExpr(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "jaro_sim", exprs => JaroExpr(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "jaro_winkler_sim", exprs => JaroWinklerExpr(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "levenshtein_bytes", exprs => LevenshteinBytesExpr(exprs(0), exprs(1)), "built-in")
    // Spark ships Bloom expressions for its runtime join filters but does
    // not register them as SQL functions; surfaced here for the
    // decontamination prefilter (analyzer wraps the AggregateFunction)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_filter_agg",
      exprs => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        exprs(0), exprs(1), exprs(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "might_contain",
      exprs => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        exprs(0), exprs(1)), "built-in")
    registeredSessions.add(spark)
  }

  /** Column API without needing prior registration. */
  def difflib_ratio(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column)(
      implicit spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("difflib_ratio", a, b)
  }
}

class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("difflib_ratio"),
      GraftFunctions.info,
      (exprs: Seq[Expression]) => DifflibRatioExpr(exprs(0), exprs(1))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("array_dot"),
      ArrayDot.info,
      (exprs: Seq[Expression]) => ArrayDotExpr(exprs(0), exprs(1))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("ivf_probe_cells"),
      IvfProbeCells.info,
      (exprs: Seq[Expression]) => IvfProbeCellsExpr(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_mins"),
      MinHashMins.info,
      (exprs: Seq[Expression]) => MinHashMinsExpr(exprs(0), exprs(1))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("simhash_bits"),
      SimHashBits.info,
      (exprs: Seq[Expression]) => SimHashBitsExpr(exprs(0), exprs(1))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("char_ngrams"),
      CharNgrams.info,
      (exprs: Seq[Expression]) => CharNgramsExpr(exprs(0), exprs(1))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("word_shingles"),
      WordShingles.info,
      (exprs: Seq[Expression]) => WordShinglesExpr(exprs(0), exprs(1))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("winnow_hashes"),
      WinnowHashes.info,
      (exprs: Seq[Expression]) => WinnowHashesExpr(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("nfc_normalize"),
      NfcNormalize.info,
      (exprs: Seq[Expression]) => NfcNormalizeExpr(exprs(0))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("lcs_len"),
      new ExpressionInfo(classOf[LcsLenExpr].getName, "lcs_len"),
      (exprs: Seq[Expression]) => LcsLenExpr(exprs(0), exprs(1))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("simhash_bits64"),
      SimHashBits64.info,
      (exprs: Seq[Expression]) => SimHashBits64Expr(exprs(0), exprs(1))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("cdc_boundaries"),
      CdcBoundaries.info,
      (exprs: Seq[Expression]) => CdcBoundariesExpr(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("image_dims"),
      new ExpressionInfo(classOf[ImageDimsExpr].getName, "image_dims"),
      (exprs: Seq[Expression]) => ImageDimsExpr(exprs(0))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      (exprs: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (exprs: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs(0), exprs(1))))
  }
}
