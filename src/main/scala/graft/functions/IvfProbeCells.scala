package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Native IVF cell assignment: the `nprobe` nearest centroids of a vector,
  * nearest first.
  *
  * Exactly mirrors the higher-order-function chain it replaces —
  * `sort_array(array(struct(d2_c, c) for every centroid c))` sliced to
  * `nprobe`, with `d2_c = aggregate(zip_with(v, c, (x, y) => (x.cast(double)
  * − y)²), 0.0, _ + _)` — so results are bit-identical:
  *
  *  - d2 is a strict left-to-right double fold of `acc + (x − y) * (x − y)`;
  *  - a null vector, a null element or a length mismatch gives a null d2
  *    (`zip_with` pads the shorter side with nulls);
  *  - the order is `sort_array`'s struct order: null d2 first, NaN after
  *    every number, ties to the lower cell.
  *
  * The HOF chain ran interpreted per row (Spark's higher-order functions do
  * not codegen) and put K·dim literal nodes into every plan the analyzer and
  * optimizer re-walk; here the centroids are one typed literal, converted
  * once per expression instance, and the per-row work runs in generated
  * code. `centroids` (`array<array<double>>`) and `nprobe` (int) must be
  * foldable; the vector may be any non-decimal numeric array.
  */
case class IvfProbeCellsExpr(vec: Expression, centroids: Expression, nprobe: Expression)
    extends TernaryExpression {
  override def first: Expression = vec
  override def second: Expression = centroids
  override def third: Expression = nprobe
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "ivf_probe_cells"

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(et: NumericType, _) => !et.isInstanceOf[DecimalType]
      case _ => false
    }
    val centsOk = centroids.foldable && (centroids.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    })
    val nprobeOk = nprobe.foldable && nprobe.dataType == IntegerType
    if (vecOk && centsOk && nprobeOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "ivf_probe_cells requires a non-decimal numeric array, a foldable array<array<double>> " +
        s"and a foldable int, got ${vec.dataType}, ${centroids.dataType}, ${nprobe.dataType}")
  }

  private def elemType: DataType = vec.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val cents: Array[Array[Double]] =
    IvfProbeCells.toMatrix(centroids.eval().asInstanceOf[ArrayData])
  @transient private lazy val n: Int = nprobe.eval().asInstanceOf[Int]

  override def eval(input: InternalRow): Any = {
    val v = vec.eval(input).asInstanceOf[ArrayData]
    IvfProbeCells.probe(if (v == null) null else IvfProbeCells.toDoubles(v, elemType), cents, n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = vec.genCode(ctx)
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val x = ctx.freshName("x")
    val i = ctx.freshName("i")
    val at = CodeGenerator.getValue(v.value, elemType, i)
    ev.copy(code = code"""
      |${v.code}
      |double[] $x = null;
      |if (!${v.isNull}) {
      |  $x = new double[${v.value}.numElements()];
      |  for (int $i = 0; $i < $x.length; $i++) {
      |    if (${v.value}.isNullAt($i)) { $x = null; break; }
      |    $x[$i] = (double) ($at);
      |  }
      |}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.IvfProbeCells.probe($x, $centsRef, $n);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(vec = newFirst, centroids = newSecond, nprobe = newThird)
}

object IvfProbeCells {
  val info = new ExpressionInfo(classOf[IvfProbeCellsExpr].getName, "ivf_probe_cells")

  def toMatrix(a: ArrayData): Array[Array[Double]] =
    Array.tabulate(a.numElements())(k => a.getArray(k).toDoubleArray())

  /** The vector as doubles, or null when any element is null. */
  def toDoubles(v: ArrayData, t: DataType): Array[Double] = {
    val x = new Array[Double](v.numElements())
    var i = 0
    while (i < x.length) {
      if (v.isNullAt(i)) return null
      x(i) = t match {
        case DoubleType => v.getDouble(i)
        case FloatType => v.getFloat(i).toDouble
        case LongType => v.getLong(i).toDouble
        case IntegerType => v.getInt(i).toDouble
        case ShortType => v.getShort(i).toDouble
        case ByteType => v.getByte(i).toDouble
        case other => throw new UnsupportedOperationException(s"ivf_probe_cells element type $other")
      }
      i += 1
    }
    x
  }

  /** The first `nprobe` cells in `sort_array(struct(d2, cell))` order; `x`
    * is null for a null vector or one with a null element. */
  def probe(x: Array[Double], cents: Array[Array[Double]], nprobe: Int): ArrayData = {
    val k = cents.length
    val d2 = new Array[Double](k)
    val isNull = new Array[Boolean](k)
    var c = 0
    while (c < k) {
      val cv = cents(c)
      if (x == null || x.length != cv.length) isNull(c) = true
      else {
        var acc = 0.0
        var i = 0
        while (i < x.length) { val d = x(i) - cv(i); acc = acc + d * d; i += 1 }
        d2(c) = acc
      }
      c += 1
    }
    // selection of the nprobe smallest: scanning cells upward and taking a
    // cell only when strictly before the best so far sends ties to the
    // lower cell, as the struct sort does
    val m = math.max(0, math.min(nprobe, k))
    val out = new Array[Int](m)
    val taken = new Array[Boolean](k)
    var p = 0
    while (p < m) {
      var best = -1
      c = 0
      while (c < k) {
        if (!taken(c) && (best < 0 || before(c, best, d2, isNull))) best = c
        c += 1
      }
      taken(best) = true
      out(p) = best
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  // null first, then Spark's double order (NaN greatest, -0.0 = 0.0)
  private def before(a: Int, b: Int, d2: Array[Double], isNull: Array[Boolean]): Boolean =
    if (isNull(a) || isNull(b)) isNull(a) && !isNull(b)
    else SQLOrderingUtil.compareDoubles(d2(a), d2(b)) < 0
}
