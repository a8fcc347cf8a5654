package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over numeric array columns.
  *
  * BIT-IDENTICAL to the composed-builtin form it replaces —
  * `aggregate(zip_with(x, y, (a, b) -> double(a) * double(b)), 0.0,
  * (acc, v) -> acc + v)` — including the summation ORDER (index order,
  * fold-left from 0.0) and the null semantics (mismatched lengths zip a
  * null pad, any null element nulls the running sum, so any length
  * mismatch or null element → NULL result). float→double is an exact
  * widening, so per-element products match to the bit.
  *
  * Why: Spark's higher-order builtins run INTERPRETED, with a lambda
  * dispatch per array element. One 64-dim cosine costs three dots = 192
  * interpreted lambda steps per candidate pair; over the ANN families'
  * candidate joins this dominated the stage profile. This kernel is one
  * compiled loop per call and runs inside whole-stage codegen. */
object VecExprs {

  /** Fold-left dot; null on length mismatch or any null element (the
    * exact zip_with/aggregate null semantics). `aF`/`bF` tag float
    * (vs double) element types, resolved at bind time. */
  def dot(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  def register(spark: SparkSession): Unit = NativeFunctions.register(spark, this)

  /** Column-API form (requires [[register]] on the active session). */
  def vec_dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
}

/** `vec_dot(a, b)` — exact fold-left dot product as double; NULL on
  * length mismatch or null elements (see [[VecExprs]]). */
case class VecDotExpr(left: Expression, right: Expression)
    extends BinaryExpression with BespokeName {
  override def dataType: DataType = DoubleType
  // NULL for non-null inputs (mismatch/null element): nullable stays true
  // and codegen re-checks the boxed result (as for a nullOnNonNull Scalar)
  override def nullable: Boolean = true

  private def elemOk(dt: DataType): Option[Boolean] = dt match {
    case ArrayType(FloatType, _) => Some(true)
    case ArrayType(DoubleType, _) => Some(false)
    case _ => None
  }
  private lazy val leftFloat: Boolean = elemOk(left.dataType).get
  private lazy val rightFloat: Boolean = elemOk(right.dataType).get

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType).isDefined && elemOk(right.dataType).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, array<float|double>), " +
        s"got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecExprs.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      leftFloat, rightFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double ${ev.value}$$box =
        graft.plans.VecExprs.dot($a, $b, $leftFloat, $rightFloat);
      ${ev.isNull} = ${ev.value}$$box == null;
      if (!${ev.isNull}) ${ev.value} = ${ev.value}$$box.doubleValue();
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotExpr =
    copy(left = newLeft, right = newRight)
}
