package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst twins of the higher-order-function vector folds in
  * [[graft.operators.Ann]] (`dotD` / `normD`).
  *
  * The HOF formulas (`aggregate(zip_with(...))`) are correct but run
  * on the interpreted expression path — Catalyst lambda functions do
  * not participate in whole-stage codegen, and stack-sampling the
  * embedding near-dup bench showed the hot frames inside
  * `ArrayAggregate.eval`/`BinaryArithmetic.eval` boxing one Double per
  * element per row (16 plane projections × 64 dims per vector at
  * banding, 64 mults per candidate pair at verify). These expressions
  * compute the IDENTICAL arithmetic — float widened to double exactly,
  * then a left-to-right IEEE double fold, so the result is
  * bit-identical to the HOF twins AND to the DuckDB oracle's
  * `list_sum(list_transform(...))` — as a single static kernel call
  * that codegen inlines into the enclosing whole-stage span
  * (SURVEY.md §2.9 native-expression policy; the SimHash32/MinHash32
  * discipline). Equality with the HOF twins is fuzz-asserted in
  * PropertySpec.
  *
  * Null semantics replicate the HOF forms exactly: any null element
  * poisons the fold to NULL (`acc + NULL`), and a length mismatch in
  * `zip_with` pads with nulls — so [[DotD]] returns NULL on unequal
  * lengths; empty arrays fold to 0.0.
  */
object VecMath {

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Left-to-right `Σ a(i)·b(i)` in double; null on null element or
    * length mismatch (the `zip_with` padding semantics).
    */
  def dotKernel(a: ArrayData, aFloat: Boolean, b: ArrayData,
      bFloat: Boolean): java.lang.Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na != nb) return null // zip_with pads the shorter side with null
    var acc = 0.0
    var i = 0
    while (i < na) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Left-to-right `sqrt(Σ v(i)²)` in double; null on null element. */
  def normKernel(a: ArrayData, aFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      acc += x * x
      i += 1
    }
    java.lang.Double.valueOf(Math.sqrt(acc))
  }

  /** Column wrappers (the session needs [[graft.GraftExtensions]]). */
  def dotD(a: Column, b: Column): Column = call_function("dot_d", a, b)
  def normD(a: Column): Column = call_function("norm_d", a)
}

/** `Σ a(i)·b(i)` — see [[VecMath]]. */
case class DotD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _),
            ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"dot_d requires two array<float|double> columns, got $other")
    }

  private lazy val lFloat = left.dataType match {
    case ArrayType(FloatType, _) => true; case _ => false
  }
  private lazy val rFloat = right.dataType match {
    case ArrayType(FloatType, _) => true; case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecMath.dotKernel(a.asInstanceOf[ArrayData], lFloat,
      b.asInstanceOf[ArrayData], rFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("dotRes")
      s"""
         |java.lang.Double $r =
         |  graft.functions.VecMath.dotKernel($a, $lFloat, $b, $rFloat);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotD = copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_d"
}

/** `sqrt(Σ v(i)²)` — see [[VecMath]]. */
case class NormD(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"norm_d requires array<float|double>, got $other")
  }

  private lazy val eFloat = child.dataType match {
    case ArrayType(FloatType, _) => true; case _ => false
  }

  override protected def nullSafeEval(a: Any): Any =
    VecMath.normKernel(a.asInstanceOf[ArrayData], eFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("normRes")
      s"""
         |java.lang.Double $r = graft.functions.VecMath.normKernel($a, $eFloat);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NormD =
    copy(child = newChild)

  override def prettyName: String = "norm_d"
}
