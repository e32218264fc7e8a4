package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the vector-distance hot loop.
  *
  * The higher-order-function formulations in [[VectorFunctions]] are exact
  * but interpreted per element (ArrayTransform/ArrayAggregate don't codegen
  * their lambdas); on a 100 TB scan the distance kernel runs billions of
  * times and must live inside whole-stage codegen. This expression's
  * generated code calls a tight primitive loop (no boxing, no per-element
  * virtual calls; one static call per row, which the JIT can inline) and is
  * bit-identical to the HOF versions: left-to-right accumulation, each float
  * widened to double — the VectorFunctionsSpec property test pins that.
  *
  * Metrics (reference crates/vector-store/src/vs_index/usearch.rs:450-483):
  * dot, l2sq (reference "euclidean"), hamming over sign bits.
  */
object VectorDistanceExpr {
  sealed abstract class Metric(val name: String)
  case object Dot extends Metric("dot")
  case object L2Sq extends Metric("l2sq")
  case object HammingSign extends Metric("hamming")

  private def e(c: Column): Expression = GraftSqlBridge.expression(c)

  def dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(VectorDistance(e(a), e(b), Dot))
  def l2sq(a: Column, b: Column): Column =
    GraftSqlBridge.column(VectorDistance(e(a), e(b), L2Sq))
  def hammingSign(a: Column, b: Column): Column =
    GraftSqlBridge.column(VectorDistance(e(a), e(b), HammingSign))

  // The kernels, as plain functions: the expression calls them from both
  // its interpreted and its generated code, and resident snapshots
  // (graft.operators.Resident) rank with them, so every path shares one
  // loop. Over the common prefix of the two arrays, each float widened to
  // double, accumulated left to right.

  def dotKernel(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  def l2sqKernel(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d; i += 1
    }
    acc
  }

  def hammingSignKernel(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if ((a.getFloat(i) > 0f) != (b.getFloat(i) > 0f)) acc += 1.0
      i += 1
    }
    acc
  }

  def kernel(metric: Metric, a: ArrayData, b: ArrayData): Double = metric match {
    case Dot => dotKernel(a, b)
    case L2Sq => l2sqKernel(a, b)
    case HammingSign => hammingSignKernel(a, b)
  }
}

case class VectorDistance(
    left: Expression,
    right: Expression,
    metric: VectorDistanceExpr.Metric)
  extends BinaryExpression with ExpectsInputTypes {

  import VectorDistanceExpr._

  // AbstractDataType is private[sql] in Spark 4 — let the type be inferred
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = s"vector_${metric.name}"

  override def nullSafeEval(leftVal: Any, rightVal: Any): Any =
    kernel(metric, leftVal.asInstanceOf[ArrayData], rightVal.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = metric match {
      case Dot => "dotKernel"
      case L2Sq => "l2sqKernel"
      case HammingSign => "hammingSignKernel"
    }
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorDistanceExpr.$fn($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDistance =
    copy(left = newLeft, right = newRight)
}
