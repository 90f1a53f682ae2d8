package graft.spark.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

import graft.core._

/**
 * Static evaluation helpers for the sketch-rewriting scalars (rebin,
 * reference-format migration) — shared by interpreted eval and generated
 * code, same pattern as [[HistEval]]. The target layout travels as a codegen
 * reference object (it is a constructor-time literal, not row data).
 */
object HistParamEval {
  def rebin(b: Array[Byte], layout: Layout): Array[Byte] =
    SketchEnvelope.toBytes(Histogram(layout).add(SketchEnvelope.fromBytes(b)))

  def fromReference(b: Array[Byte]): Array[Byte] =
    SketchEnvelope.toBytes(ReferenceLayoutSerde.fromBytesWithTypeInfo(b))

  def toReference(b: Array[Byte]): Array[Byte] =
    ReferenceLayoutSerde.toBytesWithTypeInfo(SketchEnvelope.fromBytes(b))

  /** Parses an estimator name (reference `ValueEstimatorImpls` policies). */
  def estimator(name: String): ValueEstimator = name.toLowerCase match {
    case "uniform"     => ValueEstimator.Uniform
    case "lower_bound" => ValueEstimator.LowerBound
    case "upper_bound" => ValueEstimator.UpperBound
    case "mid_point"   => ValueEstimator.MidPoint
    case other => throw new IllegalArgumentException(
      s"unknown value estimator '$other' (uniform|lower_bound|upper_bound|mid_point)")
  }
}

/** Native `hist_rebin(sketch, layout...)`: re-bins a sketch into a new
 * layout (rank-based cross-layout merge, reference add(Histogram)). */
case class HistRebin(child: Expression, newLayout: Layout)
    extends UnaryExpression with SketchInput {
  override protected def sketchChild: Expression = child
  override protected def fnName: String = prettyName
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult = checkSketchType()
  override def nullSafeEval(b: Any): Any =
    HistParamEval.rebin(b.asInstanceOf[Array[Byte]], newLayout)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val layoutRef = ctx.addReferenceObj("layout", newLayout, classOf[Layout].getName)
    defineCodeGen(ctx, ev, b =>
      s"graft.spark.expressions.HistParamEval.rebin($b, $layoutRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): HistRebin =
    copy(child = newChild)
  override def prettyName: String = "hist_rebin"
}

/** Native `hist_from_reference(blob)`: converts a reference-toolchain blob
 * (writeWithTypeInfo + V1 payload) into this library's sketch envelope. */
case class HistFromReference(child: Expression) extends UnaryExpression with SketchInput {
  override protected def sketchChild: Expression = child
  override protected def fnName: String = prettyName
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult = checkSketchType()
  override def nullSafeEval(b: Any): Any =
    HistParamEval.fromReference(b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.spark.expressions.HistParamEval.fromReference($b)")
  override protected def withNewChildInternal(newChild: Expression): HistFromReference =
    copy(child = newChild)
  override def prettyName: String = "hist_from_reference"
}

/** Native `hist_to_reference(sketch)`: inverse of [[HistFromReference]]. */
case class HistToReference(child: Expression) extends UnaryExpression with SketchInput {
  override protected def sketchChild: Expression = child
  override protected def fnName: String = prettyName
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult = checkSketchType()
  override def nullSafeEval(b: Any): Any =
    HistParamEval.toReference(b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.spark.expressions.HistParamEval.toReference($b)")
  override protected def withNewChildInternal(newChild: Expression): HistToReference =
    copy(child = newChild)
  override def prettyName: String = "hist_to_reference"
}

/** Column-level constructors. */
object HistParamScalars {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  def rebin(sketch: Column, newLayout: Layout): Column =
    column(HistRebin(expression(sketch), newLayout))

  def fromReference(blob: Column): Column = column(HistFromReference(expression(blob)))

  def toReference(sketch: Column): Column = column(HistToReference(expression(sketch)))
}
