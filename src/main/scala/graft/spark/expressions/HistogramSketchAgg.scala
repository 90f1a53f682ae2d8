package graft.spark.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.core.{Histogram, HistogramSerde, Layout}

/**
 * Histogram builder aggregates (`hist_sketch`, `hist_sketch_weighted` and
 * the layout-parameterized SQL forms). The result is the self-describing
 * envelope of [[SketchCodec.HistCodec]]. The layout is fixed per call, so
 * the buffer crossing the partial->shuffle->final boundary is the bare V1
 * payload: a bit-packed dense-or-sparse encoding, whichever is fewer bits,
 * tens of bytes per sketch instead of 8 bytes per bin.
 */
abstract class HistogramAgg extends SketchAgg[Histogram] {
  def layout: Layout

  override protected def codec: SketchCodec[Histogram] = SketchCodec.HistCodec
  override def serialize(buffer: Histogram): Array[Byte] = HistogramSerde.toBytes(buffer)
  override def deserialize(bytes: Array[Byte]): Histogram =
    HistogramSerde.fromBytes(layout, bytes)
}

case class HistogramSketchAgg(
    child: Expression,
    layout: Layout,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends HistogramAgg {

  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): Histogram = Histogram(layout)

  // Unboxed hot path: after Spark binds references, a plain double column
  // arrives as a BoundReference — read it with getDouble instead of eval()
  // (which boxes a java.lang.Double per row; at 10^8-row rates the boxing
  // garbage alone drives young-GC pauses, measured on multi-executor runs).
  @transient private lazy val boundOrdinal: Int = child match {
    case b: BoundReference if b.dataType == DoubleType => b.ordinal
    case _ => -1
  }

  override def update(buffer: Histogram, input: InternalRow): Histogram = {
    val ord = boundOrdinal
    if (ord >= 0) {
      if (!input.isNullAt(ord)) buffer.addValue(input.getDouble(ord))
    } else {
      val v = child.eval(input)
      if (v != null) buffer.addValue(v.asInstanceOf[Double])
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HistogramSketchAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): HistogramSketchAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HistogramSketchAgg =
    copy(child = newChildren.head)

  override def prettyName: String = "hist_sketch"
}

/**
 * Count-weighted histogram aggregation (reference semantics
 * `addValue(double, long)`, Histogram.java:283-290): rows with a null value
 * or weight are skipped; the update is unboxed for both children.
 */
case class HistogramSketchWeightedAgg(
    value: Expression,
    weight: Expression,
    layout: Layout,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends HistogramAgg {

  override def children: Seq[Expression] = Seq(value, weight)

  override def createAggregationBuffer(): Histogram = Histogram(layout)

  // Unboxed hot path for BOTH children (see HistogramSketchAgg.boundOrdinal):
  // eval() boxes a java.lang.Double + java.lang.Long per row otherwise.
  @transient private lazy val valueOrdinal: Int = value match {
    case b: BoundReference if b.dataType == DoubleType => b.ordinal
    case _ => -1
  }
  @transient private lazy val weightOrdinal: Int = weight match {
    case b: BoundReference if b.dataType == LongType => b.ordinal
    case _ => -1
  }

  override def update(buffer: Histogram, input: InternalRow): Histogram = {
    val vOrd = valueOrdinal
    val wOrd = weightOrdinal
    if (vOrd >= 0 && wOrd >= 0) {
      if (!input.isNullAt(vOrd) && !input.isNullAt(wOrd)) {
        buffer.addValue(input.getDouble(vOrd), input.getLong(wOrd))
      }
    } else {
      val v = value.eval(input)
      val w = weight.eval(input)
      if (v != null && w != null) {
        buffer.addValue(v.asInstanceOf[Double], w.asInstanceOf[Long])
      }
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HistogramSketchWeightedAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): HistogramSketchWeightedAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HistogramSketchWeightedAgg =
    copy(value = newChildren(0), weight = newChildren(1))

  override def prettyName: String = "hist_sketch_weighted"
}
