package graft.spark.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType}

import graft.core.{Histogram, SketchEnvelope}
import graft.sketches._

/**
 * One sketch family's byte formats and merge, shared by the family's
 * builder aggregates and by [[SketchMergeAgg]]:
 *
 *  - `encode` / `decode`: the stored result bytes (the family's wire
 *    format); `decode` also reads every `shuffleEncode` form;
 *  - `shuffleEncode`: the aggregation buffer that crosses the
 *    partial -> final shuffle. HLL, count-min and Bloom use their compact
 *    sparse form, so a partial buffer that saw few items ships tens of bytes
 *    instead of the dense array;
 *  - `merge`: folds `b` into `a` and returns the accumulator.
 */
sealed abstract class SketchCodec[S <: AnyRef](val family: String) extends Serializable {
  def decode(bytes: Array[Byte]): S
  def encode(s: S): Array[Byte]
  def shuffleEncode(s: S): Array[Byte] = encode(s)
  def merge(a: S, b: S): S
  override def toString: String = family
}

object SketchCodec {
  /** Histograms: the self-describing [[SketchEnvelope]] (layout + V1). */
  object HistCodec extends SketchCodec[Histogram]("hist") {
    def decode(bytes: Array[Byte]): Histogram = SketchEnvelope.fromBytes(bytes)
    def encode(h: Histogram): Array[Byte] = SketchEnvelope.toBytes(h)
    def merge(a: Histogram, b: Histogram): Histogram = a.add(b)
  }

  object HllCodec extends SketchCodec[Hll]("hll") {
    def decode(bytes: Array[Byte]): Hll = Hll.fromBytes(bytes)
    def encode(s: Hll): Array[Byte] = s.toBytes
    override def shuffleEncode(s: Hll): Array[Byte] = Hll.toCompactBytes(s)
    def merge(a: Hll, b: Hll): Hll = a.merge(b)
  }

  object CmsCodec extends SketchCodec[CountMin]("cms") {
    def decode(bytes: Array[Byte]): CountMin = CountMin.fromBytes(bytes)
    def encode(s: CountMin): Array[Byte] = s.toBytes
    override def shuffleEncode(s: CountMin): Array[Byte] = CountMin.toCompactBytes(s)
    def merge(a: CountMin, b: CountMin): CountMin = a.merge(b)
  }

  object BloomCodec extends SketchCodec[BloomFilter]("bloom") {
    def decode(bytes: Array[Byte]): BloomFilter = BloomFilter.fromBytes(bytes)
    def encode(s: BloomFilter): Array[Byte] = s.toBytes
    override def shuffleEncode(s: BloomFilter): Array[Byte] = BloomFilter.toCompactBytes(s)
    def merge(a: BloomFilter, b: BloomFilter): BloomFilter = a.merge(b)
  }

  object TDigestCodec extends SketchCodec[TDigest]("tdigest") {
    def decode(bytes: Array[Byte]): TDigest = TDigest.fromBytes(bytes)
    def encode(s: TDigest): Array[Byte] = s.toBytes
    def merge(a: TDigest, b: TDigest): TDigest = a.merge(b)
  }

  object KllCodec extends SketchCodec[Kll]("kll") {
    def decode(bytes: Array[Byte]): Kll = Kll.fromBytes(bytes)
    def encode(s: Kll): Array[Byte] = s.toBytes
    def merge(a: Kll, b: Kll): Kll = a.merge(b)
  }
}

/** A native sketch aggregate whose buffer is a sketch of one family: merge,
 * result and shuffle encodings all come from the family's [[SketchCodec]]. */
abstract class SketchAgg[S <: AnyRef] extends TypedImperativeAggregate[S] {
  protected def codec: SketchCodec[S]

  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def merge(buffer: S, other: S): S = codec.merge(buffer, other)
  override def eval(buffer: S): Any = codec.encode(buffer)
  override def serialize(buffer: S): Array[Byte] = codec.shuffleEncode(buffer)
  override def deserialize(bytes: Array[Byte]): S = codec.decode(bytes)
}

/**
 * Merges a column of stored sketch blobs of one family into one sketch: the
 * second phase of salted / two-level aggregation and of checkpoint resume
 * (`hist_merge`, `hll_merge`, `cms_merge`, `bloom_merge`, `tdigest_merge`,
 * `kll_merge`).
 *
 * Null and empty blobs are skipped; a group with no non-empty blob yields an
 * empty byte array. HLL (register max), count-min (counter add), Bloom
 * (bit OR) and histogram merges are order-insensitive, so the result is
 * byte-identical under any partitioning; t-digest and KLL keep their error
 * bounds under any merge tree.
 */
case class SketchMergeAgg[S <: AnyRef](
    child: Expression,
    codec: SketchCodec[S],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Option[S]] with SketchInput {

  override def children: Seq[Expression] = Seq(child)
  override protected def sketchChild: Expression = child
  override protected def fnName: String = prettyName
  override def checkInputDataTypes(): TypeCheckResult = checkSketchType()
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Option[S] = None

  private def fold(acc: Option[S], s: S): Option[S] =
    Some(acc.fold(s)(codec.merge(_, s)))

  override def update(buffer: Option[S], input: InternalRow): Option[S] =
    child.eval(input) match {
      case b: Array[Byte] if b.nonEmpty => fold(buffer, codec.decode(b))
      case _                            => buffer
    }

  override def merge(buffer: Option[S], other: Option[S]): Option[S] =
    other.fold(buffer)(fold(buffer, _))

  override def eval(buffer: Option[S]): Any =
    buffer.fold(Array.emptyByteArray)(codec.encode)

  override def serialize(buffer: Option[S]): Array[Byte] =
    buffer.fold(Array.emptyByteArray)(codec.shuffleEncode)

  override def deserialize(bytes: Array[Byte]): Option[S] =
    if (bytes.isEmpty) None else Some(codec.decode(bytes))

  override def withNewMutableAggBufferOffset(n: Int): SketchMergeAgg[S] =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SketchMergeAgg[S] =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SketchMergeAgg[S] =
    copy(child = c.head)
  override def prettyName: String = s"${codec.family}_merge"
}
