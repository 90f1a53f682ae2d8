package graft.spark.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.sketches._

/**
 * The companion-sketch builder aggregates (HLL / count-min / Bloom /
 * t-digest / KLL), parameterized per call: `hll_sketch(c, precision)`,
 * `cms_sketch(c, depth, width)`, `bloom_sketch(c, expected, fpp)`,
 * `tdigest_sketch(v, compression)`, `kll_sketch(v, k)` in both the Column
 * DSL and SQL. The sketch families take their accuracy parameters at
 * creation, as dynahist `Histogram.createDynamic(layout)` does.
 *
 * Merge, result bytes and the compact shuffle buffer come from the family's
 * [[SketchCodec]]; the per-row update is unboxed for primitive inputs
 * (getDouble/getLong/getUTF8String on the bound ordinal).
 */
abstract class CompanionSketchAgg[S <: AnyRef] extends SketchAgg[S] {
  def child: Expression

  override def children: Seq[Expression] = Seq(child)
}

private[spark] object ItemSketchAgg {
  /** Hash of a string input, bit-identical to
   * `Hashing.hashString(s.toString)` on EVERY input: valid UTF-8 hashes
   * its bytes directly (no per-row `java.lang.String` — `hashString` is
   * defined as the hash of the UTF-8 encoding, and valid bytes round-trip
   * `toString.getBytes` unchanged); malformed sequences fall back to the
   * String path so they hash the same U+FFFD-replaced encoding
   * `toString` would have produced. `isValid` caches per UTF8String. */
  def utf8Hash(s: org.apache.spark.unsafe.types.UTF8String): Long =
    if (s.isValid) Hashing.hashBytes(s.getBytes)
    else Hashing.hashString(s.toString)
}

/** Item-keyed sketches (HLL / CMS / Bloom): string inputs hash as strings,
 * integral inputs as longs, dispatched on the child's type at bind time. The
 * Column DSL casts its input first (`hll_sketch`/`cms_sketch` to string,
 * `hll_sketch_long`/`bloom_sketch` to long); SQL passes it through.
 *
 * String rows hash through [[ItemSketchAgg.utf8Hash]] (no per-row
 * `java.lang.String` for valid UTF-8 — the 100 TB string-key path); both
 * string and long bound-reference children take an unboxed ordinal read. */
abstract class ItemSketchAgg[S <: AnyRef] extends CompanionSketchAgg[S] {
  protected def addHash(buffer: S, h: Long): Unit
  protected def addLong(buffer: S, v: Long): Unit

  @transient private lazy val longOrdinal: Int = child match {
    case b: BoundReference if b.dataType == LongType => b.ordinal
    case _ => -1
  }
  @transient private lazy val stringOrdinal: Int = child match {
    case b: BoundReference if b.dataType == StringType => b.ordinal
    case _ => -1
  }

  override def update(buffer: S, input: InternalRow): S = {
    val lOrd = longOrdinal
    if (lOrd >= 0) {
      if (!input.isNullAt(lOrd)) addLong(buffer, input.getLong(lOrd))
    } else if (stringOrdinal >= 0) {
      val sOrd = stringOrdinal
      if (!input.isNullAt(sOrd))
        addHash(buffer, ItemSketchAgg.utf8Hash(input.getUTF8String(sOrd)))
    } else {
      val v = child.eval(input)
      if (v != null) v match {
        case s: org.apache.spark.unsafe.types.UTF8String =>
          addHash(buffer, ItemSketchAgg.utf8Hash(s))
        case l: java.lang.Long                           => addLong(buffer, l.longValue())
        case i: java.lang.Integer                        => addLong(buffer, i.longValue())
        case other =>
          throw new IllegalArgumentException(
            s"$prettyName: unsupported input ${other.getClass.getSimpleName} " +
              "(expected string or integral)")
      }
    }
    buffer
  }
}

/** Double-valued sketches (t-digest / KLL): unboxed getDouble update. */
abstract class DoubleSketchAgg[S <: AnyRef] extends CompanionSketchAgg[S] {
  protected def addDouble(buffer: S, v: Double): Unit

  @transient private lazy val boundOrdinal: Int = child match {
    case b: BoundReference if b.dataType == DoubleType => b.ordinal
    case _ => -1
  }

  override def update(buffer: S, input: InternalRow): S = {
    val ord = boundOrdinal
    if (ord >= 0) {
      if (!input.isNullAt(ord)) addDouble(buffer, input.getDouble(ord))
    } else {
      val v = child.eval(input)
      if (v != null) addDouble(buffer, v.asInstanceOf[Double])
    }
    buffer
  }
}

case class HllSketchAgg(
    child: Expression,
    precision: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends ItemSketchAgg[Hll] {
  override protected def codec: SketchCodec[Hll] = SketchCodec.HllCodec
  override def createAggregationBuffer(): Hll = Hll(precision)
  override protected def addHash(b: Hll, h: Long): Unit = b.addHash(h)
  override protected def addLong(b: Hll, v: Long): Unit = b.addLong(v)
  override def withNewMutableAggBufferOffset(n: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): HllSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HllSketchAgg =
    copy(child = c.head)
  override def prettyName: String = "hll_sketch"
}

case class CountMinSketchAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends ItemSketchAgg[CountMin] {
  override protected def codec: SketchCodec[CountMin] = SketchCodec.CmsCodec
  override def createAggregationBuffer(): CountMin = CountMin(depth, width)
  override protected def addHash(b: CountMin, h: Long): Unit = b.addHash(h)
  override protected def addLong(b: CountMin, v: Long): Unit = b.addLong(v)
  override def withNewMutableAggBufferOffset(n: Int): CountMinSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): CountMinSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CountMinSketchAgg =
    copy(child = c.head)
  override def prettyName: String = "cms_sketch"
}

/** (item, weight) count-min: each row adds `weight` to its item's counters —
 * byte-identical to `weight` repetitions (CountMin addString(v, count)). */
case class CountMinWeightedSketchAgg(
    item: Expression,
    weight: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends CompanionSketchAgg[CountMin] {
  override protected def codec: SketchCodec[CountMin] = SketchCodec.CmsCodec
  override def child: Expression = item
  override def children: Seq[Expression] = Seq(item, weight)
  override def createAggregationBuffer(): CountMin = CountMin(depth, width)

  override def update(buffer: CountMin, input: InternalRow): CountMin = {
    val v = item.eval(input)
    val w = weight.eval(input)
    if (v != null && w != null) {
      val cnt = w match { // Int weight columns are valid DSL inputs too
        case l: java.lang.Long    => l.longValue()
        case i: java.lang.Integer => i.longValue()
        case other =>
          throw new IllegalArgumentException(
            s"cms_sketch_weighted: unsupported weight ${other.getClass.getSimpleName}")
      }
      v match {
        case s: org.apache.spark.unsafe.types.UTF8String =>
          buffer.addHash(ItemSketchAgg.utf8Hash(s), cnt)
        case l: java.lang.Long                           => buffer.addLong(l.longValue(), cnt)
        case i: java.lang.Integer                        => buffer.addLong(i.longValue(), cnt)
        case other =>
          throw new IllegalArgumentException(
            s"cms_sketch_weighted: unsupported input ${other.getClass.getSimpleName}")
      }
    }
    buffer
  }
  override def withNewMutableAggBufferOffset(n: Int): CountMinWeightedSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): CountMinWeightedSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): CountMinWeightedSketchAgg =
    copy(item = c(0), weight = c(1))
  override def prettyName: String = "cms_sketch_weighted"
}

case class BloomSketchAgg(
    child: Expression,
    expectedItems: Long,
    fpp: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends ItemSketchAgg[BloomFilter] {
  override protected def codec: SketchCodec[BloomFilter] = SketchCodec.BloomCodec
  override def createAggregationBuffer(): BloomFilter = BloomFilter(expectedItems, fpp)
  override protected def addHash(b: BloomFilter, h: Long): Unit = b.addHash(h)
  override protected def addLong(b: BloomFilter, v: Long): Unit = b.addLong(v)
  override def withNewMutableAggBufferOffset(n: Int): BloomSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): BloomSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BloomSketchAgg =
    copy(child = c.head)
  override def prettyName: String = "bloom_sketch"
}

case class TDigestSketchAgg(
    child: Expression,
    compression: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends DoubleSketchAgg[TDigest] {
  override protected def codec: SketchCodec[TDigest] = SketchCodec.TDigestCodec
  override def createAggregationBuffer(): TDigest = TDigest(compression)
  override protected def addDouble(b: TDigest, v: Double): Unit = b.add(v)
  override def withNewMutableAggBufferOffset(n: Int): TDigestSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TDigestSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TDigestSketchAgg =
    copy(child = c.head)
  override def prettyName: String = "tdigest_sketch"
}

case class KllSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends DoubleSketchAgg[Kll] {
  override protected def codec: SketchCodec[Kll] = SketchCodec.KllCodec
  override def createAggregationBuffer(): Kll = Kll(k)
  override protected def addDouble(b: Kll, v: Double): Unit = b.add(v)
  override def withNewMutableAggBufferOffset(n: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KllSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KllSketchAgg =
    copy(child = c.head)
  override def prettyName: String = "kll_sketch"
}
