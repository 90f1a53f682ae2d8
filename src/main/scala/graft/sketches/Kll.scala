package graft.sketches

import java.nio.ByteBuffer
import java.util.Arrays

/**
 * KLL streaming quantile sketch (Karnin, Lang, Liberty, "Optimal Quantile
 * Approximation in Streams", FOCS 2016). A hierarchy of compactors: level h
 * holds items each representing 2^h inputs; a full level sorts itself and
 * promotes every other item (random offset) to level h+1. Capacities shrink
 * geometrically (c = 2/3) below the top level, giving O(k * log log(1/d))
 * space and normalized rank error ~ 1/k with high probability.
 *
 * Storage is primitive: one `Array[Double]` per level with its length, an
 * item count kept up to date as items move, and the per-level capacities and
 * their total cached until a level is added. `add` appends to level 0 and
 * compacts only when the item count passes the total capacity; a compaction
 * sorts the level in place (`Arrays.sort`, the `Double.compare` order, so
 * -0.0 sorts before 0.0) and promotes by index.
 *
 * Merge concatenates levels and re-compacts; associative in distribution
 * (rank-error bounds are preserved under any merge tree).
 */
final class Kll private (
    val k: Int,
    private var levels: Array[Array[Double]],
    private var lengths: Array[Int],
    private var totalVar: Long,
    private var coinState: Long)
    extends Serializable {

  private val c = 2.0 / 3.0

  /** Items held over all levels. */
  private var size: Int = lengths.sum
  private var capacities: Array[Int] = _
  private var capacityTotal: Long = _
  updateCapacities()

  def total: Long = totalVar
  def isEmpty: Boolean = totalVar == 0
  def numLevels: Int = levels.length

  private def updateCapacities(): Unit = {
    capacities = Array.tabulate(levels.length) { level =>
      val depth = levels.length - level - 1
      math.max(2, math.ceil(k * math.pow(c, depth.toDouble)).toInt)
    }
    capacityTotal = capacities.foldLeft(0L)(_ + _)
  }

  private def addLevel(): Unit = {
    levels = levels :+ new Array[Double](2)
    lengths = lengths :+ 0
    updateCapacities()
  }

  /** Makes room for `n` more items at `level`. */
  private def reserve(level: Int, n: Int): Unit = {
    val need = lengths(level) + n
    if (need > levels(level).length)
      levels(level) = Arrays.copyOf(levels(level), math.max(need, 2 * levels(level).length))
  }

  /** Deterministic pseudo-random coin (splitmix64 step over internal state):
   * reproducible for a fixed insertion order, unbiased across compactions. */
  private def coin(): Boolean = {
    coinState += 0x9e3779b97f4a7c15L
    var z = coinState
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)) < 0
  }

  def add(x: Double): this.type = {
    require(!x.isNaN, "value must not be NaN")
    reserve(0, 1)
    levels(0)(lengths(0)) = x
    lengths(0) += 1
    size += 1
    totalVar += 1
    if (size > capacityTotal) compress()
    this
  }

  /** Compacts the lowest level at or over its capacity, adding the next
   * level first when it is the top one. */
  private def compress(): Unit = {
    var level = 0
    while (level < levels.length && lengths(level) < capacities(level)) level += 1
    if (level == levels.length) return
    if (level + 1 == levels.length) addLevel()
    val items = levels(level)
    val n = lengths(level)
    Arrays.sort(items, 0, n)
    // compact an even-length range so total weight is conserved exactly;
    // an odd count retains one edge item (random edge) at this level
    var evenStart = 0
    var evenEnd = n
    if (n % 2 == 1) {
      if (coin()) evenStart = 1 else evenEnd = n - 1
    }
    val offset = if (coin()) 1 else 0
    val promoted = (evenEnd - evenStart) / 2
    reserve(level + 1, promoted)
    val up = levels(level + 1)
    var j = lengths(level + 1)
    var i = evenStart + offset
    while (i < evenEnd) {
      up(j) = items(i)
      j += 1
      i += 2
    }
    lengths(level + 1) = j
    if (evenEnd < n) items(0) = items(n - 1) // the retained edge item
    lengths(level) = n % 2
    size -= promoted
  }

  def merge(other: Kll): this.type = {
    require(k == other.k, "k mismatch")
    while (levels.length < other.levels.length) addLevel()
    var level = 0
    while (level < other.levels.length) {
      val n = other.lengths(level)
      reserve(level, n)
      System.arraycopy(other.levels(level), 0, levels(level), lengths(level), n)
      lengths(level) += n
      size += n
      level += 1
    }
    totalVar += other.totalVar
    coinState ^= other.coinState * 0x9e3779b97f4a7c15L
    while (size > capacityTotal) compress()
    this
  }

  /** Value at normalized rank q (0..1): walks the levels' sorted copies in
   * one merged ascending pass, adding each item's weight 2^level. */
  def quantile(q: Double): Double = {
    if (isEmpty) return Double.NaN
    val target = math.max(0L, math.min(totalVar - 1, math.round(q * (totalVar - 1)).toLong))
    val sorted = Array.tabulate(levels.length) { level =>
      val a = Arrays.copyOf(levels(level), lengths(level))
      Arrays.sort(a)
      a
    }
    val next = new Array[Int](sorted.length)
    var cum = 0L
    var value = Double.NaN
    var best = 0
    while (best >= 0 && cum <= target) {
      best = -1
      var level = 0
      while (level < sorted.length) {
        if (next(level) < sorted(level).length &&
          (best < 0 || java.lang.Double.compare(sorted(level)(next(level)), sorted(best)(next(best))) < 0))
          best = level
        level += 1
      }
      if (best >= 0) {
        value = sorted(best)(next(best))
        next(best) += 1
        cum += 1L << best
      }
    }
    value
  }

  /** Estimated number of recorded values <= x. */
  def rank(x: Double): Long = {
    var r = 0L
    var level = 0
    while (level < levels.length) {
      val items = levels(level)
      val w = 1L << level
      var i = 0
      while (i < lengths(level)) {
        if (items(i) <= x) r += w
        i += 1
      }
      level += 1
    }
    r
  }

  def toBytes: Array[Byte] = {
    val buf = ByteBuffer.allocate(Kll.HeaderBytes + levels.length * 4 + size * 8)
    buf.putInt(k).putLong(totalVar).putLong(coinState).putInt(levels.length)
    lengths.foreach(buf.putInt)
    var level = 0
    while (level < levels.length) {
      var i = 0
      while (i < lengths(level)) {
        buf.putDouble(levels(level)(i))
        i += 1
      }
      level += 1
    }
    buf.array()
  }
}

object Kll {

  /** k, total, coin state, level count. */
  private val HeaderBytes = 4 + 8 + 8 + 4
  private val MaxLevels = 64

  def apply(k: Int = 200): Kll = {
    require(k >= 8)
    new Kll(k, Array(new Array[Double](2)), Array(0), 0L, 0x243f6a8885a308d3L)
  }

  /** Decodes `toBytes` output. Throws `IllegalArgumentException("corrupt
   * KLL payload …")` unless k >= 8, 1 <= levels <= 64, every level size is
   * >= 0, the length is exactly header + 4 per level + 8 per item, no item
   * is NaN and the total equals the items' weight sum (size_h * 2^h). */
  def fromBytes(bytes: Array[Byte]): Kll = {
    def corrupt(what: String) = throw new IllegalArgumentException(s"corrupt KLL payload ($what)")
    if (bytes.length < HeaderBytes) corrupt("truncated header")
    val buf = ByteBuffer.wrap(bytes)
    val k = buf.getInt
    val total = buf.getLong
    val coinState = buf.getLong
    val nLevels = buf.getInt
    if (k < 8) corrupt(s"k = $k")
    if (nLevels < 1 || nLevels > MaxLevels) corrupt(s"$nLevels levels")
    if (bytes.length < HeaderBytes + 4L * nLevels) corrupt("truncated level sizes")
    val lengths = Array.fill(nLevels)(buf.getInt)
    if (lengths.exists(_ < 0)) corrupt("negative level size")
    val items = lengths.foldLeft(0L)(_ + _)
    if (bytes.length != HeaderBytes + 4L * nLevels + 8L * items) corrupt("length")
    // weight sum, refusing to overflow a Long
    var weight = 0L
    var level = 0
    while (level < nLevels) {
      val n = lengths(level).toLong
      if (n > 0) {
        if (level >= 63 || n > ((Long.MaxValue - weight) >> level)) corrupt("weight overflow")
        weight += n << level
      }
      level += 1
    }
    if (weight != total) corrupt(s"total $total != weight $weight")
    val levels = lengths.map { n =>
      val a = new Array[Double](math.max(n, 2))
      var i = 0
      while (i < n) {
        a(i) = buf.getDouble
        if (a(i).isNaN) corrupt("NaN item")
        i += 1
      }
      a
    }
    new Kll(k, levels, lengths, total, coinState)
  }
}
