package graft.core

/**
 * Mutable error-bounded histogram sketch over IEEE-754 doubles.
 *
 * State: a dense window of self-sizing counters over the regular bin-index
 * range actually touched, plus exact underflow/overflow/total counts and exact
 * min/max (signed zero respected). Recording is O(1); merge of equal-layout
 * histograms is bin-wise counter addition and therefore associative and
 * commutative — the property that makes this a valid distributed aggregation
 * buffer (partial aggregation + shuffle merge in any order yields identical
 * state).
 *
 * Behavior matches the reference semantics
 * (dynahist `AbstractMutableHistogram.java:30-255`, `DynamicHistogram.java:28-310`):
 * NaN rejected, +-inf allowed (land in under/overflow bins), counter overflow
 * raises ArithmeticException, -0.0 ordered below 0.0 for min/max, window grown
 * geometrically by >= 25%.
 */
final class Histogram private (val layout: Layout) extends Serializable {

  // Regular-bin counter storage: a dense window of `windowLen` counters
  // starting at bin index `windowStart`, bit-packed at 2^mode bits each.
  // Counters start at 1 bit (mode 0) and widen on demand to 2, 4 and 8 bits
  // (reference semantics dynahist `DynamicHistogram.java:30-75, 152-221`), so
  // sparse per-group buffers stay up to 64x smaller than plain counters. A
  // widening goes straight to plain 64-bit counters (mode 6, the reference's
  // StaticHistogram-style buffer, the fastest to record into) when a counter
  // passes 255 or when the buffer is dense: more than 255 values recorded
  // and at least one per window bin, so 64-bit counters cost at most 8 bytes
  // per recorded value (see `widthFor`).
  private var counts: Array[Long] = Histogram.EmptyCounts
  private var windowStart: Int = 0 // bin index of counter 0; meaningful iff windowLen > 0
  private var windowLen: Int = 0
  private var mode: Int = 0

  private var underflowCountVar: Long = 0L
  private var overflowCountVar: Long = 0L
  private var totalCountVar: Long = 0L
  private var minVar: Double = Double.PositiveInfinity
  private var maxVar: Double = Double.NegativeInfinity

  def underflowCount: Long = underflowCountVar
  def overflowCount: Long = overflowCountVar
  def totalCount: Long = totalCountVar
  def min: Double = minVar
  def max: Double = maxVar
  def isEmpty: Boolean = totalCountVar == 0L

  private def updateMin(m: Double): Unit = {
    if (m <= minVar &&
      (m < minVar || java.lang.Double.doubleToRawLongBits(m) == 0x8000000000000000L)) {
      minVar = m
    }
  }

  private def updateMax(m: Double): Unit = {
    if (m >= maxVar &&
      (m > maxVar || java.lang.Double.doubleToRawLongBits(m) == 0L)) {
      maxVar = m
    }
  }

  /** Records `value` once. */
  def addValue(value: Double): this.type = addValue(value, 1L)

  /** Records `value` with multiplicity `count`. */
  def addValue(value: Double, count: Long): this.type = {
    if (count == 0) return this
    require(count > 0, s"count must be non-negative, but was $count")
    if (value != value) throw new IllegalArgumentException("value must not be NaN")
    if (count > Long.MaxValue - totalCountVar) throw new ArithmeticException("count overflow")
    val idx = layout.mapToBinIndex(value)
    totalCountVar += count
    updateMin(value)
    updateMax(value)
    if (idx <= layout.underflowBinIndex) underflowCountVar += count
    else if (idx >= layout.overflowBinIndex) overflowCountVar += count
    else incrementRegular(idx, count)
    this
  }

  // ---------------------------------------------------------------------
  // packed counter storage primitives (mode 6 = plain long[], no packing)
  // ---------------------------------------------------------------------

  @inline private def wordsFor(len: Int, m: Int): Int =
    if (m == 6) len else (((len.toLong << m) + 63L) >>> 6).toInt

  /** Counter at window position `pos` (0 <= pos < windowLen). Counter widths
   * are powers of two <= 64 bits, so a counter never straddles words. */
  @inline private def counterAt(pos: Int): Long = {
    if (mode == 6) counts(pos)
    else {
      val bitPos = pos.toLong << mode
      (counts((bitPos >>> 6).toInt) >>> (bitPos & 63L).toInt) & Histogram.ModeMask(mode)
    }
  }

  @inline private def setCounterAt(pos: Int, v: Long): Unit = {
    if (mode == 6) counts(pos) = v
    else {
      val bitPos = pos.toLong << mode
      val w = (bitPos >>> 6).toInt
      val s = (bitPos & 63L).toInt
      val mask = Histogram.ModeMask(mode)
      counts(w) = (counts(w) & ~(mask << s)) | ((v & mask) << s)
    }
  }

  /** Adds `delta` to the counter at `pos`, widening the counters when the
   * new value no longer fits (reference `DynamicHistogram.java:152-221`). */
  private def addToCounterAt(pos: Int, delta: Long): Unit = {
    if (mode == 6) {
      val updated = counts(pos) + delta
      if (updated < 0) throw new ArithmeticException("counter overflow")
      counts(pos) = updated
    } else addToPackedCounterAt(pos, delta)
  }

  private def addToPackedCounterAt(pos: Int, delta: Long): Unit = {
    val bitPos = pos.toLong << mode
    val w = (bitPos >>> 6).toInt
    val s = (bitPos & 63L).toInt
    val mask = Histogram.ModeMask(mode)
    val word = counts(w)
    val updated = ((word >>> s) & mask) + delta
    // in place while the sum fits the field (no carry out of it)
    if ((updated & ~mask) == 0L) counts(w) = word + (delta << s)
    else {
      if (updated < 0) throw new ArithmeticException("counter overflow")
      upgradeMode(widthFor(updated))
      setCounterAt(pos, updated)
    }
  }

  /** Counter width class for a window that must hold counter `v` (or a
   * bit-OR mask of counters): plain 64 bits once the window is dense — more
   * than 255 regular values and at least one per window bin — else the
   * narrowest width that holds `v`. Dense windows belong to the heavy
   * buffers, where narrow counters would still take a large share of the
   * values to come. */
  private def widthFor(v: Long): Int = {
    val regular = totalCountVar - underflowCountVar - overflowCountVar
    if (regular > 255L && regular >= windowLen) 6 else Histogram.modeFor(v)
  }

  private def upgradeMode(newMode: Int): Unit = {
    val fresh = new Array[Long](wordsFor(windowLen, newMode))
    var i = 0
    while (i < windowLen) {
      val v = counterAt(i)
      if (v != 0L) {
        if (newMode == 6) fresh(i) = v
        else {
          val bitPos = i.toLong << newMode
          fresh((bitPos >>> 6).toInt) |= (v << (bitPos & 63L).toInt)
        }
      }
      i += 1
    }
    counts = fresh
    mode = newMode
  }

  private def incrementRegular(idx: Int, count: Long): this.type = {
    if (windowLen == 0) {
      windowLen = 1
      counts = new Array[Long](wordsFor(1, mode))
      windowStart = idx
    } else if (idx < windowStart || idx >= windowStart + windowLen) {
      growWindow(idx)
    }
    addToCounterAt(idx - windowStart, count)
    this
  }

  private def growWindow(idx: Int): Unit = {
    val curStart = windowStart
    val curEnd = windowStart + windowLen // exclusive
    var newStart = math.min(curStart, idx)
    var newEnd = math.max(curEnd, idx + 1)
    // grow by at least 25% to amortize repeated extension
    val needed = newEnd - newStart
    val desired = math.max(needed, windowLen + (windowLen >> 2) + 1)
    val loRoom = curStart - layout.underflowBinIndex - 1
    val hiRoom = layout.overflowBinIndex - curEnd
    val extra = desired - needed
    if (extra > 0) {
      if (idx < curStart) {
        val take = math.min(extra.toLong, loRoom - (curStart - newStart)).toInt
        if (take > 0) newStart -= take
      } else {
        val take = math.min(extra.toLong, hiRoom - (newEnd - curEnd)).toInt
        if (take > 0) newEnd += take
      }
    }
    val newLen = newEnd - newStart
    val fresh = new Array[Long](wordsFor(newLen, mode))
    // move the counter bits up by `off` counters, a whole word at a time
    // (bits past windowLen are zero, so shifted-out bits are zero too)
    val offBits = (curStart - newStart).toLong << mode
    val wordOff = (offBits >>> 6).toInt
    val bitOff = (offBits & 63L).toInt
    if (bitOff == 0) System.arraycopy(counts, 0, fresh, wordOff, counts.length)
    else {
      var i = 0
      while (i < counts.length) {
        fresh(wordOff + i) |= counts(i) << bitOff
        if (wordOff + i + 1 < fresh.length) fresh(wordOff + i + 1) |= counts(i) >>> (64 - bitOff)
        i += 1
      }
    }
    counts = fresh
    windowStart = newStart
    windowLen = newLen
  }

  /** Counter of the given bin index (under/overflow totals at their indices). */
  def countAt(binIndex: Int): Long = {
    if (binIndex <= layout.underflowBinIndex) {
      if (binIndex == layout.underflowBinIndex) underflowCountVar else 0L
    } else if (binIndex >= layout.overflowBinIndex) {
      if (binIndex == layout.overflowBinIndex) overflowCountVar else 0L
    } else regularCountAt(binIndex)
  }

  private def regularCountAt(binIndex: Int): Long = {
    val pos = binIndex - windowStart
    if (pos >= 0 && pos < windowLen) counterAt(pos) else 0L
  }

  /**
   * Merges another histogram into this one. Equal layouts merge exactly
   * (bin-wise addition); differing layouts are lossily re-binned through the
   * other histogram's rank-value estimates
   * (dynahist `AbstractMutableHistogram.java:86-124`).
   */
  def add(other: Histogram, estimator: ValueEstimator = ValueEstimator.Uniform): this.type = {
    if (other.isEmpty) return this
    if (other.totalCountVar > Long.MaxValue - totalCountVar)
      throw new ArithmeticException("count overflow")
    if (layout == other.layout) {
      totalCountVar += other.totalCountVar
      underflowCountVar += other.underflowCountVar
      overflowCountVar += other.overflowCountVar
      updateMin(other.minVar)
      updateMax(other.maxVar)
      if (other.windowLen > 0) {
        // locate other's non-empty span to avoid over-allocating
        var lo = 0
        while (lo < other.windowLen && other.counterAt(lo) == 0L) lo += 1
        var hi = other.windowLen - 1
        while (hi >= lo && other.counterAt(hi) == 0L) hi -= 1
        if (lo <= hi) {
          ensureWindow(other.windowStart + lo, other.windowStart + hi)
          var i = lo
          while (i <= hi) {
            val c = other.counterAt(i)
            if (c != 0L) addToCounterAt(other.windowStart + i - windowStart, c)
            i += 1
          }
        }
      }
      this
    } else {
      val pre = new PreprocessedHistogram(other)
      addAscendingSequence(rank => pre.valueAt(rank, estimator), other.totalCountVar)
    }
  }

  private def ensureWindow(fromIdx: Int, toIdx: Int): Unit = {
    if (windowLen == 0) {
      windowLen = toIdx - fromIdx + 1
      counts = new Array[Long](wordsFor(windowLen, mode))
      windowStart = fromIdx
    } else {
      if (fromIdx < windowStart) growWindow(fromIdx)
      if (toIdx >= windowStart + windowLen) growWindow(toIdx)
    }
  }

  /**
   * Bulk-inserts a monotone non-decreasing sequence `f(0..n-1)` in O(#bins)
   * using galloping search to find runs mapping to the same bin
   * (dynahist `AbstractMutableHistogram.java:363-397`).
   */
  def addAscendingSequence(f: Long => Double, n: Long): this.type = {
    if (n == 0) return this
    if (n > Long.MaxValue - totalCountVar) throw new ArithmeticException("count overflow")
    var rank = 0L
    var lastRun = 1L
    while (rank < n) {
      val v = f(rank)
      val idx = layout.mapToBinIndex(v)
      val next =
        if (rank + 1 == n) n
        else {
          val guess = math.min(n, rank + lastRun)
          Algorithms.findFirst(
            r => r == n || layout.mapToBinIndex(f(r)) > idx,
            rank + 1,
            n,
            guess)
        }
      lastRun = next - rank
      addValue(v, lastRun)
      // min/max correctness: addValue(v, k) sets min/max to v; also fold the
      // run's true extremes (first value already v; last value of run):
      if (next - 1 > rank) updateMax(f(next - 1))
      rank = next
    }
    this
  }

  // -------------------------------------------------------------------------
  // Bin iteration
  // -------------------------------------------------------------------------

  private def minAllocated: Int = windowStart
  private def maxAllocatedExclusive: Int = windowStart + windowLen

  /** Cursor over non-empty bins in ascending order, with running less/greater
   * counts and [min,max]-clamped bounds. */
  final class BinCursor private[Histogram] (
      private var binIndexVar: Int,
      private var lessCountVar: Long,
      private var greaterCountVar: Long,
      private var countVar: Long) {

    def binIndex: Int = binIndexVar
    def binCount: Long = countVar
    def lessCount: Long = lessCountVar
    def greaterCount: Long = greaterCountVar
    def isUnderflowBin: Boolean = binIndexVar == layout.underflowBinIndex
    def isOverflowBin: Boolean = binIndexVar == layout.overflowBinIndex
    def isFirstNonEmptyBin: Boolean = lessCountVar == 0L
    def isLastNonEmptyBin: Boolean = greaterCountVar == 0L
    def lowerBound: Double = math.max(minVar, layout.binLowerBound(binIndexVar))
    def upperBound: Double = math.min(maxVar, layout.binUpperBound(binIndexVar))

    def hasNext: Boolean = greaterCountVar > 0L
    def hasPrevious: Boolean = lessCountVar > 0L

    def next(): this.type = {
      if (greaterCountVar <= 0) throw new NoSuchElementException
      lessCountVar += countVar
      if (greaterCountVar != overflowCountVar) {
        if (binIndexVar == layout.underflowBinIndex) binIndexVar = minAllocated - 1
        do {
          binIndexVar += 1
          countVar = regularCountAt(binIndexVar)
        } while (countVar == 0L)
        greaterCountVar -= countVar
      } else {
        binIndexVar = layout.overflowBinIndex
        countVar = greaterCountVar
        greaterCountVar = 0L
      }
      this
    }

    def previous(): this.type = {
      if (lessCountVar <= 0) throw new NoSuchElementException
      greaterCountVar += countVar
      if (lessCountVar != underflowCountVar) {
        if (binIndexVar == layout.overflowBinIndex) binIndexVar = maxAllocatedExclusive
        do {
          binIndexVar -= 1
          countVar = regularCountAt(binIndexVar)
        } while (countVar == 0L)
        lessCountVar -= countVar
      } else {
        binIndexVar = layout.underflowBinIndex
        countVar = lessCountVar
        lessCountVar = 0L
      }
      this
    }

    def copy(): BinCursor = new BinCursor(binIndexVar, lessCountVar, greaterCountVar, countVar)

    def toBin: Bin = Bin(
      binIndexVar,
      countVar,
      lessCountVar,
      greaterCountVar,
      lowerBound,
      upperBound,
      isUnderflowBin,
      isOverflowBin)
  }

  def firstNonEmptyBin: BinCursor = {
    if (isEmpty) throw new NoSuchElementException("histogram is empty")
    if (underflowCountVar > 0L) {
      new BinCursor(
        layout.underflowBinIndex,
        0L,
        totalCountVar - underflowCountVar,
        underflowCountVar)
    } else {
      var idx = minAllocated
      if (windowLen == 0 || {
            var i = 0
            var allZero = true
            while (i < windowLen && allZero) { allZero = counterAt(i) == 0L; i += 1 }
            allZero
          }) {
        // only overflow is populated
        new BinCursor(layout.overflowBinIndex, 0L, 0L, overflowCountVar)
      } else {
        while (regularCountAt(idx) == 0L) idx += 1
        val c = regularCountAt(idx)
        new BinCursor(idx, 0L, totalCountVar - c, c)
      }
    }
  }

  def lastNonEmptyBin: BinCursor = {
    if (isEmpty) throw new NoSuchElementException("histogram is empty")
    if (overflowCountVar > 0L) {
      new BinCursor(
        layout.overflowBinIndex,
        totalCountVar - overflowCountVar,
        0L,
        overflowCountVar)
    } else {
      var idx = maxAllocatedExclusive - 1
      if (windowLen == 0 || {
            var i = 0
            var allZero = true
            while (i < windowLen && allZero) { allZero = counterAt(i) == 0L; i += 1 }
            allZero
          }) {
        new BinCursor(layout.underflowBinIndex, 0L, 0L, underflowCountVar)
      } else {
        while (regularCountAt(idx) == 0L) idx -= 1
        val c = regularCountAt(idx)
        new BinCursor(idx, totalCountVar - c, 0L, c)
      }
    }
  }

  /** All non-empty bins ascending (materialized; for explode/debug). */
  def nonEmptyBins: Vector[Bin] = {
    if (isEmpty) return Vector.empty
    val b = Vector.newBuilder[Bin]
    val cur = firstNonEmptyBin
    b += cur.toBin
    while (cur.hasNext) {
      cur.next()
      b += cur.toBin
    }
    b.result()
  }

  // -------------------------------------------------------------------------
  // Order statistics
  // -------------------------------------------------------------------------

  /** Bin containing the value of the given zero-based rank; scans from the
   * nearer end (dynahist `AbstractHistogram.java:190-209`). */
  def binByRank(rank: Long): BinCursor = {
    require(rank >= 0 && rank < totalCountVar, s"rank $rank out of [0, $totalCountVar)")
    if (rank < (totalCountVar >>> 1)) {
      val it = firstNonEmptyBin
      while (it.greaterCount >= totalCountVar - rank) it.next()
      it
    } else {
      val it = lastNonEmptyBin
      while (it.lessCount > rank) it.previous()
      it
    }
  }

  /** Estimate of the k-th (zero-based) smallest recorded value. Exact at
   * rank 0 (min) and rank n-1 (max). */
  def valueAt(rank: Long, estimator: ValueEstimator = ValueEstimator.Uniform): Double = {
    require(rank >= 0 && rank < totalCountVar, s"rank $rank out of [0, $totalCountVar)")
    if (rank <= 0) minVar
    else if (rank + 1 == totalCountVar) maxVar
    else estimator.estimateFromBin(binByRank(rank).toBin, rank)
  }

  /** Quantile estimate with SciPy-mquantiles interpolation; error bounded by
   * the layout's bin-width limits. */
  def quantile(
      p: Double,
      quantileEstimator: QuantileEstimator = QuantileEstimator.SciPyDefault,
      valueEstimator: ValueEstimator = ValueEstimator.Uniform): Double =
    quantileEstimator.estimate(p, rank => valueAt(rank, valueEstimator), totalCountVar)

  /** Immutable O(log bins) rank-query view. */
  def preprocessed: PreprocessedHistogram = new PreprocessedHistogram(this)

  // -------------------------------------------------------------------------

  override def equals(o: Any): Boolean = o match {
    case h: Histogram =>
      if (!(layout == h.layout &&
          totalCountVar == h.totalCountVar &&
          underflowCountVar == h.underflowCountVar &&
          overflowCountVar == h.overflowCountVar &&
          java.lang.Double.compare(minVar, h.minVar) == 0 &&
          java.lang.Double.compare(maxVar, h.maxVar) == 0)) false
      else {
        // compare non-empty regular bins (windows are bounded by actual use,
        // so iterate both allocated windows rather than the full index range)
        (0 until windowLen).forall(i =>
          counterAt(i) == h.regularCountAt(windowStart + i)) &&
        (0 until h.windowLen).forall(i =>
          h.counterAt(i) == regularCountAt(h.windowStart + i))
      }
    case _ => false
  }

  override def hashCode(): Int = {
    var result = layout.hashCode()
    result = 31 * result + java.lang.Long.hashCode(totalCountVar)
    result = 31 * result + java.lang.Double.hashCode(minVar)
    result = 31 * result + java.lang.Double.hashCode(maxVar)
    result
  }

  override def toString: String =
    s"Histogram(layout=$layout, total=$totalCountVar, min=$minVar, max=$maxVar, " +
      s"underflow=$underflowCountVar, overflow=$overflowCountVar)"

  /** Rough in-memory footprint: counter window words + fixed fields. */
  def estimatedFootprintBytes: Long =
    16L + counts.length.toLong * 8L + 4L + 3L * 8L + 2L * 8L

  /** Current counter width class: 2^mode bits per regular counter — 0 to 3
   * (1 to 8 bits), or 6 for plain 64-bit counters. */
  def counterMode: Int = mode

  private def preallocateFullRange(): Unit = {
    mode = 6
    ensureWindow(layout.underflowBinIndex + 1, layout.overflowBinIndex - 1)
  }

  // internal accessors for serde and preprocessing
  private[core] def regularWindowStart: Int = windowStart
  private[core] def regularWindow: Array[Long] =
    if (mode == 6) counts else Array.tabulate(windowLen)(counterAt)
  private[graft] def setStateForDeserialization(
      newCounts: Array[Long],
      newWindowStart: Int,
      underflow: Long,
      overflow: Long,
      total: Long,
      newMin: Double,
      newMax: Double): Unit = {
    underflowCountVar = underflow
    overflowCountVar = overflow
    totalCountVar = total
    minVar = newMin
    maxVar = newMax
    var mask = 0L
    newCounts.foreach(c => mask |= c)
    windowLen = newCounts.length
    mode = widthFor(mask)
    if (mode == 6) counts = newCounts
    else {
      counts = new Array[Long](wordsFor(windowLen, mode))
      var i = 0
      while (i < windowLen) {
        val v = newCounts(i)
        if (v != 0L) setCounterAt(i, v)
        i += 1
      }
    }
    windowStart = newWindowStart
  }
}

object Histogram {
  private val EmptyCounts = new Array[Long](0)

  /** Largest counter value representable at each mode (2^(2^m) - 1); modes
   * 4 and 5 are never used. */
  private[core] val ModeMask: Array[Long] =
    Array(1L, 3L, 0xfL, 0xffL, 0xffffL, 0xffffffffL, -1L)

  /** Narrowest counter width that holds `v` (also valid on a bit-OR mask of
   * counters): 1, 2, 4 or 8 bits (modes 0-3), else plain 64 bits (mode 6). */
  private[core] def modeFor(v: Long): Int =
    if ((v >>> 8) != 0L) 6
    else if (v > 0xfL) 3
    else if (v > 3L) 2
    else if (v > 1L) 1
    else 0

  /** Self-sizing counter buffer: 1-bit counters widened on demand to 2, 4, 8
   * and then 64 bits (dynahist `DynamicHistogram.java:30-75, 152-221`). */
  def apply(layout: Layout): Histogram = new Histogram(layout)

  /** The same buffer preallocated over the layout's ENTIRE regular bin range
   * at plain 64-bit counters (dynahist `StaticHistogram.java:26-66`):
   * recording never grows the window or widens a counter, trading memory
   * (8 bytes x regularBinCount up front) for the reference's fastest
   * recording path. Only sensible for layouts with a bounded regular range. */
  def static(layout: Layout): Histogram = {
    require(
      layout.regularBinCount <= Int.MaxValue / 8,
      s"regular bin range too large to preallocate: ${layout.regularBinCount}")
    val h = new Histogram(layout)
    h.preallocateFullRange()
    h
  }
}

/** Immutable snapshot of one histogram bin. */
final case class Bin(
    binIndex: Int,
    binCount: Long,
    lessCount: Long,
    greaterCount: Long,
    lowerBound: Double,
    upperBound: Double,
    isUnderflowBin: Boolean,
    isOverflowBin: Boolean) {
  def isFirstNonEmptyBin: Boolean = lessCount == 0L
  def isLastNonEmptyBin: Boolean = greaterCount == 0L
}

/**
 * Prefix-summed immutable view for O(log #non-empty-bins) rank queries
 * (dynahist `PreprocessedHistogram.java:32-112`).
 */
final class PreprocessedHistogram(h: Histogram) extends Serializable {
  val layout: Layout = h.layout
  val totalCount: Long = h.totalCount
  val min: Double = h.min
  val max: Double = h.max

  private val (binIndices: Array[Int], cumulative: Array[Long]) = {
    if (h.isEmpty) (Array.empty[Int], Array.empty[Long])
    else {
      val idxB = Array.newBuilder[Int]
      val cumB = Array.newBuilder[Long]
      val cur = h.firstNonEmptyBin
      var running = 0L
      var done = false
      while (!done) {
        running += cur.binCount
        idxB += cur.binIndex
        cumB += running
        if (cur.hasNext) cur.next() else done = true
      }
      (idxB.result(), cumB.result())
    }
  }

  /** Bin containing the given zero-based rank, via binary search. */
  def binByRank(rank: Long): Bin = {
    require(rank >= 0 && rank < totalCount)
    // first position with cumulative > rank
    var lo = 0
    var hi = cumulative.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cumulative(mid) > rank) hi = mid else lo = mid + 1
    }
    val less = if (lo == 0) 0L else cumulative(lo - 1)
    val count = cumulative(lo) - less
    val idx = binIndices(lo)
    Bin(
      idx,
      count,
      less,
      totalCount - cumulative(lo),
      math.max(min, layout.binLowerBound(idx)),
      math.min(max, layout.binUpperBound(idx)),
      idx == layout.underflowBinIndex,
      idx == layout.overflowBinIndex)
  }

  def valueAt(rank: Long, estimator: ValueEstimator = ValueEstimator.Uniform): Double = {
    require(rank >= 0 && rank < totalCount)
    if (rank <= 0) min
    else if (rank + 1 == totalCount) max
    else estimator.estimateFromBin(binByRank(rank), rank)
  }

  def quantile(
      p: Double,
      quantileEstimator: QuantileEstimator = QuantileEstimator.SciPyDefault,
      valueEstimator: ValueEstimator = ValueEstimator.Uniform): Double =
    quantileEstimator.estimate(p, rank => valueAt(rank, valueEstimator), totalCount)
}
