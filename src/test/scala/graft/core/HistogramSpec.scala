package graft.core

import org.scalatest.funsuite.AnyFunSuite

class HistogramSpec extends AnyFunSuite {

  private val defaultLayout = LogQuadraticLayout(1e-8, 1e-2, -1e6, 1e6)

  test("empty histogram") {
    val h = Histogram(defaultLayout)
    assert(h.isEmpty && h.totalCount == 0)
    assert(h.min.isPosInfinity && h.max.isNegInfinity)
  }

  test("basic recording tracks exact total/min/max/under/overflow") {
    val h = Histogram(defaultLayout)
    h.addValue(1.0).addValue(2.5).addValue(-3.25, 4).addValue(2e6).addValue(-2e6, 2)
    assert(h.totalCount == 9)
    assert(h.min == -2e6 && h.max == 2e6)
    assert(h.overflowCount == 1 && h.underflowCount == 2)
  }

  test("NaN rejected, infinities land in under/overflow") {
    val h = Histogram(defaultLayout)
    intercept[IllegalArgumentException](h.addValue(Double.NaN))
    assert(h.isEmpty)
    h.addValue(Double.PositiveInfinity).addValue(Double.NegativeInfinity)
    assert(h.overflowCount == 1 && h.underflowCount == 1)
    assert(h.min.isNegInfinity && h.max.isPosInfinity)
  }

  test("signed zero ordering for min/max") {
    val h = Histogram(defaultLayout)
    h.addValue(0.0)
    h.addValue(-0.0)
    assert(java.lang.Double.doubleToRawLongBits(h.min) == 0x8000000000000000L, "min must be -0.0")
    assert(java.lang.Double.doubleToRawLongBits(h.max) == 0L, "max must be 0.0")
  }

  test("count overflow raises ArithmeticException") {
    val h = Histogram(defaultLayout)
    h.addValue(1.0, Long.MaxValue)
    intercept[ArithmeticException](h.addValue(1.0, 1))
    val h2 = Histogram(defaultLayout)
    h2.addValue(2.0, 1)
    intercept[ArithmeticException](h2.add(h))
  }

  test("negative count rejected") {
    val h = Histogram(defaultLayout)
    intercept[IllegalArgumentException](h.addValue(1.0, -3))
  }

  test("counters widen 1->2->4->8->64 bits while the window grows both ways") {
    val layout = IntegerLayout(-1000, 1000)
    val h = Histogram(layout)
    val model = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    def add(v: Int, n: Long, mode: Int): Unit = {
      h.addValue(v.toDouble, n)
      model(v) += n
      assert(h.counterMode == mode, s"after +$n at $v")
      (-1000 to 1000).foreach(i => assert(h.countAt(i) == model(i), s"bin $i"))
    }
    assert(h.counterMode == 0)
    // widths 1, 2, 4 and 8 bits, each widening after the window grew on
    // both sides at bit offsets that are not word-aligned
    add(0, 1, 0); add(-3, 1, 0); add(7, 1, 0); add(-70, 1, 0); add(130, 1, 0)
    add(7, 1, 1); add(-401, 3, 1); add(555, 2, 1)
    add(-3, 3, 2); add(-901, 15, 2); add(999, 9, 2)
    add(130, 16, 3); add(-1000, 255, 3); add(1000, 200, 3)
    // one past 8 bits goes straight to plain 64-bit counters
    add(1000, 56, 6); add(-999, 1, 6); add(998, 1L << 40, 6)
    assert(h == Histogram.static(layout).add(h))
    assert(HistogramSerde.fromBytes(layout, HistogramSerde.toBytes(h)).counterMode == 6)
    // a single huge increment widens 1 -> 64 bits at once; Long overflow
    // of a counter (or of the total) throws
    val big = Histogram(layout).addValue(3.0, Long.MaxValue)
    assert(big.counterMode == 6 && big.countAt(3) == Long.MaxValue)
    intercept[ArithmeticException](big.addValue(3.0))
    val full = Histogram(layout).addValue(-5.0).addValue(3.0, Long.MaxValue - 1)
    intercept[ArithmeticException](full.addValue(-5.0))
    intercept[ArithmeticException](Histogram(layout).addValue(3.0).add(big))
    // serde keeps a sparse buffer narrow: deserialized counts pick the
    // narrowest width that holds them
    val sparse = Histogram(layout).addValue(1.0).addValue(2.0, 3)
    assert(HistogramSerde.fromBytes(layout, HistogramSerde.toBytes(sparse)).counterMode == 1)
    assert(Histogram.static(layout).counterMode == 6)
    // a dense window (more than 255 regular values, at least one per
    // window bin) widens 2 -> 64 bits at its next widening, live and on
    // deserialization; under/overflow values do not count
    val small = IntegerLayout(0, 99)
    val dense = Histogram(small)
    (0 until 3).foreach(_ => (0 until 100).foreach(v => dense.addValue(v.toDouble)))
    assert(dense.counterMode == 1)
    dense.addValue(0.0)
    assert(dense.counterMode == 6 && dense.countAt(0) == 4 && dense.countAt(99) == 3)
    assert(HistogramSerde.fromBytes(small, HistogramSerde.toBytes(dense)).counterMode == 6)
    val edges = Histogram(small).addValue(-5.0, 1000).addValue(500.0, 1000)
    edges.addValue(0.0, 3).addValue(0.0)
    assert(edges.counterMode == 2)
    assert(HistogramSerde.fromBytes(small, HistogramSerde.toBytes(edges)).counterMode == 2)
  }

  test("a sparse buffer keeps narrow counters and a small footprint") {
    // the high-group-cardinality shape: 20 log-uniform values spread over
    // ~2200 bins of a 1e3..1e12 layout
    val layout = LogQuadraticLayout(10, 0.01, 0, 1e12)
    val rnd = new java.util.SplittableRandom(7L)
    val h = Histogram(layout)
    (0 until 20).foreach(_ => h.addValue(1000.0 * math.exp(rnd.nextDouble() * math.log(1e9))))
    assert(h.counterMode <= 1)
    // a few hundred bytes, where 64-bit counters over the same window take
    // kilobytes
    assert(h.estimatedFootprintBytes < 1024, h.estimatedFootprintBytes)
    val back = HistogramSerde.fromBytes(layout, HistogramSerde.toBytes(h))
    assert(back == h && back.estimatedFootprintBytes <= h.estimatedFootprintBytes)
  }

  test("merge of equal layouts == bulk insert (random, both orders)") {
    val rnd = new java.util.SplittableRandom(0L)
    for (_ <- 0 until 200) {
      val layout =
        if (rnd.nextBoolean()) defaultLayout else IntegerLayout(-100, 100)
      val n1 = rnd.nextInt(0, 500)
      val n2 = rnd.nextInt(0, 500)
      val vs1 = Array.fill(n1)(rnd.nextDouble(-200.0, 200.0))
      val vs2 = Array.fill(n2)(rnd.nextDouble(-200.0, 200.0))
      val hAll = Histogram(layout)
      (vs1 ++ vs2).foreach(hAll.addValue(_))
      val h1 = Histogram(layout)
      vs1.foreach(h1.addValue(_))
      val h2 = Histogram(layout)
      vs2.foreach(h2.addValue(_))
      val m12 = Histogram(layout).add(h1).add(h2)
      val m21 = Histogram(layout).add(h2).add(h1)
      assert(m12 == hAll, "merge != bulk")
      assert(m21 == hAll, "merge not commutative")
    }
  }

  test("merge associativity over random splits") {
    val rnd = new java.util.SplittableRandom(99L)
    val layout = defaultLayout
    val parts = Array.fill(5) {
      val h = Histogram(layout)
      (0 until rnd.nextInt(1, 300)).foreach(_ => h.addValue(rnd.nextDouble(-1e4, 1e4)))
      h
    }
    val leftFold = parts.foldLeft(Histogram(layout))((acc, p) => acc.add(p))
    val pairwise = {
      val a = Histogram(layout).add(parts(0)).add(parts(1))
      val b = Histogram(layout).add(parts(2)).add(parts(3)).add(parts(4))
      Histogram(layout).add(a).add(b)
    }
    assert(leftFold == pairwise)
  }

  test("bin iteration bookkeeping: counts sum to total, less/greater consistent") {
    val rnd = new java.util.SplittableRandom(5L)
    val h = Histogram(defaultLayout)
    (0 until 1000).foreach(_ => h.addValue(rnd.nextDouble(-2e6, 2e6)))
    val bins = h.nonEmptyBins
    assert(bins.map(_.binCount).sum == h.totalCount)
    var less = 0L
    for (b <- bins) {
      assert(b.lessCount == less)
      assert(b.greaterCount == h.totalCount - less - b.binCount)
      less += b.binCount
    }
    // forward/backward iteration agree
    val fwd = bins.map(b => (b.binIndex, b.binCount))
    val cur = h.lastNonEmptyBin
    val bwd = scala.collection.mutable.ListBuffer((cur.binIndex, cur.binCount))
    while (cur.hasPrevious) {
      cur.previous()
      bwd.prepend((cur.binIndex, cur.binCount))
    }
    assert(fwd == bwd.toVector)
  }

  test("valueAt is exact at rank 0 and n-1, and within bin bounds elsewhere") {
    val rnd = new java.util.SplittableRandom(21L)
    val vs = Array.fill(500)(rnd.nextDouble(0.001, 1e5))
    val h = Histogram(defaultLayout)
    vs.foreach(h.addValue(_))
    val sorted = vs.sorted
    assert(h.valueAt(0) == sorted.head)
    assert(h.valueAt(vs.length - 1) == sorted.last)
    for (rank <- Seq(1, 100, 250, 498)) {
      val est = h.valueAt(rank.toLong)
      val actual = sorted(rank)
      val relErr = math.abs(est - actual) / math.abs(actual)
      assert(relErr <= 1e-2 + 1e-9, s"rank=$rank est=$est actual=$actual")
    }
  }

  test("quantile error bounded by layout limits (UNIFORM estimator)") {
    val rnd = new java.util.SplittableRandom(33L)
    // log-uniform distribution like the reference benchmarks
    val vs = Array.fill(20000)(math.exp(rnd.nextDouble() * math.log(1e9)) * 1e-3)
    val layout = LogQuadraticLayout(1e-5, 1e-2, 0, 1e12)
    val h = Histogram(layout)
    vs.foreach(h.addValue(_))
    val sorted = vs.sorted
    for (p <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 0.999)) {
      val est = h.quantile(p)
      val exact = QuantileEstimator.SciPyDefault.estimate(p, r => sorted(r.toInt), sorted.length)
      val err = math.abs(est - exact)
      val relErr = err / math.abs(exact)
      assert(
        err <= 1e-5 * (1 + 1e-6) || relErr <= 1e-2 * (1 + 1e-6),
        s"p=$p est=$est exact=$exact")
    }
  }

  test("binByRank agrees between scan and preprocessed binary search") {
    val rnd = new java.util.SplittableRandom(17L)
    val h = Histogram(defaultLayout)
    (0 until 2000).foreach(_ => h.addValue(rnd.nextDouble(-5e5, 5e5)))
    val pre = h.preprocessed
    for (_ <- 0 until 200) {
      val rank = rnd.nextLong(0, h.totalCount)
      val a = h.binByRank(rank)
      val b = pre.binByRank(rank)
      assert(a.binIndex == b.binIndex && a.binCount == b.binCount && a.lessCount == b.lessCount)
    }
    for (rank <- 0L until h.totalCount by 97) {
      assert(h.valueAt(rank) == pre.valueAt(rank))
    }
  }

  test("cross-layout merge (re-binning) preserves total count and min/max") {
    val rnd = new java.util.SplittableRandom(70L)
    val src = Histogram(LogQuadraticLayout(1e-8, 1e-2, -1e6, 1e6))
    (0 until 5000).foreach(_ => src.addValue(rnd.nextDouble(-1e4, 1e4)))
    val dst = Histogram(CustomLayout(-1e4, -100.0, 0.0, 100.0, 1e4))
    dst.add(src)
    assert(dst.totalCount == src.totalCount)
    assert(dst.min == src.min && dst.max == src.max)
  }

  test("addAscendingSequence == repeated addValue") {
    val rnd = new java.util.SplittableRandom(44L)
    for (_ <- 0 until 50) {
      val n = rnd.nextInt(1, 2000)
      val vs = Array.fill(n)(rnd.nextDouble(-1e3, 1e3)).sorted
      val a = Histogram(defaultLayout)
      vs.foreach(a.addValue(_))
      val b = Histogram(defaultLayout).addAscendingSequence(i => vs(i.toInt), n.toLong)
      assert(a == b)
    }
  }

  test("quantiles of empty and single-value histograms") {
    val h = Histogram(defaultLayout)
    assert(h.quantile(0.5).isNaN)
    h.addValue(42.0)
    assert(h.quantile(0.0) == 42.0 && h.quantile(0.5) == 42.0 && h.quantile(1.0) == 42.0)
  }
}

class SciPyQuantileSpec extends AnyFunSuite {

  test("golden values from SciPy mquantiles (reference SciPyQuantileEstimatorTest)") {
    val values = Array(6.0, 47.0, 49.0, 15.0, 42.0, 41.0, 7.0, 39.0, 43.0, 40.0, 36.0).sorted
    val q = QuantileEstimator(0.4, 0.4)
    def est(p: Double) = q.estimate(p, r => values(r.toInt), values.length)
    assert(est(0.25) == 19.200000000000003)
    assert(est(0.5) == 40.0)
    assert(est(0.75) == 42.8)
  }

  test("two values, alphap=betap=0.4") {
    val values = Array(3.0, 5.0)
    val q = QuantileEstimator(0.4, 0.4)
    def est(p: Double) = q.estimate(p, r => values(r.toInt), values.length)
    assert(est(0.0) == 3.0)
    assert(est(0.25) == 3.0)
    assert(est(0.5) == 4.0)
    assert(est(0.75) == 5.0)
    assert(est(1.0) == 5.0)
  }

  // Histogram(layout) starts at packed (narrow) counters inside a growing
  // window; Histogram.static holds plain 64-bit counters over the full range

  test("packed counters: identical observable behavior, mode upgrades, less memory") {
    val layout = LogQuadraticLayout(1e-3, 1e-2, 0, 1e6)
    val static = Histogram.static(layout)
    val dynamic = Histogram(layout)
    assert(dynamic.counterMode == 0)
    val rnd = new java.util.SplittableRandom(99L)
    // log-uniform values over ~1400 bins: at 500 values most bins are empty
    // or hold one or two values — the packed sweet spot
    def record(n: Int): Unit = (0 until n).foreach { _ =>
      val v = math.exp(rnd.nextDouble() * math.log(1e6))
      static.addValue(v)
      dynamic.addValue(v)
    }
    record(500)
    assert(dynamic == static && static == dynamic)
    assert(dynamic.counterMode < 6, s"mode ${dynamic.counterMode} did not stay packed")
    val plainWindowBytes = 8L * dynamic.regularWindow.length
    assert(
      dynamic.estimatedFootprintBytes < plainWindowBytes / 2,
      s"dynamic ${dynamic.estimatedFootprintBytes} vs 64-bit window $plainWindowBytes")
    // with more values than window bins the window is dense: its next
    // widening goes straight to 64-bit counters, though no counter is
    // past 255
    record(4500)
    assert(dynamic == static)
    assert(dynamic.counterMode < 6)
    record(20000)
    assert(dynamic == static)
    assert(dynamic.counterMode == 6)
    assert(dynamic.nonEmptyBins.map(_.binCount).max <= 255)
    // serde round-trip + nonEmptyBins parity
    assert(dynamic.nonEmptyBins == static.nonEmptyBins)
    val bytes = HistogramSerde.toBytes(dynamic)
    assert(HistogramSerde.toBytes(static).sameElements(bytes))
    assert(HistogramSerde.fromBytes(layout, bytes) == dynamic)
    // weighted adds force mode upgrades through every class up to 6
    val weights = Seq(1L, 3L, 12L, 200L, 60000L, 4000000000L, Long.MaxValue / 2)
    val d2 = Histogram(layout)
    weights.foreach(w => d2.addValue(5.0, w))
    val s2 = Histogram.static(layout)
    weights.foreach(w => s2.addValue(5.0, w))
    assert(d2.counterMode == 6)
    assert(d2 == s2)
    // merging dynamic into static and vice versa stays exact
    val m1 = Histogram.static(layout).add(dynamic).add(d2)
    val m2 = Histogram(layout).add(static).add(s2)
    assert(m1 == m2)
  }

  test("static (preallocated) histogram behaves identically to the windowed one") {
    val layout = LogQuadraticLayout(1e-3, 1e-2, 0, 1e6)
    val st = Histogram.static(layout)
    val dyn = Histogram(layout)
    val rnd = new java.util.SplittableRandom(13L)
    (0 until 3000).foreach { _ =>
      val v = rnd.nextDouble(-10.0, 2e6) // includes under/overflow traffic
      st.addValue(v)
      dyn.addValue(v)
    }
    assert(st == dyn)
    assert(st.nonEmptyBins == dyn.nonEmptyBins)
    assert(HistogramSerde.toBytes(st).sameElements(HistogramSerde.toBytes(dyn)))
    // preallocation trades memory for growth-free recording
    assert(st.estimatedFootprintBytes > dyn.estimatedFootprintBytes)
  }

  test("packed counters: window growth in both directions preserves counts") {
    val layout = LogQuadraticLayout(1e-6, 1e-2, -1e6, 1e6)
    val dynamic = Histogram(layout)
    val static = Histogram.static(layout)
    val rnd = new java.util.SplittableRandom(7L)
    // alternate far-apart values so the window repeatedly grows on both ends
    (0 until 2000).foreach { i =>
      val v = if (i % 2 == 0) rnd.nextDouble(1e-5, 1.0) else -rnd.nextDouble(1e-5, 1.0) * 1e5
      dynamic.addValue(v)
      static.addValue(v)
    }
    assert(dynamic == static)
    assert(dynamic.nonEmptyBins == static.nonEmptyBins)
  }
}
