package perfbench

import graft.core.{Histogram, LogLinearLayout, SketchEnvelope}
import graft.sketches.{CountMin, Hll, Kll}

/**
 * A workload's own inputs, replayed through the library in-process: the
 * values it records with their group, the strings it counts distinct
 * (`keys`) and the items it counts frequencies of (`items`).
 */
final case class ProbeInput(
    values: Array[Double],
    groups: Array[Int],
    nGroups: Int,
    keys: Int => String,
    items: Int => String)

/**
 * Layer probes: each times one library call kind over the workload's own
 * values and sketches, and reports nanoseconds per call. A layer's self time
 * per request is the sum, over its call kinds, of ns per call times the calls
 * one request makes (see [[Units]]).
 */
object Probes {
  /** Groups beyond this share a sketch in the HLL/CMS/KLL probes, which keeps
   * the probe's resident sketches small at high group cardinality. */
  private val MaxSketchGroups = 4096
  private val MinPassNs = 20000000L
  private val Reps = 3

  /** Runs `pass` (which returns the calls it made) until at least 20 ms have
   * passed, `Reps` times, and returns the median ns per call. Each repetition
   * is one span of `layer`. */
  private def perCall(tr: Tracer, parent: Int, name: String, layer: String)(pass: => Long): Double = {
    val samples = (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      var calls = 0L
      var t = t0
      while (t - t0 < MinPassNs) {
        calls += pass
        t = System.nanoTime()
      }
      tr.add(name, layer, t0, t, parent)
      (t - t0).toDouble / math.max(1L, calls)
    }
    Stats.median(samples)
  }

  def run(in: ProbeInput, tr: Tracer, parent: Int): Map[String, Double] = {
    val n = in.values.length
    val sg = math.min(in.nGroups, MaxSketchGroups)
    val ll = LogLinearLayout(Params.AbsLimit, Params.RelLimit, 0.0, 1e7)

    def record(layout: graft.core.Layout): Array[Histogram] = {
      val hs = Array.fill(in.nGroups)(Histogram(layout))
      var i = 0
      while (i < n) { hs(in.groups(i)).addValue(in.values(i)); i += 1 }
      hs
    }
    val recLq = perCall(tr, parent, "core.record.log_quadratic", "core") { record(Params.Layout); n }
    val recLl = perCall(tr, parent, "core.record.log_linear", "core-alt") { record(ll); n }

    val hists = record(Params.Layout).filter(!_.isEmpty)
    val histBlobs = hists.map(SketchEnvelope.toBytes)
    val merge = perCall(tr, parent, "core.merge", "core") {
      val t = Histogram(Params.Layout)
      hists.foreach(t.add(_))
      hists.length
    }
    val quantile = perCall(tr, parent, "core.quantile", "core") {
      hists.foreach(h => Params.Quantiles.foreach(h.quantile(_)))
      hists.length.toLong * Params.Quantiles.length
    }
    val valueAtRank = perCall(tr, parent, "core.value_at_rank", "core") {
      hists.foreach(h => h.valueAt(h.totalCount / 2))
      hists.length
    }

    val keys = Array.tabulate(n)(in.keys)
    val items = Array.tabulate(n)(in.items)
    def hllAdd(): Array[Hll] = {
      val hs = Array.fill(sg)(Hll(Params.HllPrecision))
      var i = 0
      while (i < n) { hs(in.groups(i) % sg).addString(keys(i)); i += 1 }
      hs
    }
    val hllAddNs = perCall(tr, parent, "sketches.hll.add", "sketches") { hllAdd(); n }
    val cmsAddNs = perCall(tr, parent, "sketches.cms.add", "sketches") {
      val cs = Array.fill(sg)(CountMin(Params.CmsDepth, Params.CmsWidth))
      var i = 0
      while (i < n) { cs(in.groups(i) % sg).addString(items(i)); i += 1 }
      n
    }
    val kllAddNs = perCall(tr, parent, "sketches.kll.add", "sketches") {
      val ks = Array.fill(sg)(Kll())
      var i = 0
      while (i < n) { ks(in.groups(i) % sg).add(in.values(i)); i += 1 }
      n
    }
    val hlls = hllAdd()
    val hllDense = hlls.map(_.toBytes)
    val hllSparse = hlls.map(Hll.toCompactBytes)
    val hllMergeSparse = perCall(tr, parent, "sketches.hll.merge.sparse", "sketches") {
      val t = Hll(Params.HllPrecision)
      hllSparse.foreach(b => t.merge(Hll.fromBytes(b)))
      hllSparse.length
    }
    val hllMergeDense = perCall(tr, parent, "sketches.hll.merge.dense", "sketches") {
      val t = Hll(Params.HllPrecision)
      hllDense.foreach(b => t.merge(Hll.fromBytes(b)))
      hllDense.length
    }
    val cms = {
      val cs = Array.fill(sg)(CountMin(Params.CmsDepth, Params.CmsWidth))
      var i = 0
      while (i < n) { cs(in.groups(i) % sg).addString(items(i)); i += 1 }
      cs
    }
    val cmsBlobs = cms.map(_.toBytes)
    val hllEstimate = perCall(tr, parent, "sketches.hll.estimate", "sketches") {
      hlls.foreach(_.estimate); hlls.length
    }
    val cmsEstimate = perCall(tr, parent, "sketches.cms.estimate", "sketches") {
      var i = 0
      while (i < cms.length) { cms(i).estimateString(items(i % n)); i += 1 }
      cms.length
    }

    def codec[S](name: String, sketches: Array[S], blobs: Array[Array[Byte]])(
        enc: S => Array[Byte], dec: Array[Byte] => Any): Seq[(String, Double)] = Seq(
      s"codec.$name.encode_ns" -> perCall(tr, parent, s"codec.$name.encode", "codec") {
        sketches.foreach(enc); sketches.length
      },
      s"codec.$name.decode_ns" -> perCall(tr, parent, s"codec.$name.decode", "codec") {
        blobs.foreach(dec); blobs.length
      },
      s"codec.$name.bytes" -> blobs.map(_.length.toDouble).sum / blobs.length)

    Map(
      "core.record_ns_per_value.log_quadratic" -> recLq,
      "core.record_ns_per_value.log_linear" -> recLl,
      "core.merge_ns_per_sketch" -> merge,
      "core.quantile_ns" -> quantile,
      "core.value_at_rank_ns" -> valueAtRank,
      "sketches.hll.add_ns" -> hllAddNs,
      "sketches.cms.add_ns" -> cmsAddNs,
      "sketches.kll.add_ns" -> kllAddNs,
      "sketches.hll.merge_ns.sparse" -> hllMergeSparse,
      "sketches.hll.merge_ns.dense" -> hllMergeDense,
      "sketches.hll.estimate_ns" -> hllEstimate,
      "sketches.cms.estimate_ns" -> cmsEstimate) ++
      codec("hist", hists, histBlobs)(SketchEnvelope.toBytes, SketchEnvelope.fromBytes) ++
      codec("hll", hlls, hllDense)(_.toBytes, Hll.fromBytes) ++
      codec("cms", cms, cmsBlobs)(_.toBytes, CountMin.fromBytes)
  }
}

/**
 * Library calls one request makes, by the probe metric that prices them. A
 * workload adds to these as it runs, so per-request self time follows the
 * request mix that actually ran.
 */
final class Units {
  val calls = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
  def add(metric: String, n: Double): Unit = calls(metric) += n

  /** Self milliseconds per request of each library layer. */
  def selfMsPerOp(ns: Map[String, Double], ops: Int): Map[String, Double] =
    Seq("core", "sketches", "codec").map { layer =>
      layer -> calls.collect {
        case (m, c) if m.startsWith(layer + ".") => ns(m) * c
      }.sum / 1e6 / math.max(1, ops)
    }.toMap
}

object Units {
  val RecordLq = "core.record_ns_per_value.log_quadratic"
  val Merge = "core.merge_ns_per_sketch"
  val Quantile = "core.quantile_ns"
  val ValueAtRank = "core.value_at_rank_ns"
  val HllAdd = "sketches.hll.add_ns"
  val CmsAdd = "sketches.cms.add_ns"
  val KllAdd = "sketches.kll.add_ns"
  val HllMergeSparse = "sketches.hll.merge_ns.sparse"
  val HllMergeDense = "sketches.hll.merge_ns.dense"
  val HllEstimate = "sketches.hll.estimate_ns"
  val CmsEstimate = "sketches.cms.estimate_ns"
  val HistEnc = "codec.hist.encode_ns"
  val HistDec = "codec.hist.decode_ns"
  val HllEnc = "codec.hll.encode_ns"
  val HllDec = "codec.hll.decode_ns"
  val CmsEnc = "codec.cms.encode_ns"
  val CmsDec = "codec.cms.decode_ns"
}
