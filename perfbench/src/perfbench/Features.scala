package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Histogram, Layout, LogQuadraticLayout, QuantileEstimator}
import graft.spark.Transcripts

/** Layout and sketch parameters every workload records with. */
object Params {
  val AbsLimit = 1e-3
  val RelLimit = 1e-2
  val Layout: Layout = LogQuadraticLayout(AbsLimit, RelLimit, 0.0, 1e7)
  val HllPrecision = 12
  val CmsDepth = 4
  val CmsWidth = 128
  val Quantiles: Seq[Double] = Seq(0.5, 0.9, 0.99)
  /** Longest synthesized turn text. Only the length is kept, so a shorter
   * ceiling keeps set-up from copying text it throws away. */
  val MaxTextLen = 2000
}

/**
 * The turn feature table: one row per synthesized conversation turn with
 * turn_len, inter-turn latency_ms, tool, conv_id and a per-turn span_id,
 * cached, plus a driver-side copy of the columns the exact answers and the
 * layer probes need.
 */
final class Features(spark: SparkSession, numConvs: Long, seed: Long) {
  import spark.implicits._

  val df: DataFrame = {
    val turns = Transcripts
      .synthesize(spark, numConvs, seed = seed, maxTextLen = Params.MaxTextLen)
      .select(
        col("conv_id"),
        col("turn_idx"),
        col("role"),
        length(col("text")).cast("double").as("turn_len"),
        coalesce(col("tool"), lit("none")).as("tool"),
        unix_millis(col("ts")).as("ts_ms"))
    val prev = lag(col("ts_ms"), 1).over(Window.partitionBy("conv_id").orderBy("turn_idx"))
    turns
      .select(
        col("conv_id"),
        substring(col("conv_id"), 6, 8).cast("int").as("conv_idx"),
        col("role"),
        col("turn_len"),
        coalesce((col("ts_ms") - prev).cast("double"), lit(0.0)).as("latency_ms"),
        col("tool"),
        concat_ws(":", col("conv_id"), col("turn_idx").cast("string")).as("span_id"))
      .cache()
  }

  val rows: Long = df.count()

  private val local = df
    .select(col("role"), col("conv_idx"), col("turn_len"), col("latency_ms"), col("tool"))
    .as[(String, Int, Double, Double, String)]
    .collect()

  val roles: Array[String] = local.map(_._1)
  val convIdx: Array[Int] = local.map(_._2)
  val turnLen: Array[Double] = local.map(_._3)
  val latency: Array[Double] = local.map(_._4)
  val tools: Array[String] = local.map(_._5)
  val numConvGroups: Int = convIdx.max + 1

  def convId(i: Int): String = f"conv-$i%08d"

  def unpersist(): Unit = df.unpersist(blocking = true)
}

/** Exact answers computed from sorted values, and the error they bound. */
object Exact {
  /** Exact SciPy-default quantile of sorted values, and the layout's error
   * bound at the order statistics it interpolates between. */
  def quantileAndBound(sorted: Array[Double], p: Double): (Double, Double) = {
    var mag = 0.0
    val q = QuantileEstimator.SciPyDefault.estimate(
      p,
      r => { val v = sorted(r.toInt); mag = math.max(mag, math.abs(v)); v },
      sorted.length.toLong)
    (q, math.max(Params.AbsLimit, Params.RelLimit * mag))
  }

  /** Largest |estimate - exact| / bound over the benchmark's quantiles. */
  def errRatio(sorted: Array[Double], estimate: Double => Double): Double =
    Params.Quantiles.map { p =>
      val (q, bound) = quantileAndBound(sorted, p)
      math.abs(estimate(p) - q) / bound
    }.max

  def histErrRatio(sorted: Array[Double], h: Histogram): Double =
    errRatio(sorted, p => h.quantile(p))

  /** |estimate - exact| in units of the HLL standard error. */
  def hllSigmas(estimate: Double, exact: Long, precision: Int): Double = {
    val se = 1.04 / math.sqrt((1 << precision).toDouble)
    math.abs(estimate - exact) / (se * exact)
  }

  /** Sorted values per group. */
  def sortedBy(groups: Array[Int], values: Array[Double], nGroups: Int): Array[Array[Double]] = {
    val counts = new Array[Int](nGroups)
    groups.foreach(g => counts(g) += 1)
    val out = counts.map(c => new Array[Double](c))
    val fill = new Array[Int](nGroups)
    var i = 0
    while (i < groups.length) {
      val g = groups(i); out(g)(fill(g)) = values(i); fill(g) += 1; i += 1
    }
    out.foreach(java.util.Arrays.sort)
    out
  }
}
