package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.{Histogram, SketchEnvelope}
import graft.sketches.{CountMin, Hll}
import graft.spark.functions._

import Workload.check

/**
 * query_stored: a seeded sequence of small queries over a cached table of
 * per-conversation sketch blobs built in set-up: quantiles, rank values,
 * exploded bins, totals, distinct and frequency estimates and a filtered
 * merge, through the Column functions and through SQL text. Each query
 * decodes the blobs of one conversation range; there is no recording and
 * almost no merge, so decode and per-query fixed cost dominate.
 */
final class QueryStored(ctx: Ctx) extends Workload {
  val name = "query_stored"
  private val NumConvs = 6000L
  private val Range = 200
  private val SampleRows = 16
  private val Tools = Array("search", "calculator", "browser", "python", "sql", "shell", "none")
  private val Kinds = 12

  private var f: Features = _
  private var stored: DataFrame = _
  private var blobs: Map[String, (Array[Byte], Array[Byte], Array[Byte])] = Map.empty
  private var convIds: Array[String] = _
  private var sortedByConv: Array[Array[Double]] = _
  private var rng: scala.util.Random = _

  def setup(): Unit = {
    val spark = ctx.spark
    f = new Features(spark, NumConvs, ctx.seed)
    registerAll(spark)
    stored = f.df
      .groupBy("conv_id")
      .agg(
        hist_sketch(col("turn_len"), Params.Layout).as("h"),
        hll_sketch(col("span_id"), Params.HllPrecision).as("u"),
        cms_sketch(col("tool"), Params.CmsDepth, Params.CmsWidth).as("c"))
      .cache()
    blobs = stored.collect().map { r =>
      r.getString(0) -> ((r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2), r.getAs[Array[Byte]](3)))
    }.toMap
    stored.createOrReplaceTempView("stored")
    convIds = blobs.keys.toArray.sorted
    sortedByConv = Exact.sortedBy(f.convIdx, f.turnLen, f.numConvGroups)
    rng = new scala.util.Random(ctx.seed)
    round = Nil
  }

  def teardown(): Unit = {
    stored.unpersist(blocking = true)
    f.unpersist()
  }

  private def hist(id: String): Histogram = SketchEnvelope.fromBytes(blobs(id)._1)

  /** Every run measures whole rounds of all query kinds, each round in a
   * seeded order, so the mix does not depend on how many queries fit. */
  override def mixSize: Int = Kinds
  private var round: Seq[Int] = Nil

  def op(i: Int, units: Units): OpResult = {
    val spark = ctx.spark
    if (round.isEmpty) round = rng.shuffle((0 until Kinds).toList)
    val kind = round.head
    round = round.tail
    val a = rng.nextInt(convIds.length - Range)
    val (lo, hi) = (convIds(a), convIds(a + Range - 1))
    val p = Params.Quantiles(rng.nextInt(Params.Quantiles.length))
    val tool = Tools(rng.nextInt(Tools.length))
    val sample = new scala.util.Random(ctx.seed * 31 + i)
    val inRange = stored.where(col("conv_id").between(lo, hi))
    val where = s"WHERE conv_id BETWEEN '$lo' AND '$hi'"
    val w = Range.toDouble

    def rows(df: DataFrame): Array[Row] = df.collect()
    // (result rows, per-row check on a seeded sample)
    val (out, perRow): (Array[Row], Row => Seq[String]) = kind match {
      case 0 | 8 =>
        units.add(Units.HistDec, w); units.add(Units.Quantile, w)
        val res =
          if (kind == 0) rows(inRange.select(col("conv_id"), hist_quantile(col("h"), p)))
          else rows(spark.sql(s"SELECT conv_id, hist_quantile(h, $p) FROM stored $where"))
        (res, r => {
          val id = r.getString(0)
          val (q, bound) = Exact.quantileAndBound(sortedByConv(id.substring(5).toInt), p)
          val err = math.abs(r.getDouble(1) - q) / bound
          noteHist(err)
          check(r.getDouble(1) == hist(id).quantile(p), s"$id hist_quantile($p) differs in-process") ++
            check(err <= 1.0, s"$id quantile error ratio $err > 1")
        })
      case 1 =>
        units.add(Units.HistDec, w); units.add(Units.Quantile, 3 * w)
        (rows(inRange.select(col("conv_id"), hist_quantiles(col("h"), Params.Quantiles))), r => {
          val h = hist(r.getString(0))
          check(r.getSeq[Double](1) == Params.Quantiles.map(h.quantile(_)),
            s"${r.getString(0)} hist_quantiles differs in-process")
        })
      case 2 =>
        units.add(Units.HistDec, 2 * w); units.add(Units.ValueAtRank, w)
        val rank = (hist_total(col("h")) / 2).cast("long")
        (rows(inRange.select(col("conv_id"), hist_value_at_rank(col("h"), rank))), r => {
          val h = hist(r.getString(0))
          check(r.getDouble(1) == h.valueAt(h.totalCount / 2),
            s"${r.getString(0)} hist_value_at_rank differs in-process")
        })
      case 3 =>
        units.add(Units.HistDec, w)
        val bins = rows(inRange
          .select(col("conv_id"), explode(hist_bins(col("h"))).as("bin"))
          .groupBy("conv_id")
          .agg(collect_list(struct(col("bin.bin_index"), col("bin.cnt"))).as("bins")))
        (bins, r => {
          val got = r.getSeq[Row](1).map(b => (b.getInt(0), b.getLong(1))).sorted
          val want = hist(r.getString(0)).nonEmptyBins.map(b => (b.binIndex, b.binCount))
          check(got == want, s"${r.getString(0)} hist_bins differs in-process")
        })
      case 4 | 9 =>
        units.add(Units.HistDec, 3 * w)
        val res =
          if (kind == 4)
            rows(inRange.select(col("conv_id"), hist_total(col("h")), hist_min(col("h")), hist_max(col("h"))))
          else rows(spark.sql(s"SELECT conv_id, hist_total(h), hist_min(h), hist_max(h) FROM stored $where"))
        (res, r => {
          val h = hist(r.getString(0))
          check(r.getLong(1) == h.totalCount && r.getDouble(2) == h.min && r.getDouble(3) == h.max,
            s"${r.getString(0)} hist_total/min/max differs in-process")
        })
      case 5 | 10 =>
        units.add(Units.HllDec, w); units.add(Units.HllEstimate, w)
        val res =
          if (kind == 5) rows(inRange.select(col("conv_id"), hll_estimate(col("u"))))
          else rows(spark.sql(s"SELECT conv_id, hll_estimate(u) FROM stored $where"))
        (res, r => {
          val id = r.getString(0)
          val sig = Exact.hllSigmas(r.getDouble(1), sortedByConv(id.substring(5).toInt).length,
            Params.HllPrecision)
          noteHll(sig)
          check(r.getDouble(1) == Hll.fromBytes(blobs(id)._2).estimate, s"$id hll_estimate differs in-process")
        })
      case 6 =>
        units.add(Units.CmsDec, w); units.add(Units.CmsEstimate, w)
        (rows(inRange.select(col("conv_id"), cms_estimate(col("c"), lit(tool)))), r => {
          val id = r.getString(0)
          check(r.getLong(1) == CountMin.fromBytes(blobs(id)._3).estimateString(tool),
            s"$id cms_estimate($tool) differs in-process")
        })
      case _ =>
        units.add(Units.HistDec, w); units.add(Units.Merge, w); units.add(Units.HistEnc, 1 + ctx.cpus)
        val res =
          if (kind == 7) rows(inRange.agg(hist_merge(col("h"))))
          else rows(spark.sql(s"SELECT hist_merge(h) FROM stored $where"))
        (res, r => {
          val want = convIds.slice(a, a + Range).map(hist).reduceLeft((x, y) => x.add(y))
          check(java.util.Arrays.equals(r.getAs[Array[Byte]](0), SketchEnvelope.toBytes(want)),
            s"hist_merge over [$lo, $hi] differs from the in-process merge")
        })
    }

    val bytes = convIds.slice(a, a + Range).map { id =>
      val (h, u, c) = blobs(id); (h.length + u.length + c.length).toLong
    }.sum
    OpResult(Range, Range, bytes, () => {
      val expectRows = if (kind == 7 || kind == 11) 1 else Range
      check(out.length == expectRows, s"query kind $kind returned ${out.length} rows, expected $expectRows") ++
        sample.shuffle(out.toSeq).take(SampleRows).flatMap(perRow)
    })
  }

  def probeInput: ProbeInput = {
    val n = f.rows.toInt
    ProbeInput(
      f.turnLen, f.convIdx, f.numConvGroups,
      i => f.convId(f.convIdx(i)) + ":" + i, i => f.tools(i % n))
  }
}
