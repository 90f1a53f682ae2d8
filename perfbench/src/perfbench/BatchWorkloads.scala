package perfbench

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

import graft.core.SketchEnvelope
import graft.sketches.{CountMin, Hll}
import graft.spark.Pipeline
import graft.spark.functions._

import Workload.check

/**
 * ingest_by_role: the feature table grouped by role (4 groups plus the
 * global group) into histogram, HLL, CMS and KLL sketches, finished with
 * quantile and distinct-count queries. Nearly all work is per-row recording;
 * only about 5 x partitions buffers reach the shuffle, so codec and merge
 * changes leave it flat.
 */
final class IngestByRole(ctx: Ctx) extends Workload {
  val name = "ingest_by_role"
  private val NumConvs = 12000L
  private val Roles = Array("user", "assistant", "tool", "system")
  private val Global = Roles.length

  private var f: Features = _
  private var exact: Map[Int, Row] = Map.empty // role, count, min/max len, min/max latency, distinct
  private var sorted: Array[Array[Double]] = _ // (group * 2 + column) -> sorted values
  private var firstBlobs: Map[Int, Seq[Array[Byte]]] = Map.empty

  private def groupOf(role: String): Int = if (role == null) Global else Roles.indexOf(role)

  def setup(): Unit = {
    f = new Features(ctx.spark, NumConvs, ctx.seed)
    // the plain Spark answers the sketches must reproduce exactly
    exact = f.df
      .rollup("role")
      .agg(
        count(lit(1)), min("turn_len"), max("turn_len"), min("latency_ms"), max("latency_ms"),
        countDistinct("conv_id"))
      .collect()
      .map(r => groupOf(r.getString(0)) -> r)
      .toMap
    val g = f.roles.map(groupOf)
    val byRoleLen = Exact.sortedBy(g, f.turnLen, Roles.length)
    val byRoleLat = Exact.sortedBy(g, f.latency, Roles.length)
    val all = Seq(f.turnLen.sorted, f.latency.sorted)
    sorted = ((0 until Roles.length).flatMap(r => Seq(byRoleLen(r), byRoleLat(r))) ++ all).toArray
    firstBlobs = Map.empty
  }

  def teardown(): Unit = f.unpersist()

  def op(i: Int, units: Units): OpResult = {
    val l = Params.Layout
    val out = f.df
      .rollup("role")
      .agg(
        hist_sketch(col("turn_len"), l).as("h_len"),
        hist_sketch(col("latency_ms"), l).as("h_lat"),
        hll_sketch(col("conv_id"), Params.HllPrecision).as("u"),
        cms_sketch(col("tool"), Params.CmsDepth, Params.CmsWidth).as("c"),
        kll_sketch(col("turn_len")).as("k"))
      .select(
        col("role"), col("h_len"), col("h_lat"), col("u"), col("c"), col("k"),
        hist_quantiles(col("h_len"), Params.Quantiles).as("q_len"),
        hist_quantiles(col("h_lat"), Params.Quantiles).as("q_lat"),
        hist_total(col("h_len")).as("n"),
        hist_min(col("h_len")), hist_max(col("h_len")),
        hist_min(col("h_lat")), hist_max(col("h_lat")),
        hll_estimate(col("u")).as("distinct"))
      .collect()

    val n = f.rows.toDouble
    val groups = out.length
    units.add(Units.RecordLq, 4 * n)
    units.add(Units.HllAdd, 2 * n)
    units.add(Units.CmsAdd, 2 * n)
    units.add(Units.KllAdd, 2 * n)
    units.add(Units.Merge, 2.0 * groups * ctx.cpus)
    units.add(Units.HllMergeDense, 1.0 * groups * ctx.cpus)
    units.add(Units.HistEnc, 2.0 * groups)
    units.add(Units.HistDec, 7.0 * groups)
    units.add(Units.Quantile, 6.0 * groups)
    units.add(Units.HllEnc, groups)
    units.add(Units.HllDec, groups)
    units.add(Units.HllEstimate, groups)
    units.add(Units.CmsEnc, groups)

    val blobs = out.map(r => groupOf(r.getString(0)) -> (1 to 5).map(r.getAs[Array[Byte]](_))).toMap
    val bytes = blobs.values.flatten.map(_.length.toLong).sum
    OpResult(f.rows, groups, bytes, () => checkOp(out, blobs))
  }

  private def checkOp(out: Array[Row], blobs: Map[Int, Seq[Array[Byte]]]): Seq[String] = {
    if (firstBlobs.isEmpty) firstBlobs = blobs
    check(out.length == Roles.length + 1, s"expected ${Roles.length + 1} groups, got ${out.length}") ++
      out.toSeq.flatMap { r =>
        val g = groupOf(r.getString(0))
        val e = exact(g)
        val qLen = r.getSeq[Double](6)
        val qLat = r.getSeq[Double](7)
        val lenErr = Exact.errRatio(sorted(2 * g), p => qLen(Params.Quantiles.indexOf(p)))
        val latErr = Exact.errRatio(sorted(2 * g + 1), p => qLat(Params.Quantiles.indexOf(p)))
        noteHist(math.max(lenErr, latErr))
        val sig = Exact.hllSigmas(r.getDouble(13), e.getLong(6), Params.HllPrecision)
        noteHll(sig)
        val cms = CountMin.fromBytes(r.getAs[Array[Byte]](4))
        check(r.getLong(8) == e.getLong(1), s"group $g total ${r.getLong(8)} != ${e.getLong(1)}") ++
          check(r.getDouble(9) == e.getDouble(2) && r.getDouble(10) == e.getDouble(3),
            s"group $g turn_len min/max differ from Spark min/max") ++
          check(r.getDouble(11) == e.getDouble(4) && r.getDouble(12) == e.getDouble(5),
            s"group $g latency min/max differ from Spark min/max") ++
          check(lenErr <= 1.0 && latErr <= 1.0, s"group $g quantile error ratio $lenErr/$latErr > 1") ++
          check(cms.total == e.getLong(1), s"group $g CMS total ${cms.total} != ${e.getLong(1)}") ++
          check(firstBlobs(g).zip(blobs(g)).forall { case (a, b) => java.util.Arrays.equals(a, b) },
            s"group $g sketches differ from the first request's")
      }
  }

  def probeInput: ProbeInput = {
    val n = f.rows.toInt
    val g = f.roles.map(groupOf)
    ProbeInput(
      f.turnLen ++ f.latency, g ++ g, Roles.length,
      i => f.convId(f.convIdx(i % n)), i => f.tools(i % n))
  }
}

/**
 * rollup_by_conv: per-conversation histogram and HLL sketches written out,
 * rolled up from the stored blobs into buckets with hist_merge/hll_merge,
 * then one global salted histogram. Per-group encode/decode, shuffle bytes
 * and merge do most of the work; recording is a small share.
 */
final class RollupByConv(ctx: Ctx) extends Workload {
  val name = "rollup_by_conv"
  private val NumConvs = 6000L
  private val Buckets = 300
  private val SaltBuckets = 64

  private var f: Features = _
  private var direct: Map[Int, (Array[Byte], Array[Byte])] = Map.empty
  private var directGlobal: Array[Byte] = _
  private var exact: Map[Int, (Long, Double, Double)] = Map.empty
  private var sorted: Array[Array[Double]] = _
  private val level1 = ctx.workDir.resolve("rollup_level1").toString

  private def bucketOf(convIdx: Column): Column = pmod(convIdx, lit(Buckets))
  private def bucketOfId(convId: Column): Column =
    bucketOf(substring(convId, 6, 8).cast("int"))

  def setup(): Unit = {
    f = new Features(ctx.spark, NumConvs, ctx.seed)
    val l = Params.Layout
    // direct aggregation of the same rows: what every rollup must reproduce byte for byte
    direct = f.df
      .groupBy(bucketOf(col("conv_idx")).as("b"))
      .agg(hist_sketch(col("turn_len"), l), hll_sketch(col("span_id"), Params.HllPrecision))
      .collect()
      .map(r => r.getInt(0) -> ((r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2))))
      .toMap
    directGlobal = f.df.agg(hist_sketch(col("turn_len"), l)).collect()(0).getAs[Array[Byte]](0)
    exact = f.df
      .groupBy(bucketOf(col("conv_idx")).as("b"))
      .agg(count(lit(1)), min("turn_len"), max("turn_len"))
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    sorted = Exact.sortedBy(f.convIdx.map(_ % Buckets), f.turnLen, Buckets)
  }

  def teardown(): Unit = f.unpersist()

  def op(i: Int, units: Units): OpResult = {
    val spark = ctx.spark
    val l = Params.Layout
    f.df
      .groupBy("conv_id")
      .agg(
        hist_sketch(col("turn_len"), l).as("h"),
        hll_sketch(col("span_id"), Params.HllPrecision).as("u"))
      .write.mode("overwrite").parquet(level1)
    val out = spark.read.parquet(level1)
      .groupBy(bucketOfId(col("conv_id")).as("b"))
      .agg(
        hist_merge(col("h")).as("h"),
        hll_merge(col("u")).as("u"),
        sum(hist_total(col("h"))).as("n"),
        min(hist_min(col("h"))).as("mn"),
        max(hist_max(col("h"))).as("mx"),
        sum(length(col("h")) + length(col("u"))).as("bytes"),
        count(lit(1)).as("groups"))
      .collect()
    val salted = Pipeline.saltedHistogram(f.df, Nil, "turn_len", l, SaltBuckets)
      .collect()(0).getAs[Array[Byte]]("sketch")

    val n = f.rows.toDouble
    val g = out.map(_.getLong(7)).sum.toDouble
    units.add(Units.RecordLq, 2 * n)
    units.add(Units.HllAdd, n)
    units.add(Units.HistEnc, g + out.length + SaltBuckets + 1)
    units.add(Units.HistDec, 4 * g + SaltBuckets)
    units.add(Units.Merge, g + SaltBuckets)
    units.add(Units.HllEnc, g + out.length)
    units.add(Units.HllDec, g)
    units.add(Units.HllMergeDense, g)

    OpResult(f.rows, g.toLong, out.map(_.getLong(6)).sum, () => checkOp(out, salted))
  }

  private def checkOp(out: Array[Row], salted: Array[Byte]): Seq[String] =
    check(out.length == Buckets, s"expected $Buckets buckets, got ${out.length}") ++
      check(java.util.Arrays.equals(salted, directGlobal),
        "saltedHistogram differs from direct global hist_sketch") ++
      out.toSeq.flatMap { r =>
        val b = r.getInt(0)
        val (h, u) = (r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2))
        val (cnt, mn, mx) = exact(b)
        val err = Exact.histErrRatio(sorted(b), SketchEnvelope.fromBytes(h))
        noteHist(err)
        val sig = Exact.hllSigmas(Hll.fromBytes(u).estimate, cnt, Params.HllPrecision)
        noteHll(sig)
        check(java.util.Arrays.equals(h, direct(b)._1), s"bucket $b hist_merge differs from direct") ++
          check(java.util.Arrays.equals(u, direct(b)._2), s"bucket $b hll_merge differs from direct") ++
          check(r.getLong(3) == cnt && r.getDouble(4) == mn && r.getDouble(5) == mx,
            s"bucket $b total/min/max differ from Spark count/min/max") ++
          check(err <= 1.0, s"bucket $b quantile error ratio $err > 1")
      }

  def probeInput: ProbeInput = {
    val n = f.rows.toInt
    ProbeInput(
      f.turnLen, f.convIdx, f.numConvGroups,
      i => f.convId(f.convIdx(i)) + ":" + i, i => f.tools(i % n))
  }
}
