package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.core.{Histogram, SketchEnvelope}
import graft.spark.functions._
import graft.streaming.StreamingSketch

import Workload.check

/** One streamed turn: key, value and event time in epoch milliseconds. */
final case class StreamRow(key: String, value: Double, tsMs: Long)

/**
 * stream_by_conv: fixed-size micro-batches of turns, each added only after
 * the previous one committed, through
 * `StreamingSketch.statefulPerKeyHistogramSketch` (per-key state) and
 * `StreamingSketch.windowedHistogram` (event-time windows with a watermark).
 * Each batch pays state open/commit and a sketch decode/encode per key.
 *
 * `batchOf` makes batch `i`; the streaming layer probe of the other
 * workloads reuses this class with their own values.
 */
final class StreamByConv(ctx: Ctx, batchOf: Int => Array[StreamRow]) extends Workload {
  def this(ctx: Ctx) = this(ctx, StreamByConv.synthetic(ctx.seed))

  val name = "stream_by_conv"
  private val Window = "1 minute"

  private var perKey: mutable.Map[String, Histogram] = _
  private var fed: mutable.ArrayBuffer[StreamRow] = _
  private var latestKey: mutable.Map[String, Array[Byte]] = _
  private var latestWindow: mutable.Map[Long, Array[Byte]] = _
  private val keyOut = new ConcurrentLinkedQueue[(String, Long, Array[Byte])]()
  private val windowOut = new ConcurrentLinkedQueue[(Long, Array[Byte])]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private var src1: MemoryStream[(String, Double)] = _
  private var src2: MemoryStream[(Timestamp, Double)] = _
  private var q1: StreamingQuery = _
  private var q2: StreamingQuery = _
  private var setups = 0
  private var batches = 0

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def setup(): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    setups += 1
    perKey = mutable.Map.empty
    fed = mutable.ArrayBuffer.empty
    latestKey = mutable.Map.empty
    latestWindow = mutable.Map.empty
    batches = 0
    val dir = ctx.workDir.resolve(s"stream-$setups")
    src1 = MemoryStream[(String, Double)](spark)
    src2 = MemoryStream[(Timestamp, Double)](spark)
    val sinkKeys: (Dataset[(String, Long, Array[Byte])], Long) => Unit =
      (ds, _) => ds.collect().foreach(keyOut.add)
    val sinkWindows: (DataFrame, Long) => Unit = (df, _) =>
      df.select(col("window_start"), col("sketch")).collect()
        .foreach(r => windowOut.add((r.getTimestamp(0).getTime, r.getAs[Array[Byte]](1))))
    q1 = StreamingSketch.statefulPerKeyHistogramSketch(src1.toDS(), Params.Layout)
      .writeStream.outputMode("update")
      .option("checkpointLocation", dir.resolve("keys").toString)
      .foreachBatch(sinkKeys)
      .start()
    q2 = StreamingSketch
      .windowedHistogram(src2.toDF().toDF("ts", "v"), "ts", "v", Params.Layout, Window, Window)
      .writeStream.outputMode("update")
      .option("checkpointLocation", dir.resolve("windows").toString)
      .foreachBatch(sinkWindows)
      .start()
    spark.streams.addListener(listener)
    // the first batch plans the queries and creates their state stores
    val first = op(-1, new Units)
    val failures = first.check()
    require(failures.isEmpty, failures.mkString("; "))
  }

  def teardown(): Unit = {
    q1.stop(); q2.stop()
    ctx.spark.streams.removeListener(listener)
    progress.clear()
  }

  def op(i: Int, units: Units): OpResult = {
    val batch = batchOf(batches)
    batches += 1
    src1.addData(batch.map(r => (r.key, r.value)).toSeq)
    src2.addData(batch.map(r => (new Timestamp(r.tsMs), r.value)).toSeq)
    q1.processAllAvailable()
    q2.processAllAvailable()
    val keys = drainQueue(keyOut)
    val windows = drainQueue(windowOut)

    val n = batch.length.toDouble
    units.add(Units.RecordLq, 2 * n)
    units.add(Units.HistDec, keys.length + 2.0 * windows.length)
    units.add(Units.HistEnc, keys.length + windows.length)
    units.add(Units.Quantile, windows.length)
    OpResult(batch.length, keys.length, keys.map(_._3.length.toLong).sum, () => {
      fed ++= batch
      batch.foreach(r => perKey.getOrElseUpdate(r.key, Histogram(Params.Layout)).addValue(r.value))
      windows.foreach { case (w, b) => latestWindow(w) = b }
      check(keys.map(_._1).toSet == batch.map(_.key).toSet,
        s"batch $i updated ${keys.length} keys, expected ${batch.map(_.key).distinct.length}") ++
        keys.flatMap { case (k, total, bytes) =>
          latestKey(k) = bytes
          val h = perKey(k)
          check(total == h.totalCount && java.util.Arrays.equals(bytes, SketchEnvelope.toBytes(h)),
            s"batch $i key $k state differs from aggregating the same rows")
        }
    })
  }

  private def drainQueue[T: scala.reflect.ClassTag](q: ConcurrentLinkedQueue[T]): Array[T] = {
    val out = mutable.ArrayBuffer[T]()
    var x = q.poll()
    while (x != null) { out += x; x = q.poll() }
    out.toArray
  }

  /** After the last batch: the final per-key and per-window state equals a
   * Spark batch aggregation of every row fed. */
  override def finalChecks(): Seq[String] = {
    val spark = ctx.spark
    import spark.implicits._
    val rows = fed.toSeq.map(r => (r.key, r.value, new Timestamp(r.tsMs))).toDF("key", "v", "ts")
    val byKey = rows.groupBy("key").agg(hist_sketch(col("v"), Params.Layout)).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val byWindow = rows.groupBy(window(col("ts"), Window).as("w"))
      .agg(hist_sketch(col("v"), Params.Layout))
      .collect()
      .map(r => r.getStruct(0).getTimestamp(0).getTime -> r.getAs[Array[Byte]](1)).toMap
    val values = fed.groupBy(_.key).map { case (k, rs) => k -> rs.map(_.value).toArray.sorted }
    latestKey.foreach { case (k, b) => noteHist(Exact.histErrRatio(values(k), SketchEnvelope.fromBytes(b))) }
    check(byKey.keySet == latestKey.keySet, "streamed keys differ from batch keys") ++
      byKey.toSeq.flatMap { case (k, b) =>
        check(latestKey.get(k).exists(java.util.Arrays.equals(_, b)), s"final state of key $k differs from batch")
      } ++
      check(byWindow.keySet == latestWindow.keySet, "streamed windows differ from batch windows") ++
      byWindow.toSeq.flatMap { case (w, b) =>
        check(latestWindow.get(w).exists(java.util.Arrays.equals(_, b)), s"final state of window $w differs from batch")
      } ++
      check(histErrMax <= 1.0, s"streamed quantile error ratio $histErrMax > 1")
  }

  /** Waits (bounded) until both queries reported progress for every batch
   * run so far, then returns each batch's totals over the two queries. */
  def streamProgress: Seq[Map[String, Double]] = {
    val deadline = System.currentTimeMillis() + 10000L
    while (progress.size < 2 * (batches) && System.currentTimeMillis() < deadline) Thread.sleep(2)
    progress.asScala.toSeq.groupBy(_.batchId).toSeq.sortBy(_._1).map { case (_, ps) =>
      def d(k: String): Double = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
      val st = ps.flatMap(_.stateOperators)
      Map(
        "add_batch_ms" -> d("addBatch"),
        "planning_ms" -> d("queryPlanning"),
        "wal_commit_ms" -> (d("walCommit") + d("commitOffsets")),
        "trigger_ms" -> d("triggerExecution"),
        "state_commit_ms" -> st.map(_.commitTimeMs.toDouble).sum,
        "state_rows" -> st.map(_.numRowsTotal.toDouble).sum,
        "state_bytes" -> st.map(_.memoryUsedBytes.toDouble).sum)
    }
  }

  def probeInput: ProbeInput = {
    val rows = fed.toArray
    val keyIdx = rows.map(_.key).distinct.zipWithIndex.toMap
    ProbeInput(rows.map(_.value), rows.map(r => keyIdx(r.key)), keyIdx.size,
      i => rows(i).key, i => rows(i).key)
  }
}

object StreamByConv {
  val BatchRows = 4000
  val Keys = 2000
  private val BaseMs = 1700000000000L
  /** Event time each batch advances; windows are one minute. */
  val BatchSpanMs = 10000L

  /** Seeded synthetic batches: skewed conversation keys, log-uniform values
   * in [1, 1e4], event times inside the batch's 10 s slot. */
  def synthetic(seed: Long): Int => Array[StreamRow] = i => {
    val r = new scala.util.Random(seed * 1000003L + i)
    Array.fill(BatchRows) {
      val u = r.nextDouble()
      StreamRow(f"conv-${(Keys * u * u).toInt}%08d", math.exp(r.nextDouble() * math.log(1e4)),
        BaseMs + i * BatchSpanMs + r.nextInt(BatchSpanMs.toInt))
    }
  }

  /** Batches cut from another workload's own (group, value) stream. */
  def fromProbe(in: ProbeInput, rowsPerBatch: Int): Int => Array[StreamRow] = i =>
    Array.tabulate(rowsPerBatch) { j =>
      val k = (i * rowsPerBatch + j) % in.values.length
      StreamRow(f"conv-${in.groups(k)}%08d", in.values(k), BaseMs + i * BatchSpanMs + j % BatchSpanMs)
    }
}
