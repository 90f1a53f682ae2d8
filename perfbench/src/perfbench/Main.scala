package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * Runs one workload and prints its metrics.
 *
 * Arguments: --workload NAME --seed N --seconds S --trace 0|1 --work DIR
 * --traces DIR [--commit SHA]. Run scratch goes to the work directory; a
 * traced run writes its spans to the traces directory. Stdout ends with a
 * `{"run": ...}` line (host record, sample counts, diagnostics) and then the
 * result line with exactly the keys correct, attempted, failed and metrics.
 * Exits 1 when a correctness check failed.
 */
object Main {
  private val SetupReps = 3
  private val WarmupOps = 2
  private val MinOps = 5

  /** One measured request. `gcMs` is collection time of the whole JVM, which
   * the driver and the local executors share, while the request ran. */
  final case class Sample(
      wallS: Double, rows: Long, groups: Long, bytes: Long, engine: EngineTotals,
      agg: AggMetrics, gcMs: Long, startNs: Long, endNs: Long)

  private def jvmGcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(args: Array[String]): Unit = {
    val jvmS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    val cpuProbe = HostProbe.cpu(cpus)
    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9
    val sc = spark.sparkContext
    val listener = new EngineListener
    sc.addSparkListener(listener)
    val harvester = new PlanHarvester

    val ctx = Ctx(spark, cpus, seed, work)
    val wl = Workload(workload, ctx)
    val failures = ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L

    // set-up: built several times, the median is reported
    val setupTimes = (1 to SetupReps).map { k =>
      if (k > 1) wl.teardown()
      val t0 = System.nanoTime()
      wl.setup()
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = jvmS + sessionS + Stats.median(setupTimes)

    def runOp(i: Int, units: Units): Sample = {
      val gc0 = jvmGcMs
      val t0 = System.nanoTime()
      val res = scala.util.Try(wl.op(i, units))
      val t1 = System.nanoTime()
      val gc = jvmGcMs - gc0
      val drained = listener.drain(sc)
      val eng = listener.snapshot()
      val agg = harvester.snapshot()
      val f = res match {
        case scala.util.Success(r) =>
          scala.util.Try(r.check()).fold(e => Seq(s"request $i check threw $e"), identity) ++
            Workload.check(drained, s"request $i: listener did not drain")
        case scala.util.Failure(e) => Seq(s"request $i threw $e")
      }
      attempted += 1
      if (f.nonEmpty) { failed += 1; failures ++= f }
      val r = res.toOption
      Sample((t1 - t0) / 1e9, r.map(_.rows).getOrElse(0L), r.map(_.groups).getOrElse(0L),
        r.map(_.sketchBytes).getOrElse(0L), eng, agg, gc, t0, t1)
    }

    val warmups = (WarmupOps + wl.mixSize - 1) / wl.mixSize * wl.mixSize
    (0 until warmups).foreach(i => runOp(-1 - i, new Units))

    /** Closed loop: the next request starts when the previous one (and its
     * check) finished, until `secs` have passed. */
    def measure(secs: Double, units: Units, from: Int): (Seq[Sample], Double) = {
      HeapWatch.reset()
      val start = System.nanoTime()
      val out = ArrayBuffer[Sample]()
      while (out.length < MinOps || System.nanoTime() - start < secs * 1e9 ||
          out.length % wl.mixSize != 0) {
        out += runOp(from + out.length, units)
      }
      (out.toSeq, HeapWatch.peakMb())
    }

    def e2e(s: Seq[Sample], peakMb: Double): Map[String, Double] = {
      val wall = s.map(_.wallS).sum
      val rows = s.map(_.rows).sum.toDouble
      Map(
        "setup_s" -> setupS,
        "job_s_p50" -> Stats.median(s.map(_.wallS)),
        "rows_per_s" -> rows / wall,
        "shuffle_bytes_per_row" -> s.map(_.engine.shuffleWriteBytes).sum / rows,
        "sketch_bytes_per_group" -> s.map(_.bytes).sum.toDouble / s.map(_.groups).sum,
        "peak_heap_mb" -> peakMb)
    }

    val (metrics, extra) =
      if (!trace) {
        val (s, peak) = measure(seconds, new Units, 0)
        (e2e(s, peak), Map[String, Any]("samples" -> s.length, "job_s_p90" -> Stats.pct(s.map(_.wallS), 0.9)))
      } else {
        val (plain, peakPlain) = measure(seconds / 2, new Units, 0)
        val units = new Units
        spark.listenerManager.register(harvester)
        val (traced, peakTraced) = measure(seconds / 2, units, plain.length)
        val tracer = new Tracer(s"$workload-$seed")
        val layers = Traced.layerMetrics(wl, ctx, tracer, traced, units)
        val base = e2e(plain, peakPlain)
        val withTrace = e2e(traced, peakTraced)
        tracer.write(Paths.get(a("traces")).resolve(s"trace-$workload-$seed.jsonl"))
        (layers ++ Map(
          "trace.overhead.job_s_p50" -> (withTrace("job_s_p50") - base("job_s_p50")),
          "trace.overhead.rows_per_s" -> (withTrace("rows_per_s") - base("rows_per_s"))),
          Map[String, Any]("samples" -> (plain.length + traced.length), "untraced" -> base,
            "traced" -> withTrace, "spans" -> tracer.spans.length))
      }

    val finalFailures = scala.util.Try(wl.finalChecks()).fold(e => Seq(s"final checks threw $e"), identity)
    attempted += 1
    if (finalFailures.nonEmpty) { failed += 1; failures ++= finalFailures }

    val outMetrics =
      if (trace) metrics ++ Map(
        "check.hist_err_ratio_max" -> wl.histErrMax,
        "check.hll_err_sigmas_max" -> wl.hllSigmaMax)
      else metrics
    val correct = failures.isEmpty
    println(Json.obj("run" -> (Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "host" -> Map(
        "nproc" -> cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
        "jvm" -> System.getProperty("java.vm.version"),
        "git_commit" -> a.getOrElse("commit", "unknown"),
        "cpu_probe" -> cpuProbe),
      "setup_reps_s" -> setupTimes, "jvm_start_s" -> jvmS, "session_s" -> sessionS,
      "hist_err_ratio_max" -> wl.histErrMax, "hll_err_sigmas_max" -> wl.hllSigmaMax,
      "failed_frac" -> failed.toDouble / attempted,
      "failures" -> failures.take(10)) ++ extra)))
    println(Json.obj(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> scala.collection.immutable.TreeMap(outMetrics.toSeq: _*).map { case (k, v) =>
        k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> Metrics.units(k))
      }))
    System.out.flush()
    scala.util.Try(wl.teardown())
    spark.stop()
    System.exit(if (correct) 0 else 1)
  }
}

/** Largest heap in use after any garbage collection in an interval: the
 * live set of the cached inputs plus the requests in flight, which unlike
 * the raw heap peak does not depend on when the collector chose to run. */
object HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L
  @volatile private var events = 0L

  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
      synchronized { peak = math.max(peak, used); events += 1 }
    }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = {
    System.gc()
    synchronized { peak = 0L }
  }

  /** Collects once more, waits (bounded) for that collection's notification,
   * and returns the peak in MiB. */
  def peakMb(): Double = {
    val before = events
    System.gc()
    val deadline = System.currentTimeMillis() + 5000L
    while (events == before && System.currentTimeMillis() < deadline) Thread.sleep(1)
    peak / 1048576.0
  }
}

/** The Bench-style host-noise probe: the same spin loop on 1 thread and on
 * every core. A parallel efficiency well below 1 marks a contended host. */
object HostProbe {
  private def spin(iters: Long, seed: Long): Long = {
    var z = seed
    var acc = 0L
    var i = 0L
    while (i < iters) {
      z += 0x9e3779b97f4a7c15L
      var x = z
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      acc += x ^ (x >>> 31)
      i += 1
    }
    acc
  }

  def cpu(threads: Int): Map[String, Double] = {
    val iters = 150000000L
    spin(iters / 10, 0L)
    val t1 = System.nanoTime()
    val sink = spin(iters, 1L)
    val one = (System.nanoTime() - t1) / 1e9
    val ts = (0 until threads).map(t => new Thread(() => { if (spin(iters, t + 2L) == 42L) println(42) }))
    val tn = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    val all = (System.nanoTime() - tn) / 1e9
    if (sink == 42L) println(sink)
    Map("one_thread_s" -> one, "n_thread_s" -> all, "parallel_efficiency" -> one / all)
  }
}
