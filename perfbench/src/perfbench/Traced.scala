package perfbench

/**
 * Per-layer metrics of a traced run.
 *
 * Spans: one for the workload, one per request, one per Spark job and stage
 * (from the listener, each under the request or job that ran it) and one per
 * layer-probe repetition. Self times are busy milliseconds per request, taken as a
 * tree: request (engine) > tasks (engine) > aggregation operators
 * (expressions) > library calls (core, sketches, codec). Library self time is
 * the probes' ns per call times the calls the traced requests made;
 * expressions is aggregation time minus that; engine is task time minus both,
 * plus the driver gap of the request spans; streaming is trigger time not
 * spent in addBatch, plus state-store commit time, per micro-batch.
 */
object Traced {
  def layerMetrics(
      wl: Workload,
      ctx: Ctx,
      tr: Tracer,
      traced: Seq[Main.Sample],
      units: Units): Map[String, Double] = {
    val ops = traced.length
    val root = tr.add(s"workload ${wl.name}", "run", traced.head.startNs, traced.last.endNs, -1)
    val gaps = traced.map { s =>
      val op = tr.add("request", "engine", s.startNs, s.endNs, root)
      s.engine.jobSpans.foreach { case (jobId, t0, t1, stageIds) =>
        val j = tr.add(s"job $jobId", "engine", tr.nsOfEpochMs(t0), tr.nsOfEpochMs(t1), op)
        s.engine.stageSpans.filter(st => stageIds.contains(st._1)).foreach { case (id, a, b) =>
          tr.add(s"stage $id", "engine", tr.nsOfEpochMs(a), tr.nsOfEpochMs(b), j)
        }
      }
      val busy = Intervals.unionLength(s.engine.taskIntervalsMs.map { case (a, b) =>
        (math.max(tr.nsOfEpochMs(a), s.startNs), math.min(tr.nsOfEpochMs(b), s.endNs))
      })
      (s.endNs - s.startNs - busy) / 1e9
    }

    val probeStart = System.nanoTime()
    val probeRoot = tr.add("layer probes", "run", probeStart, probeStart, -1)
    val input = wl.probeInput
    val ns = Probes.run(input, tr, probeRoot)

    // streaming: the workload's own micro-batches, or a short stream of its values
    val batches = wl match {
      case s: StreamByConv => s.streamProgress.takeRight(ops)
      case _ =>
        val probe = new StreamByConv(
          ctx.copy(workDir = ctx.workDir.resolve("stream-probe")),
          StreamByConv.fromProbe(input, StreamByConv.BatchRows))
        val t0 = System.nanoTime()
        probe.setup()
        val u = new Units
        (1 to 4).foreach(i => probe.op(i, u).check())
        val p = probe.streamProgress.takeRight(4)
        probe.teardown()
        tr.add("streaming probe", "streaming", t0, System.nanoTime(), probeRoot)
        p
    }
    tr.close(probeRoot, System.nanoTime())
    def stream(k: String): Double = Stats.median(batches.map(_(k)))

    def perOp(f: Main.Sample => Double): Double = traced.map(f).sum / ops
    val lib = units.selfMsPerOp(ns, ops)
    val libMs = lib.values.sum
    val aggMs = perOp(s => (s.agg.partialMs + s.agg.finalMs).toDouble)
    val exprMs = math.max(0.0, aggMs - libMs)
    val taskMs = perOp(_.engine.taskRunMs.toDouble)
    val gapS = gaps.sum / ops

    ns ++ Map(
      "engine.task_cpu_s" -> perOp(_.engine.taskCpuNs / 1e9),
      "engine.task_run_s" -> taskMs / 1e3,
      "engine.gc_s" -> perOp(_.gcMs / 1e3),
      "engine.shuffle_write_bytes" -> perOp(_.engine.shuffleWriteBytes.toDouble),
      "engine.spill_bytes" -> perOp(_.engine.spillBytes.toDouble),
      "engine.peak_exec_mem_bytes" -> traced.map(_.engine.peakExecMemBytes.toDouble).max,
      "engine.jobs" -> perOp(_.engine.jobs.toDouble),
      "engine.stages" -> perOp(_.engine.stages.toDouble),
      "engine.tasks" -> perOp(_.engine.tasks.toDouble),
      "engine.driver_gap_s" -> gapS,
      "expressions.agg_time_ms.partial" -> perOp(_.agg.partialMs.toDouble),
      "expressions.agg_time_ms.final" -> perOp(_.agg.finalMs.toDouble),
      "expressions.sort_fallback_tasks" -> perOp(_.agg.sortFallbackTasks.toDouble),
      "streaming.add_batch_ms" -> stream("add_batch_ms"),
      "streaming.planning_ms" -> stream("planning_ms"),
      "streaming.wal_commit_ms" -> stream("wal_commit_ms"),
      "streaming.state_commit_ms" -> stream("state_commit_ms"),
      "streaming.state_rows" -> stream("state_rows"),
      "streaming.state_bytes" -> stream("state_bytes"),
      "self_ms_per_op.core" -> lib("core"),
      "self_ms_per_op.sketches" -> lib("sketches"),
      "self_ms_per_op.codec" -> lib("codec"),
      "self_ms_per_op.expressions" -> exprMs,
      "self_ms_per_op.engine" -> (math.max(0.0, taskMs - exprMs - libMs) + gapS * 1e3),
      "self_ms_per_op.streaming" -> Stats.median(batches.map(b =>
        b("trigger_ms") - b("add_batch_ms") + b("state_commit_ms"))))
  }
}

/** Unit of every metric the benchmark reports. */
object Metrics {
  val units: Map[String, String] = Map(
    "setup_s" -> "s",
    "job_s_p50" -> "s",
    "rows_per_s" -> "1/s",
    "shuffle_bytes_per_row" -> "count",
    "sketch_bytes_per_group" -> "count",
    "peak_heap_mb" -> "MB",
    "core.record_ns_per_value.log_quadratic" -> "ns",
    "core.record_ns_per_value.log_linear" -> "ns",
    "core.merge_ns_per_sketch" -> "ns",
    "core.quantile_ns" -> "ns",
    "core.value_at_rank_ns" -> "ns",
    "sketches.hll.add_ns" -> "ns",
    "sketches.cms.add_ns" -> "ns",
    "sketches.kll.add_ns" -> "ns",
    "sketches.hll.merge_ns.sparse" -> "ns",
    "sketches.hll.merge_ns.dense" -> "ns",
    "sketches.hll.estimate_ns" -> "ns",
    "sketches.cms.estimate_ns" -> "ns",
    "codec.hist.encode_ns" -> "ns",
    "codec.hist.decode_ns" -> "ns",
    "codec.hist.bytes" -> "count",
    "codec.hll.encode_ns" -> "ns",
    "codec.hll.decode_ns" -> "ns",
    "codec.hll.bytes" -> "count",
    "codec.cms.encode_ns" -> "ns",
    "codec.cms.decode_ns" -> "ns",
    "codec.cms.bytes" -> "count",
    "engine.task_cpu_s" -> "s",
    "engine.task_run_s" -> "s",
    "engine.gc_s" -> "s",
    "engine.shuffle_write_bytes" -> "count",
    "engine.spill_bytes" -> "count",
    "engine.peak_exec_mem_bytes" -> "count",
    "engine.jobs" -> "count",
    "engine.stages" -> "count",
    "engine.tasks" -> "count",
    "engine.driver_gap_s" -> "s",
    "expressions.agg_time_ms.partial" -> "ms",
    "expressions.agg_time_ms.final" -> "ms",
    "expressions.sort_fallback_tasks" -> "count",
    "streaming.add_batch_ms" -> "ms",
    "streaming.planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms",
    "streaming.state_rows" -> "count",
    "streaming.state_bytes" -> "count",
    "self_ms_per_op.core" -> "ms",
    "self_ms_per_op.sketches" -> "ms",
    "self_ms_per_op.codec" -> "ms",
    "self_ms_per_op.expressions" -> "ms",
    "self_ms_per_op.engine" -> "ms",
    "self_ms_per_op.streaming" -> "ms",
    "trace.overhead.job_s_p50" -> "s",
    "trace.overhead.rows_per_s" -> "1/s",
    "check.hist_err_ratio_max" -> "ratio",
    "check.hll_err_sigmas_max" -> "sigma")
}
