package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial, PartialMerge}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are nanoseconds on the benchmark's clock. */
final case class Span(
    id: Int,
    name: String,
    layer: String,
    startNs: Long,
    endNs: Long,
    parent: Int,
    runId: String)

/** In-memory span recorder of a traced run; spans are written out once, at
 * the end of the run. */
final class Tracer(val runId: String) {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  val spans = new ArrayBuffer[Span]()

  /** Converts an epoch-millisecond listener timestamp to this clock. */
  def nsOfEpochMs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  def add(name: String, layer: String, startNs: Long, endNs: Long, parent: Int): Int = synchronized {
    val id = spans.length
    spans += Span(id, name, layer, startNs, endNs, parent, runId)
    id
  }

  /** Sets the end of a span added before its children. */
  def close(id: Int, endNs: Long): Unit = synchronized { spans(id) = spans(id).copy(endNs = endNs) }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(Json.obj(
        "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "run_id" -> s.runId)).append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Intervals {
  def unionLength(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Task-level totals over one measured interval, summed over tasks. */
final case class EngineTotals(
    jobs: Long,
    stages: Long,
    tasks: Long,
    taskCpuNs: Long,
    taskRunMs: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    peakExecMemBytes: Long,
    taskIntervalsMs: Seq[(Long, Long)],
    jobSpans: Seq[(Int, Long, Long, Seq[Int])],
    stageSpans: Seq[(Int, Long, Long)])

/**
 * The benchmark's engine listener. It counts open jobs and running tasks, so
 * [[drain]] can wait until every started job has ended and every task-end
 * event that trails it has been delivered, instead of sleeping a fixed time.
 */
final class EngineListener extends SparkListener {
  private val lock = new Object
  private var jobsOpen = 0
  private var tasksOpen = 0
  private var jobs, stages, tasks, cpuNs, runMs, shufW, spill, peakMem = 0L
  private val intervals = new ArrayBuffer[(Long, Long)]()
  private val jobStarts = scala.collection.mutable.Map[Int, (Long, Seq[Int])]()
  private val jobSpans = new ArrayBuffer[(Int, Long, Long, Seq[Int])]()
  private val stageSpans = new ArrayBuffer[(Int, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobsOpen += 1
    jobs += 1
    jobStarts(e.jobId) = (e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobsOpen -= 1
    jobStarts.remove(e.jobId).foreach { case (t0, st) => jobSpans += ((e.jobId, t0, e.time, st)) }
    lock.notifyAll()
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = lock.synchronized { tasksOpen += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    tasksOpen -= 1
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      shufW += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }
    val ti = e.taskInfo
    if (ti != null && ti.finishTime > 0) intervals += ((ti.launchTime, ti.finishTime))
    lock.notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stages += 1
    val si = e.stageInfo
    for (s <- si.submissionTime; c <- si.completionTime) stageSpans += ((si.stageId, s, c))
  }

  /** Waits until the bus is empty, no job is open and no task is running.
   * Returns false if that does not happen within `timeoutMs`. */
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (org.apache.spark.PerfbenchBusBridge.waitUntilEmpty(
          sc, math.max(1L, deadline - System.currentTimeMillis()))) {
        lock.synchronized {
          if (jobsOpen == 0 && tasksOpen == 0) return true
          lock.wait(5)
        }
      }
    }
    false
  }

  /** Returns the totals since the previous snapshot and resets them. */
  def snapshot(): EngineTotals = lock.synchronized {
    val t = EngineTotals(jobs, stages, tasks, cpuNs, runMs, shufW, spill, peakMem,
      intervals.toList, jobSpans.toList, stageSpans.toList)
    jobs = 0; stages = 0; tasks = 0; cpuNs = 0; runMs = 0; shufW = 0; spill = 0
    peakMem = 0
    intervals.clear(); jobSpans.clear(); stageSpans.clear()
    t
  }
}

/** Aggregation-operator SQLMetrics of one executed query, keyed by operator id. */
final case class AggMetrics(partialMs: Long, finalMs: Long, sortFallbackTasks: Long)

/**
 * Walks the final (post-AQE) physical plan of every successful query and
 * keeps the aggregation operators' SQLMetrics by operator id. Plans are read
 * on the listener bus thread, after the query's tasks have ended.
 */
final class PlanHarvester extends QueryExecutionListener {
  private val byOperator = scala.collection.mutable.LinkedHashMap[Int, (String, Long, Long)]()

  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    case other => other +: (other.children.flatMap(walk) ++ other.subqueries.flatMap(walk))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      walk(qe.executedPlan).foreach {
        case agg: BaseAggregateExec =>
          val modes = agg.aggregateExpressions.map(_.mode).toSet
          val phase =
            if (modes.contains(Partial)) "partial"
            else if (modes.contains(Final) || modes.contains(PartialMerge)) "final"
            else "other"
          val m = agg.metrics
          byOperator(agg.id) = (
            phase,
            m.get("aggTime").map(_.value).getOrElse(0L),
            m.get("numTasksFallBacked").map(_.value).getOrElse(0L))
        case _ =>
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Totals since the previous snapshot; resets them. */
  def snapshot(): AggMetrics = synchronized {
    val ops = byOperator.values.toSeq
    byOperator.clear()
    AggMetrics(
      ops.filter(_._1 == "partial").map(_._2).sum,
      ops.filter(_._1 == "final").map(_._2).sum,
      ops.map(_._3).sum)
  }
}
