package perfbench

import org.apache.spark.sql.SparkSession

/** What the benchmark gives every workload. */
final case class Ctx(spark: SparkSession, cpus: Int, seed: Long, workDir: java.nio.file.Path)

/**
 * What one closed-loop request did: input rows it aggregated or read, the
 * groups it produced and their stored bytes, and a correctness check that
 * runs after the request's timer has stopped. The check returns failures.
 */
final case class OpResult(rows: Long, groups: Long, sketchBytes: Long, check: () => Seq[String])

/** One benchmark workload: a closed loop with a single client. */
trait Workload {
  def name: String

  /** Builds the inputs. Timed as set-up; [[teardown]] undoes it. */
  def setup(): Unit
  def teardown(): Unit

  /** Requests that make one full mix; a measurement ends on a mix boundary,
   * so every run measures the same mix of request kinds. */
  def mixSize: Int = 1

  /** One request. Adds the library calls it makes to `units`. */
  def op(i: Int, units: Units): OpResult

  /** Checks that need the whole run, after the last request. */
  def finalChecks(): Seq[String] = Nil

  /** The workload's own values, for the layer probes. */
  def probeInput: ProbeInput

  /** Largest quantile error / layout bound and HLL error in standard errors
   * seen by the checks so far. */
  var histErrMax = 0.0
  var hllSigmaMax = 0.0

  protected def noteHist(r: Double): Unit = histErrMax = math.max(histErrMax, r)
  protected def noteHll(s: Double): Unit = hllSigmaMax = math.max(hllSigmaMax, s)
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest_by_role" => new IngestByRole(ctx)
    case "rollup_by_conv" => new RollupByConv(ctx)
    case "query_stored" => new QueryStored(ctx)
    case "stream_by_conv" => new StreamByConv(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def check(ok: Boolean, what: => String): Seq[String] = if (ok) Nil else Seq(what)
}
