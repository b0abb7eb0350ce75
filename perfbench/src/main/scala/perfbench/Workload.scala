package perfbench

import org.apache.spark.perfbench.BlockStats

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

/** What one run of a workload reports.
  *
  * @param e2e      the benchmark's end-to-end metrics (all workloads share
  *                 the names: op latency quantiles, pass time, storage)
  * @param named    the same measurements under the workload's own names
  *                 (`pipeline_s`, `query_p50_s`, `tick_p50_ms`, ...)
  * @param layers   per-layer metrics of a traced run (empty untraced)
  * @param overhead traced run only: traced minus untraced value of each
  *                 end-to-end metric when the run also timed untraced ops
  *                 (else empty, and `run.py` reports it as not measurable)
  * @param opMs     every timed op's latency, in run order
  * @param checks   one line per failed output check
  * @param findings defects seen outside the timed ops (not op failures) */
final case class Outcome(attempted: Int, failed: Int,
    e2e: Map[String, M], named: Map[String, M], layers: Map[String, M],
    overhead: Map[String, Map[String, Double]], inputs: Map[String, Any],
    opMs: Seq[Double], checks: Seq[String], findings: Seq[String] = Nil)

trait Workload {
  /** Builds the inputs and warms the workload up; returns seconds per
    * set-up stage. `inputs` stages are repeated and reported as a median. */
  def setup(): Seq[(String, Double)]

  /** Runs timed ops for about `seconds` (at least one op), traced when a
    * tracer is given. */
  def run(seconds: Double, trace: Option[Trace]): Outcome
}

object Workload {
  /** The end-to-end set every workload reports: op latency median and p90
    * (ms), median pass time (s) and block-manager storage held (MB).
    * `BENCHMARK.json` gates all but the p90, which a run has too few ops
    * for; it is printed and compared in the tracing overhead. */
  def e2e(opMs: Seq[Double], passS: Seq[Double], storageMb: Double): Map[String, M] = Map(
    "op_p50_ms" -> M(Stats.median(opMs), "ms"),
    "op_p90_ms" -> M(Stats.quantile(opMs, 0.9), "ms"),
    "pass_s" -> M(Stats.median(passS), "s"),
    "storage_mb" -> M(storageMb, "MB"))

  /** traced − untraced per end-to-end metric. */
  def overhead(traced: Map[String, M], untraced: Map[String, M]): Map[String, Map[String, Double]] =
    traced.map { case (k, t) =>
      val u = untraced(k).value
      k -> Map("traced" -> t.value, "untraced" -> u, "diff" -> (t.value - u),
        "share" -> (if (u != 0) (t.value - u) / u else 0.0))
    }

  /** Block-manager bytes (memory + disk, broadcasts included) still held,
    * in MB, once what the ContextCleaner releases for unreachable frames is
    * released: a full GC, then polling until three reads agree. */
  def heldStorageMb(): Double = {
    System.gc()
    var last = -1L
    var stable = 0
    var polls = 0
    while (stable < 3 && polls < 40) {
      Thread.sleep(50)
      val now = BlockStats.heldBytes()
      if (now == last) stable += 1 else stable = 0
      last = now
      polls += 1
    }
    last / 1e6
  }

  /** What [[heldStorageMb]] counted, by kind of block, as `storage_<kind>_mb`. */
  def heldStorageByKind(): Map[String, M] =
    BlockStats.heldBytesByKind().map { case (k, b) => s"storage_${k}_mb" -> M(b / 1e6, "MB") }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
