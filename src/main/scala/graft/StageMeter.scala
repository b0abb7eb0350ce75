package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBusBridge

/** The one stage listener in main: every timing harness (Bench,
  * PlanDiffScales, tools.Trace) reads stage spans, executor time, shuffle
  * bytes and spill through it.
  *
  * Attribution is exact: [[measure]] drains the listener bus before and
  * after its body, so a sample holds the stages that completed while the
  * body ran, no more and no fewer. Spark posts a job's last
  * stage-completed event before the action returns, so the drain after the
  * body sees it; nothing is charged to the next run. A drain that times out
  * throws instead of returning partial counters. Bodies run one at a time
  * per SparkContext: a job another thread runs meanwhile is charged to the
  * body.
  *
  * Codegen compiles are counted the same way, from Spark's JVM-global
  * `CodegenMetrics` compile-time histogram. That is exact in `local[*]`,
  * where the executors and the driver share one JVM, and follows the same
  * rule: a class another thread compiles meanwhile is charged to the body.
  */
final class StageMeter private (sc: SparkContext) extends SparkListener {
  import StageMeter._

  private val completed = new ConcurrentLinkedQueue[Stage]
  @volatile private var recording = false

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (recording) {
    val si = e.stageInfo
    val m = si.taskMetrics
    val done = si.completionTime.getOrElse(System.currentTimeMillis())
    completed.add(Stage(si.stageId, si.name.linesIterator.nextOption().getOrElse(""),
      si.submissionTime.getOrElse(done), done, si.numTasks, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled, m.diskBytesSpilled))
  }

  /** Run `body` and return its result with the stages that completed while
    * it ran. A body that throws propagates; the next call starts clean. */
  def measure[T](body: => T): (T, Sample) = {
    ListenerBusBridge.drain(sc)
    recording = true
    try {
      val compiles0 = Compilations.getCount
      val t0 = System.nanoTime()
      val out = body
      val wallNs = System.nanoTime() - t0
      ListenerBusBridge.drain(sc)
      val compiles = Compilations.getCount - compiles0
      val compileMs = if (compiles == 0) 0.0 else compiles * Compilations.getSnapshot.getMean
      (out, Sample(wallNs, completed.asScala.toVector.sortBy(_.submitMs), compiles, compileMs))
    } finally {
      recording = false
      completed.clear()
    }
  }

  /** Run `run` untimed until its executor cpu reaches the JIT plateau: two
    * consecutive runs within 10% of each other, at most [[MaxWarmRuns]].
    * Returns the runs made. Lambda- and reader-heavy paths compile across
    * their first 2-7 executions (r14: ANN per-run cpu 0.66 → 0.14 s,
    * bucketed scan 3.7 → 0.95 s), so a timed window that starts before the
    * plateau reports compilation, not the plan. A run that throws ends the
    * warm-up; the timed runs record the error. */
  def warmToPlateau(run: () => Unit): Int = {
    var prev = -1.0
    var runs = 0
    var stable = false
    while (runs < MaxWarmRuns && !stable) {
      runs += 1
      val (ok, s) = measure(try { run(); true } catch { case _: Throwable => false })
      stable = !ok || prev >= 0 && math.abs(s.cpuS - prev) <= 0.1 * math.max(prev, 1e-9)
      prev = s.cpuS
    }
    runs
  }
}

object StageMeter {
  val MaxWarmRuns = 8

  /** Spark's record of codegen compiles: one update, the compile's ms, per
    * generated class compiled in this JVM. */
  private val Compilations = CodegenMetrics.METRIC_COMPILATION_TIME

  /** A meter listening on `spark`'s context from now on. */
  def apply(spark: SparkSession): StageMeter = {
    val meter = new StageMeter(spark.sparkContext)
    spark.sparkContext.addSparkListener(meter)
    meter
  }

  /** One completed stage; times in epoch ms, cpu in ns. */
  final case class Stage(id: Int, name: String, submitMs: Long, completeMs: Long,
      tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, memorySpillBytes: Long, diskSpillBytes: Long)

  /** What one [[StageMeter.measure]] saw: the body's wall time, its stages
    * in submission order, and the generated classes compiled meanwhile.
    * `compiles` is exact; `compileMs` is `compiles` times the mean of
    * Spark's compile-time histogram after the body, an estimate, because
    * the histogram keeps a time-decaying sample rather than a sum. */
  final case class Sample(wallNs: Long, stages: Seq[Stage], compiles: Long,
      compileMs: Double) {
    def wallS: Double = wallNs / 1e9
    def tasks: Int = stages.map(_.tasks).sum
    def runMs: Long = stages.map(_.runMs).sum
    def cpuS: Double = stages.map(_.cpuNs).sum / 1e9
    def gcMs: Long = stages.map(_.gcMs).sum
    def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
    def spillBytes: Long = stages.map(s => s.memorySpillBytes + s.diskSpillBytes).sum

    /** First submission to last completion, in ms. */
    def spanMs: Long =
      if (stages.isEmpty) 0L else stages.map(_.completeMs).max - stages.head.submitMs

    /** The union of the stage intervals, in ms. */
    def coveredMs: Long = stages.foldLeft((0L, Long.MinValue)) {
      case ((covered, cursor), s) =>
        val from = math.max(s.submitMs, cursor)
        (covered + math.max(0L, s.completeMs - from), math.max(cursor, s.completeMs))
    }._1

    /** Time inside the span that no stage covers: scheduling and driver
      * gaps between stages. */
    def deadMs: Long = spanMs - coveredMs
  }
}
