package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BlockStats
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark-wide counters at one instant; differences of two give a span's
  * share. `gcMs` is the JVM's collector time (driver and local executors
  * share one JVM). */
final case class Snap(wallNs: Long, jobs: Long, tasks: Long, failures: Long,
    cpuNs: Long, shuffleBytes: Long, gcMs: Long) {
  def -(o: Snap): Snap = Snap(wallNs - o.wallNs, jobs - o.jobs,
    tasks - o.tasks, failures - o.failures, cpuNs - o.cpuNs,
    shuffleBytes - o.shuffleBytes, gcMs - o.gcMs)
  def +(o: Snap): Snap = Snap(wallNs + o.wallNs, jobs + o.jobs,
    tasks + o.tasks, failures + o.failures, cpuNs + o.cpuNs,
    shuffleBytes + o.shuffleBytes, gcMs + o.gcMs)
  def wallS: Double = wallNs / 1e9
  def cpuS: Double = cpuNs / 1e9
  def shuffleMb: Double = shuffleBytes / 1e6
  def gcS: Double = gcMs / 1e3
}

/** One traced call into a layer: name, start offset and duration (ms from
  * the tracer's creation) and its counter deltas. */
final case class Span(name: String, startMs: Double, durMs: Double,
    attrs: Map[String, Double])

/** Listener-backed tracer for the `--trace 1` run. Counts jobs, tasks,
  * task failures, executor CPU and shuffle-write bytes; spans stay in memory
  * until [[Trace.spans]] is written out at the end of the run. Untraced
  * code runs with the listener detached. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val jobs, tasks, failures, cpuNs, shuffleBytes = new AtomicLong
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  private val listener = new SparkListener {
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (!e.taskInfo.successful) failures.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  def attach(): Unit = sc.addSparkListener(listener)
  def detach(): Unit = { BlockStats.drainListenerBus(sc); sc.removeSparkListener(listener) }

  def snap(): Snap = {
    BlockStats.drainListenerBus(sc)
    Snap(System.nanoTime(), jobs.get, tasks.get, failures.get, cpuNs.get,
      shuffleBytes.get, gcBeans.map(_.getCollectionTime.max(0L)).sum)
  }

  /** Runs `body` as one span and returns its result with the span's deltas. */
  def span[T](name: String)(body: => T): (T, Snap) = {
    val a = snap()
    val r = body
    val d = snap() - a
    spans += Span(name, (a.wallNs - t0) / 1e6, d.wallNs / 1e6, Map(
      "jobs" -> d.jobs.toDouble, "tasks" -> d.tasks.toDouble,
      "task_failures" -> d.failures.toDouble, "cpu_s" -> d.cpuS,
      "shuffle_mb" -> d.shuffleMb, "gc_s" -> d.gcS))
    (r, d)
  }

  /** Records a span measured elsewhere (streaming progress, kernel timing). */
  def record(name: String, startNs: Long, durMs: Double, attrs: Map[String, Double]): Unit =
    spans += Span(name, (startNs - t0) / 1e6, durMs, attrs)
}
