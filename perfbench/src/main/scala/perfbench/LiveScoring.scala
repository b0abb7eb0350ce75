package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.ml.KerasLstm
import graft.streaming.StreamingInference
import graft.streaming.StreamingInference.Frame
import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** Online per-frame LSTM scoring, run in traced `query_mix` runs.
  * `StreamingInference` reads a `MemoryStream` of live trajectories; each
  * tick appends one frame of seeded features per trajectory and waits for
  * `processAllAvailable`. The model has the
  * reference architecture (28 → LSTM64 → LSTM32 → Dense16 → Dense1) with
  * seeded weights. */
final class LiveScoring(spark: SparkSession, workDir: String, seed: Long) {
  import LiveScoring._

  private var model: KerasLstm.Model = _
  private var input: MemoryStream[Frame] = _
  private var query: StreamingQuery = _
  /** Frames appended so far; tick `n` appends frame `n`. */
  var frameNo = 0
  private val checkpoint = new java.io.File(workDir, s"live-ckpt-$seed-${System.nanoTime()}")
  /** Driver-side recurrent state after `frameNo` frames, kept only in
    * traced runs, for timing `Model.step` on each traced tick. */
  private var states: Option[Array[KerasLstm.StepState]] = None
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def setup(): Seq[(String, Double)] = {
    val (_, inputs) = Workload.timed { model = seededModel(seed) }
    val (_, kernel) = Workload.timed(warmKernel())
    val (_, start) = Workload.timed {
      implicit val sqlCtx: SQLContext = spark.sqlContext
      import spark.implicits._
      input = MemoryStream[Frame]
      query = StreamingInference.start(input.toDF(), model, QueryName, checkpoint.getPath)
    }
    val (_, warm) = Workload.timed((1 to WarmupTicks).foreach(_ => runTick()))
    Seq("model" -> inputs, "kernel_warmup" -> kernel, "stream_start" -> start, "tick_warmup" -> warm)
  }

  /** Whether the kernel's first, cold `Model.forward` differed bit-wise from
    * the same call once warm; see [[warmKernel]]. */
  var coldKernelDrift = false

  /** Runs the LSTM kernel to steady state before the stream starts. The
    * SIMD gate phase (`VecKernel.gates`) computes exp/tanh with the Vector
    * API's fallback until the JIT compiles it to the vector-math stubs,
    * and the two differ in low-order bits: predictions made in a cold
    * driver are not bit-equal to the same calls made warm. Streamed
    * predictions are checked bit-for-bit against `Model.forward`, so every
    * one of them must come from the steady-state kernel; the cold/warm
    * difference itself is recorded as a finding of every run. */
  private def warmKernel(): Unit = {
    val probe = Array.tabulate(40)(f => features(seed + 1, 0, f + 1).map(_.toFloat))
    val cold = model.forward(probe)
    (1 to 600).foreach(i => model.forward(Array.tabulate(40)(f => features(seed + 2, i, f + 1).map(_.toFloat))))
    coldKernelDrift = !model.forward(probe).sameElements(cold)
  }

  /** Appends the next tick and waits for it to be scored; returns ms. */
  private def runTick(): Double = {
    frameNo += 1
    val frames = Keys.indices.map { i =>
      val (g, p, n) = Keys(i)
      Frame(g, p, n, frameNo.toLong, features(seed, i, frameNo).toSeq)
    }
    val t0 = System.nanoTime()
    input.addData(frames)
    query.processAllAvailable()
    (System.nanoTime() - t0) / 1e6
  }

  /** From now on keep the driver-side recurrent state (traced runs). */
  def trackStates(): Unit =
    states = Some((1 to frameNo).foldLeft(Array.fill(Keys.length)(model.initState))(advance))

  /** One untraced tick; returns ms. */
  def tick(): Double = {
    val ms = runTick()
    states = states.map(advance(_, frameNo))
    ms
  }

  /** One tick with the tracer's listener attached: its progress is read
    * and the kernel timed on the driver afterwards, outside the tick's
    * time. Returns ms. */
  def tracedTick(t: Trace): Double = {
    def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val lastBatch = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
    val a = t.snap()
    val startNs = System.nanoTime()
    val ms = runTick()
    val d = t.snap() - a
    val progress = query.recentProgress.filter(_.batchId > lastBatch)
    def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    for ((metric, key) <- DurationKeys) sample(metric, dur(key))
    val ops = progress.flatMap(_.stateOperators.headOption)
    ops.lastOption.foreach { s =>
      sample("streaming.state_rows", s.numRowsTotal.toDouble)
      sample("streaming.state_mb", s.memoryUsedBytes / 1e6)
    }
    sample("streaming.state_update_ms", ops.map(_.allUpdatesTimeMs.toDouble).sum)
    sample("streaming.state_commit_ms", ops.map(_.commitTimeMs.toDouble).sum)
    sample("spark.jobs_per_tick", d.jobs.toDouble)
    sample("spark.tasks_per_tick", d.tasks.toDouble)
    val xs = Array.tabulate(Keys.length)(i => features(seed, i, frameNo).map(_.toFloat))
    val prev = states.getOrElse(sys.error("tracedTick needs trackStates() first"))
    val t0 = System.nanoTime()
    val next = Array.tabulate(prev.length)(i => model.step(prev(i), xs(i)))
    sample("ml.lstm.step_us", (System.nanoTime() - t0) / 1e3 / Keys.length)
    states = Some(next)
    t.record("streaming.tick", startNs, ms, Map("jobs" -> d.jobs.toDouble,
      "tasks" -> d.tasks.toDouble, "batches" -> progress.length.toDouble))
    ms
  }

  /** Per-layer medians over the traced ticks. */
  def layers: Map[String, M] =
    samples.map { case (k, v) => k -> M(Stats.median(v.toSeq), LayerUnits(k)) }.toMap

  /** Stops the stream; returns the frames whose streamed prediction, for
    * any sampled trajectory, is missing or not bit-equal to
    * `Model.forward` over the same frames. */
  def finish(): Set[Int] = {
    query.stop()
    val streamed = spark.table(QueryName)
      .filter(col("nfl_id").isin(Sampled.map(i => Keys(i)._3): _*))
      .collect()
      .map(r => (r.getAs[Long]("nfl_id"), r.getAs[Long]("frame_id").toInt) -> r.getAs[Double]("predicted_converge_rate"))
      .toMap
    val failed = Sampled.flatMap { i =>
      val expected = model.forward(Array.tabulate(frameNo)(f => features(seed, i, f + 1).map(_.toFloat)))
      (1 to frameNo).filterNot(f => streamed.get((Keys(i)._3, f)).contains(expected(f - 1).toDouble))
    }.toSet
    val paths = java.nio.file.Files.walk(checkpoint.toPath)
    try paths.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
    finally paths.close()
    failed
  }

  private def advance(states: Array[KerasLstm.StepState], f: Int): Array[KerasLstm.StepState] =
    Array.tabulate(states.length)(i => model.step(states(i), features(seed, i, f).map(_.toFloat)))
}

object LiveScoring {
  val Trajectories = 1400
  val Features = 28
  /** Untimed ticks once the stream runs: the first ticks take about twice
    * the steady tick time while the JIT compiles the streaming path. */
  val WarmupTicks = 15
  val QueryName = "perfbench_live_scores"

  /** (game_id, play_id, nfl_id): 100 plays of 14 tracked players. */
  val Keys: IndexedSeq[(Long, Long, Long)] = (0 until Trajectories).map { i =>
    val play = i / 14
    ((play / 10 + 1).toLong, (play % 10 + 1).toLong, (100000 + i).toLong)
  }
  val Sampled: Seq[Int] = (0 until Trajectories by 97)

  val DurationKeys: Seq[(String, String)] = Seq(
    "streaming.trigger_ms" -> "triggerExecution", "streaming.planning_ms" -> "queryPlanning",
    "streaming.add_batch_ms" -> "addBatch", "streaming.latest_offset_ms" -> "latestOffset",
    "streaming.wal_commit_ms" -> "walCommit", "streaming.commit_ms" -> "commitOffsets")

  val LayerUnits: Map[String, String] = DurationKeys.map(_._1 -> "ms").toMap ++ Map(
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB",
    "streaming.state_update_ms" -> "ms", "streaming.state_commit_ms" -> "ms",
    "spark.jobs_per_tick" -> "count", "spark.tasks_per_tick" -> "count",
    "ml.lstm.step_us" -> "us")

  /** Features of trajectory `i` at frame `f`: float-exact values in
    * [-1, 1], drawn from the seed. */
  def features(seed: Long, i: Int, f: Int): Array[Double] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (i.toLong << 32 | f))
    Array.fill(Features)((r.nextDouble() * 2 - 1).toFloat.toDouble)
  }

  /** Reference architecture with weights uniform in ±1/sqrt(fan-in). */
  def seededModel(seed: Long): KerasLstm.Model = {
    val r = new SplittableRandom(seed)
    def w(n: Int, fanIn: Int): Array[Float] = {
      val a = 1.0 / math.sqrt(fanIn.toDouble)
      Array.fill(n)(((r.nextDouble() * 2 - 1) * a).toFloat)
    }
    def cell(nIn: Int, u: Int) = KerasLstm.Cell(w(nIn * 4 * u, nIn), w(u * 4 * u, u), w(4 * u, u), nIn, u)
    KerasLstm.Model(cell(Features, 64), cell(64, 32),
      KerasLstm.Dense(w(32 * 16, 32), w(16, 32), 32, 16), KerasLstm.Dense(w(16, 16), w(1, 16), 16, 1))
  }
}
