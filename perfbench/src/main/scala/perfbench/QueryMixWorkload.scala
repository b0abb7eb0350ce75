package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `query_mix`: the interactive surface. One client issues the registry
  * queries of [[QueryMix]] one at a time; each op is one query, and a pass
  * runs every query once, in an order drawn from the seed. Traced runs
  * interleave untraced and traced passes (U T T U, repeated), so the
  * tracing overhead compares passes run equally warm.
  *
  * Traced runs then also run the live-scoring stream ([[LiveScoring]]),
  * untraced and traced ticks alternating, for the streaming and LSTM
  * per-layer metrics: live scoring has no listed workload of its own,
  * because its runs do not fit the benchmark's time budget beside
  * `pipeline` and `query_mix`. */
final class QueryMixWorkload(spark: SparkSession, dataDir: String, workDir: String, seed: Long)
    extends Workload {
  import QueryMixWorkload._

  private val mix = new QueryMix(spark, dataDir)
  /** The result frames of the latest pass, kept reachable so `storage_mb`
    * counts what they hold (broadcasts, pinned blocks), not the garbage of
    * earlier passes. */
  private var lastPass: Seq[DataFrame] = Nil

  def setup(): Seq[(String, Double)] = mix.setup()

  def run(seconds: Double, trace: Option[Trace]): Outcome = {
    val acc = new QueryMix.LayerAcc
    val passes = mutable.ArrayBuffer.empty[Pass]
    var counters = Snap(0, 0, 0, 0, 0, 0, 0)
    val start = System.nanoTime()
    var i = 0
    do {
      val t = trace.filter(_ => i % 4 == 1 || i % 4 == 2)
      t.foreach(_.attach())
      val before = t.map(_.snap())
      val order = new scala.util.Random(seed * 1000003L + i).shuffle(mix.queries)
      lastPass = Nil
      val (execs, passS) = Workload.timed(order.map(q => t.fold(mix.untraced(q))(mix.traced(_, q, acc))))
      lastPass = execs.flatMap(_.frame)
      t.foreach { tr =>
        counters = counters + (tr.snap() - before.get)
        tr.detach()
      }
      passes += Pass(t.isDefined, execs.map(_.copy(frame = None)), passS)
      i += 1
    } while ((System.nanoTime() - start) / 1e9 < seconds || (trace.isDefined && i % 4 != 0))
    val storage = Workload.heldStorageMb()

    val (tracedPasses, untracedPasses) = passes.toSeq.partition(_.traced)
    val queryS = untracedPasses.flatMap(_.execs).map(_.seconds)
    val e2e = Workload.e2e(queryS.map(_ * 1e3), untracedPasses.map(_.seconds), storage)
    val named = Map(
      "query_p50_s" -> M(Stats.median(queryS), "s"),
      "query_p90_s" -> M(Stats.quantile(queryS, 0.9), "s"),
      "mix_pass_s" -> e2e("pass_s"),
      "storage_mb" -> M(storage, "MB")) ++ Workload.heldStorageByKind()
    val queries = Outcome(
      attempted = passes.map(_.execs.size).sum,
      failed = passes.map(_.execs.count(_.problem.nonEmpty)).sum,
      e2e = e2e, named = named, layers = Map.empty, overhead = Map.empty,
      inputs = Map("queries" -> mix.queries.map(_.name), "query_cold_s" -> mix.coldS,
        "lineitem_rows" -> spark.read.parquet(s"$dataDir/lineitem.parquet").count(),
        "passes" -> passes.size),
      opMs = passes.toSeq.flatMap(_.execs).map(_.seconds * 1e3),
      checks = passes.toSeq.flatMap(_.execs).flatMap(_.problem))
    trace.fold(queries) { t =>
      val n = tracedPasses.size.toDouble
      val tracedE2e = Workload.e2e(tracedPasses.flatMap(_.execs).map(_.seconds * 1e3),
        tracedPasses.map(_.seconds), storage)
      val live = liveScoring(t)
      queries.copy(
        attempted = queries.attempted + live.attempted,
        failed = queries.failed + live.failed,
        named = named ++ live.named,
        layers = acc.metrics(n) ++ live.layers ++ Map(
          "spark.shuffle_mb" -> M(counters.shuffleMb / n, "MB"),
          "spark.gc_s" -> M(counters.gcS / n, "s"),
          "spark.task_failures" -> M(counters.failures.toDouble, "count")),
        overhead = Workload.overhead(tracedE2e, e2e) ++ live.overhead,
        inputs = queries.inputs ++ live.inputs,
        checks = queries.checks ++ live.checks,
        findings = live.findings)
    }
  }

  /** The traced run's live-scoring segment: set-up, then untraced and
    * traced ticks alternating for [[LiveSeconds]]. */
  private def liveScoring(t: Trace): Outcome = {
    val live = new LiveScoring(spark, workDir, seed)
    val setupS = live.setup()
    live.trackStates()
    val untraced, traced = mutable.ArrayBuffer.empty[(Int, Double)]
    val start = System.nanoTime()
    do {
      untraced += (live.frameNo + 1 -> live.tick())
      t.attach()
      traced += (live.frameNo + 1 -> live.tracedTick(t))
      t.detach()
    } while ((System.nanoTime() - start) / 1e9 < LiveSeconds)
    val failed = live.finish()
    val tickMs = untraced.map(_._2).toSeq
    def tickE2e(ms: Seq[Double]) = Map("tick_p50_ms" -> M(Stats.median(ms), "ms"),
      "tick_p90_ms" -> M(Stats.quantile(ms, 0.9), "ms"))
    val ops = (untraced ++ traced).toSeq
    Outcome(
      attempted = ops.size,
      failed = ops.count { case (f, _) => failed(f) },
      e2e = Map.empty, named = tickE2e(tickMs), layers = live.layers,
      overhead = Workload.overhead(tickE2e(traced.map(_._2).toSeq), tickE2e(tickMs)),
      inputs = Map("trajectories" -> LiveScoring.Trajectories, "features" -> LiveScoring.Features,
        "warmup_ticks" -> LiveScoring.WarmupTicks, "ticks" -> live.frameNo,
        "live_setup_s" -> setupS.toMap),
      opMs = tickMs,
      checks = (1 to live.frameNo).filter(failed).map(f =>
        s"tick $f: streamed predictions differ from Model.forward on sampled trajectories"),
      findings = Option.when(live.coldKernelDrift)("LSTM kernel: the first Model.forward in this " +
        "driver differed bit-wise from the same call once the JIT had compiled VecKernel.gates").toSeq)
  }
}

object QueryMixWorkload {
  /** Seconds of alternating untraced and traced ticks in a traced run. */
  val LiveSeconds = 8.0

  final case class Pass(traced: Boolean, execs: Seq[QueryMix.Exec], seconds: Double)
}
