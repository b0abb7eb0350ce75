package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.GraftSession

/** One benchmark run in one `local[nproc]` driver: set-up, then timed ops
  * for the given seconds, then one result line on stdout (prefixed
  * `PERFBENCH_RESULT `) that `perfbench/run.py` turns into the benchmark's
  * output. With `trace` = 1 the spans are written to `spansPath` at the end.
  * `refBase` names the files that hold the `pipeline` outputs this build
  * first produced for the seed, which later runs must reproduce.
  *
  * {{{
  * perfbench.Main <pipeline|query_mix> <seed> <seconds> <trace 0|1>
  *                <work dir> <spans path> <ref base> [<query_mix table dir>]
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mainEntryMs = System.currentTimeMillis()
    val Seq(workload, seedArg, secondsArg, traceArg, workDir, spansPath, refBase) = args.toSeq.take(7)
    val seed = seedArg.toLong
    val cores = Runtime.getRuntime.availableProcessors
    val (spark, sessionS) = Workload.timed {
      val b = if (workload == "query_mix") GraftSession.builder(cores, args(7))
        else GraftSession.builder(cores)
      b.getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    val w: Workload = workload match {
      case "pipeline" => new PipelineWorkload(spark, seed, workDir, refBase)
      case "query_mix" => new QueryMixWorkload(spark, args(7), workDir, seed)
      case other => sys.error(s"unknown workload $other")
    }
    val setup = ("session" -> sessionS) +: w.setup()
    val trace = Option.when(traceArg == "1")(new Trace(spark))
    val out = w.run(secondsArg.toDouble, trace)
    trace.foreach(t => Files.write(Paths.get(spansPath),
      Json(t.spans.toSeq).getBytes(StandardCharsets.UTF_8)))
    val result = Json(scala.collection.immutable.ListMap(
      "correct" -> (out.failed == 0 && out.checks.isEmpty),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "e2e" -> out.e2e, "named" -> out.named, "layers" -> out.layers,
      "overhead" -> out.overhead, "setup" -> setup.toMap, "inputs" -> out.inputs,
      "op_ms" -> out.opMs, "checks" -> out.checks.take(20), "findings" -> out.findings,
      "main_entry_ms" -> mainEntryMs,
      "versions" -> Map("spark" -> spark.version, "jvm" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString),
      "cores" -> cores))
    spark.stop()
    println(s"PERFBENCH_RESULT $result")
  }
}
