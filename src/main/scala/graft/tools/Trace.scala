package graft.tools

import graft.{GraftSession, StageMeter}
import graft.Checkpoints.scoped
import graft.queries.Registry
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Where one registry query's time goes. Plateau-warms the query, then runs
  * it `runs` times (default 3) and prints per run the wall, stages, tasks,
  * stage-covered vs dead time, executor run/cpu/GC, shuffle, spill and
  * codegen compiles (count and estimated ms). After
  * the last run it prints that run's per-stage table, its planning phases
  * (analysis, optimization, planning) and its final post-AQE plan.
  *
  * Every run executes the query frame's OWN QueryExecution and consumes
  * every row of every partition. A Dataset action would not: `count()`
  * runs a different, column-pruned plan over `groupBy().count()`, and even
  * `Dataset.foreachPartition` runs a second QueryExecution (over a
  * deserializing node), so the frame's AQE plan would stay the initial one
  * and the printed plan would not be the plan that was timed.
  * Runs on `GraftSession.cpus` cores (`SPARK_GRAFT_CPUS`).
  *
  *   scripts/run_tool.sh graft.tools.Trace <sfDir> <query> [runs]
  */
object Trace {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.tools.Trace <sfDir> <query> [runs]")
      sys.exit(2)
    }
    val dir = args(0)
    val q = Registry.all.find(_.name == args(1))
      .getOrElse(sys.error(s"no registry query named ${args(1)}"))
    val runs = if (args.length > 2) args(2).toInt else 3
    require(runs >= 1, s"runs must be at least 1, got $runs")
    val spark = GraftSession.builder(GraftSession.cpus, dir).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val meter = StageMeter(spark)
    def run(): QueryExecution = scoped {
      val qe = q.run(spark, dir).queryExecution
      SQLExecution.withNewExecutionId(qe, Some("trace")) {
        qe.toRdd.foreachPartition(_.foreach(_ => ()))
      }
      qe
    }
    def mb(bytes: Long): Double = bytes / 1048576.0

    val warm = meter.warmToPlateau(() => run())
    println(s"[trace] ${q.name}: $warm warm runs, ${GraftSession.cpus} cores")
    val traced = (1 to runs).map { r =>
      val (qe, s) = meter.measure(run())
      println(f"[trace] run $r: wall ${s.wallS}%.3f s, ${s.stages.size} stages, " +
        f"${s.tasks} tasks; stage-covered ${s.coveredMs / 1e3}%.3f s, dead " +
        f"${s.deadMs / 1e3}%.3f s, outside stages ${s.wallS - s.spanMs / 1e3}%.3f s; " +
        f"executor run ${s.runMs / 1e3}%.3f s, cpu ${s.cpuS}%.3f s, " +
        f"GC ${s.gcMs / 1e3}%.3f s; shuffle write ${mb(s.shuffleWriteBytes)}%.1f MiB, " +
        f"read ${mb(s.shuffleReadBytes)}%.1f MiB; spill ${mb(s.spillBytes)}%.1f MiB; " +
        f"compiles ${s.compiles} (${s.compileMs}%.0f ms)")
      (qe, s)
    }

    val (qe, last) = traced.last
    println("[trace] stage  span_ms  gap_before_ms  tasks  run_ms  cpu_ms  gc_ms  " +
      "shuf_wr_mb  shuf_rd_mb  spill_mb  name")
    var prevEnd = last.stages.headOption.fold(0L)(_.submitMs)
    last.stages.foreach { st =>
      val gap = math.max(0L, st.submitMs - prevEnd)
      prevEnd = math.max(prevEnd, st.completeMs)
      println(f"[trace] ${st.id}%5d  ${st.completeMs - st.submitMs}%7d  $gap%13d  " +
        f"${st.tasks}%5d  ${st.runMs}%6d  ${st.cpuNs / 1000000L}%6d  ${st.gcMs}%5d  " +
        f"${mb(st.shuffleWriteBytes)}%10.1f  ${mb(st.shuffleReadBytes)}%10.1f  " +
        f"${mb(st.memorySpillBytes + st.diskSpillBytes)}%8.1f  ${st.name.take(70)}")
    }
    val phases = qe.tracker.phases
    println("[trace] planning: " + Seq(QueryPlanningTracker.ANALYSIS,
      QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING).map { p =>
      s"$p ${phases.get(p).fold(0L)(_.durationMs)} ms"
    }.mkString(", "))
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    println("[trace] final plan:")
    println(plan.toString.linesIterator.map(_.take(110)).mkString("\n"))
    spark.stop()
  }
}
