package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Stage-level wall profile for one registry query — where does wall time
  * go when executor CPU is a fraction of it? Prints, per timed run, every
  * stage's (submit→complete) span, task count, executor run/cpu time, and
  * the DEAD time no stage covered (scheduling + driver planning gaps).
  *
  * Built for the `e_pagerank_types` investigation (round-12 VERDICT item):
  * an iteration of ~10 tiny stages × 8 rounds whose wall moved across
  * rounds while cpu_s and shuffle bytes stayed flat — the profile separates
  * "stages got slower" from "the gaps between stages got longer", which is
  * the box-vs-plan question.
  *
  * Usage: runMain graft.tools.StageProfile <sfDir> [queryName] [runs]
  */
object StageProfile {

  private final case class St(id: Int, name: String, submit: Long,
      complete: Long, runMs: Long, cpuMs: Long, gcMs: Long, tasks: Int,
      shufWr: Long, shufRd: Long)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val qname = if (args.length > 1) args(1) else "e_pagerank_types"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus, dir).getOrCreate()
    val q = graft.queries.Registry.all.find(_.name == qname)
      .getOrElse(sys.error(s"no registry query named $qname"))
    // SPARK_GRAFT_SWEEP_ACTION=noop: consume every output column (the r15
    // scaling audit's action) instead of count(), which column-prunes
    // map-only work
    val consume: org.apache.spark.sql.DataFrame => Unit =
      if (sys.env.get("SPARK_GRAFT_SWEEP_ACTION").contains("noop"))
        df => df.write.mode("overwrite").format("noop").save()
      else df => { df.count(); () }

    consume(q.run(spark, dir)) // warm: staging, codegen, JIT

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        stages.add(St(si.stageId,
          si.name.linesIterator.next().take(70),
          si.submissionTime.getOrElse(-1L), si.completionTime.getOrElse(-1L),
          si.taskMetrics.executorRunTime,
          si.taskMetrics.executorCpuTime / 1000000L,
          si.taskMetrics.jvmGCTime, si.numTasks,
          si.taskMetrics.shuffleWriteMetrics.bytesWritten,
          si.taskMetrics.shuffleReadMetrics.totalBytesRead))
      }
    }

    (1 to runs).foreach { r =>
      stages.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      consume(q.run(spark, dir))
      val wallMs = (System.nanoTime() - t0) / 1e6
      Thread.sleep(500) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val ss = stages.asScala.toSeq.filter(_.submit > 0).sortBy(_.submit)
      // union of stage intervals -> covered wall; the rest is dead time
      var covered = 0L
      var cursor = 0L
      ss.foreach { s =>
        val a = math.max(s.submit, cursor)
        if (s.complete > a) { covered += s.complete - a; cursor = s.complete }
        else cursor = math.max(cursor, s.complete)
      }
      val first = ss.headOption.map(_.submit).getOrElse(0L)
      val last = ss.lastOption.map(_.complete).getOrElse(0L)
      val spanMs = last - first
      val deadMs = spanMs - covered
      println(f"[profile] run $r: wall ${wallMs / 1000}%.3f s, " +
        s"${ss.size} stages, ${ss.map(_.tasks).sum} tasks; " +
        f"stage-covered ${covered / 1000.0}%.3f s, DEAD (gaps) " +
        f"${deadMs / 1000.0}%.3f s, pre/post-stage " +
        f"${(wallMs - spanMs) / 1000.0}%.3f s; " +
        f"executorRun ${ss.map(_.runMs).sum / 1000.0}%.3f s, " +
        f"executorCpu ${ss.map(_.cpuMs).sum / 1000.0}%.3f s, " +
        f"jvmGC ${ss.map(_.gcMs).sum / 1000.0}%.3f s, " +
        f"shufWrite ${ss.map(_.shufWr).sum / 1048576.0}%.1f MiB")
      if (r == runs) {
        println("[profile] stageId  span_ms  gapBefore_ms  tasks  runMs  cpuMs  gcMs  shufWr_mb  shufRd_mb  name")
        var prevEnd = first
        ss.foreach { s =>
          val gap = math.max(0L, s.submit - prevEnd)
          prevEnd = math.max(prevEnd, s.complete)
          println(f"[profile] ${s.id}%7d  ${s.complete - s.submit}%7d  " +
            f"$gap%12d  ${s.tasks}%5d  ${s.runMs}%5d  ${s.cpuMs}%5d  " +
            f"${s.gcMs}%5d  " +
            f"${s.shufWr / 1048576.0}%9.1f  ${s.shufRd / 1048576.0}%9.1f  ${s.name}")
        }
      }
    }
    spark.stop()
  }
}
