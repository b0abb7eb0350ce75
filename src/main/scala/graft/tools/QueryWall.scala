package graft.tools

import graft.GraftSession
import graft.queries.Registry

/** Dev-only wall-clock A/B instrument for ONE registry query: plateau-warm
  * (two consecutive runs within 10% executor-cpu, the Bench methodology),
  * then N timed `count()` runs; prints every wall and the min. Exists
  * because StageProfile's per-stage listener + INFO churn perturbs walls
  * ~2x, while Bench has no single-query filter — r19 needed a trustworthy
  * before/after wall for changes whose effect is driver-side (job count,
  * plan passes), which executor-cpu alone cannot see.
  *
  *   scripts/run_tool.sh graft.tools.QueryWall <sfDir> <query> [runs]
  */
object QueryWall {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryWall <sfDir> <query> [runs]")
    val dir = args(0)
    val qname = args(1)
    val runs = if (args.length > 2) args(2).toInt else 5
    val spark = GraftSession.builder(GraftSession.cpus, dir).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val q = Registry.all.find(_.name == qname)
      .getOrElse(sys.error(s"no registry query named $qname"))

    val cpuNanos = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            st: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          cpuNanos.addAndGet(st.stageInfo.taskMetrics.executorCpuTime)
          ()
        }
      })
    def cpuDelta(body: => Unit): Double = {
      Thread.sleep(200); val c0 = cpuNanos.get
      body
      Thread.sleep(200); (cpuNanos.get - c0) / 1e9
    }
    // plateau warm: consecutive cpu within 10%, cap 8
    var prev = -1.0
    var i = 0
    var stable = false
    while (i < 8 && !stable) {
      val c = cpuDelta(q.run(spark, dir).count())
      stable = prev >= 0 && math.abs(c - prev) <= 0.1 * math.max(prev, 1e-9)
      prev = c
      i += 1
    }
    val walls = (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      q.run(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[qwall] $qname warmRuns=$i cpuLast=$prev%.3f walls=" +
      walls.map(w => f"$w%.3f").mkString(",") + f" min=${walls.min}%.3f")
    spark.stop()
  }
}
