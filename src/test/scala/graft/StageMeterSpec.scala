package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.{col, lit}

/** `StageMeter` attribution is exact the moment `measure` returns: no
  * sleep, no poll, and each call sees its own job only — also when the
  * listener bus lags behind the jobs. */
class StageMeterSpec extends SparkSpec {

  // Holds every stage-completed event on the bus for a while, as a busy
  // driver does. It is registered before the meter, so the meter sees each
  // event only after it: a meter that read without draining the bus would
  // miss a job's stages or charge them to the next sample.
  @volatile private var slowBus = false
  private lazy val meter = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (slowBus) Thread.sleep(200)
    })
    StageMeter(spark)
  }

  private def lagging[T](body: => T): T = {
    meter
    slowBus = true
    try body finally slowBus = false
  }

  /** A 2-stage RDD job (no AQE): `maps` map tasks, `reduces` reduce tasks. */
  private def job(maps: Int, reduces: Int): Long =
    spark.sparkContext.parallelize(1 to 10000, maps).map(i => (i % 97, i.toLong))
      .reduceByKey(_ + _, reduces).count()

  test("a sample holds the job's stages, tasks and shuffle right after measure") {
    val (n, s) = lagging(meter.measure(job(4, 3)))
    assert(n == 97)
    assert(s.stages.size == 2)
    assert(s.tasks == 7)
    assert(s.shuffleWriteBytes > 0)
    assert(s.shuffleReadBytes > 0)
    assert(s.cpuS > 0)
    assert(s.coveredMs <= s.spanMs)
    assert(s.deadMs >= 0 && s.deadMs <= s.wallNs / 1000000L)
  }

  test("back-to-back samples each report exactly their own job") {
    lagging {
      job(3, 3) // unmeasured: its events are still on the bus
      val (_, a) = meter.measure(job(4, 3))
      val (_, b) = meter.measure(job(5, 1))
      assert((a.stages.size, a.tasks) == ((2, 7)))
      assert((b.stages.size, b.tasks) == ((2, 6)))
      assert(a.stages.map(_.id).intersect(b.stages.map(_.id)).isEmpty)
      val (_, none) = meter.measure(())
      assert(none.stages.isEmpty && none.tasks == 0 && none.deadMs == 0)
    }
  }

  test("a body that throws leaves the meter usable") {
    lagging {
      intercept[IllegalStateException] {
        meter.measure { job(4, 3); throw new IllegalStateException("boom") }
      }
      val (_, s) = meter.measure(job(2, 2))
      assert((s.stages.size, s.tasks) == ((2, 4)))
    }
  }

  test("warmToPlateau stops at the plateau, on a throw, or by run 8") {
    assert(meter.warmToPlateau(() => ()) == 2) // 0 cpu twice: a plateau
    assert(meter.warmToPlateau(() => throw new IllegalStateException("boom")) == 1)
    // alternating no job / a job: cpu never repeats within 10%
    var i = 0
    assert(meter.warmToPlateau { () =>
      i += 1
      if (i % 2 == 0) job(2, 2)
    } == StageMeter.MaxWarmRuns)
    assert(i == 8)
  }

  test("a new projection's first run counts its compiles and a rerun counts none") {
    def run() = meter.measure(
      spark.range(4).select((col("id") * lit(7_919_337L)).as("x")).collect())._2
    val first = run()
    assert(first.compiles >= 1)
    assert(first.compileMs >= 0)
    val again = run()
    assert(again.compiles == 0 && again.compileMs == 0)
  }
}
