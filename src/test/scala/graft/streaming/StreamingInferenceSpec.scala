package graft.streaming

import graft.SparkSpec
import graft.ml.SeededLstm
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Online LSTM inference: streamed predictions must BIT-EQUAL the batch
  * forward pass on the same frames, including when a trajectory's frames
  * are split across micro-batches (the state store carries the recurrence
  * over the batch boundary). The equalities hold for any weights, so the
  * model is the seeded reference-architecture one.
  */
class StreamingInferenceSpec extends SparkSpec {

  private val model = SeededLstm.model()

  private def mkFrames(traj: Long, n: Int): Seq[StreamingInference.Frame] =
    (1 to n).map { f =>
      StreamingInference.Frame(traj, traj, traj, f.toLong,
        (0 until model.nFeatures).map(k =>
          math.sin(traj * 31 + f * 3 + k) * (if (k < 2) 40.0 else 2.0)))
    }

  test("streamed predictions bit-equal the batch forward pass across " +
    "micro-batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t1 = mkFrames(1L, 9)
    val t2 = mkFrames(2L, 6)

    val input = MemoryStream[StreamingInference.Frame]
    val q = StreamingInference.start(input.toDF(), model, "online_preds",
      java.nio.file.Files.createTempDirectory("si_ckpt").toString)
    // split BOTH trajectories mid-sequence across the batch boundary —
    // frames 6..9 of t1 and 4..6 of t2 must resume from stored state
    input.addData(t1.take(5) ++ t2.take(3): _*)
    q.processAllAvailable()
    input.addData(t1.drop(5) ++ t2.drop(3): _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("online_preds")
      .as[StreamingInference.Scored].collect()
      .map(s => (s.game_id, s.frame_id) -> s.predicted_converge_rate).toMap
    assert(streamed.size === 15)

    Seq(1L -> t1, 2L -> t2).foreach { case (traj, frames) =>
      val batch = model.forward(
        frames.map(_.features.iterator.map(_.toFloat).toArray).toArray)
      frames.zipWithIndex.foreach { case (f, i) =>
        assert(streamed((traj, f.frame_id)) === batch(i).toDouble,
          s"traj $traj frame ${f.frame_id}")
      }
    }
  }

  private def timed(f: StreamingInference.Frame): StreamingInference.TimedFrame =
    StreamingInference.TimedFrame(f.game_id, f.play_id, f.nfl_id, f.frame_id,
      new java.sql.Timestamp(1_700_000_000_000L + f.frame_id * 1000L), f.features)

  test("reorder buffer: frames shuffled ACROSS micro-batches still bit-equal " +
    "the batch forward pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t1 = mkFrames(11L, 9).map(timed)
    val t2 = mkFrames(12L, 6).map(timed)
    // a different trajectory far in the future, only to drive the watermark
    def sentinel(ts: Long) = StreamingInference.TimedFrame(99L, 99L, 99L, 1L,
      new java.sql.Timestamp(ts), (0 until model.nFeatures).map(_.toDouble))

    val input = MemoryStream[StreamingInference.TimedFrame]
    val q = StreamingInference
      .scoreWithReorder(input.toDS(), model, maxDelay = "10 seconds")
      .writeStream.queryName("reordered_preds").outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("sir_ckpt").toString)
      .format("memory").start()

    // deliberately disordered ACROSS batches: frame 7 of t1 lands a batch
    // before frames 4-6; t2 interleaved with its own disorder
    input.addData(Seq(t1(2), t1(0), t1(6), t2(1), t2(0)): _*)
    q.processAllAvailable()
    input.addData(Seq(t1(4), t1(1), t2(3), t1(3), t2(2)): _*)
    q.processAllAvailable()
    input.addData(Seq(t1(8), t1(5), t2(5), t1(7), t2(4)): _*)
    q.processAllAvailable()
    // push the watermark beyond every frame so the buffers fully drain
    input.addData(sentinel(1_700_000_100_000L))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("reordered_preds")
      .as[StreamingInference.Scored].collect()
      .map(s => (s.game_id, s.frame_id) -> s.predicted_converge_rate).toMap
    Seq(11L -> t1, 12L -> t2).foreach { case (traj, frames) =>
      val batch = model.forward(
        frames.map(_.features.iterator.map(_.toFloat).toArray).toArray)
      frames.zipWithIndex.foreach { case (f, i) =>
        assert(streamed((traj, f.frame_id)) === batch(i).toDouble,
          s"traj $traj frame ${f.frame_id}")
      }
    }
    // 9 + 6; the sentinel's own frame stays buffered (nothing ever advances
    // the watermark past it) — correct reorder-window behavior
    assert(streamed.size === 15)
  }

  test("reorder buffer property: random cross-batch arrival orders (3 seeds) " +
    "all bit-equal the batch pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    for (seed <- Seq(7, 42, 1337)) {
      val rnd = new scala.util.Random(seed)
      val trajs = (1 to 3).map(i => (100L * seed + i) -> mkFrames(100L * seed + i,
        3 + rnd.nextInt(6)).map(timed)).toMap
      val all = rnd.shuffle(trajs.values.flatten.toSeq)
      val batches = all.grouped(math.max(1, all.size / 4)).toSeq

      val input = MemoryStream[StreamingInference.TimedFrame]
      val q = StreamingInference
        .scoreWithReorder(input.toDS(), model, maxDelay = "60 seconds")
        .writeStream.queryName(s"prop_preds_$seed").outputMode("update")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"sip_ckpt_$seed").toString)
        .format("memory").start()
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      input.addData(StreamingInference.TimedFrame(999L, 999L, 999L, 1L,
        new java.sql.Timestamp(1_700_000_900_000L),
        (0 until model.nFeatures).map(_.toDouble))) // drain watermark
      q.processAllAvailable()
      q.stop()

      val streamed = spark.table(s"prop_preds_$seed")
        .as[StreamingInference.Scored].collect()
        .map(s => (s.game_id, s.frame_id) -> s.predicted_converge_rate).toMap
      trajs.foreach { case (traj, frames) =>
        val batch = model.forward(
          frames.map(_.features.iterator.map(_.toFloat).toArray).toArray)
        frames.zipWithIndex.foreach { case (f, i) =>
          assert(streamed((traj, f.frame_id)) === batch(i).toDouble,
            s"seed $seed traj $traj frame ${f.frame_id}")
        }
      }
    }
  }

  test("reorder buffer: a frame later than maxDelay is dropped, not scored " +
    "out of order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t = mkFrames(21L, 4).map(timed)
    def sentinel(ts: Long) = StreamingInference.TimedFrame(99L, 99L, 99L, 1L,
      new java.sql.Timestamp(ts), (0 until model.nFeatures).map(_.toDouble))

    val input = MemoryStream[StreamingInference.TimedFrame]
    val q = StreamingInference
      .scoreWithReorder(input.toDS(), model, maxDelay = "5 seconds")
      .writeStream.queryName("late_preds").outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("sil_ckpt").toString)
      .format("memory").start()

    input.addData(Seq(t(0), t(1), t(3)): _*) // frame 3 missing
    q.processAllAvailable()
    input.addData(sentinel(1_700_000_100_000L)) // watermark passes everything
    q.processAllAvailable()
    input.addData(t(2)) // frame 3 arrives beyond maxDelay — slot passed
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("late_preds")
      .as[StreamingInference.Scored].collect()
      .filter(_.game_id === 21L)
      .map(s => s.frame_id -> s.predicted_converge_rate).toMap
    assert(streamed.keySet === Set(1L, 2L, 4L), "late frame 3 must be dropped")
    // scored exactly as the batch pass over the frames that DID make it
    val kept = Seq(t(0), t(1), t(3))
    val batch = model.forward(
      kept.map(_.features.iterator.map(_.toFloat).toArray).toArray)
    kept.zipWithIndex.foreach { case (f, i) =>
      assert(streamed(f.frame_id) === batch(i).toDouble, s"frame ${f.frame_id}")
    }
  }

  test("reorder buffer: event-time idle eviction resets the recurrence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t = mkFrames(31L, 3).map(timed)
    def sentinel(ts: Long) = StreamingInference.TimedFrame(99L, 99L, 99L, 1L,
      new java.sql.Timestamp(ts), (0 until model.nFeatures).map(_.toDouble))
    // frame 3 re-delivered much later with a NEW event time, after the
    // trajectory's state has been evicted (gap 10 s << the 100 s jump)
    val lateRedelivery = t(2).copy(frame_id = 50L,
      ts = new java.sql.Timestamp(1_700_000_200_000L))

    val input = MemoryStream[StreamingInference.TimedFrame]
    val q = StreamingInference
      .scoreWithReorder(input.toDS(), model, maxDelay = "5 seconds",
        idleGapMs = Some(10_000L))
      .writeStream.queryName("evict_preds").outputMode("update")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("sie_ckpt").toString)
      .format("memory").start()

    input.addData(Seq(t(0), t(1), t(2)): _*)
    q.processAllAvailable()
    input.addData(sentinel(1_700_000_150_000L)) // wm far past idle deadline
    q.processAllAvailable()
    input.addData(lateRedelivery)
    q.processAllAvailable()
    input.addData(sentinel(1_700_000_300_000L)) // drain the redelivery
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("evict_preds")
      .as[StreamingInference.Scored].collect()
      .filter(_.game_id === 31L)
      .map(s => s.frame_id -> s.predicted_converge_rate).toMap
    // the redelivered frame scored from FRESH state (eviction happened):
    // equal to a 1-frame forward pass, not a continuation of frames 1-3
    val fresh = model.forward(
      Array(lateRedelivery.features.iterator.map(_.toFloat).toArray))
    assert(streamed(50L) === fresh(0).toDouble,
      "state must have been evicted between the bursts")
  }

  test("malformed frames fail fast with row context, not deep in the matmul") {
    import spark.implicits._
    val bad = Seq(StreamingInference.Frame(1L, 1L, 1L, 1L, Seq(1.0, 2.0))).toDS()
    val ex = intercept[Exception] {
      StreamingInference.score(bad, model).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(m =>
      m.contains("2 features") && m.contains("expects 28")), messages(ex))
  }

  test("masked (all-zero) frames repeat the previous prediction online") {
    val frames = mkFrames(7L, 4)
    val withZero = frames.take(2) ++
      Seq(StreamingInference.Frame(7L, 7L, 7L, 3L,
        Seq.fill(model.nFeatures)(0.0))) ++ frames.drop(3)
    var st = model.initState
    val preds = withZero.map { f =>
      st = model.step(st, f.features.iterator.map(_.toFloat).toArray)
      st.lastPred
    }
    assert(preds(2) === preds(1), "masked frame must repeat")
    assert(preds(3) !== preds(2))
  }
}
