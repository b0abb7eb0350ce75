package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.io.Source

/** Forward-pass semantics pinned by a CROSS-IMPLEMENTATION fixture:
  * scripts/lstm_fixture.py implements the same architecture independently
  * (NumPy float32, its own HDF5 parser) over the same committed weights and
  * wrote src/test/resources/lstm_fixture.csv. Agreement across two unrelated
  * implementations of the published Keras equations (gate order, activations,
  * masking, float32 arithmetic) is the strongest available check: the
  * reference never published the per-frame model INPUTS, only its outputs,
  * so golden end-to-end parity is not derivable from public artifacts.
  *
  * Only the two cases that compare against the fixture's expected outputs
  * need the committed weights; every self-consistency case (flat ≡ step,
  * masking, saturation, the distributed scorer) runs on [[SeededLstm]],
  * fed the fixture's inputs.
  */
class KerasLstmSpec extends SparkSpec {

  private val blind =
    "/root/reference/models/convergence_lstm_model_BlindPhysics_Completed_Pass.h5"
  private lazy val reference = KerasLstm.load(blind)
  private val model = SeededLstm.model()

  private lazy val fixture: Map[Int, Seq[(Array[Float], Float)]] = {
    val src = Source.fromFile("src/test/resources/lstm_fixture.csv")
    try {
      src.getLines().drop(1).map { line =>
        val Array(seqId, t, xs, y) = line.split(",", 4)
        (seqId.toInt, t.toInt, xs.split(";").map(_.toFloat), y.toFloat)
      }.toSeq.groupBy(_._1).map { case (k, rows) =>
        k -> rows.sortBy(_._2).map(r => (r._3, r._4))
      }
    } finally src.close()
  }

  test("forward pass matches the independent NumPy implementation per frame") {
    assert(fixture.size === 5)
    fixture.foreach { case (seqId, rows) =>
      val x = rows.map(_._1).toArray
      val expected = rows.map(_._2)
      val got = reference.forward(x)
      expected.indices.foreach { t =>
        assert(math.abs(got(t) - expected(t)) < 1e-4f,
          s"seq $seqId frame $t: got ${got(t)}, fixture ${expected(t)}")
      }
    }
  }

  test("forwardFlat is bit-identical to forward (incl. masked steps and trailing data)") {
    fixture.foreach { case (seqId, rows) =>
      val seq = rows.map(_._1).toArray
      val nF = seq.head.length
      // elements past seqLen × nF are never read: fill them with junk
      val flat = Array.fill((seq.length + 3) * nF)(7f)
      seq.zipWithIndex.foreach { case (x, t) =>
        System.arraycopy(x, 0, flat, t * nF, nF)
      }
      val viaFlat = model.forwardFlat(flat, seq.length)
      val viaStep = model.forward(seq)
      assert(viaFlat.toSeq === viaStep.toSeq, // exact float equality: same op order
        s"seq $seqId: flat path diverged from step path")
    }
  }

  test("extreme activations saturate to ±1, never NaN (exp-form tanh overflow guard)") {
    // features large enough to push gate pre-activations far past the
    // exp(2x) overflow point (x ≈ 355): Math.tanh returns ±1 there and the
    // exp form must too — one NaN would poison every later prediction
    val extreme = Array.fill(3)(Array.fill(model.nFeatures)(1e9f))
    val preds = model.forward(extreme)
    assert(preds.forall(p => !p.isNaN && !p.isInfinite), preds.toSeq.toString)
    // and the flat path agrees bit-for-bit under the same extremes
    assert(model.forwardFlat(extreme.flatten, 3).toSeq === preds.toSeq)
  }

  test("Masking(0.0): an all-zero timestep carries state — prediction repeats") {
    // fixture seq 3 has x[5] zeroed by construction
    val rows = fixture(3)
    assert(rows(5)._1.forall(_ == 0f))
    val got = model.forward(rows.map(_._1).toArray)
    assert(got(5) === got(4), "masked step must not advance the LSTM state")
    // and removing the masked step entirely leaves later frames unchanged
    val without = model.forward(
      (rows.take(5) ++ rows.drop(6)).map(_._1).toArray)
    rows.indices.drop(6).foreach { t =>
      assert(math.abs(got(t) - without(t - 1)) < 1e-7f, s"frame $t")
    }
  }

  test("a LEADING masked step emits the zero-state bias path, not 0.0") {
    // fixture seq 4 has x[0] zeroed: the carried state is the INITIAL zero
    // state, and Keras' TimeDistributed head still computes over it — the
    // output is dense(relu(dense(0))) (≈ the output bias), never literal 0
    val rows = fixture(4)
    assert(rows.head._1.forall(_ == 0f))
    val got = reference.forward(rows.map(_._1).toArray)
    assert(got(0) !== 0f)
    assert(math.abs(got(0) - rows.head._2) < 1e-6f,
      s"leading masked frame: got ${got(0)}, fixture ${rows.head._2}")
  }

  test("tail zero-padding never changes real-frame predictions") {
    val x = fixture(1).map(_._1).toArray // 7 real frames
    val padded = x ++ Array.fill(18)(new Array[Float](model.nFeatures))
    val a = model.forward(x)
    val b = model.forward(padded)
    x.indices.foreach(t => assert(a(t) === b(t)))
  }

  test("scoreFlat: per-frame rows, 1-based frame_idx, only real frames") {
    import spark.implicits._
    val frames = (1 to 3).flatMap { traj =>
      (1 to (traj * 3)).map { f =>
        (traj.toLong, traj.toLong, traj.toLong, f.toLong,
          (0 until model.nFeatures).map(k => (f * 0.1 + k * 0.01)).toArray)
      }
    }.toDF("game_id", "play_id", "nfl_id", "frame_id", "feats")
    val wide = (0 until model.nFeatures).foldLeft(frames) { (d, k) =>
      d.withColumn(s"f$k", col("feats")(k))
    }.drop("feats")
    val seqs = graft.bdb.Sequences.buildFlat(
      wide, (0 until model.nFeatures).map(k => s"f$k"), maxLen = 25,
      valueType = "float")
    val scored = KerasLstm.scoreFlat(seqs, model,
      Seq("game_id", "play_id", "nfl_id")).cache()
    assert(scored.count() === (3 + 6 + 9))
    val perTraj = scored.groupBy("game_id")
      .agg(count(lit(1)).as("n"), min("frame_idx").as("lo"), max("frame_idx").as("hi"))
      .orderBy("game_id").collect()
    perTraj.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(1) === (i + 1) * 3L)
      assert(r.getLong(2) === 1L && r.getLong(3) === (i + 1) * 3L)
    }
    assert(scored.filter(col("predicted_converge_rate").isNull).count() === 0)
  }

  test("scoreFlat(buildFlat) ≡ per-sequence forwardFlat, bit-equal") {
    import spark.implicits._
    val maxLen = 7
    val feats = (1 to 4).map { traj =>
      traj.toLong -> (1 to (traj * 2 + 1)).map { f =>
        (0 until model.nFeatures).map(k =>
          f * 0.07f + k * 0.013f + traj * 0.3f).toArray
      }
    }
    val frames = feats.flatMap { case (traj, fs) =>
      fs.zipWithIndex.map { case (x, i) => (traj, 0L, 0L, i + 1L, x) }
    }.toDF("game_id", "play_id", "nfl_id", "frame_id", "farr")
    val viaFlat = KerasLstm.scoreFlat(
      graft.bdb.Sequences.buildFlat(frames, Seq("farr"), maxLen = maxLen,
        valueType = "float"), model, Seq("game_id", "play_id", "nfl_id"))
      .orderBy("game_id", "frame_idx").collect()
    // the local pass over each trajectory's LAST maxLen frames
    val expected = feats.flatMap { case (traj, fs) =>
      val kept = fs.takeRight(maxLen)
      model.forwardFlat(kept.flatten.toArray, kept.size).zipWithIndex
        .map { case (p, i) => (traj, i + 1L, p.toDouble) }
    }
    assert(viaFlat.length === expected.length)
    viaFlat.zip(expected).foreach { case (a, (traj, idx, p)) =>
      assert(a.getLong(0) === traj)
      assert(a.getLong(3) === idx)
      assert(java.lang.Double.doubleToLongBits(a.getDouble(4)) ===
        java.lang.Double.doubleToLongBits(p),
        s"prediction diverged at game_id=$traj frame=$idx")
    }
  }
}
