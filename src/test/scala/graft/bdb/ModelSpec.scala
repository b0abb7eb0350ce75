package graft.bdb

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ModelSpec extends SparkSpec {

  test("StubModel joins predictions and computes residual") {
    import spark.implicits._
    val frames = Seq((1L, 1L, 1L, 0.5), (1L, 1L, 2L, 0.3))
      .toDF("game_id", "play_id", "frame_id", "converge_rate")
    val preds = Seq((1L, 1L, 1L, 0.4), (1L, 1L, 2L, 0.35))
      .toDF("game_id", "play_id", "frame_id", "predicted_converge_rate")
    val out = new StubModel(preds).withResidual(frames).orderBy("frame_id")
      .select("residual").as[Double].collect()
    assert(math.abs(out(0) - 0.1) < 1e-12)
    assert(math.abs(out(1) + 0.05) < 1e-12)
  }

  test("GbtModel learns a deterministic function of the features") {
    import spark.implicits._
    val train = (1 to 200).map { i =>
      val x = i % 10
      (i.toLong, 1L, i.toLong, x.toDouble, x.toDouble) // label == feature
    }.toDF("game_id", "play_id", "frame_id", "feat", "converge_rate")
    val model = GbtModel.train(train, Seq("feat"), maxIter = 10, maxDepth = 4)
    val metrics = ModelEval.regressionMetrics(model.withResidual(train)).head()
    assert(metrics.getAs[Double]("rmse") < 0.2)
    assert(metrics.getAs[Double]("r2") > 0.95)
  }

  test("GBT acceptance: held-out R² on synthetic convergence data (vs reference LSTM 0.9466)") {
    // The reference accepts its LSTM at R² = 0.9466 (BDB_2026.ipynb cell
    // 102). The engine's distributed in-engine trainer is the GBT baseline
    // (no sequence memory — the documented tradeoff); this pins its number
    // on the same synthetic convergence data the pipeline specs use, with
    // the same leakage-safe game split the pipeline itself applies.
    // Deterministic: Synth is hash-generated, GBT seed fixed.
    val t = Synth.tracking(spark, nGames = 8, playsPerGame = 25)
    val metrics = Pipeline.run(t, Synth.output(t), Synth.supplementary(t))
      .modelMetrics.head()
    val r2 = metrics.getAs[Double]("r2")
    info(s"held-out r2 = $r2, rmse = ${metrics.getAs[Double]("rmse")}")
    // measured 2026-08-12: r2 = 0.785 held-out on per-frame features alone;
    // measured 2026-08-13: r2 = 0.912 with SequenceFeatures lags/EWMA/rolling
    // windows (the relational stand-in for the LSTM's memory) + the
    // regularized 100×3 config (recorded in README). Most of the remaining
    // gap to 1.0 is the label's forced last-frame zero (lead(dist) is null →
    // 0.0), which no causal model can see coming. The band allows
    // Spark/MLlib patch-level drift but fails on a broken feature, a leaky
    // split, or a regression back to memory-free quality.
    assert(r2 > 0.88 && r2 <= 1.0,
      s"GBT held-out R² drifted out of the accepted band: $r2")
    assert(metrics.getAs[Double]("rmse") < 0.2, s"rmse ${metrics.getAs[Double]("rmse")}")
    // Excluding the forced last-frame zero (a label artifact no causal
    // model can predict; the reference LSTM's label zeroes the learnable
    // FIRST frame instead): measured 0.939 round 7 vs the LSTM's 0.9466 —
    // the honest like-for-like comparison. Pinned per round-6 VERDICT #8.
    val r2c = metrics.getAs[Double]("r2_excl_final")
    info(s"held-out r2 excluding final frames = $r2c")
    assert(r2c > 0.93 && r2c <= 1.0,
      s"causal-frames R² drifted out of the accepted band: $r2c")
    assert(r2c > r2, "excluding the unpredictable frame must not hurt R²")
  }

  test("LSTM acceptance: in-engine distributed training beats R² 0.93 " +
      "(vs reference LSTM 0.9466)") {
    // r17 verdict #5's done criterion: the engine TRAINS the reference's
    // convergence LSTM itself (LstmTrainer synchronous data-parallel BPTT)
    // and the held-out causal-frames R² on the synthetic fixture beats
    // 0.93. Same leakage-safe game split and the same feature table the
    // GBT acceptance uses (per-frame kinematics + causal SequenceFeatures
    // — the reference feeds ITS LSTM 28 engineered features too, cell 88).
    // Deterministic: Synth is hash-generated, seeds fixed, dropout masks
    // are a pure function of (seed, sequence, epoch), the gradient sum is
    // partitioning-independent. Measured 2026-08-16 (one training run, 300
    // epochs × 6 batches): all-frames 0.9291, causal 0.9435.
    val t = Synth.tracking(spark, nGames = 8, playsPerGame = 25)
    val (_, labeled0) = Pipeline.labeledFeatures(t, Synth.supplementary(t))
    val labeled = SequenceFeatures.add(labeled0).cache()
    val features = Seq("dist_to_ball", "heading_align_cos", "vx", "vy", "s",
      "defender_separation", "time_since_start") ++ SequenceFeatures.cols
    val (train, valid) = ModelEval.splitByGame(labeled, 0.2)
    val model = TrainedLstmModel.train(train, Some(valid), features,
      epochs = 300, batchesPerEpoch = 6)
    val scoredValid = model.withResidual(valid)
    // The label forces converge_rate = 0.0 on each trajectory's FINAL
    // frame (lead(dist) null — BDB_2026.ipynb cell 80): no causal model
    // can anticipate it, so acceptance reads the causal-frames R² (the
    // GBT acceptance above documents the same penalty).
    val lastW = org.apache.spark.sql.expressions.Window
      .partitionBy(Schemas.trajectoryKeys.map(col): _*)
    val causal = scoredValid
      .withColumn("__last", col("frame_id") === max(col("frame_id")).over(lastW))
      .filter(!col("__last")).drop("__last")
    val r2all = ModelEval.regressionMetrics(scoredValid).head()
      .getAs[Double]("r2")
    val r2c = ModelEval.regressionMetrics(causal).head().getAs[Double]("r2")
    info(s"held-out r2 = $r2all, causal-frames r2 = $r2c")
    labeled.unpersist()
    assert(r2c > 0.93 && r2c <= 1.0,
      s"trained-LSTM causal-frames R² below acceptance: $r2c")
    assert(r2all > 0.90 && r2all <= 1.0,
      s"trained-LSTM all-frames R² drifted out of band: $r2all")
  }

  test("LstmScoring joins LSTM predictions back onto frames positionally") {
    import spark.implicits._
    val model = graft.ml.SeededLstm.model()
    val feats = (0 until model.nFeatures).map(k => s"f$k")
    // 30 frames: the first 5 fall off the maxLen=25 tail window → null pred
    val frames0 = (1 to 30).map { f =>
      (7L, 7L, 7L, f.toLong, f * 0.01)
    }.toDF("game_id", "play_id", "nfl_id", "frame_id", "base")
    val frames = feats.zipWithIndex.foldLeft(frames0) { case (d, (c, k)) =>
      d.withColumn(c, col("base") + k * 0.001)
    }.drop("base")
    val out = LstmScoring.scoreAndAttach(frames, frames, feats, model, 25)
      .orderBy("frame_id").collect()
    assert(out.length === 30)
    val pred = out.map(r => Option(r.getAs[java.lang.Double]("predicted_converge_rate")))
    assert(pred.take(5).forall(_.isEmpty), "truncated head frames get no prediction")
    // frames 6..30 carry the forward pass over exactly those frames, in order
    val kept = out.drop(5).map(r => feats.map(r.getAs[Double](_).toFloat).toArray)
    val expected = model.forward(kept)
    pred.drop(5).zip(expected).zipWithIndex.foreach { case ((p, e), i) =>
      assert(p.map(_.doubleValue) === Some(e.toDouble), s"frame ${i + 6}")
    }
  }

  test("splitByGame is disjoint and exhaustive on game_id") {
    import spark.implicits._
    val df = (1 to 500).map(g => (g.toLong, g * 2.0)).toDF("game_id", "v")
    val (train, valid) = ModelEval.splitByGame(df, 0.2)
    assert(train.count() + valid.count() === 500)
    assert(train.select("game_id").intersect(valid.select("game_id")).count() === 0)
    assert(valid.count() > 25 && valid.count() < 175) // ~20% ± slack
  }

  test("splitByGame rounds the fraction and rejects one outside [0, 1]") {
    import spark.implicits._
    val df = (1 to 500).map(g => (g.toLong, g * 2.0)).toDF("game_id", "v")
    val bucket = pmod(hash(col("game_id")), lit(100))
    // 0.29 * 100 is 28.999…: truncated, bucket 28 would fall to the train side
    assert(df.filter(bucket === 28).count() > 0, "no game lands in bucket 28")
    val expected = df.filter(bucket < 29).select("game_id").as[Long].collect().toSet
    val (_, valid) = ModelEval.splitByGame(df, 0.29)
    assert(valid.select("game_id").as[Long].collect().toSet === expected)
    Seq(-0.1, 1.5, Double.NaN).foreach { v =>
      val e = intercept[IllegalArgumentException](ModelEval.splitByGame(df, v))
      assert(e.getMessage.contains(v.toString))
    }
  }

  test("regressionMetrics: perfect prediction → rmse 0, r2 1") {
    import spark.implicits._
    val df = Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0))
      .toDF("converge_rate", "predicted_converge_rate")
    val m = ModelEval.regressionMetrics(df).head()
    assert(m.getAs[Double]("rmse") === 0.0)
    assert(m.getAs[Double]("mae") === 0.0)
    assert(math.abs(m.getAs[Double]("r2") - 1.0) < 1e-12)
  }

  test("regressionMetrics is bit-equal over the same rows in any order and partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // converge-rate-like labels, predictions off by errors near 0.03
    val rows = (1 to 5000).map { _ =>
      val y = rnd.nextDouble() * 2 - 1
      (y, y + rnd.nextGaussian() * 0.03)
    }
    val metrics = Seq(1, 4, 8).map { n =>
      val shuffled = new scala.util.Random(n).shuffle(rows)
      val m = ModelEval.regressionMetrics(
        shuffled.toDF("converge_rate", "predicted_converge_rate").repartition(n)).head()
      Seq("mse", "rmse", "mae", "r2").map(c => java.lang.Double.doubleToRawLongBits(m.getAs[Double](c)))
    }
    assert(metrics.distinct.size == 1, metrics.map(_.map(java.lang.Double.longBitsToDouble)))
  }
}
