package graft.ml

import graft.SparkSpec

/** The BPTT gradient is verified against central finite differences — the
  * one test that makes a hand-written backward pass trustworthy — plus
  * masking/dropout contracts and a small end-to-end distributed fit.
  */
class LstmTrainerSpec extends SparkSpec {

  private val tinyCfg = LstmTrainer.Config(nFeatures = 3, units1 = 4,
    units2 = 3, denseUnits = 2, dropout1 = 0.0, dropout2 = 0.0, seed = 7L)
  private val shape = LstmTrainer.Shape(3, 4, 3, 2)

  /** A fixed little sequence (T=6, width nF+1) with an INTERIOR masked step
    * (frame 3 all-zero features) — label still present there and must be
    * ignored. */
  private def fixtureFlat: (Array[Double], Int) = {
    val rnd = new java.util.Random(11L)
    val t = 6
    val w = 4 // 3 features + label
    val flat = new Array[Double](t * w)
    for (i <- 0 until t; j <- 0 until w)
      flat(i * w + j) = rnd.nextGaussian() * 0.8
    for (j <- 0 until 3) flat(2 * w + j) = 0.0 // interior masked step
    (flat, t)
  }

  test("BPTT gradient matches central finite differences (masked step included)") {
    val (flat, t) = fixtureFlat
    val p = LstmTrainer.init(shape, 3L)
    val grad = new Array[Double](shape.total)
    LstmTrainer.seqGrad(p, shape, tinyCfg, flat, t, sid = 5L, epoch = -1, grad)
    val rnd = new java.util.Random(23L)
    val eps = 1e-6
    var checked = 0
    var maxRel = 0.0
    // sample indices across every parameter block, plus the biases exactly
    val picks = (Seq(shape.b1Off + 1, shape.b2Off + shape.u2 + 1, shape.bdOff,
      shape.woOff, shape.boOff) ++
      Seq.fill(60)(rnd.nextInt(shape.total))).distinct
    picks.foreach { i =>
      val save = p(i)
      p(i) = save + eps
      val up = LstmTrainer.seqLoss(p, shape, tinyCfg, flat, t, 5L, -1)
      p(i) = save - eps
      val dn = LstmTrainer.seqLoss(p, shape, tinyCfg, flat, t, 5L, -1)
      p(i) = save
      val fd = (up - dn) / (2 * eps)
      val denom = math.max(1e-8, math.abs(fd) + math.abs(grad(i)))
      val rel = math.abs(fd - grad(i)) / denom
      if (math.abs(fd) > 1e-10 || math.abs(grad(i)) > 1e-10) {
        maxRel = math.max(maxRel, rel)
        assert(rel < 1e-4,
          s"param $i: analytic ${grad(i)} vs FD $fd (rel $rel)")
        checked += 1
      }
    }
    info(s"checked $checked params, max rel err $maxRel")
    assert(checked > 40, "fixture too degenerate — most sampled grads were 0")
  }

  test("gradient with dropout active still matches finite differences") {
    // dropout masks are a deterministic function of (seed, sid, epoch), so
    // the loss is a fixed differentiable function and FD must still agree
    val cfg = tinyCfg.copy(dropout1 = 0.4, dropout2 = 0.3)
    val (flat, t) = fixtureFlat
    val p = LstmTrainer.init(shape, 3L)
    val grad = new Array[Double](shape.total)
    LstmTrainer.seqGrad(p, shape, cfg, flat, t, sid = 9L, epoch = 2, grad)
    val rnd = new java.util.Random(29L)
    val eps = 1e-6
    var checked = 0
    Seq.fill(40)(rnd.nextInt(shape.total)).distinct.foreach { i =>
      val save = p(i)
      p(i) = save + eps
      val up = LstmTrainer.seqLoss(p, shape, cfg, flat, t, 9L, 2)
      p(i) = save - eps
      val dn = LstmTrainer.seqLoss(p, shape, cfg, flat, t, 9L, 2)
      p(i) = save
      val fd = (up - dn) / (2 * eps)
      // FD absolute precision is ~1e-10 here (machine-eps·loss/eps), so a
      // relative gate only makes sense above that noise floor; below it,
      // gate the absolute difference instead
      if (math.abs(fd) > 1e-5 || math.abs(grad(i)) > 1e-5) {
        val rel = math.abs(fd - grad(i)) /
          math.max(1e-8, math.abs(fd) + math.abs(grad(i)))
        assert(rel < 1e-4, s"param $i: analytic ${grad(i)} vs FD $fd")
        checked += 1
      } else if (math.abs(fd) > 1e-10 || math.abs(grad(i)) > 1e-10) {
        assert(math.abs(fd - grad(i)) < 1e-9,
          s"param $i: analytic ${grad(i)} vs FD $fd")
        checked += 1
      }
    }
    assert(checked > 20)
  }

  test("masked steps contribute no loss and carry state through") {
    val (flat, t) = fixtureFlat
    val p = LstmTrainer.init(shape, 3L)
    // removing the masked step's LABEL must not change the loss
    val flat2 = flat.clone()
    flat2(2 * 4 + 3) = 999.0
    assert(LstmTrainer.seqLoss(p, shape, tinyCfg, flat, t, 1L, -1) ===
      LstmTrainer.seqLoss(p, shape, tinyCfg, flat2, t, 1L, -1))
    // and the sequence with the masked step REMOVED gives the same loss
    // (state carried through unchanged ⇒ the remaining steps see identical
    // states; per-step squared errors are the same set)
    val w = 4
    val without = (0 until t).filterNot(_ == 2)
      .flatMap(i => flat.slice(i * w, i * w + w)).toArray
    assert(math.abs(
      LstmTrainer.seqLoss(p, shape, tinyCfg, flat, t, 1L, -1) -
      LstmTrainer.seqLoss(p, shape, tinyCfg, without, t - 1, 1L, -1)) < 1e-12)
  }

  test("exported model reproduces the training forward pass at float tolerance") {
    val (flat, t) = fixtureFlat
    val p = LstmTrainer.init(shape, 3L)
    val model = LstmTrainer.export(p, shape)
    // strip labels for the inference path
    val w = 4
    val feats = (0 until t).flatMap(i => flat.slice(i * w, i * w + 3))
      .map(_.toFloat).toArray
    val preds = model.forwardFlat(feats, t)
    // recompute the double-precision training predictions via seqLoss on
    // crafted one-hot labels: loss(y=0) = Σ pred², so compare aggregates
    val sse0 = LstmTrainer.seqLoss(p, shape, tinyCfg,
      (0 until t).flatMap(i => flat.slice(i * w, i * w + 3) :+ 0.0).toArray,
      t, 1L, -1)
    val unmaskedPreds = (0 until t).filterNot(_ == 2).map(preds(_))
    val sseF = unmaskedPreds.map(x => x.toDouble * x).sum
    assert(math.abs(sse0 - sseF) / math.max(1e-9, sse0) < 1e-4,
      s"training forward $sse0 vs exported float forward $sseF")
    // masked step repeats the previous prediction in the inference contract
    assert(preds(2) === preds(1))
  }

  test("distributed fit learns a synthetic sequence task (R2 > 0.95 in-sample)") {
    import spark.implicits._
    // target: y_t = 0.6·x1_t − 0.4·x2_{t-1} (needs one step of memory)
    val rnd = new java.util.Random(101L)
    val rows = for {
      sid <- 0 until 120
      t <- 0 until 12
    } yield (sid.toLong, t.toLong, rnd.nextGaussian(), rnd.nextGaussian())
    val df = rows.toDF("sid", "t", "x1", "x2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("sid").orderBy("t")
    val labeled = df.withColumn("y",
      org.apache.spark.sql.functions.col("x1") * 0.6 -
      org.apache.spark.sql.functions.lag("x2", 1, 0.0).over(w) * 0.4)
    val seqs = labeled
      .withColumn("game_id", org.apache.spark.sql.functions.col("sid"))
      .withColumn("play_id", org.apache.spark.sql.functions.lit(0L))
      .withColumn("nfl_id", org.apache.spark.sql.functions.lit(0L))
      .withColumn("frame_id", org.apache.spark.sql.functions.col("t"))
    val built = graft.bdb.Sequences.buildFlat(seqs, Seq("x1", "x2", "y"), maxLen = 12)
    val cfg = LstmTrainer.Config(nFeatures = 2, units1 = 12, units2 = 8,
      denseUnits = 6, epochs = 120, batchesPerEpoch = 2,
      dropout1 = 0.0, dropout2 = 0.0, patience = 120, seed = 42L)
    val trained = LstmTrainer.train(built, None,
      Seq("game_id", "play_id", "nfl_id"), cfg)
    info(s"epochs=${trained.epochsRun} trainLoss=${trained.trainLoss}")
    // variance of y ≈ 0.36 + 0.16 = 0.52; loss < 0.026 ⇒ R² > 0.95
    assert(trained.valLoss < 0.05 * 0.52,
      s"final masked MSE ${trained.valLoss} too high — the net did not learn")
  }
}
