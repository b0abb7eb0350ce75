package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** In-engine forward-pass inference for the reference's convergence LSTM
  * (reference: bdb2026/models.py:24-67 — the exact architecture is
  * Masking(0.0) → LSTM(64, seq) → Dropout → LSTM(32, seq) → Dropout →
  * TimeDistributed(Dense(16, relu)) → TimeDistributed(Dense(1, linear));
  * dropout is identity at inference).
  *
  * Weights come straight from the committed Keras `.h5` artifacts via
  * [[H5Lite]] — no TensorFlow at runtime. The math is standard Keras LSTM
  * semantics: gate order [i, f, g, o] in the fused kernels, sigmoid
  * recurrent activation, tanh cell activation,
  *   z = x·W + h·R + b;  c = σ(z_f)∘c + σ(z_i)∘tanh(z_g);  h = σ(z_o)∘tanh(c)
  * computed in Float to mirror the reference's float32 tensors
  * (sequences.py:71 builds X as float32). Masking: a timestep whose feature
  * vector is entirely 0.0 is skipped — state carries through unchanged —
  * which is exactly how Keras Masking treats both tail padding and
  * interior all-zero rows.
  *
  * Scale shape: weights total ~36 k floats (~145 KB) and are broadcast once;
  * scoring is embarrassingly parallel over sequences — a whole-sequence
  * Scala UDF over the broadcast weights (the documented last-resort
  * imperative case, SURVEY §2.9(d): a recurrent forward pass is not
  * expressible as Catalyst expressions, and the unit of work is one
  * sequence, not one scalar — ~40 k flops per invocation).
  */
object KerasLstm {

  /** Fused Keras LSTM cell weights: kernel (nIn×4U), recurrent (U×4U),
    * bias (4U), gate columns ordered [i | f | g | o]. */
  final case class Cell(w: Array[Float], r: Array[Float], b: Array[Float],
      nIn: Int, units: Int) {
    require(w.length == nIn * 4 * units && r.length == units * 4 * units &&
      b.length == 4 * units, s"cell shape mismatch: nIn=$nIn units=$units")
  }

  /** Dense layer: kernel (nIn×nOut) + bias (nOut). */
  final case class Dense(w: Array[Float], b: Array[Float], nIn: Int, nOut: Int)

  /** The full recurrent state between two timesteps: hidden + cell vectors
    * of both LSTM layers plus the last emitted prediction (what a masked
    * step repeats). Immutable — each step returns a new one — so it can
    * live in a Structured Streaming state store for ONLINE inference
    * ([[graft.streaming.StreamingInference]]): the recurrence is naturally
    * incremental, one frame in → one prediction out, no sequence buffering.
    */
  final case class StepState(h1: Array[Float], c1: Array[Float],
      h2: Array[Float], c2: Array[Float], lastPred: Float, nSteps: Int)

  final case class Model(lstm1: Cell, lstm2: Cell, hidden: Dense, out: Dense) {
    def nFeatures: Int = lstm1.nIn

    /** Fresh pre-first-frame state. `lastPred` starts at the zero-state
      * bias path: a LEADING masked step carries the zero initial state, and
      * Keras' TimeDistributed head still computes over it — not 0. */
    def initState: StepState = StepState(
      new Array[Float](lstm1.units), new Array[Float](lstm1.units),
      new Array[Float](lstm2.units), new Array[Float](lstm2.units),
      out.forwardLinear(hidden.forwardRelu(new Array[Float](lstm2.units)))(0),
      0)

    /** Advance one timestep. An entirely-zero frame is masked: the state
      * carries through unchanged and the previous prediction repeats
      * (Keras Masking semantics, propagated through both layers). */
    def step(s: StepState, x: Array[Float]): StepState = {
      var allZero = true
      var k = 0
      while (allZero && k < x.length) { if (x(k) != 0f) allZero = false; k += 1 }
      if (allZero) s.copy(nSteps = s.nSteps + 1)
      else {
        val (h1, c1) = stepCell(lstm1, s.h1, s.c1, x)
        val (h2, c2) = stepCell(lstm2, s.h2, s.c2, h1)
        val pred = out.forwardLinear(hidden.forwardRelu(h2))(0)
        StepState(h1, c1, h2, c2, pred, s.nSteps + 1)
      }
    }

    /** Per-timestep predictions for one sequence; `seq` is
      * (T × nFeatures). Batch form of [[step]] — bit-identical. */
    def forward(seq: Array[Array[Float]]): Array[Float] = {
      val preds = new Array[Float](seq.length)
      var s = initState
      var t = 0
      while (t < seq.length) {
        s = step(s, seq(t))
        preds(t) = s.lastPred
        t += 1
      }
      preds
    }

    /** The zero-state bias-path prediction [[initState]] starts from,
      * computed once per Model instance (per task after broadcast) instead
      * of once per scored sequence. */
    @transient private lazy val zeroStatePred: Float =
      out.forwardLinear(hidden.forwardRelu(new Array[Float](lstm2.units)))(0)

    /** Hot batch-scoring path: same math as [[forward]] in the same
      * floating-point op order (bit-identical — asserted in KerasLstmSpec),
      * but over a FLAT row-major (seqLen × nFeatures) primitive array with
      * all state/gate buffers allocated once per call and mutated in place.
      * This is what the distributed scorer feeds: a flat `array<float>`
      * crosses the UDF boundary as one primitive copy, where a nested
      * per-timestep form boxes every element and allocates a wrapper per
      * timestep. */
    def forwardFlat(flat: Array[Float], seqLen: Int): Array[Float] = {
      val nF = lstm1.nIn
      val preds = new Array[Float](seqLen)
      val x = new Array[Float](nF)
      val h1 = new Array[Float](lstm1.units)
      val c1 = new Array[Float](lstm1.units)
      val h2 = new Array[Float](lstm2.units)
      val c2 = new Array[Float](lstm2.units)
      val z1 = new Array[Float](4 * lstm1.units)
      val z2 = new Array[Float](4 * lstm2.units)
      var last = zeroStatePred
      var t = 0
      while (t < seqLen) {
        val off = t * nF
        var allZero = true
        var k = 0
        while (k < nF) {
          val v = flat(off + k)
          x(k) = v
          if (v != 0f) allZero = false
          k += 1
        }
        if (!allZero) { // masked step: state carries, prediction repeats
          stepCellInPlace(lstm1, h1, c1, x, z1)
          stepCellInPlace(lstm2, h2, c2, h1, z2)
          last = out.forwardLinear(hidden.forwardRelu(h2))(0)
        }
        preds(t) = last
        t += 1
      }
      preds
    }
  }

  private def sigmoid(x: Float): Float = (1.0 / (1.0 + math.exp(-x))).toFloat

  /** tanh via the exp form (e²ˣ−1)/(e²ˣ+1): `Math.exp` is a JIT intrinsic
    * where `Math.tanh` is a ~2-3× slower StrictMath call, and after the
    * final float rounding the two agree everywhere sampled on [−8, 8]
    * (microbench-verified; the ≤1 ulp double-precision difference is
    * absorbed by the cast). ~40% off the gate-phase cost.
    *
    * Saturation guard: exp(2x) overflows to Inf at x ≈ 355 and Inf/Inf is
    * NaN where Math.tanh correctly returns ±1 — reachable when a cell
    * state accumulates over hundreds of unmasked steps, and one NaN
    * poisons every later prediction of the sequence. tanh(|x| > 20) is
    * already exactly ±1.0f after float rounding, so the guard is
    * bit-identical to Math.tanh. */
  private def tanhF(x: Double): Float = {
    if (x > 20.0) 1.0f
    else if (x < -20.0) -1.0f
    else {
      val e = math.exp(2.0 * x)
      ((e - 1.0) / (e + 1.0)).toFloat
    }
  }

  /** One Keras LSTM cell update: returns the new (h, c). Inputs untouched.
    * Thin wrapper over [[stepCellInPlace]] — ONE implementation serves the
    * streaming step path and the batch flat path, so their bit-parity is
    * structural, not maintained by hand. */
  private def stepCell(cell: Cell, hPrev: Array[Float], cPrev: Array[Float],
      x: Array[Float]): (Array[Float], Array[Float]) = {
    val h = hPrev.clone()
    val c = cPrev.clone()
    stepCellInPlace(cell, h, c, x, new Array[Float](4 * cell.units))
    (h, c)
  }

  /** Cell update with caller-owned buffers, updating h/c IN PLACE: z is
    * scratch (overwritten), h is fully consumed into z before the gate
    * phase writes it, and the gate phase reads c(j) before writing c(j) —
    * so aliasing in/out is safe.
    *
    * The z accumulation processes FOUR input rows per pass: z is read and
    * written once per 4 rows instead of once per row, and the 4
    * independent multiply-adds per element give the JIT instruction-level
    * parallelism a single accumulation chain denies it (~40% measured).
    * Zero inputs are not special-cased — x·0 contributes exactly 0f, and
    * fully-masked frames never reach this method at all. */
  private def stepCellInPlace(cell: Cell, h: Array[Float], c: Array[Float],
      x: Array[Float], z: Array[Float]): Unit = {
    val u = cell.units
    val n4u = 4 * u
    System.arraycopy(cell.b, 0, z, 0, n4u)
    accumulate(z, cell.w, x, cell.nIn, n4u)
    accumulate(z, cell.r, h, u, n4u)
    if (vectorized) {
      // SIMD gate phase (float-precision SVML exp/tanh — see VecKernel
      // .gates: ~1e-7 relative vs the double-exp scalar form, the same
      // precision class as the reference's float32 arithmetic; the 1e-4 /
      // 1e-6 external fixtures and all internal bit-parity specs gate it)
      VecKernel.gates(z, c, h, u)
    } else {
      var j = 0
      while (j < u) {
        val i = sigmoid(z(j))
        val f = sigmoid(z(u + j))
        val g = tanhF(z(2 * u + j))
        val o = sigmoid(z(3 * u + j))
        c(j) = f * c(j) + i * g
        h(j) = o * tanhF(c(j))
        j += 1
      }
    }
  }

  /** True when the JDK Vector API kernel ([[VecKernel]], compiled against
    * jdk.incubator.vector) can load on this JVM. Probed ONCE per JVM; a JVM
    * without the module (or without `--add-modules`) throws
    * NoClassDefFoundError on first touch and every call dispatches to the
    * scalar loops instead. Parity between the paths is scoped: the matmul
    * accumulation (accum4/accum1) is bit-identical by construction
    * (lane-wise mul/add only — no cross-lane reductions, no FMA), while the
    * gate phase is tolerance-equal (~1e-7 relative — float- vs
    * double-precision transcendentals) and platform-dependent (SVML
    * availability / lane width), so a JVM without the module or another
    * host shifts predictions in low-order bits. Do NOT rely on
    * scalar/vector interchangeability at the bit level; KerasLstmSpec pins
    * the parity against the committed predictions at fixture tolerance. */
  private val vectorized: Boolean =
    try { VecKernel.laneCount() > 0 }
    catch { case _: Throwable => false }

  /** z += vᵀ·M for row-major M (nRows × width), 4 rows per pass — SIMD
    * lanes over `width` when the Vector API is present, the identical
    * scalar op sequence otherwise. */
  private def accumulate(z: Array[Float], m: Array[Float], v: Array[Float],
      nRows: Int, width: Int): Unit = {
    var k = 0
    if (vectorized) {
      while (k + 3 < nRows) {
        VecKernel.accum4(z, m, v(k), v(k + 1), v(k + 2), v(k + 3),
          k * width, width)
        k += 4
      }
      while (k < nRows) {
        VecKernel.accum1(z, m, v(k), k * width, width)
        k += 1
      }
    } else {
      while (k + 3 < nRows) {
        val v0 = v(k); val v1 = v(k + 1); val v2 = v(k + 2); val v3 = v(k + 3)
        val r0 = k * width; val r1 = r0 + width; val r2 = r1 + width; val r3 = r2 + width
        var j = 0
        while (j < width) {
          z(j) += v0 * m(r0 + j) + v1 * m(r1 + j) + v2 * m(r2 + j) + v3 * m(r3 + j)
          j += 1
        }
        k += 4
      }
      while (k < nRows) {
        val vk = v(k)
        val row = k * width
        var j = 0
        while (j < width) { z(j) += vk * m(row + j); j += 1 }
        k += 1
      }
    }
  }

  implicit private class DenseOps(val d: Dense) extends AnyVal {
    def forwardRelu(x: Array[Float]): Array[Float] = apply(x, relu = true)
    def forwardLinear(x: Array[Float]): Array[Float] = apply(x, relu = false)
    private def apply(x: Array[Float], relu: Boolean): Array[Float] = {
      val y = d.b.clone()
      var k = 0
      while (k < d.nIn) {
        val xv = x(k)
        if (xv != 0f) {
          val row = k * d.nOut
          var j = 0
          while (j < d.nOut) { y(j) += xv * d.w(row + j); j += 1 }
        }
        k += 1
      }
      if (relu) { var j = 0; while (j < d.nOut) { if (y(j) < 0f) y(j) = 0f; j += 1 } }
      y
    }
  }

  /** Load a committed Keras model file. Matches datasets by their stable
    * layer-group names (`lstm_1`/`lstm_2`/`dense_1`/`output` directly under
    * /model_weights) — the inner auto-numbered names (dense_2 vs dense_4...)
    * vary between saves of the same architecture. */
  def load(path: String): Model = {
    val tensors = H5Lite.readFloatTensors(path)
    def find(layer: String, leaf: String): H5Lite.Tensor =
      tensors.collectFirst {
        case (p, t) if p.startsWith(s"/model_weights/$layer/") &&
          p.endsWith(s"/$leaf") => t
      }.getOrElse(sys.error(
        s"$path: no dataset /model_weights/$layer/**/$leaf " +
          s"(have: ${tensors.keys.toSeq.sorted.mkString(", ")})"))

    def cell(layer: String): Cell = {
      val w = find(layer, "kernel"); val r = find(layer, "recurrent_kernel")
      val b = find(layer, "bias")
      Cell(w.data, r.data, b.data, w.dims.head, w.dims(1) / 4)
    }
    def dense(layer: String): Dense = {
      val w = find(layer, "kernel"); val b = find(layer, "bias")
      Dense(w.data, b.data, w.dims.head, w.dims(1))
    }
    val m = Model(cell("lstm_1"), cell("lstm_2"), dense("dense_1"), dense("output"))
    require(m.lstm2.nIn == m.lstm1.units && m.hidden.nIn == m.lstm2.units &&
      m.out.nIn == m.hidden.nOut && m.out.nOut == 1,
      s"$path: layers do not chain (${m.lstm1.units}→${m.lstm2.nIn}, " +
        s"${m.lstm2.units}→${m.hidden.nIn}, ${m.hidden.nOut}→${m.out.nIn})")
    m
  }

  /** Score a sequence table in the [[graft.bdb.Sequences.buildFlat]]
    * contract — key columns + `seq_len: int` + `flat: array<float>` (the
    * de-padded frames, row-major) — into one row per frame: key columns +
    * `frame_idx` (1-based position in the sequence, the reference's frame
    * numbering at BDB_2026.ipynb cell 107) + `predicted_converge_rate`.
    *
    * @param rebalance add an explicit exchange to full parallelism before
    *        the CPU-bound forward pass (default). Pass false when the
    *        caller already partitioned the sequence build to core count
    *        (e.g. an explicit repartition on the trajectory keys that the
    *        collect_list agg reuses) — the rebalance would then re-ship
    *        every sequence byte for nothing.
    */
  def scoreFlat(flatSeqs: DataFrame, model: Model,
      keyCols: Seq[String], rebalance: Boolean = true): DataFrame = {
    val spark = flatSeqs.sparkSession
    val bc = spark.sparkContext.broadcast(model)
    // asNondeterministic is a COST fence, not a semantics statement: the
    // pass is pure, but InferFiltersFromGenerate otherwise clones the UDF
    // into inferred `size(..)>0 / isnotnull(..)` filters below the Project
    // and the forward pass runs 3x per sequence (accumulator-verified).
    // Nondeterministic expressions are never duplicated or pushed through.
    val forward = udf { (flat: Array[Float], seqLen: Int) =>
      bc.value.forwardFlat(flat, seqLen)
    }.asNondeterministic()
    (if (rebalance)
      // This stage is CPU-bound (~36 k flops/frame), so AQE's bytes-based
      // partition coalescing starves it: a few MB of shuffled sequences
      // collapse to 1-2 partitions and the scoring runs on 2 of N cores.
      // An explicit exchange to full parallelism costs one pass over the
      // sequence bytes — noise next to the matmul time at every scale.
      flatSeqs.repartition(spark.sparkContext.defaultParallelism)
    else flatSeqs)
      .withColumn("preds", forward(col("flat"), col("seq_len")))
      .select(keyCols.map(col) :+ posexplode(col("preds")): _*)
      .select(keyCols.map(col) ++ Seq(
        (col("pos") + 1).cast("long").as("frame_idx"),
        col("col").cast("double").as("predicted_converge_rate")): _*)
  }
}
