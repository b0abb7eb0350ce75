package graft.ml

/** The reference architecture (28 → LSTM64 → LSTM32 → Dense16 → Dense1)
  * with weights drawn from a seeded `java.util.Random`, uniform in
  * ±1/sqrt(fan-in). Every bias is drawn too, so the bias paths (the
  * zero-state prediction included) are non-zero. For specs that check the
  * scorer against itself — flat ≡ step, streamed ≡ batch, masking,
  * positional joins — which hold for any weights. */
object SeededLstm {

  val Features = 28

  def model(seed: Long = 16L): KerasLstm.Model = {
    val r = new java.util.Random(seed)
    def w(n: Int, fanIn: Int): Array[Float] = {
      val a = 1.0 / math.sqrt(fanIn.toDouble)
      Array.fill(n)(((r.nextDouble() * 2 - 1) * a).toFloat)
    }
    def cell(nIn: Int, u: Int) =
      KerasLstm.Cell(w(nIn * 4 * u, nIn), w(u * 4 * u, u), w(4 * u, u), nIn, u)
    KerasLstm.Model(cell(Features, 64), cell(64, 32),
      KerasLstm.Dense(w(32 * 16, 32), w(16, 32), 32, 16),
      KerasLstm.Dense(w(16, 16), w(1, 16), 16, 1))
  }
}
