package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ml.KMeans

/** Product quantization (PQ) for approximate nearest neighbor — the
  * memory-compression scale path, complementing [[Ivf]] (cell pruning) and the
  * LSH route in [[graft.queries.SimilarityQueries]] (hash bucketing).
  *
  * A D-dim float vector is split into `m` subvectors; each subspace gets its
  * own `k`-centroid k-means codebook; a vector is stored as `m` small codes
  * (k<=256 → m bytes — a 64-dim float32 embedding compresses 256→8 bytes,
  * 32×). Search is asymmetric distance computation (ADC): per query, build an
  * m×k lookup table of query-subvector→centroid distances once, then score
  * every corpus code with m table lookups instead of D float ops, take a
  * shortlist, and exactly re-rank only the shortlist against full vectors.
  *
  * Scale shape: codebook training is `m` k-means fits in ONE task over a
  * bounded sample ([[graft.ml.KMeans]]; the codebook is a model, not a
  * per-row artifact); encoding is one map-side pass
  * (all Catalyst HOFs — argmin over centroid distances — no UDFs, stays in
  * codegen); the ADC scan broadcasts queries+tables and is embarrassingly
  * parallel over the (32× smaller) code table; only the shortlist join-back
  * touches full vectors. At 100 TB the code table is what fits in cluster
  * memory when the raw vectors cannot.
  *
  * Reference pipeline analogy: the reference's nearest-neighbor work is exact
  * per-group argmin (bdb2026/metrics.py separation); PQ is the engine's
  * beyond-parity path for corpus-scale embedding retrieval.
  */
object Pq {

  /** Trained codebooks: `cents(j)(c)` is centroid `c` of subspace `j`. */
  final case class Codebooks(m: Int, k: Int, subDim: Int,
      cents: Seq[Seq[Seq[Double]]])

  /** Train per-subspace codebooks on (a `sampleFraction` sample of) the
    * corpus: the m subspaces are one [[KMeans.fit]], subspace j seeded
    * `seed + j`. A subspace with fewer than k distinct subvectors gets fewer
    * centroids. Input: (vec_id, embedding array<float>) with dim % m == 0.
    */
  def train(vecs: DataFrame, dim: Int, m: Int = 8, k: Int = 16,
      seed: Long = 42L, sampleFraction: Double = 1.0): Codebooks = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val sample =
      if (sampleFraction < 1.0) vecs.sample(withReplacement = false, sampleFraction, seed)
      else vecs
    val cents = KMeans.fit(sample,
      (0 until m).map(j => slice(col("embedding"), j * subDim + 1, subDim)), k, seed)
    Codebooks(m, k, subDim, cents.map(_.map(_.toSeq).toSeq))
  }

  /** Codebooks as a literal Catalyst value: array[m][k][subDim] of double. */
  private[operators] def cbCol(cb: Codebooks): Column = typedlit(cb.cents)

  /** Encode vectors to PQ codes: (input columns..., codes array<int> of length m),
    * each code the [[KMeans.argmin]] of its subspace's row of the vector's
    * own ADC table. Map-side only; the codebook rides along as a literal.
    */
  def encode(vecs: DataFrame, cb: Codebooks): DataFrame =
    vecs.withColumn("__cb", cbCol(cb))
      .withColumn("codes", transform(expr(adcTableExpr(cb, "embedding", "PQ encode: embedding")),
        KMeans.argmin(_)))
      .drop("__cb")

  /** Per-vector ADC table over `vecCol`: m×k `float_l2sq` distances,
    * subvector → centroid. Shared with [[IvfPq]] (which feeds residuals).
    * Expects the codebook literal bound as `__cb`. The dim guard sits INSIDE
    * the expression (an unused assert column would be pruned away): a short
    * vector would otherwise slice short and score truncated subspaces. */
  private[operators] def adcTableExpr(cb: Codebooks, vecCol: String,
      what: String = "PQ query: vector"): String =
    s"""CASE WHEN size($vecCol) = ${cb.m * cb.subDim}
       |  THEN transform(sequence(0, ${cb.m - 1}), j -> transform(element_at(__cb, j + 1),
       |    c -> float_l2sq(slice($vecCol, j * ${cb.subDim} + 1, ${cb.subDim}), c)))
       |  ELSE raise_error(concat('$what dim ', size($vecCol), ', codebook expects ${cb.m * cb.subDim}'))
       |END""".stripMargin

  /** ADC score: m table lookups against a `codes` column, `tbl` bound.
    * Native codegen'd fold ([[graft.functions.PqAdc]]) — bit-identical to
    * the HOF form (`aggregate(sequence(0, size(codes)-1), 0.0D, (acc, j) ->
    * acc + element_at(element_at(tbl, j+1), element_at(codes, j+1)+1))`,
    * pinned by PqAdcSpec), which paid m interpreted lambda calls plus a
    * materialized index array PER CANDIDATE ROW in the ANN scans' inner
    * loop. */
  private[operators] val adcScoreExpr: String = "pq_adc(tbl, codes)"

  /** ANN search over an encoded corpus.
    *
    * @param encoded  (vec_id, embedding, codes) — embedding kept for re-rank
    * @param queries  (vec_id, embedding)
    * @param k        neighbors returned per query
    * @param shortlist ADC candidates exactly re-ranked (>= k; recall knob)
    * @return (q_id, rank, vec_id, l2_dist) with exact distances
    */
  def search(encoded: DataFrame, queries: DataFrame, cb: Codebooks, k: Int,
      shortlist: Int = 64): DataFrame = {
    require(shortlist >= k, "shortlist must cover k")
    val q = queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("__cb", cbCol(cb))
      .withColumn("tbl", expr(adcTableExpr(cb, "q_emb")))
      .drop("__cb")

    // ADC scan: m integer lookups per corpus row; shortlist per query.
    // Deliberately TWO passes over the corpus (codes-only ADC scan, then an
    // embedding join for the shortlist): the shortlist window's partial
    // WindowGroupLimit sorts the FULL |q|×|corpus| candidate stream
    // locally, so a carried embedding column would replicate every corpus
    // vector once per probing query through that sort — the §8 heavy-bytes
    // anti-pattern. PqSpec pins the ADC side to (vec_id, codes).
    val adcW = Window.partitionBy("q_id").orderBy(col("adc"), col("vec_id"))
    val cands = broadcast(q)
      .crossJoin(encoded.select(col("vec_id"), col("codes")))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("adc", expr(adcScoreExpr))
      .withColumn("sr", row_number().over(adcW))
      .filter(col("sr") <= shortlist)
      .select("q_id", "q_emb", "vec_id")

    // Exact re-rank of the shortlist only (same scorer as Ivf — bit-identical
    // distances across the ANN paths).
    val rankW = Window.partitionBy("q_id").orderBy(col("l2_dist"), col("vec_id"))
    cands.join(encoded.select("vec_id", "embedding"), Seq("vec_id"))
      .withColumn("l2_dist", Ivf.l2Pair)
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "l2_dist")
  }
}
