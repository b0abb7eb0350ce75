package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ml.KMeans

/** IVF (inverted-file) approximate nearest neighbor: a k-means coarse
  * quantizer partitions the corpus into nLists cells; a query scores only the
  * nProbe nearest cells' vectors. The complement to the random-hyperplane LSH
  * path in [[graft.queries.SimilarityQueries]].
  *
  * Scale shape: the index build is one single-task k-means fit on a capped
  * sample ([[graft.ml.KMeans]]) + a map-side assign;
  * cells are the PHYSICAL partition key (at 100 TB: write the corpus
  * partitioned by `cell` so a query's probe list prunes whole directories —
  * see [[graft.sources.Lake]]). Search is broadcast(queries×probes) →
  * cell-pruned candidate join → exact re-rank; cost is corpus/nLists × nProbe
  * per query instead of the full corpus.
  */
object Ivf {

  final case class Index(centroids: DataFrame, assigned: DataFrame)

  /** Build the coarse quantizer. Input: (vec_id, embedding array<float>).
    * `assigned` adds each vector's nearest `cell` ([[KMeans.nearest]]). */
  def build(vecs: DataFrame, nLists: Int = 16, seed: Long = 42L): Index = {
    val Seq(centers) = KMeans.fit(vecs, Seq(col("embedding")), nLists, seed)
    val spark = vecs.sparkSession
    import spark.implicits._
    val centroids = centers.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
    Index(centroids, vecs.withColumn("cell", KMeans.nearest(col("embedding"), centers)))
  }

  // Distances via the native codegen'd sequential fold
  // (graft.functions.FloatL2Sq) — bit-identical to the HOF
  // `aggregate(zip_with(...))` forms these used to spell (same element
  // widening, same left-to-right accumulation; the ANN oracles stay
  // hash-green) with none of the per-element lambda/intermediate-array cost
  // that dominated the candidate joins in the 30× scale audit.
  private val l2ToCentroid = expr("float_l2sq(embedding, centroid)")

  /** Exact L2² between `q_emb` and `embedding` — shared with [[Pq]]'s
    * re-rank so the two ANN paths score bit-identically. */
  private[operators] val l2Pair = expr("float_l2sq(q_emb, embedding)")

  /** Top-k (Euclidean) neighbors for each query vector, probing nProbe cells.
    * Queries: (vec_id, embedding). Returns (q_id, rank, vec_id, l2_dist).
    */
  def search(index: Index, queries: DataFrame, k: Int, nProbe: Int = 3): DataFrame = {
    val probeW = Window.partitionBy("q_id").orderBy(col("cdist"), col("cell"))
    val probes = broadcast(queries
      .select(col("vec_id").as("q_id"), col("embedding")))
      .crossJoin(broadcast(index.centroids))
      .withColumn("cdist", l2ToCentroid)
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select(col("q_id"), col("embedding").as("q_emb"), col("cell"))

    val rankW = Window.partitionBy("q_id").orderBy(col("l2_dist"), col("vec_id"))
    probes.join(index.assigned, Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("l2_dist", l2Pair)
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "l2_dist")
  }

  /** Exact brute-force reference (same scoring) for recall measurement. */
  def bruteForce(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val rankW = Window.partitionBy("q_id").orderBy(col("l2_dist"), col("vec_id"))
    broadcast(queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
      .crossJoin(corpus.select(col("vec_id"), col("embedding")))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("l2_dist", l2Pair)
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "l2_dist")
  }
}
