package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import graft.Checkpoints.{cache, scoped}

/** **Inverted multi-index** (Babenko & Lempitsky, CVPR 2012): the two-level
  * coarse quantizer that replaces a flat √n-cell IVF when the centroid probe
  * itself stops scaling — the 100 TB rung the r15 semantic-dedup fix
  * documented (√n cells are 10⁶ centroids at 10¹² vectors; assigning against
  * them is O(n·√n) and the codebook no longer broadcasts for free).
  *
  * Structure: the embedding splits into two coordinate halves; each half
  * gets its own KMeans codebook of ~√C centroids, and a cell is the PAIR
  * (c1, c2) — C = k1·k2 total cells from k1+k2 trained centroids. Because
  * the halves are DISJOINT coordinates, the squared distance to the product
  * centroid (cb1(i) ++ cb2(j)) is EXACTLY d²₁(i) + d²₂(j), so ranking cells
  * by the sum of per-half distances is exact product-centroid ranking, not
  * a heuristic. Costs:
  *
  *  - train: two KMeans fits of k ≈ √C on a BOUNDED sample of half-vectors
  *    (vs one fit of k = C on full vectors);
  *  - assign/probe: k1 + k2 ≈ 2√C distance evaluations per vector
  *    (vs C) — with C sized for constant cell occupancy (n/τ), that is
  *    O(√n) per vector with a ~2·√τ constant, and candidate verification
  *    is O(τ·nProbe) per vector — LINEAR total;
  *  - the probe list and assignment come out of ONE pass (the best combo
  *    IS the assignment).
  *
  * The classic IMI tradeoff is uneven cell occupancy when the two halves
  * are strongly correlated — acceptable for dedup candidate generation,
  * where every candidate is exactness-verified downstream and a fat cell
  * costs time, not correctness.
  */
object Imi {

  /** Trained codebooks; centroids in float (the corpus element type). */
  final case class Model(cb1: Array[Array[Float]], cb2: Array[Array[Float]],
      dim: Int) {
    def k1: Int = cb1.length
    def k2: Int = cb2.length
    def nCells: Int = k1 * k2
    /** first half = coords [0, split); second = [split, dim) */
    def split: Int = (dim + 1) / 2
  }

  /** Train the two half-space codebooks on a bounded sample.
    * `targetCells` is the desired k1·k2 (each half gets ~√targetCells
    * centroids, capped by the sample size); `nTotal` skips the count job
    * when the caller already knows it. */
  def train(vecs: DataFrame, dim: Int, targetCells: Int, seed: Long = 42L,
      sampleCap: Int = 65536, nTotal: Long = -1L): Model = scoped {
    require(dim >= 2, s"dim must be >= 2 to split, got $dim")
    val n = if (nTotal >= 0) nTotal else vecs.count()
    val frac = math.min(1.0, sampleCap.toDouble / math.max(1L, n))
    val sample = cache(
      if (frac >= 1.0) vecs else vecs.sample(withReplacement = false, frac, seed))
    val s = (dim + 1) / 2
    val kHalf = math.max(2, math.ceil(math.sqrt(targetCells.toDouble)).toInt)
    val nSample = sample.count()
    def fit(sliceFrom: Int, width: Int): Array[Array[Float]] = {
      val feat = sample.select(array_to_vector(
        expr(s"slice(embedding, $sliceFrom, $width)").cast("array<double>"))
        .as("features"))
      val k = math.max(1L, math.min(kHalf.toLong, nSample)).toInt
      new KMeans().setK(k).setSeed(seed)
        .setFeaturesCol("features").setPredictionCol("cell")
        .fit(feat)
        .clusterCenters.map(_.toArray.map(_.toFloat))
    }
    Model(fit(1, s), fit(s + 1, dim - s), dim)
  }

  /** Persist the trained codebooks (one tiny parquet row — centroids are
    * 2·√C half-vectors, kilobytes at any corpus size). Training is the only
    * expensive part of the two-level quantizer; everything downstream
    * (assignment, probing, the candidate equi-join) is derived from these
    * arrays, so saving them is what makes the IMI route REUSABLE across
    * runs and appendable ([[ScalableDedup.appendSemantic]]) instead of
    * retrained per run. */
  def writeModel(spark: org.apache.spark.sql.SparkSession, path: String,
      model: Model): Unit = {
    import spark.implicits._
    Seq((model.dim,
        model.cb1.map(_.toSeq).toSeq, model.cb2.map(_.toSeq).toSeq))
      .toDF("dim", "cb1", "cb2")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Open codebooks written by [[writeModel]]. */
  def readModel(spark: org.apache.spark.sql.SparkSession,
      path: String): Model = {
    val r = spark.read.parquet(path).head()
    def cb(name: String): Array[Array[Float]] =
      r.getAs[scala.collection.Seq[scala.collection.Seq[Float]]](name)
        .map(_.toArray).toArray
    Model(cb("cb1"), cb("cb2"), r.getAs[Int]("dim"))
  }

  /** True when a model saved by [[writeModel]] exists at `path`. */
  def modelExists(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** UDF: embedding → the `nProbe` nearest cells as long ids
    * (c1 · k2 + c2), best first — element 1 IS the vector's assignment.
    * Exact product-centroid ranking (disjoint halves ⇒ d² = d²₁ + d²₂):
    * enumerate the nProbe × nProbe best per-half combinations (the i-th
    * best combo can only use per-half ranks ≤ i, so that set provably
    * contains the true top-nProbe) and take the nProbe smallest sums. */
  def probesUdf(model: Model, nProbe: Int): UserDefinedFunction = {
    require(nProbe >= 1, s"nProbe must be >= 1: $nProbe")
    udf { (emb: scala.collection.Seq[Float]) =>
      val x = emb.toArray
      val s = model.split
      val d1 = halfDists(x, 0, s, model.cb1)
      val d2 = halfDists(x, s, model.dim - s, model.cb2)
      val p1 = topIdx(d1, math.min(nProbe, d1.length))
      val p2 = topIdx(d2, math.min(nProbe, d2.length))
      val combos = for (i <- p1; j <- p2)
        yield (d1(i) + d2(j), i.toLong * model.k2 + j)
      combos.sortBy(c => (c._1, c._2)).take(nProbe).map(_._2)
    }
  }

  /** squared L2 from x[off, off+w) to every centroid (float math — the
    * corpus element type; candidates are re-verified exactly downstream) */
  private def halfDists(x: Array[Float], off: Int, w: Int,
      cb: Array[Array[Float]]): Array[Float] = {
    val out = new Array[Float](cb.length)
    var c = 0
    while (c < cb.length) {
      val cent = cb(c)
      var d = 0f
      var i = 0
      while (i < w) {
        val t = x(off + i) - cent(i)
        d += t * t
        i += 1
      }
      out(c) = d
      c += 1
    }
    out
  }

  /** indices of the k smallest values (ties → lower index), ascending */
  private def topIdx(d: Array[Float], k: Int): Array[Int] =
    d.indices.sortBy(i => (d(i), i)).take(k).toArray
}
