package graft.bdb

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ml.KMeans

/** Route feature engineering + clustering (SURVEY §7 step 6).
  *
  * The reference computes per-route features with an 85-line Python loop
  * (reference: BDB_2026.ipynb cell 27) or vectorized pandas (routes.py:72-155);
  * here it is one `groupBy.agg` — a single partial→final hash-agg shuffle on
  * the trajectory key. First/last-by-frame use `min_by`/`max_by`, which are
  * order-insensitive (no sort needed, unlike the pandas sort+first idiom).
  *
  * Clustering is standardize + k-means(k=12, seed=42) (reference:
  * routes.py:213-217), fit by [[graft.ml.KMeans]] in one task. sklearn's
  * initialization differs, so cluster *labels* are not bit-comparable;
  * correctness is asserted on invariants (assignment = nearest centroid, k
  * clusters, downstream-metric stability) per SURVEY §5.
  */
object Routes {

  /** Default clustering features — the reference's candidate list
    * (routes.py:185-189) minus the optional sep_at_catch (added by callers
    * that computed it). */
  val featureCols: Seq[String] = Seq(
    "route_frames", "delta_x", "delta_y", "route_len", "direct_dist",
    "straightness", "mean_speed", "max_speed", "std_speed")

  /** Per-trajectory route features from normalized + kinematic frames —
    * the reference's full 19-column table with identical names and semantics
    * (routes.py:74-155): first/last via order-free min_by/max_by, route_len
    * from lag-diff step distances, straightness with the 0-length guard,
    * sample-std speeds with single-frame fillna(0), wrap-aware direction
    * changes (> 30°), duration = n_frames × 0.1.
    * Expects x_norm/y_norm/s/a/dir_change columns (see Normalize/Kinematics).
    */
  def routeFeatures(frames: DataFrame): DataFrame = {
    val stepDist = Kinematics.dist(
      col("x_norm"), col("y_norm"),
      lag("x_norm", 1).over(Kinematics.trajWindow),
      lag("y_norm", 1).over(Kinematics.trajWindow))
    val dx = col("x_end") - col("x_start")
    val dy = col("y_end") - col("y_start")
    frames
      .withColumn("step_dist", coalesce(stepDist, lit(0.0)))
      .groupBy(Schemas.trajectoryKeys.map(col): _*)
      .agg(
        count(lit(1)).cast("double").as("route_frames"),
        min_by(col("x_norm"), col("frame_id")).as("x_start"),
        min_by(col("y_norm"), col("frame_id")).as("y_start"),
        max_by(col("x_norm"), col("frame_id")).as("x_end"),
        max_by(col("y_norm"), col("frame_id")).as("y_end"),
        sum(col("step_dist")).as("route_len"),
        avg(col("s")).as("mean_speed"),
        max(col("s")).as("max_speed"),
        coalesce(stddev_samp(col("s")), lit(0.0)).as("std_speed"),
        avg(col("a")).as("mean_accel"),
        max(col("a")).as("max_accel"),
        sum((col("dir_change") > 30.0).cast("int")).cast("double")
          .as("direction_changes"),
        (max(col("y_norm")) - min(col("y_norm"))).as("lateral_range"))
      .withColumn("delta_x", dx)
      .withColumn("delta_y", dy)
      .withColumn("delta_y_abs", abs(dy))
      .withColumn("direct_dist", sqrt(dx * dx + dy * dy))
      .withColumn("straightness",
        when(col("route_len") === 0.0, 0.0)
          .otherwise(col("direct_dist") / col("route_len")))
      .withColumn("route_duration", col("route_frames") * Kinematics.FrameDt)
  }

  /** `centers` are in standardized units; `assigned` is the input plus the
    * standardized `features` array and `route_cluster`. */
  final case class RouteClustering(centers: Array[Array[Double]], assigned: DataFrame)

  /** Median-impute → standardize → k-means(k, seed). Adds the standardized
    * `features` array and `route_cluster`. (reference: routes.py:173-233;
    * imputation :202-205.) One task ([[KMeans.inOneTask]]) takes each
    * feature's lower median (what percentile_approx returns at these sizes),
    * the imputed column's mean and stddev_samp, standardizes by MLlib's
    * rule (0.0 where the std is 0) and fits; `assigned` applies the same
    * medians, means and stds as column expressions. Past
    * `KMeans.SampleCap` routes the statistics are the sample's. */
  def clusterRoutes(features: DataFrame, k: Int = 12, seed: Long = 42L): RouteClustering = {
    val (medians, means, stds, centers) =
      KMeans.inOneTask(features, featureCols.map(c => col(c).cast("double"))) { it =>
        val rows = it.toArray
        val stats = featureCols.indices.map { i =>
          val seen = rows.filterNot(_.isNullAt(i)).map(_.getDouble(i))
          require(seen.nonEmpty, s"clusterRoutes: ${featureCols(i)} is null in every route")
          java.util.Arrays.sort(seen)
          val median = seen((seen.length - 1) / 2)
          val v = rows.map(r => if (r.isNullAt(i)) median else r.getDouble(i))
          val mean = v.sum / v.length
          val std = if (v.length < 2) 0.0
            else math.sqrt(v.map(x => (x - mean) * (x - mean)).sum / (v.length - 1))
          (median, mean, std, v)
        }
        val x = rows.indices.map(r => stats.map { case (_, mean, std, v) =>
          if (std == 0.0) 0.0 else (v(r) - mean) / std }.toArray).toArray
        (stats.map(_._1), stats.map(_._2), stats.map(_._3), KMeans.fitPoints(x, k, seed))
      }
    val withFeatures = features
      .withColumns(featureCols.zip(medians).map { case (c, m) => c -> coalesce(col(c), lit(m)) }.toMap)
      .withColumn("features", array(featureCols.indices.map(i =>
        if (stds(i) == 0.0) lit(0.0) else (col(featureCols(i)) - means(i)) / stds(i)): _*))
    RouteClustering(centers,
      withFeatures.withColumn("route_cluster", KMeans.nearest(col("features"), centers)))
  }

  /** M4 — 2-component PCA of the scaled feature vectors (reference:
    * BDB_2026.ipynb cell 39; visualization aid, exposed for parity). Expects
    * the standardized `features` array from [[clusterRoutes]]. */
  def pca2(scaled: DataFrame): DataFrame = {
    val vectors = scaled.withColumn("features", array_to_vector(col("features")))
    new org.apache.spark.ml.feature.PCA()
      .setInputCol("features").setOutputCol("pca_features").setK(2)
      .fit(vectors).transform(vectors)
  }

  /** One-hot embedding table route_emb_0..k-1 (reference: routes.py:284-295). */
  def oneHotEmbeddings(assigned: DataFrame, k: Int = 12): DataFrame =
    (0 until k).foldLeft(assigned) { (df, i) =>
      df.withColumn(s"route_emb_$i",
        when(col("route_cluster") === i, 1.0).otherwise(0.0))
    }

  /** Per-cluster centroids in *feature space* as a small DataFrame — broadcast
    * side of the deviation join (reference: Phase3 cell 10 recomputes means;
    * equivalently the k-means centers unscaled).
    */
  def clusterCentroids(assigned: DataFrame): DataFrame =
    assigned.groupBy("route_cluster")
      .agg(avg(col(featureCols.head)).as(s"cent_${featureCols.head}"),
        featureCols.tail.map(c => avg(col(c)).as(s"cent_$c")): _*)

  /** Euclidean deviation of each route from its cluster centroid
    * (reference: Phase3 cell 12 apply-per-row → broadcast join + expression;
    * metrics.py:170-182). No UDF: codegen'd sqrt-of-sums.
    */
  def routeDeviation(assigned: DataFrame): DataFrame = {
    val sq = featureCols.map(c =>
      (col(c) - col(s"cent_$c")) * (col(c) - col(s"cent_$c"))).reduce(_ + _)
    assigned.join(broadcast(clusterCentroids(assigned)), Seq("route_cluster"))
      .withColumn("route_deviation", sqrt(sq))
      .drop(featureCols.map(c => s"cent_$c"): _*)
  }

  /** RouteExecIQ: negated within-cluster z-score of deviation — lower
    * deviation = better execution.
    *
    * Defaults (sample stddev, no clipping) reproduce the reference's
    * COMMITTED artifact exactly (outputs/RouteExecIQ.csv; Phase3 cell 14 uses
    * pandas' ddof=1 — verified to 4e-15 in GoldenParitySpec). The
    * metrics.py:97-122 variant (ddof=0, clip ±3) is available via
    * `sampleStd = false, clip = Some(3.0)`; the survey's W5 note flags the
    * reference's own inconsistency here — match per metric.
    */
  def routeExecIQ(withDeviation: DataFrame, sampleStd: Boolean = true,
      clip: Option[Double] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = Window.partitionBy("route_cluster")
    val sd =
      if (sampleStd) stddev_samp("route_deviation").over(wc)
      else stddev_pop("route_deviation").over(wc)
    // degenerate cluster (all deviations equal) → z = 0; ANSI mode would
    // otherwise raise DIVIDE_BY_ZERO.
    val z = when(sd === 0.0 || sd.isNull, lit(0.0)).otherwise(
      (col("route_deviation") - avg("route_deviation").over(wc)) / sd)
    val iq = clip match {
      case Some(c) => greatest(least(-z, lit(c)), lit(-c))
      case None => -z
    }
    withDeviation.withColumn("route_exec_iq", iq)
  }
}
