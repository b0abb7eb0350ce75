package graft.bdb

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MetricsExtraSpec extends SparkSpec {

  test("trajectoryDeviation (A3): mean point-wise Euclidean distance") {
    import spark.implicits._
    val actual = Seq(
      (1L, 1L, 10L, 1L, 0.0, 0.0), (1L, 1L, 10L, 2L, 1.0, 0.0))
      .toDF("game_id", "play_id", "nfl_id", "frame_id", "x", "y")
    val predicted = Seq(
      (1L, 1L, 10L, 1L, 3.0, 4.0), (1L, 1L, 10L, 2L, 1.0, 2.0))
      .toDF("game_id", "play_id", "nfl_id", "frame_id", "x", "y")
    val dev = Metrics.trajectoryDeviation(actual, predicted).head()
    // distances: 5 (3-4-5 triangle) and 2 → mean 3.5
    assert(math.abs(dev.getAs[Double]("trajectory_deviation") - 3.5) < 1e-12)
  }

  test("trendline (M8): recovers slope/intercept of an exact linear relation") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toDouble, 3.0 * i + 7.0)).toDF("x", "y")
    val t = Metrics.trendline(df, "x", "y").head()
    assert(math.abs(t.getAs[Double]("slope") - 3.0) < 1e-9)
    assert(math.abs(t.getAs[Double]("intercept") - 7.0) < 1e-9)
    assert(math.abs(t.getAs[Double]("pearson_r") - 1.0) < 1e-9)
  }

  test("pca2 (M4): projects scaled features to 2 components") {
    import spark.implicits._
    val rows = (0 until 30).map { i =>
      (1L, i.toLong, 10L, i * 1.0, i * 2.0, 30.0 - i, 5.0, 1.0, 0.5, 2.0, 2.5, 1.5)
    }.toDF("game_id" +: "play_id" +: "nfl_id" +: Routes.featureCols: _*)
    val clustered = Routes.clusterRoutes(rows, k = 2)
    val projected = Routes.pca2(clustered.assigned)
    assert(projected.columns.contains("pca_features"))
    val v = projected.select("pca_features").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(v.size === 2)
  }
}
