package graft.bdb

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Checkpoints.cache

/** End-to-end pipeline (reference: Submission.ipynb EP1, SURVEY §3): raw
  * tracking → normalized features → separation → labels → route clusters →
  * convergence model → TrueSpeed → scorecard, as ONE Spark DAG.
  *
  * The only intentional departure from the reference lifecycle: nothing is
  * re-read from intermediate CSVs — lineage stays in Catalyst, with a single
  * `cache()` on the shared feature table (reference materializes 6 CSVs and
  * re-ingests them, data_io.py:56-79).
  *
  * Scale shape: all trajectory ops share the hash(game_id, play_id[, nfl_id])
  * partitioning; the only later reshuffles are the per-player rollup and the
  * final (tiny) leaderboard sort, matching SURVEY §3's exchange plan.
  */
object Pipeline {

  final case class Result(
      features: DataFrame, routeFeatures: DataFrame, perPlay: DataFrame,
      scorecard: DataFrame, modelMetrics: DataFrame)

  /** Phase 0 + separation + labels: (receivers, labeled) — the normalized
    * receiver frames and, for completed passes, the same frames with
    * `converge_rate` attached: the feature table every convergence model
    * (GBT, in-engine LSTM) trains on. Factored out of [[run]] so
    * model-level specs/tools build the same table without the
    * clustering/scorecard phases. */
  def labeledFeatures(tracking: DataFrame, supp: DataFrame): (DataFrame, DataFrame) = {
    // Phase 0 — normalize + kinematics (map-side, one window exchange)
    val frames = Kinematics.addDirectionChange(
      Kinematics.addFrameIndex(
        Kinematics.addBallGeometry(
          Kinematics.addVelocity(
            Normalize.notebookStyle(tracking)))))

    // Separation (J7): per-frame nearest defender for targeted receivers
    val receivers = frames.filter(col("player_role") === "Targeted Receiver")
    val defenders = frames.filter(col("player_side") === "Defense")
    val separation = Separation.nearestDefenderPerFrame(receivers, defenders)

    // Labels: completed passes only, converge-rate target
    val labeled = Labels.addConvergeRate(
      Labels.filterToCompletedPasses(
        Separation.attachSeparation(receivers, separation), supp))
    (receivers, labeled)
  }

  def run(tracking: DataFrame, output: DataFrame, supp: DataFrame): Result = {
    val (receivers, labeled0) = labeledFeatures(tracking, supp)
    val labeled = cache(labeled0)

    // Phase 1 — route features + clustering on receiver trajectories
    val routeFeats = Routes.routeFeatures(
      receivers.join(
        broadcast(supp.filter(!col("route_of_targeted_receiver")
          .isin(Schemas.junkRoutes: _*)).select("game_id", "play_id")),
        Schemas.playKeys, "left_semi"))
    val clustered = Routes.clusterRoutes(routeFeats, k = 4)
    val withIq = Routes.routeExecIQ(Routes.routeDeviation(clustered.assigned))

    // Phase 2 — convergence model (distributed GBT + relational sequence
    // features standing in for the reference LSTM's memory) + residuals
    val seqFeatured = SequenceFeatures.add(labeled)
    val featureCols = Seq("dist_to_ball", "heading_align_cos", "vx", "vy", "s",
      "defender_separation", "time_since_start") ++ SequenceFeatures.cols
    val (train, valid) = ModelEval.splitByGame(seqFeatured, 0.2)
    // Many shallow, regularized rounds: the sequence features carry a
    // near-linear signal (closing_rate_lag ≈ next-frame label) that deep
    // trees memorize per-trajectory (held-out sweep: depth 5-6 ≈ 0.87-0.89,
    // this config 0.91); training is offline, so the added sequential
    // rounds don't sit on any query path.
    val model = GbtModel.train(train, featureCols, maxIter = 100, maxDepth = 3,
      minInstancesPerNode = 10, subsamplingRate = 0.8)
    val scored = model.withResidual(seqFeatured)
    val scoredValid = model.withResidual(valid)
    // Companion metrics EXCLUDING each trajectory's final frame: the label
    // forces converge_rate = 0.0 there (lead(dist) is null — BDB_2026.ipynb
    // cell 80), a value no causal feature set can anticipate, so the
    // all-frames R² carries an irreducible penalty the model didn't earn.
    // Measured round 7 (NOTES_r7): all-frames 0.904-0.912, excl-final 0.939
    // vs the reference LSTM's 0.9466 — which pays no such penalty for ITS
    // forced zero (the package-style label zeroes the FIRST frame, and an
    // LSTM reading from t=0 can learn "first step → 0").
    val lastW = org.apache.spark.sql.expressions.Window
      .partitionBy(Schemas.trajectoryKeys.map(col): _*)
    val causalValid = scoredValid
      .withColumn("__last", col("frame_id") === max(col("frame_id")).over(lastW))
      .filter(!col("__last")).drop("__last")
    val modelMetrics = ModelEval.regressionMetrics(scoredValid)
      .crossJoin(broadcast(ModelEval.regressionMetrics(causalValid)
        .select(col("r2").as("r2_excl_final"),
          col("rmse").as("rmse_excl_final"))))

    // Phase 3 — TrueSpeed + AirPlayIQ + scorecard
    val perPlay = Metrics.trueSpeedPerPlay(scored)
    val perPlaySep = scored.groupBy("game_id", "play_id", "nfl_id")
      .agg(avg("defender_separation").as("defender_separation"))
    val perPlayIq = Metrics.hybridAirPlayIq(
      perPlay.join(perPlaySep, Schemas.trajectoryKeys))
    val airIq = perPlayIq.groupBy("nfl_id")
      .agg(avg("air_play_iq").as("air_play_iq"))
    // Play-level merge feeding the scorecard (metrics.py df_play): production
    // context from supp + per-play process metrics, left-joined so unscored
    // plays still count toward production; junk-route filter, volume
    // threshold, and the filter-then-scale 0-100 ordering all live INSIDE
    // scorecard(), matching the reference.
    val playerPlays = receivers
      .select("game_id", "play_id", "nfl_id", "player_name").distinct()
      .join(broadcast(supp), Schemas.playKeys)
      .join(perPlay.select(col("game_id"), col("play_id"), col("nfl_id"),
        col("residual_mean")), Schemas.trajectoryKeys, "left")
      .join(withIq.select(col("game_id"), col("play_id"), col("nfl_id"),
        col("route_exec_iq")), Schemas.trajectoryKeys, "left")
    val scorecard = Metrics.archetypes(Metrics.scorecard(playerPlays))
      .join(airIq, Seq("nfl_id"), "left")

    Result(labeled, withIq, perPlayIq, scorecard, modelMetrics)
  }

  /** Demo main on synthetic data: prints the scorecard + model metrics. */
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val tracking = Synth.tracking(spark)
    val result = run(tracking, Synth.output(tracking), Synth.supplementary(tracking))
    println(s"features rows: ${result.features.count()}")
    println(s"route clusters: " + result.routeFeatures
      .groupBy("route_cluster").count().orderBy("route_cluster")
      .collect().map(r => s"${r.getInt(0)}:${r.getLong(1)}").mkString(" "))
    println("validation metrics:")
    result.modelMetrics.show(truncate = false)
    println("scorecard:")
    result.scorecard.orderBy("rank").show(20, truncate = false)
    spark.stop()
  }
}
