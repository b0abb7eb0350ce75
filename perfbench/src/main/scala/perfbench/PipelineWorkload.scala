package perfbench

import scala.collection.mutable

import graft.bdb._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `pipeline`: the paper's reproduction, `Pipeline.run` as USAGE.md calls
  * it, on seeded Synth-shaped tracking read back from parquet, timed until
  * every `Result` frame is materialized. The op is the first run in a fresh
  * driver, as a batch job runs it. The traced op calls the phase functions
  * one by one instead, with each phase's input materialized first, so its
  * time is not comparable with the untraced op's.
  *
  * Each op's scorecard and held-out R² are also checked against the first
  * result this build produced for the same seed and kind of op (traced or
  * untraced, under `refBase`), so outputs that drift between runs fail the
  * op. A traced op whose output differs from the untraced op's is reported
  * as a finding, not a failure: `Routes.clusterRoutes` assigns other
  * clusters when its input is pinned first, which changes the scorecard's
  * route-execution columns. */
final class PipelineWorkload(spark: SparkSession, seed: Long, workDir: String, refBase: String)
    extends Workload {
  import PipelineWorkload._

  private val trackingPath = s"$workDir/inputs/pipeline-seed$seed/tracking.parquet"
  private var tracking: DataFrame = _

  /** Generates the seeded tracking and writes it to parquet, three times
    * (reported as the median); the op reads it back uncached. */
  def setup(): Seq[(String, Double)] = {
    val reps = (1 to 3).map { _ =>
      Workload.timed(seededTracking(spark, seed, Games, PlaysPerGame)
        .write.mode("overwrite").parquet(trackingPath))._2
    }
    tracking = spark.read.parquet(trackingPath)
    Seq("inputs" -> Stats.median(reps))
  }

  def run(seconds: Double, trace: Option[Trace]): Outcome = {
    val output = Synth.output(tracking)
    val supp = Synth.supplementary(tracking)
    val results = mutable.ArrayBuffer.empty[(Double, Either[Throwable, Check])]
    def untracedOp(): Unit = results += (Workload.timed(
      try Right(materialize(Pipeline.run(tracking, output, supp)))
      catch { case e: Exception => Left(e) }) match { case (r, s) => (s, r) })

    var layers = Map.empty[String, M]
    trace match {
      case None =>
        val start = System.nanoTime()
        do untracedOp() while ((System.nanoTime() - start) / 1e9 < seconds)
      case Some(t) =>
        // one traced op, in the cold driver an untraced run's op also gets
        t.attach()
        val before = t.snap()
        results += (Workload.timed(
          try Right(tracedOp(t, tracking, supp))
          catch { case e: Exception => Left(e) }) match { case (r, s) => (s, r) })
        val all = t.snap() - before
        t.detach()
        layers = phaseLayers(t) ++ Map(
          "spark.shuffle_mb" -> M(all.shuffleMb, "MB"),
          "spark.gc_s" -> M(all.gcS, "s"),
          "spark.task_failures" -> M(all.failures.toDouble, "count"))
    }

    val storage = Workload.heldStorageMb()
    val opS = results.toSeq.map(_._1)
    val Seq(ownRef, otherRef) = Seq(trace.isDefined, trace.isEmpty)
      .map(traced => s"$refBase-${if (traced) "traced" else "untraced"}.txt")
    val checks = checkAll(results.toSeq.map(_._2), Reference.load(ownRef))
    val outputs = results.toSeq.collect { case (_, Right(c)) => c }
    outputs.headOption.foreach(Reference.saveIfAbsent(ownRef, _))
    val findings = Reference.load(otherRef).toSeq.flatMap(o => outputs.filter(_ != o).take(1).map(c =>
      s"${if (trace.isDefined) "traced" else "untraced"} output $c differs from the other kind of op's $o"))
    Outcome(
      attempted = results.size,
      failed = checks.count(_._2.nonEmpty),
      e2e = Workload.e2e(opS.map(_ * 1e3), opS, storage),
      named = Map("pipeline_s" -> M(Stats.median(opS), "s"),
        "storage_mb" -> M(storage, "MB")) ++ Workload.heldStorageByKind(),
      layers = layers, overhead = Map.empty,
      inputs = Map("games" -> Games, "plays_per_game" -> PlaysPerGame,
        "players_per_play" -> 14, "frames" -> tracking.count(),
        "outputs" -> outputs),
      opMs = opS.map(_ * 1e3),
      checks = checks.flatMap(_._2),
      findings = findings)
  }
}

object PipelineWorkload {
  /** 24 games: held-out R² is scored on the games `splitByGame` holds out
    * (4 of the first 16, 6 of the first 24), and with 16 games it ranged
    * 0.876–0.931 over seeds 1–12, below `ModelSpec`'s band on seed 11; at 24
    * games it ranged 0.902–0.942 over the same seeds. Run time depends
    * little on the size: the op is dominated by job latency in a cold
    * driver. */
  val Games = 24
  val PlaysPerGame = 25
  /** Held-out R² band `ModelSpec` accepts for the GBT convergence model. */
  val R2Band: (Double, Double) = (0.88, 1.0)

  /** What one op's outputs must show: scorecard size and digest (doubles
    * rounded to 6 places) and held-out R². */
  final case class Check(scorecardRows: Int, scorecardHash: Int, r2: Double)

  /** Materializes every `Result` frame: the two small ones are collected
    * (all columns, and the checks read them), the others digested. */
  def materialize(r: Pipeline.Result): Check = {
    val metrics = r.modelMetrics.collect()
    val scorecard = r.scorecard.collect()
    Seq(r.features, r.routeFeatures, r.perPlay).foreach(RowDigest.of)
    Check(scorecard.length, roundedHash(scorecard),
      metrics.headOption.map(_.getAs[Double]("r2")).getOrElse(Double.NaN))
  }

  private def roundedHash(rows: Array[Row]): Int =
    rows.map(_.toSeq.map {
      case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
      case v => String.valueOf(v)
    }.mkString("|")).sorted.mkString("\n").hashCode

  /** Per-op failures: a failed op, an empty scorecard, R² outside the band,
    * or a scorecard or R² that differs from the reference (`saved`, else the
    * run's first op). */
  def checkAll(ops: Seq[Either[Throwable, Check]], saved: Option[Check]): Seq[(Int, Option[String])] = {
    val ref = saved.orElse(ops.collectFirst { case Right(c) => c })
    ops.zipWithIndex.map {
      case (Left(e), i) => (i, Some(s"pipeline op $i failed: $e"))
      case (Right(c), i) =>
        val problems = Seq(
          Option.when(c.scorecardRows == 0)("scorecard is empty"),
          Option.when(!(c.r2 > R2Band._1 && c.r2 <= R2Band._2))(s"held-out r2 ${c.r2} outside $R2Band"),
          ref.filter(_ != c).map(r => s"output $c differs from the reference $r"))
        (i, Option(problems.flatten).filter(_.nonEmpty).map(p => s"pipeline op $i: ${p.mkString("; ")}"))
    }
  }

  /** One line per seed and build: `rows hash r2`. */
  object Reference {
    def load(path: String): Option[Check] = {
      val f = new java.io.File(path)
      Option.when(f.exists) {
        val src = scala.io.Source.fromFile(f)
        val Array(rows, hash, r2) = try src.mkString.trim.split(" ") finally src.close()
        Check(rows.toInt, hash.toInt, r2.toDouble)
      }
    }
    def saveIfAbsent(path: String, c: Check): Unit = {
      val f = new java.io.File(path)
      if (!f.exists) {
        f.getParentFile.mkdirs()
        java.nio.file.Files.writeString(f.toPath, s"${c.scorecardRows} ${c.scorecardHash} ${c.r2}\n")
      }
    }
  }

  /** The traced op: `Pipeline.run`'s phases called one by one through their
    * public functions (same arguments), each output materialized inside its
    * span so the next phase starts from a materialized input. The extra
    * materializations are released at the end. */
  def tracedOp(t: Trace, tracking: DataFrame, supp: DataFrame): Check = {
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); held += c; c }
    def phase[T](name: String)(body: => T): T = t.span(s"bdb.$name")(body)._1
    try {
      val frames = phase("kinematics")(pin(Kinematics.addDirectionChange(
        Kinematics.addFrameIndex(Kinematics.addBallGeometry(
          Kinematics.addVelocity(Normalize.notebookStyle(tracking)))))))
      val receivers = frames.filter(col("player_role") === "Targeted Receiver")
      val defenders = frames.filter(col("player_side") === "Defense")
      val separation = phase("separation")(
        pin(Separation.nearestDefenderPerFrame(receivers, defenders)))
      // cached and kept, as Pipeline.run caches its `labeled` frame
      val labeled = phase("labels") {
        val l = Labels.addConvergeRate(Labels.filterToCompletedPasses(
          Separation.attachSeparation(receivers, separation), supp)).cache()
        l.count()
        l
      }
      val routeFeats = phase("routes.features")(pin(Routes.routeFeatures(
        receivers.join(broadcast(supp.filter(!col("route_of_targeted_receiver")
          .isin(Schemas.junkRoutes: _*)).select("game_id", "play_id")),
          Schemas.playKeys, "left_semi"))))
      val clustered = phase("routes.kmeans") {
        val c = Routes.clusterRoutes(routeFeats, k = 4)
        pin(c.assigned)
      }
      val withIq = phase("routes.iq")(pin(Routes.routeExecIQ(Routes.routeDeviation(clustered))))
      val seqFeatured = phase("sequence_features")(pin(SequenceFeatures.add(labeled)))
      val featureCols = Seq("dist_to_ball", "heading_align_cos", "vx", "vy", "s",
        "defender_separation", "time_since_start") ++ SequenceFeatures.cols
      val (train, valid) = ModelEval.splitByGame(seqFeatured, 0.2)
      val model = phase("model.gbt_train")(GbtModel.train(train, featureCols,
        maxIter = 100, maxDepth = 3, minInstancesPerNode = 10, subsamplingRate = 0.8))
      val (scored, modelMetrics) = phase("model.score") {
        val scored = pin(model.withResidual(seqFeatured))
        val scoredValid = model.withResidual(valid)
        val lastW = Window.partitionBy(Schemas.trajectoryKeys.map(col): _*)
        val causalValid = scoredValid
          .withColumn("__last", col("frame_id") === max(col("frame_id")).over(lastW))
          .filter(!col("__last")).drop("__last")
        val mm = ModelEval.regressionMetrics(scoredValid)
          .crossJoin(broadcast(ModelEval.regressionMetrics(causalValid)
            .select(col("r2").as("r2_excl_final"), col("rmse").as("rmse_excl_final"))))
        (scored, mm.collect())
      }
      val (perPlay, perPlayIq) = phase("metrics.truespeed") {
        val perPlay = pin(Metrics.trueSpeedPerPlay(scored))
        val perPlaySep = scored.groupBy("game_id", "play_id", "nfl_id")
          .agg(avg("defender_separation").as("defender_separation"))
        (perPlay, pin(Metrics.hybridAirPlayIq(perPlay.join(perPlaySep, Schemas.trajectoryKeys))))
      }
      val scorecard = phase("metrics.scorecard") {
        val airIq = perPlayIq.groupBy("nfl_id").agg(avg("air_play_iq").as("air_play_iq"))
        val playerPlays = receivers
          .select("game_id", "play_id", "nfl_id", "player_name").distinct()
          .join(broadcast(supp), Schemas.playKeys)
          .join(perPlay.select(col("game_id"), col("play_id"), col("nfl_id"),
            col("residual_mean")), Schemas.trajectoryKeys, "left")
          .join(withIq.select(col("game_id"), col("play_id"), col("nfl_id"),
            col("route_exec_iq")), Schemas.trajectoryKeys, "left")
        Metrics.archetypes(Metrics.scorecard(playerPlays))
          .join(airIq, Seq("nfl_id"), "left").collect()
      }
      Check(scorecard.length, roundedHash(scorecard),
        modelMetrics.headOption.map(_.getAs[Double]("r2")).getOrElse(Double.NaN))
    } finally held.foreach(_.unpersist(true))
  }

  val Phases: Seq[String] = Seq("kinematics", "separation", "labels",
    "routes.features", "routes.kmeans", "routes.iq", "sequence_features",
    "model.gbt_train", "model.score", "metrics.truespeed", "metrics.scorecard")

  def phaseLayers(t: Trace): Map[String, M] =
    Phases.flatMap { p =>
      val s = t.spans.find(_.name == s"bdb.$p")
      Seq(s"bdb.$p.wall_s" -> M(s.map(_.durMs / 1e3).getOrElse(0.0), "s"),
        s"bdb.$p.jobs" -> M(s.map(_.attrs("jobs")).getOrElse(0.0), "count"),
        s"bdb.$p.cpu_s" -> M(s.map(_.attrs("cpu_s")).getOrElse(0.0), "s"))
    }.toMap

  /** Synth.tracking's shape and formulas (FIXTURES.md invariants) with the
    * seed mixed into every per-row hash, so each seed gives other
    * positions, speeds and play lengths over the same games and plays. */
  def seededTracking(spark: SparkSession, seed: Long, nGames: Int, playsPerGame: Int): DataFrame = {
    val s = lit(seed)
    val plays = spark.range(0, nGames.toLong * playsPerGame)
      .select(
        (col("id") / playsPerGame + 1).cast("long").as("game_id"),
        (col("id") % playsPerGame + 1).cast("long").as("play_id"))
      .withColumn("n_frames", pmod(hash(col("game_id"), col("play_id"), s), lit(21)) + 20)
      .withColumn("play_direction",
        when(pmod(hash(col("play_id"), s), lit(2)) === 0, "left").otherwise("right"))
      .withColumn("ball_land_x", lit(40.0) +
        pmod(hash(col("game_id"), col("play_id"), lit(1), s), lit(400)) / 10.0)
      .withColumn("ball_land_y", lit(10.0) +
        pmod(hash(col("game_id"), col("play_id"), lit(2), s), lit(330)) / 10.0)
    plays
      .crossJoin(spark.range(1, 15).select(col("id").as("pidx")))
      .withColumn("nfl_id", col("game_id") * 100 + col("pidx"))
      .withColumn("player_side", when(col("pidx") <= 7, "Offense").otherwise("Defense"))
      .withColumn("player_role",
        when(col("pidx") === 1, "Targeted Receiver")
          .when(col("pidx") <= 7, "Other Route Runner")
          .otherwise("Defensive Coverage"))
      .withColumn("player_to_predict", col("pidx") === 1)
      .withColumn("player_position",
        when(col("pidx") === 1, "WR").when(col("pidx") <= 7, "TE").otherwise("CB"))
      .withColumn("player_name", concat(lit("Player "), col("nfl_id")))
      .withColumn("frame_id", explode(sequence(lit(1L), col("n_frames"))))
      .withColumn("x0", lit(20.0) + pmod(hash(col("nfl_id"), col("play_id"), s), lit(200)) / 10.0)
      .withColumn("y0", lit(5.0) + pmod(hash(col("nfl_id"), col("game_id"), s), lit(430)) / 10.0)
      .withColumn("prog", col("frame_id") / col("n_frames"))
      .withColumn("x", col("x0") + (col("ball_land_x") - col("x0")) * col("prog") * 0.8)
      .withColumn("y", col("y0") + (col("ball_land_y") - col("y0")) * col("prog") * 0.8)
      .withColumn("s", abs(pmod(hash(col("nfl_id"), col("frame_id"), s), lit(90))) / 10.0)
      .withColumn("a", lit(0.0))
      .withColumn("dir",
        pmod(degrees(atan2(col("ball_land_x") - col("x"), col("ball_land_y") - col("y"))),
          lit(360.0)))
      .withColumn("o", col("dir"))
      .withColumn("absolute_yardline_number",
        (pmod(hash(col("play_id"), lit(7), s), lit(99)) + 1).cast("long"))
      .withColumn("player_height", concat(lit("6-"), pmod(hash(col("nfl_id"), s), lit(6))))
      .withColumn("player_weight",
        (pmod(hash(col("nfl_id"), lit(8), s), lit(80)) + 180).cast("long"))
      .withColumn("player_birth_date",
        concat(lit("199"), pmod(hash(col("nfl_id"), lit(9), s), lit(10)), lit("-06-15")))
      .withColumn("num_frames_output",
        (pmod(hash(col("game_id"), col("play_id"), lit(10), s), lit(20)) + 5).cast("long"))
      .select("game_id", "play_id", "player_to_predict", "nfl_id", "frame_id",
        "play_direction", "absolute_yardline_number", "player_name",
        "player_height", "player_weight", "player_birth_date",
        "player_position", "player_side", "player_role",
        "x", "y", "s", "a", "dir", "o",
        "num_frames_output", "ball_land_x", "ball_land_y")
  }
}
