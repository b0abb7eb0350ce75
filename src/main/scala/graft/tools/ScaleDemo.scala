package graft.tools

import graft.GraftSession
import graft.bdb._
import org.apache.spark.sql.functions._
import graft.Checkpoints.pin

/** Reference-scale throughput demo: generates a synthetic season at the
  * reference's data scale (~4.9 M pre-throw player-frames; BASELINE.md row 1)
  * and times the pipeline stages against the reference's observable numbers —
  * notably the nearest-defender separation op, a Python loop that "may take a
  * minute" on the reference's laptop (BDB_2026.ipynb cell 69) and is a single
  * equi-join + min-agg here.
  */
object ScaleDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] $name%-38s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    // 272 games × 52 plays × 14 players × ~30 frames ≈ 5.9M rows (reference:
    // 4.88M rows, 272 games, 14,108 plays)
    val tracking = timed("generate+materialize tracking") {
      val t = pin(Synth.tracking(spark, nGames = 272, playsPerGame = 52)
        .repartition(32, col("game_id"), col("play_id")))
      println(s"[scale] rows: ${t.count()}")
      t
    }
    val supp = pin(Synth.supplementary(tracking))

    val frames = timed("normalize + kinematics (full season)") {
      pin(Kinematics.addDirectionChange(
        Kinematics.addFrameIndex(
          Kinematics.addBallGeometry(
            Kinematics.addVelocity(
              Normalize.notebookStyle(tracking))))))
    }

    timed("nearest-defender separation (ref: 'may take a minute')") {
      val receivers = frames.filter(col("player_role") === "Targeted Receiver")
      val defenders = frames.filter(col("player_side") === "Defense")
      val sep = Separation.nearestDefenderPerFrame(receivers, defenders)
      println(s"[scale] separation rows: ${sep.count()}")
    }

    timed("route features + KMeans clustering") {
      val feats = Routes.routeFeatures(
        frames.filter(col("player_role") === "Targeted Receiver"))
      val clustered = Routes.clusterRoutes(feats, k = 12)
      println(s"[scale] routes clustered: ${clustered.assigned.count()}")
    }

    timed("full pipeline (incl. GBT train + scorecard)") {
      val r = Pipeline.run(tracking, Synth.output(tracking), supp)
      println(s"[scale] scorecard players: ${r.scorecard.count()}")
    }

    // Near-dup cluster closure at corpus scale: 3M-node graph shaped like an
    // LSH candidate graph — 500k star clusters of 5 (diameter 2) plus chain
    // links joining consecutive stars in 1% of cases (forces an extra
    // propagation round). ~2.9M edges.
    timed("connected components (3M nodes, ~2.9M edges)") {
      val n = 3000000L
      val stars = spark.range(n)
        .select(col("id").as("src"), (col("id") - col("id") % 5).as("dst"))
        .filter(col("src") =!= col("dst"))
      val bridges = spark.range(n / 5)
        .filter(pmod(col("id"), lit(100)) === 0)
        .select((col("id") * 5).as("src"), (col("id") * 5 + 5).as("dst"))
        .filter(col("dst") < n)
      val comps = graft.operators.ConnectedComponents.run(
        stars.union(bridges))
      println(s"[scale] components: ${comps.select("comp").distinct().count()}")
    }

    // Adversarial diameter: one 1M-node PATH. Label propagation would need
    // 10^6 rounds; star contraction closes it in O(log² n).
    timed("star contraction (1M-node path, diameter 10^6)") {
      val path = spark.range(999999L)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
      val comps = graft.operators.ConnectedComponents.runStarContraction(path)
      println(s"[scale] path components: ${comps.select("comp").distinct().count()}" +
        s" (nodes: ${comps.count()})")
    }
    spark.stop()
  }
}
