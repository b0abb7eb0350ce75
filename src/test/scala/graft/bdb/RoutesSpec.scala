package graft.bdb

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class RoutesSpec extends SparkSpec {

  private def frames = {
    val df = Kinematics.addDirectionChange(
      Normalize.notebookStyle(Fixtures.simplePlay(spark)))
    df.filter(col("player_role") === "Targeted Receiver")
  }

  test("route features match the reference's 19-column surface (routes.py:74-155)") {
    val f = Routes.routeFeatures(frames).head()
    assert(f.getAs[Double]("route_frames") === 5.0)
    assert(f.getAs[Double]("x_start") === 51.0)
    assert(f.getAs[Double]("x_end") === 55.0)
    assert(f.getAs[Double]("delta_x") === 4.0)
    assert(f.getAs[Double]("delta_y") === 0.0)
    assert(f.getAs[Double]("delta_y_abs") === 0.0)
    assert(math.abs(f.getAs[Double]("route_len") - 4.0) < 1e-12)
    assert(math.abs(f.getAs[Double]("direct_dist") - 4.0) < 1e-12)
    assert(math.abs(f.getAs[Double]("straightness") - 1.0) < 1e-12)
    assert(f.getAs[Double]("mean_speed") === 1.0)
    assert(f.getAs[Double]("max_speed") === 1.0)
    assert(f.getAs[Double]("std_speed") === 0.0)
    assert(f.getAs[Double]("mean_accel") === 0.0)
    assert(f.getAs[Double]("direction_changes") === 0.0)
    assert(f.getAs[Double]("lateral_range") === 0.0)
    assert(math.abs(f.getAs[Double]("route_duration") - 0.5) < 1e-12) // n*0.1
  }

  test("kmeans clustering invariants: k clusters, no null assignments") {
    import spark.implicits._
    // 40 routes in two obvious blobs
    val rows = (0 until 40).map { i =>
      val blob = if (i % 2 == 0) 0.0 else 30.0
      (1L, i.toLong, 10L, 5.0 + blob + i * 0.01, 2.0 + blob, 20.0 + blob,
        3.0 + blob * 0.1, 5.0, 1.0, 2.0 + blob * 0.05, 2.5, 3.0 + blob)
    }.toDF("game_id" +: "play_id" +: "nfl_id" +: Routes.featureCols: _*)
    val result = Routes.clusterRoutes(rows, k = 2, seed = 42L)
    val clusters = result.assigned.select("route_cluster").distinct()
      .as[Int].collect().sorted
    assert(clusters.toSeq === Seq(0, 1))
    // two blobs must separate perfectly
    val agree = result.assigned
      .withColumn("blob", (col("play_id") % 2).cast("int"))
      .groupBy("blob").agg(countDistinct("route_cluster").as("nc"))
      .select("nc").as[Long].collect()
    assert(agree.toSeq === Seq(1L, 1L))
  }

  test("route clusters are the same on pinned and unpinned input, at 1 and 4 " +
      "partitions") {
    val h = (salt: Int) => pmod(hash(col("id"), lit(salt)), lit(1000)) / 100.0
    val features = spark.range(300).select(Seq((col("id") / 25).cast("long").as("game_id"),
      (col("id") % 25).as("play_id"), lit(10L).as("nfl_id")) ++
      Routes.featureCols.zipWithIndex.map { case (c, i) =>
        (if (i == 0) when(col("id") % 17 === 0, lit(null)).otherwise(h(i)) else h(i)).as(c)
      }: _*)
    val keys = Seq("game_id", "play_id", "nfl_id")
    def clusters(df: DataFrame): Map[Seq[Long], Int] =
      Routes.clusterRoutes(df, k = 4).assigned.select((keys :+ "route_cluster").map(col): _*)
        .collect().map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getInt(3)).toMap
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val reference = clusters(features)
    assert(reference.size === 300 && reference.values.toSet.size === 4)
    try Seq(1, 4).foreach { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      val input = features.orderBy(rand(p)).repartition(p)
      assert(clusters(input) === reference, s"unpinned, $p partitions")
      val pinned = input.cache()
      try {
        pinned.count()
        assert(clusters(pinned) === reference, s"pinned, $p partitions")
      } finally pinned.unpersist()
    } finally spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
  }

  test("one-hot embeddings are a unit vector per route") {
    import spark.implicits._
    val assigned = Seq((1L, 1L, 10L, 3), (1L, 2L, 10L, 7))
      .toDF("game_id", "play_id", "nfl_id", "route_cluster")
    val emb = Routes.oneHotEmbeddings(assigned, k = 12)
    val sums = emb.select(
      (0 until 12).map(i => col(s"route_emb_$i")).reduce(_ + _).as("total"))
      .as[Double].collect()
    assert(sums.forall(_ === 1.0))
    assert(emb.filter(col("route_emb_3") === 1.0).count() === 1)
  }

  test("route deviation is 0 for a route at its centroid, else > 0; execIQ clipped") {
    import spark.implicits._
    val rows = Seq(
      (1L, 1L, 10L, 0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0),
      (1L, 2L, 11L, 0, 3.0, 3.0, 3.0, 3.0, 3.0, 3.0, 3.0, 3.0, 3.0))
      .toDF("game_id" +: "play_id" +: "nfl_id" +: "route_cluster" +:
        Routes.featureCols: _*)
    val dev = Routes.routeDeviation(rows)
    val d = dev.orderBy("play_id").select("route_deviation")
      .as[Double].collect()
    // centroid (2,…,2): both routes at distance sqrt(9) = 3
    assert(d.forall(v => math.abs(v - 3.0) < 1e-12))
    val iq = Routes.routeExecIQ(dev, sampleStd = false, clip = Some(3.0))
      .select("route_exec_iq").as[Double].collect()
    assert(iq.forall(v => v >= -3.0 && v <= 3.0))
  }
}
