package graft.bdb

import graft.{SparkSpec, StageMeter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The single-task booster behind [[GbtModel]]: squared-error rounds,
  * null/NaN routing, leaf sizes, the empty input, and a model that is a
  * function of the row set alone. */
class TreeBoostSpec extends SparkSpec {

  /** 1,500 frames over 3 features (one with nulls and NaNs) and a noisy
    * nonlinear label, all hash-generated. */
  private lazy val frames: DataFrame = {
    val h = (salt: Int) => pmod(hash(col("id"), lit(salt)), lit(1000)) / 100.0
    spark.range(1500).select(
      (col("id") / 300).cast("long").as("game_id"),
      (col("id") / 30 % 10).cast("long").as("play_id"),
      lit(7L).as("nfl_id"),
      (col("id") % 30).cast("long").as("frame_id"),
      h(1).as("a"), h(2).as("b"),
      when(pmod(col("id"), lit(11)) === 0, lit(null).cast("double"))
        .when(pmod(col("id"), lit(13)) === 0, lit(Double.NaN))
        .otherwise(h(3)).as("c"),
      (h(4) / 10).as("noise"))
      .withColumn("y", sin(col("a")) * col("b") +
        coalesce(when(!isnan(col("c")), col("c")), lit(2.0)) + col("noise"))
      .drop("noise")
  }
  private val cols = Seq("a", "b", "c")

  private def predictionBits(m: GbtModel): Seq[Long] =
    m.predict(frames).orderBy(Schemas.frameKeys.map(col): _*)
      .select("predicted_converge_rate").collect()
      .map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(0))).toSeq

  test("a step function is recovered exactly, split at the midpoint") {
    import spark.implicits._
    val df = (1 to 200).map { i =>
      val x = i % 10
      (i.toLong, 1L, i.toLong, x.toDouble, if (x > 5) 3.0 else 1.0)
    }.toDF("game_id", "play_id", "frame_id", "x", "y")
    val m = GbtModel.train(df, Seq("x"), "y", maxIter = 10, maxDepth = 1)
    // tree 0 is the step itself; it leaves no residual, so every later tree
    // is one leaf holding 0
    val root = m.trees.roots(0)
    assert(m.trees.threshold(root) === 5.5)
    assert(m.trees.value(m.trees.left(root)) === 1.0)
    assert(m.trees.value(m.trees.right(root)) === 3.0)
    assert(m.trees.roots.tail.forall(r => m.trees.feature(r) == -1 && m.trees.value(r) == 0.0))
    val preds = m.predict(df).select("x", "predicted_converge_rate").distinct()
      .as[(Double, Double)].collect()
    assert(preds.map(_._1).sorted.toSeq === (0 to 9).map(_.toDouble))
    preds.foreach { case (x, p) =>
      assert(p === (if (x > 5) 3.0 else 1.0), s"x = $x predicts $p")
    }
  }

  test("every leaf holds at least minInstancesPerNode training rows") {
    val m = GbtModel.train(frames, cols, "y", maxIter = 5, maxDepth = 4,
      minInstancesPerNode = 40)
    val xs = frames.select(cols.map(c => coalesce(col(c), lit(Double.NaN))): _*)
      .collect().map(r => Array.tabulate(3)(r.getDouble))
    val perLeaf = m.trees.roots.indices
      .flatMap(t => xs.map(x => (t, m.trees.leaf(t, x(_)))))
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(perLeaf.size > 5 * 4, s"trees barely split: ${perLeaf.size} leaves")
    assert(perLeaf.values.min >= 40, s"a leaf holds ${perLeaf.values.min} rows")
  }

  test("null and NaN features go right in train and in predict") {
    import spark.implicits._
    val df = ((1 to 100).map(i => (i.toLong, Option((i % 10 + 1).toDouble),
      if (i % 10 + 1 > 5) 10.0 else 0.0)) ++
      (101 to 110).map(i => (i.toLong, Option.empty[Double], 10.0)) ++
      (111 to 120).map(i => (i.toLong, Option(Double.NaN), 10.0)))
      .toDF("frame_id", "x", "y")
    val m = GbtModel.train(df, Seq("x"), "y", maxIter = 2, maxDepth = 1)
    val root = m.trees.roots(0)
    assert(m.trees.threshold(root) === 5.5)
    // a null or NaN row (label 10) routed left would pull the left mean off 0
    assert(m.trees.value(m.trees.left(root)) === 0.0)
    assert(m.trees.value(m.trees.right(root)) === 10.0)
    val low = m.predict(df).filter(col("frame_id") === 10) // x = 1 → left
      .select("predicted_converge_rate").as[Double].head()
    val top = m.predict(df).filter(col("frame_id") === 9) // x = 10 → right
      .select("predicted_converge_rate").as[Double].head()
    assert(low < top)
    val preds = m.predict(df).filter(col("frame_id") > 100)
      .select("predicted_converge_rate").as[Double].collect()
    assert(preds.length === 20 && preds.forall(_ == top))
  }

  test("predictions are bit-identical however the input is partitioned, " +
      "ordered or cached") {
    def fit(df: DataFrame) = predictionBits(GbtModel.train(df, cols, "y",
      maxIter = 30, maxDepth = 3, minInstancesPerNode = 5, subsamplingRate = 0.8))
    val reference = fit(frames.repartition(1))
    val cached = frames.repartition(5).cache()
    try {
      Seq(frames.repartition(3), frames.repartition(8), frames.orderBy(rand(7)), cached)
        .foreach(df => assert(fit(df) === reference))
    } finally cached.unpersist()
  }

  test("an empty training set fails with a message") {
    // limit(0) is empty while planning; the filter only once it runs
    Seq(frames.limit(0), frames.filter(col("a") < 0)).foreach { df =>
      val e = intercept[IllegalArgumentException](GbtModel.train(df, cols, "y"))
      assert(e.getMessage.contains("the training set is empty"))
    }
  }

  test("100 rounds at depth 3 run in at most 4 stages") {
    val (_, sample) = StageMeter(spark).measure(GbtModel.train(frames, cols, "y",
      maxIter = 100, maxDepth = 3, minInstancesPerNode = 10, subsamplingRate = 0.8))
    assert(sample.stages.size <= 4, s"${sample.stages.size} stages")
  }

  test("splitCandidates: midpoints up to 32 distinct values, else 31 " +
      "quantile-strided cuts") {
    assert(GbtModel.splitCandidates(Array(3.0, 1.0, Double.NaN, 2.0, 1.0)) ===
      Array(1.5, 2.5))
    assert(GbtModel.splitCandidates(Array(4.0, 4.0)).isEmpty)
    val many = GbtModel.splitCandidates((1 to 640).map(_.toDouble).toArray)
    assert(many.length === 31)
    assert(many.head === 20.5 && many.last === 620.5)
  }
}
