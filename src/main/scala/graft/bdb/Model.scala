package graft.bdb

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.queries.Exact

/** The expected-convergence regressor behind a narrow contract
  * (SURVEY §7 step 7): DataFrame(per-frame features) → DataFrame(+ pred).
  *
  * The reference trains a Keras LSTM (Masking→LSTM64→LSTM32→TD Dense,
  * reference: bdb2026/models.py:24-138) — sequence models have no
  * Catalyst/MLlib analogue, so the Spark-native core offers:
  *
  *  - [[StubModel]]: joins precomputed predictions (e.g. the reference's
  *    committed predictions CSV) — unblocks every downstream metric exactly.
  *  - [[GbtModel]]: squared-error gradient-boosted trees on the same
  *    per-frame features, fit in one Spark task — no sequence memory, but
  *    residual metrics stay well-defined and the fit stays one Spark query.
  *  - [[LstmModel]] / [[TrainedLstmModel]]: the reference LSTM, scored (and
  *    trained) in-engine over the [[Sequences]] table.
  *
  * All implementations add `predicted_converge_rate` and `residual`
  * (= actual − predicted, reference: metrics.py residual convention).
  */
trait ConvergenceModel {
  def predict(frames: DataFrame): DataFrame

  final def withResidual(frames: DataFrame,
      actualCol: String = "converge_rate"): DataFrame =
    predict(frames).withColumn("residual",
      col(actualCol) - col("predicted_converge_rate"))
}

/** In-engine forward-pass inference over the reference's committed Keras
  * weights (reference: models.py:24-67 architecture; artifacts saved at
  * BDB_2026.ipynb cell 107): build sequences with [[Sequences.buildFlat]],
  * run the float32 LSTM forward pass ([[graft.ml.KerasLstm]] — weights read straight
  * from the `.h5` by the pure-JVM [[graft.ml.H5Lite]]), and join the
  * per-frame predictions back positionally (the reference renumbers
  * post-throw frames 1..L in its predictions CSV — `frame_idx` is the rank
  * of `frame_id` within the trajectory, which equals `frame_id` when frames
  * are already 1-based and dense).
  *
  * The committed per-frame INPUT features were never published (only the
  * predictions were), so end-to-end numeric parity against the predictions
  * CSV is unverifiable from public artifacts; the forward pass itself is
  * pinned to Keras semantics by the cross-implementation fixture in
  * KerasLstmSpec instead.
  */
final class LstmModel(modelPath: String, features: Seq[String],
    maxLen: Int = 25) extends ConvergenceModel {
  private val model = graft.ml.KerasLstm.load(modelPath)
  require(model.nFeatures == features.size,
    s"$modelPath expects ${model.nFeatures} features, got ${features.size}")

  override def predict(frames: DataFrame): DataFrame =
    LstmScoring.scoreAndAttach(frames, frames, features, model, maxLen)
}

/** Shared LSTM serving path: build float32 sequences from `featFrames`
  * (the caller's possibly-standardized view of `frames`), score them with
  * the float32 forward pass, and join the per-frame predictions back to
  * `frames` positionally. */
private[bdb] object LstmScoring {
  def scoreAndAttach(frames: DataFrame, featFrames: DataFrame,
      features: Seq[String], model: graft.ml.KerasLstm.Model,
      maxLen: Int, unscale: DataFrame => DataFrame = identity): DataFrame = {
    val keys = Schemas.trajectoryKeys
    val seqs = Sequences.buildFlat(featFrames, features, maxLen,
      valueType = "float")
    val preds = unscale(graft.ml.KerasLstm.scoreFlat(seqs, model, keys))
    // buildFlat keeps the LAST maxLen frames, so seq position 1 is
    // frame rank (L - maxLen + 1) on long trajectories: shift the rank;
    // truncated head frames get frame_idx <= 0 → no match → null prediction.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    val rankW = w.orderBy(col("frame_id"))
    frames
      .withColumn("frame_idx",
        (row_number().over(rankW) -
          greatest(count(lit(1)).over(w) - maxLen, lit(0))).cast("long"))
      .join(preds, keys :+ "frame_idx", "left")
      .drop("frame_idx")
  }
}

/** **In-engine TRAINED convergence LSTM** (r17 verdict #5 — the one
  * reference capability the engine previously could not reproduce): the
  * exact reference architecture (models.py:23-67), trained DISTRIBUTED by
  * [[graft.ml.LstmTrainer]]'s synchronous data-parallel BPTT (gradients
  * treeAggregate'd, Adam on the driver, weights broadcast per step) and
  * served by the same [[graft.ml.KerasLstm]] float32 forward pass as the
  * committed reference weights.
  *
  * Features AND label are z-scored on TRAIN statistics (stored in the
  * model; applied at predict, predictions un-scaled back): with ~200 Adam
  * steps on the fixture, raw-magnitude labels would spend the whole budget
  * growing the output head. Null features impute to the mean (0 after
  * scaling), so a null feature does not fail training, as in the GBT. */
final class TrainedLstmModel private (
    val model: graft.ml.KerasLstm.Model,
    features: Seq[String],
    featMean: Array[Double], featStd: Array[Double],
    labelMean: Double, labelStd: Double, maxLen: Int) extends ConvergenceModel {

  override def predict(frames: DataFrame): DataFrame =
    LstmScoring.scoreAndAttach(
      frames, TrainedLstmModel.standardize(frames, features, featMean, featStd),
      features, model, maxLen,
      unscale = _.withColumn("predicted_converge_rate",
        col("predicted_converge_rate") * labelStd + labelMean))
}

object TrainedLstmModel {

  private[bdb] def standardize(df: DataFrame, features: Seq[String],
      mean: Array[Double], std: Array[Double]): DataFrame =
    features.zipWithIndex.foldLeft(df) { case (d, (f, i)) =>
      d.withColumn(f, coalesce((col(f) - mean(i)) / std(i), lit(0.0)))
    }

  /** Train on labeled frames (the [[Pipeline.labeledFeatures]] contract).
    * `valFrames` drives early stopping with best-weights restore, like the
    * reference's callbacks (models.py:110-118). */
  def train(trainFrames: DataFrame, valFrames: Option[DataFrame],
      features: Seq[String], labelCol: String = "converge_rate",
      maxLen: Int = 25, epochs: Int = 150, batchesPerEpoch: Int = 2,
      patience: Int = 20, seed: Long = 42L): TrainedLstmModel = {
    val statCols = features.flatMap(f =>
      Seq(avg(col(f)), coalesce(stddev_samp(col(f)), lit(1.0)))) ++
      Seq(avg(col(labelCol)), coalesce(stddev_samp(col(labelCol)), lit(1.0)))
    val r = trainFrames.agg(statCols.head, statCols.tail: _*).head()
    val featMean = features.indices.map(i => r.getDouble(2 * i)).toArray
    val featStd = features.indices
      .map(i => math.max(r.getDouble(2 * i + 1), 1e-9)).toArray
    val labelMean = r.getDouble(2 * features.size)
    val labelStd = math.max(r.getDouble(2 * features.size + 1), 1e-9)

    def prep(df: DataFrame): DataFrame = Sequences.buildFlat(
      standardize(df, features, featMean, featStd)
        .withColumn(labelCol, (col(labelCol) - labelMean) / labelStd),
      features :+ labelCol, maxLen)

    val cfg = graft.ml.LstmTrainer.Config(nFeatures = features.size,
      epochs = epochs, batchesPerEpoch = batchesPerEpoch,
      patience = patience, seed = seed)
    val trained = graft.ml.LstmTrainer.train(
      prep(trainFrames), valFrames.map(prep), Schemas.trajectoryKeys, cfg)
    org.slf4j.LoggerFactory.getLogger("graft.bdb.TrainedLstmModel").info(
      s"trained ${trained.epochsRun} epochs (best ${trained.bestEpoch}): " +
        f"train mse ${trained.trainLoss}%.5f, monitored ${trained.valLoss}%.5f " +
        "(standardized units)")
    new TrainedLstmModel(trained.model, features, featMean, featStd,
      labelMean, labelStd, maxLen)
  }
}

/** Precomputed-prediction join (keys: game_id, play_id, frame_id). */
final class StubModel(predictions: DataFrame) extends ConvergenceModel {
  override def predict(frames: DataFrame): DataFrame =
    frames.join(
      predictions.select(col("game_id"), col("play_id"), col("frame_id"),
        col("predicted_converge_rate")),
      Seq("game_id", "play_id", "frame_id"), "left")
}

/** Squared-error gradient-boosted trees on per-frame features, fit in one
  * Spark task by [[GbtModel.train]]. `predict` is one deterministic UDF over
  * the feature columns; a null or NaN feature goes right at every split. */
final class GbtModel private (private[bdb] val trees: GbtModel.Trees, features: Seq[String])
    extends ConvergenceModel {
  override def predict(frames: DataFrame): DataFrame = {
    val t = trees
    val score = udf((x: Seq[Double]) => t.predict(x))
    frames.withColumn("predicted_converge_rate",
      score(array(GbtModel.featureValues(features): _*)))
  }
}

object GbtModel {
  /** MLlib's default `maxBins`: at most `MaxBins - 1` split candidates per
    * feature. */
  private val MaxBins = 32

  /** The boosted trees as flat node arrays. Tree `t` starts at node
    * `roots(t)`; a node with `feature >= 0` sends `x(feature) <= threshold`
    * to `left`, everything else (NaN too) to `right`; a leaf
    * (`feature == -1`) holds `value`. */
  final case class Trees(roots: Array[Int], weights: Array[Double],
      feature: Array[Int], threshold: Array[Double], left: Array[Int],
      right: Array[Int], value: Array[Double]) {
    def leaf(tree: Int, x: Int => Double): Int = {
      var j = roots(tree)
      while (feature(j) >= 0) j = if (x(feature(j)) <= threshold(j)) left(j) else right(j)
      j
    }
    def predict(x: Int => Double): Double = {
      var s = 0.0
      var t = 0
      while (t < roots.length) { s += weights(t) * value(leaf(t, x)); t += 1 }
      s
    }
  }

  /** Feature values as doubles, null as NaN. */
  private def featureValues(features: Seq[String]): Seq[Column] =
    features.map(f => coalesce(col(f).cast("double"), lit(Double.NaN)))

  /** Fits squared-error gradient boosting (MLlib's `GradientBoostedTrees`
    * recipe) in ONE task: the features and the label are exchanged to a
    * single partition, sorted by those columns, and boosted there, so 100
    * rounds cost one query instead of a job per tree level, and the model is
    * a pure function of the row set (not of cores, partitioning or caching):
    * rows equal in every sorted column are interchangeable in the fit.
    *
    * Tree 0 fits the label with weight 1; tree m ≥ 1 fits the negative
    * gradient 2·(y − F) with weight 0.1. Splits maximize the variance gain
    * over at most `MaxBins - 1` candidates per feature ([[splitCandidates]]),
    * need `minInstancesPerNode` rows on each side and a positive gain; a leaf
    * is its rows' mean target. Round m draws its Bernoulli subsample from
    * `SplittableRandom(seed + m)` over the sorted rows.
    *
    * Scale bound: the task holds about n × 8(d + 1) bytes while the rows
    * load (n rows, d features), then n × (d + 24) bytes of bins, labels,
    * predictions and targets plus 4 bytes per row and tree level of row
    * indices while it boosts, so tens of millions of rows fit in a few GB;
    * the BDB training set is 10^5–10^6 rows. An empty set fails; more than
    * `Int.MaxValue` rows fail, naming the count. */
  def train(train: DataFrame, features: Seq[String],
      labelCol: String = "converge_rate",
      maxIter: Int = 20, maxDepth: Int = 5, seed: Long = 42L,
      minInstancesPerNode: Int = 1, subsamplingRate: Double = 1.0): GbtModel = {
    val d = features.size
    val names = features.indices.map(i => s"__x$i") :+ "__y"
    val values = featureValues(features) :+ col(labelCol).cast("double")
    val rows = train.select(values.zip(names).map { case (v, n) => v.as(n) }: _*)
      .repartition(1)
      .sortWithinPartitions(names.map(col): _*)
    // an empty input plans to no partition or to one empty partition
    val trees = rows.rdd.mapPartitions(it => if (it.isEmpty) Iterator.empty
        else Iterator(fit(it, d, labelCol, maxIter, maxDepth, seed,
          minInstancesPerNode, subsamplingRate)))
      .collect().headOption
      .getOrElse(throw new IllegalArgumentException("GbtModel.train: the training set is empty"))
    new GbtModel(trees, features)
  }

  private def fit(rows: Iterator[Row], d: Int, labelCol: String, maxIter: Int,
      maxDepth: Int, seed: Long, minInstances: Int, rate: Double): Trees = {
    val cols = Array.fill(d)(Array.newBuilder[Double])
    val labels = Array.newBuilder[Double]
    var count = 0L
    rows.foreach { r =>
      if (count < Int.MaxValue) {
        require(!r.isNullAt(d), s"GbtModel.train: null $labelCol in a training row")
        for (f <- 0 until d) cols(f) += r.getDouble(f)
        labels += r.getDouble(d)
      }
      count += 1
    }
    require(count <= Int.MaxValue, s"GbtModel.train fits in one task, which holds at " +
      s"most ${Int.MaxValue} rows; the training set has $count")
    val y = labels.result()
    val n = y.length
    val thresholds = new Array[Array[Double]](d)
    val bins = Array.tabulate(d) { f =>
      val x = cols(f).result()
      cols(f) = null
      thresholds(f) = splitCandidates(x)
      x.map(v => binOf(thresholds(f), v).toByte)
    }

    val feature, splitBin, left, right = mutable.ArrayBuffer.empty[Int]
    val threshold, value = mutable.ArrayBuffer.empty[Double]
    val target, pred = new Array[Double](n)
    def grow(idx: Array[Int], depth: Int): Int = {
      val c = idx.length.toDouble
      var s, q = 0.0
      idx.foreach { i => s += target(i); q += target(i) * target(i) }
      val node = feature.size
      feature += -1; splitBin += -1; threshold += 0.0; left += -1; right += -1
      value += (if (idx.isEmpty) 0.0 else s / c)
      var best = (0.0, -1, -1) // (gain, feature, bin)
      if (depth < maxDepth) {
        for (f <- 0 until d) {
          val nb = thresholds(f).length + 1
          val hc, hs, hq = new Array[Double](nb)
          idx.foreach { i =>
            val b = bins(f)(i)
            hc(b) += 1; hs(b) += target(i); hq(b) += target(i) * target(i)
          }
          var (lc, ls, lq) = (0.0, 0.0, 0.0)
          for (b <- 0 until nb - 1) {
            lc += hc(b); ls += hs(b); lq += hq(b)
            if (lc >= minInstances && c - lc >= minInstances) {
              val gain = variance(c, s, q) - lc / c * variance(lc, ls, lq) -
                (c - lc) / c * variance(c - lc, s - ls, q - lq)
              if (gain > best._1) best = (gain, f, b)
            }
          }
        }
      }
      val (_, f, b) = best
      if (f >= 0) {
        val (l, r) = idx.partition(i => bins(f)(i) <= b)
        feature(node) = f; splitBin(node) = b; threshold(node) = thresholds(f)(b)
        left(node) = grow(l, depth + 1)
        right(node) = grow(r, depth + 1)
      }
      node
    }

    val weights = Array.tabulate(maxIter)(m => if (m == 0) 1.0 else 0.1)
    val roots = Array.tabulate(maxIter) { m =>
      for (i <- 0 until n) target(i) = if (m == 0) y(i) else 2 * (y(i) - pred(i))
      val rng = new java.util.SplittableRandom(seed + m)
      val sample = if (rate >= 1.0) Array.range(0, n)
        else (0 until n).filter(_ => rng.nextDouble() < rate).toArray
      val root = grow(sample, 0)
      for (i <- 0 until n) {
        var j = root
        while (feature(j) >= 0) j = if (bins(feature(j))(i) <= splitBin(j)) left(j) else right(j)
        pred(i) += weights(m) * value(j)
      }
      root
    }
    Trees(roots, weights, feature.toArray, threshold.toArray, left.toArray,
      right.toArray, value.toArray)
  }

  private def variance(c: Double, s: Double, q: Double): Double = q / c - (s / c) * (s / c)

  /** The bin of `v`: the first threshold index `i` with `v <= thresholds(i)`,
    * else `thresholds.length` (NaN lands there, right of every split). */
  private def binOf(thresholds: Array[Double], v: Double): Int = {
    var (lo, hi) = (0, thresholds.length)
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (v <= thresholds(mid)) hi = mid else lo = mid + 1 }
    lo
  }

  /** MLlib's `findSplitsForContinuousFeature` over the non-NaN values: the
    * midpoints between adjacent distinct values when there are at most
    * `MaxBins` of them, else `MaxBins - 1` quantile-strided cut points, each
    * the midpoint to the preceding distinct value. */
  private[bdb] def splitCandidates(values: Array[Double]): Array[Double] = {
    val sorted = values.filterNot(_.isNaN)
    java.util.Arrays.sort(sorted)
    val distinct, counts = mutable.ArrayBuffer.empty[Double]
    sorted.foreach { v =>
      if (distinct.nonEmpty && distinct.last == v) counts(counts.size - 1) += 1
      else { distinct += v; counts += 1 }
    }
    def mid(i: Int) = (distinct(i - 1) + distinct(i)) / 2.0
    if (distinct.size <= MaxBins) (1 until distinct.size).map(mid).toArray
    else {
      val stride = sorted.length.toDouble / MaxBins
      var (seen, goal) = (counts(0), stride)
      (1 until distinct.size).flatMap { i =>
        val before = seen
        seen += counts(i)
        Option.when(math.abs(before - goal) < math.abs(seen - goal)) { goal += stride; mid(i) }
      }.toArray
    }
  }
}

object ModelEval {

  /** Leakage-safe split: hash-partition whole games into train/val
    * (reference: BDB_2026.ipynb cell 91 splits by game_id). */
  def splitByGame(df: DataFrame, valFraction: Double = 0.2): (DataFrame, DataFrame) = {
    require(valFraction >= 0.0 && valFraction <= 1.0,
      s"splitByGame: valFraction must be in [0, 1], got $valFraction")
    val bucket = pmod(hash(col("game_id")), lit(100))
    val cut = math.round(valFraction * 100).toInt
    (df.filter(bucket >= cut), df.filter(bucket < cut))
  }

  /** MSE/RMSE/MAE/R² in one aggregation pass (reference: cell 102 acceptance:
    * R²=0.9466 for the LSTM; the GBT baseline is graded against the same
    * formula). R² from sums: 1 − SSE / (Σy² − (Σy)²/n). The sums are exact
    * decimal sums at 12 places ([[Exact.dsum12]]: squared errors run near
    * 1e-3), so the metrics do not depend on the input's partitioning. */
  def regressionMetrics(df: DataFrame, actual: String = "converge_rate",
      pred: String = "predicted_converge_rate"): DataFrame = {
    val err = col(actual) - col(pred)
    val y = col(actual)
    df.agg(
      count(lit(1)).cast("double").as("n"),
      Exact.dsum12(err * err).as("sse"),
      Exact.dsum12(abs(err)).as("sae"),
      Exact.dsum12(y).as("sy"),
      Exact.dsum12(y * y).as("syy"))
      .select(
        (col("sse") / col("n")).as("mse"),
        sqrt(col("sse") / col("n")).as("rmse"),
        (col("sae") / col("n")).as("mae"),
        (lit(1.0) - col("sse") /
          (col("syy") - col("sy") * col("sy") / col("n"))).as("r2"))
  }
}
