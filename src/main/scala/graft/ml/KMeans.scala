package graft.ml

import java.util.SplittableRandom

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** MLlib's k-means recipe fit in ONE Spark task (the [[graft.bdb.GbtModel]]
  * pattern), and the one nearest-center rule every caller assigns with.
  * Routes, IVF cells, the IMI half-space codebooks and the PQ subspace
  * codebooks all fit here. */
object KMeans {
  /** Lloyd stops after `MaxIter` rounds, or once no center moves more than
    * `Tol` (MLlib's defaults). */
  val MaxIter = 20
  val Tol = 1e-4

  /** The most rows one fit reads, which bounds every task of the fit. */
  val SampleCap = 65536

  /** Fits up to `k` centers to each of `columns` (`array<double>`
    * expressions over `data`) in one task ([[inOneTask]]): column `j` by
    * [[fitPoints]] with seed `seed + j`. A null vector or vectors of unequal
    * length fail, naming the column. */
  def fit(data: DataFrame, columns: Seq[Column], k: Int, seed: Long): Seq[Array[Array[Double]]] = {
    require(k >= 1, s"KMeans.fit: k must be >= 1, got $k")
    val labels = columns.map(_.toString)
    inOneTask(data, columns.map(_.cast("array<double>"))) { it =>
      val rows = it.toArray
      labels.indices.map { j =>
        val x = rows.map { r =>
          val v = r.getSeq[Any](j)
          require(v != null && !v.contains(null), s"KMeans.fit: a null vector in ${labels(j)}")
          v.map(_.asInstanceOf[Double]).toArray
        }
        require(x.forall(_.length == x(0).length),
          s"KMeans.fit: ${labels(j)} holds vectors of unequal length")
        fitPoints(x, k, seed + j)
      }
    }
  }

  /** Runs `f` in ONE task over the sample every fit reads: the `SampleCap`
    * rows of `columns` that come first by `xxhash64` of their values (then
    * by the values). Each input partition keeps its own first `SampleCap`
    * rows, one exchange brings those to a single task, and that task keeps
    * the first `SampleCap` and sorts them by their values. So one job reads
    * the input once, no task holds more than `SampleCap` rows, and `f` sees
    * the same rows in the same order however the input is partitioned,
    * ordered or cached. An empty input fails, naming the columns. */
  def inOneTask[T: ClassTag](data: DataFrame, columns: Seq[Column])(f: Iterator[Row] => T): T =
    data.select(xxhash64(columns: _*) +: columns: _*).rdd
      .mapPartitions(it => first(it.map(unboxed)))
      .coalesce(1, shuffle = true)
      .mapPartitions { it =>
        val rows = first(it).map(r => Row.fromSeq(r.toSeq.tail)).toArray.sorted(ValueOrder)
        if (rows.isEmpty) Iterator.empty else Iterator(f(rows.iterator))
      }
      .collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        s"KMeans: the input of ${columns.mkString(", ")} is empty"))

  /** `r` with each array of doubles held as a primitive array. */
  private def unboxed(r: Row): Row = Row.fromSeq(r.toSeq.map {
    case v: scala.collection.Seq[_] if v.forall(_.isInstanceOf[Double]) =>
      ArraySeq.unsafeWrapArray(v.map(_.asInstanceOf[Double]).toArray)
    case v => v
  })

  /** The first `SampleCap` rows of `it`, in no order. */
  private def first(it: Iterator[Row]): Iterator[Row] = {
    val heap = mutable.PriorityQueue.empty[Row](SampleOrder)
    it.foreach { r => heap.enqueue(r); if (heap.size > SampleCap) heap.dequeue() }
    heap.iterator
  }

  /** By the hash in field 0, then by the values. */
  private val SampleOrder: Ordering[Row] =
    Ordering.by[Row, Long](_.getLong(0)).orElse(ValueOrder)

  /** By the values, field by field: nulls first, doubles by
    * `java.lang.Double.compare`, arrays element by element, then by length. */
  private object ValueOrder extends Ordering[Row] {
    def compare(a: Row, b: Row): Int =
      a.toSeq.iterator.zip(b.toSeq).map { case (x, y) => value(x, y) }.find(_ != 0).getOrElse(0)
    private def value(a: Any, b: Any): Int = (a, b) match {
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
        x.iterator.zip(y).map { case (p, q) => value(p, q) }.find(_ != 0)
          .getOrElse(Integer.compare(x.size, y.size))
      case _ => java.lang.Boolean.compare(a != null, b != null)
    }
  }

  /** k-means over `x` in the calling thread, MLlib's recipe with its RNG
    * replaced by `SplittableRandom(seed)`. k-means|| (2 steps) draws
    * candidate centers: a uniform first pick, then each point with
    * probability 2k·d²/Σd² (d: distance to the nearest candidate so far).
    * More than `k` distinct candidates are cut to `k` by k-means++ over the
    * candidates weighted by the points nearest each, refined by 30 weighted
    * Lloyd rounds. Lloyd over `x` then moves each center to the mean of the
    * points [[nearestIndex]] gives it; a center no point picks stays put.
    * Fewer distinct points than `k` give fewer centers. */
  def fitPoints(x: Array[Array[Double]], k: Int, seed: Long): Array[Array[Double]] = {
    val rng = new SplittableRandom(seed)
    val cands = mutable.ArrayBuffer(x(rng.nextInt(x.length)))
    var d2 = x.map(l2(_, cands.head))
    for (_ <- 1 to 2) {
      val sum = d2.sum
      val picked = x.indices.filter(p => rng.nextDouble() < 2.0 * k * d2(p) / sum).map(x)
      cands ++= picked
      d2 = x.indices.map(p => picked.foldLeft(d2(p))((m, c) => math.min(m, l2(x(p), c)))).toArray
    }
    val distinct = cands.distinctBy(_.toSeq).toArray
    if (distinct.length <= k) return lloyd(x, Array.fill(x.length)(1.0), distinct, MaxIter, None)
    val weights = new Array[Double](distinct.length)
    x.foreach(p => weights(nearestIndex(p, distinct)) += 1)
    val init = mutable.ArrayBuffer(distinct(pick(rng, weights)))
    var cost = distinct.map(l2(_, init.head))
    while (init.size < k) {
      val c = distinct(pick(rng, cost.indices.map(i => cost(i) * weights(i)).toArray))
      init += c
      cost = distinct.indices.map(i => math.min(cost(i), l2(distinct(i), c))).toArray
    }
    val local = lloyd(distinct, weights, init.toArray, 30, Some(rng))
    lloyd(x, Array.fill(x.length)(1.0), local, MaxIter, None)
  }

  /** The index the cumulative `w` first exceeds a uniform draw of its sum at. */
  private def pick(rng: SplittableRandom, w: Array[Double]): Int = {
    val r = rng.nextDouble() * w.sum
    var (i, acc) = (0, w(0))
    while (acc <= r && i < w.length - 1) { i += 1; acc += w(i) }
    while (w(i) == 0 && i > 0) i -= 1 // r rounded up to the sum
    i
  }

  /** Weighted Lloyd from `init`, at most `rounds` rounds. With `respawn`
    * (MLlib's local refinement) a center no point picks moves to a random
    * point and rounds run until no assignment changes; without it the
    * center stays and rounds stop once no center moves more than `Tol`. */
  private def lloyd(x: Array[Array[Double]], w: Array[Double], init: Array[Array[Double]],
      rounds: Int, respawn: Option[SplittableRandom]): Array[Array[Double]] = {
    val centers = init.clone()
    val closest = Array.fill(x.length)(-1)
    var (iter, moved) = (0, true)
    while (iter < rounds && moved) {
      val sums = Array.fill(centers.length)(new Array[Double](x(0).length))
      val counts = new Array[Double](centers.length)
      moved = false
      for (p <- x.indices) {
        val c = nearestIndex(x(p), centers)
        counts(c) += w(p)
        for (i <- x(p).indices) sums(c)(i) += w(p) * x(p)(i)
        if (respawn.isDefined && c != closest(p)) { moved = true; closest(p) = c }
      }
      for (c <- centers.indices) {
        if (counts(c) > 0) {
          val next = sums(c).map(_ / counts(c))
          if (respawn.isEmpty) moved ||= l2(next, centers(c)) > Tol * Tol
          centers(c) = next
        } else respawn.foreach(r => centers(c) = x(r.nextInt(x.length)))
      }
      iter += 1
    }
    centers
  }

  /** `float_l2sq`'s distance: the squared differences summed left to right. */
  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var (acc, i) = (0.0, 0)
    while (i < a.length) { val t = a(i) - b(i); acc += t * t; i += 1 }
    acc
  }

  /** The nearest center of `p`, ties to the lowest index. */
  def nearestIndex(p: Array[Double], centers: Array[Array[Double]]): Int = {
    var (best, bestD) = (0, l2(p, centers(0)))
    for (c <- 1 until centers.length) { val d = l2(p, centers(c)); if (d < bestD) { best = c; bestD = d } }
    best
  }

  /** [[nearestIndex]] as one map-side expression: the int index of the
    * center nearest to `vec` by `float_l2sq` over the centers literal; null
    * for a null vector. The vector enters the lambda as an argument: column
    * pruning does not see a lambda's outer references. */
  def nearest(vec: Column, centers: Seq[Array[Double]]): Column =
    argmin(zip_with(array_repeat(vec, centers.size), typedlit(centers.map(_.toSeq)),
      (v, c) => call_function("float_l2sq", v, c)))

  /** The int index of the smallest of `distances`, ties to the lowest. */
  def argmin(distances: Column): Column =
    (array_position(distances, array_min(distances)) - 1).cast("int")
}
