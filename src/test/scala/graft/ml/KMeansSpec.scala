package graft.ml

import graft.{SparkSpec, StageMeter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The single-task k-means every small fit goes through: recovery, a fit
  * that is a function of the row set alone, fewer centers than k, the
  * failure messages, the map-side nearest-center rule and the job count. */
class KMeansSpec extends SparkSpec {

  /** 600 rows of two hash-generated columns: a 3-dim `a` and a 2-dim `b`. */
  private lazy val points: DataFrame = {
    val h = (salt: Int) => pmod(hash(col("id"), lit(salt)), lit(1000)) / 100.0
    spark.range(600).select(col("id"),
      array(h(1), h(2), h(3)).as("a"), array(h(4), h(5)).as("b"))
  }

  private def bits(centers: Seq[Array[Array[Double]]]): Seq[Seq[Long]] =
    centers.map(_.toSeq.flatMap(_.map(java.lang.Double.doubleToRawLongBits)))

  test("two separated blobs are recovered") {
    import spark.implicits._
    val df = (0 until 200).map { i =>
      val (base, jitter) = (if (i % 2 == 0) 0.0 else 10.0, (i % 7) * 0.01)
      Seq(base + jitter, base - jitter)
    }.toDF("v")
    val Seq(centers) = KMeans.fit(df, Seq(col("v")), k = 2, seed = 1L)
    val sorted = centers.sortBy(_.head)
    assert(sorted.length === 2)
    assert(math.abs(sorted(0)(0) - 0.03) < 0.01 && math.abs(sorted(0)(1) + 0.03) < 0.01)
    assert(math.abs(sorted(1)(0) - 10.03) < 0.01 && math.abs(sorted(1)(1) - 9.97) < 0.01)
  }

  test("centers are bit-identical however the input is partitioned, " +
      "ordered or cached") {
    def fit(df: DataFrame) = bits(KMeans.fit(df, Seq(col("a"), col("b")), k = 5, seed = 7L))
    val reference = fit(points.repartition(1))
    val cached = points.repartition(5).cache()
    try {
      Seq(points.repartition(3), points.repartition(8), points.orderBy(rand(3)), cached)
        .foreach(df => assert(fit(df) === reference))
    } finally cached.unpersist()
  }

  test("k above the distinct rows gives one center per distinct row") {
    import spark.implicits._
    val distinct = Seq(Seq(0.0, 1.0), Seq(5.0, 5.0), Seq(-3.0, 2.0))
    val df = (0 until 30).map(i => distinct(i % 3)).toDF("v")
    val Seq(centers) = KMeans.fit(df, Seq(col("v")), k = 10, seed = 42L)
    assert(centers.map(_.toSeq).toSet === distinct.toSet)
    assert(centers.length === 3)
  }

  test("an empty input and a null vector fail with their messages") {
    Seq(points.limit(0), points.filter(col("id") < 0)).foreach { df =>
      val e = intercept[IllegalArgumentException](KMeans.fit(df, Seq(col("a")), 2, 1L))
      assert(e.getMessage.contains("is empty"))
    }
    val withNull = points.withColumn("a",
      when(col("id") === 17, lit(null).cast("array<double>")).otherwise(col("a")))
    val e = intercept[Exception](KMeans.fit(withNull, Seq(col("a")), 2, 1L))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("a null vector in a")), e)
  }

  test("the nearest-center expression is minBy((distance, index)), ties included") {
    import spark.implicits._
    // centers 1 and 3 coincide; every grid point on a midpoint ties
    val centers = Array(Array(0.0, 0.0), Array(2.0, 0.0), Array(0.0, 2.0), Array(2.0, 0.0),
      Array(1.0, 1.0))
    val grid = for (x <- -2 to 8; y <- -2 to 8) yield Seq(x * 0.5, y * 0.5)
    val got = grid.toDF("v").select(col("v"), KMeans.nearest(col("v"), centers.toSeq).as("c"))
      .as[(Seq[Double], Int)].collect().toMap
    def l2(p: Seq[Double], c: Array[Double]) =
      p.indices.foldLeft(0.0)((acc, i) => acc + (p(i) - c(i)) * (p(i) - c(i)))
    grid.foreach { p =>
      val want = centers.indices.minBy(i => (l2(p, centers(i)), i))
      assert(got(p) === want, s"point $p")
      assert(KMeans.nearestIndex(p.toArray, centers) === want, s"point $p")
    }
    assert(got.values.toSet.contains(0) && !got.values.toSet.contains(3))
  }

  test("a fit of several columns runs in at most 2 jobs") {
    val slices = (0 until 8).map(j => array(col("a")(j % 3), col("b")(j % 2)))
    val (centers, sample) = StageMeter(spark).measure(KMeans.fit(points, slices, 4, 1L))
    assert(centers.length === 8)
    assert(sample.stages.size <= 2, s"${sample.stages.size} stages")
  }
}
