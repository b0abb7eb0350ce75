package graft.queries

import graft.SparkSpec
import graft.operators.MinHash
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Pins the min-band emission of the bucket-local LSH and SimHash pair
  * paths: a pair colliding in several bands is emitted once, from its
  * minimal colliding band, and a pair colliding in ONE band — any band,
  * including the last, which the min-band `CASE` reaches by `ELSE` — is
  * emitted exactly once too. */
class DedupBandsSpec extends SparkSpec {
  import spark.implicits._

  test("lshBandPairs emits a pair colliding only in band b exactly once, for every b") {
    val rows = MinHash.K / MinHash.NBands
    def sig(id: Long, mh: Int => Long) = id +: (0 until MinHash.K).map(mh)
    val onlyIn = (0 until MinHash.NBands).flatMap { b =>
      val a = (j: Int) => 1000L + 100 * b + j
      val other = (j: Int) => if (j / rows == b) a(j) else 5000L + 100 * b + j
      Seq(sig(10L * b, a), sig(10L * b + 1, other))
    }
    val everyBand = Seq(sig(100L, 9000L + _), sig(101L, 9000L + _))
    val schema = "doc_id" +: (0 until MinHash.K).map(j => s"mh_$j")
    val sigs = spark.createDataFrame(
      spark.sparkContext.parallelize((onlyIn ++ everyBand).map(Row(_: _*))),
      StructType(schema.map(StructField(_, LongType))))

    val got = DedupQueries.lshBandPairs(sigs).orderBy("d1", "d2")
      .as[(Long, Long)].collect().toSeq
    val want = (0 until MinHash.NBands).map(b => (10L * b, 10L * b + 1)) :+
      ((100L, 101L))
    assert(got === want)
  }

  test("simhashBandPairs emits each pair once, from its minimal colliding band") {
    val bands = 3
    def hash(byBand: Int => Int): Long =
      (0 until bands).map(k => byBand(k).toLong << (8 * k)).sum
    val onlyIn = (0 until bands).flatMap { b =>
      val a = (k: Int) => 1 + 10 * b + k
      Seq((10L * b, hash(a)),
        (10L * b + 1, hash(k => if (k == b) a(k) else 128 + 10 * b + k)))
    }
    val more = Seq(
      (100L, hash(200 + _)), (101L, hash(200 + _)), // every band
      (110L, hash(210 + _)), (111L, hash(k => if (k == 0) 230 else 210 + k))) // bands 1, 2
    val sigs = (onlyIn ++ more).toDF("doc_id", "simhash")

    val got = DedupQueries.simhashBandPairs(sigs)
      .select(col("p.d1"), col("p.d2"), col("band"))
      .orderBy("d1", "d2").as[(Long, Long, Int)].collect().toSeq
    val want = (0 until bands).map(b => (10L * b, 10L * b + 1, b)) ++
      Seq((100L, 101L, 0), (110L, 111L, 1))
    assert(got === want)
  }
}
