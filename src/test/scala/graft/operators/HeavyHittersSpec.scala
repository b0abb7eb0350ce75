package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Misra–Gries heavy hitters: the completeness guarantee (every key above
  * the error bound is tracked), the counter bounds, merge-shape
  * invariance, and the DataFrame aggregation path.
  */
class HeavyHittersSpec extends SparkSpec {

  private def sketchOf(items: Seq[Long], m: Int): MGSketch = {
    val s = HeavyHitters.empty(m)
    items.foreach(s.update)
    s
  }

  test("guarantee: every key with freq > n/(m+1) is tracked, bounds hold") {
    val rnd = new scala.util.Random(7)
    // heavy keys 1..3 (30%, 20%, 10%) over a noisy tail
    val items = new scala.util.Random(13).shuffle(
      Seq.fill(3000)(1L) ++ Seq.fill(2000)(2L) ++ Seq.fill(1000)(3L) ++
        (0 until 4000).map(_ => 100L + rnd.nextInt(2000).toLong))
    val n = items.size.toLong
    val m = 16
    val s = sketchOf(items, m)
    assert(s.n === n)
    assert(s.decrements <= n / (m + 1),
      s"decrement offset ${s.decrements} broke the n/(m+1) bound")
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // completeness: every key above the error bound has a counter
    exact.filter(_._2 > n / (m + 1)).keys.foreach { k =>
      assert(s.counters.containsKey(k), s"heavy key $k missing from sketch")
    }
    // per-key bounds: counter <= true <= counter + decrements
    s.counters.forEach { (k, c) =>
      val t = exact.getOrElse(k.longValue, 0L)
      assert(c <= t && t <= c + s.decrements, s"key $k: counter $c true $t")
    }
    // the max-frequency upper bound covers the true hottest key
    assert(s.maxFrequencyUpperBound >= exact.values.max)
    // candidatesAbove is a superset of the true heavy set at any threshold
    Seq(n / 4, n / 8, n / 16).foreach { th =>
      val trueHeavy = exact.filter(_._2 > th).keySet
      val cands = s.candidatesAbove(th).toSet
      assert(trueHeavy.subsetOf(cands),
        s"threshold $th: true heavy $trueHeavy not covered by $cands")
    }
  }

  test("capacity: m counters at most; an overflowing insert decrements") {
    // 100 distinct keys, each followed by key 0: n = 200, key 0 holds 100 > n/(m+1)
    val items = (1L to 100L).flatMap(k => Seq(k, 0L))
    val m = 2
    val s = sketchOf(items, m)
    assert(s.counters.size <= m, s"${s.counters.size} counters for m = $m")
    assert(s.decrements > 0, "no insert ever overflowed the counters")
    val n = items.size.toLong
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val heavy = exact.filter(_._2 > n / (m + 1)).keys
    assert(heavy.nonEmpty)
    heavy.foreach(k => assert(s.counters.containsKey(k), s"heavy key $k missing from sketch"))
  }

  test("merge: any split of the stream keeps the composed bounds") {
    val rnd = new scala.util.Random(23)
    val items = (0 until 9000).map { i =>
      if (i % 3 == 0) 7L else rnd.nextInt(500).toLong + 100L
    }
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = items.size.toLong
    val m = 32
    Seq(2, 5, 32).foreach { parts =>
      val merged = items.grouped(math.max(1, items.size / parts)).toSeq
        .map(chunk => sketchOf(chunk.map(identity), m))
        .reduce(_.mergeWith(_))
      assert(merged.n === n)
      assert(merged.counters.size <= m)
      // composed error stays within the mergeable-summaries bound
      assert(merged.decrements <= n / (m + 1) * 2 + parts,
        s"$parts-way merge decrements ${merged.decrements} blew up")
      merged.counters.forEach { (k, c) =>
        val t = exact.getOrElse(k.longValue, 0L)
        assert(c <= t && t <= c + merged.decrements,
          s"$parts-way: key $k counter $c true $t")
      }
      // key 7 holds a third of the stream — must survive any split
      assert(merged.counters.containsKey(7L), s"$parts-way merge lost key 7")
    }
  }

  test("mixed-m merge downgrades to the smaller m") {
    val a = sketchOf((0 until 1000).map(_.toLong % 50), 64)
    val b = sketchOf((0 until 1000).map(_.toLong % 20), 16)
    val ab = a.mergeWith(b)
    assert(ab.m === 16 && ab.counters.size <= 16 && ab.n === 2000)
  }

  test("serialization round-trips; DataFrame agg matches local; rollup merges") {
    import spark.implicits._
    val rows = ((0 until 6000).map(i => (i % 3).toLong) ++
      (0 until 4000).map(i => 1000L + i % 800)).map(Tuple1(_))
    val df = rows.toDF("k").repartition(13)
    val bytes = df.agg(HeavyHitters.mgAgg(HeavyHitters.hashCol(col("k"))))
      .head().getAs[Array[Byte]](0)
    val s = HeavyHitters.deserialize(bytes)
    assert(s.n === 10000)
    assert(s.decrements <= 10000 / (HeavyHitters.DefaultM + 1) * 2)
    // the three heavy keys (each 20% of the stream) must all be tracked,
    // recoverable by their xxhash64 — the candidate-then-exact-verify path
    val hashes = df.filter(col("k") < 3).select(xxhash64(col("k")))
      .distinct().collect().map(_.getLong(0)).toSet
    hashes.foreach(h => assert(s.counters.containsKey(h),
      s"heavy hash $h missing"))
    // round trip
    assert(HeavyHitters.deserialize(s.serialize).counters === s.counters)
    // per-partition sketches roll up through mgMergeAgg
    val daily = df.withColumn("day", pmod(col("k"), lit(4)))
      .groupBy("day")
      .agg(HeavyHitters.mgAgg(HeavyHitters.hashCol(col("k"))).as("mg"))
    val rolled = HeavyHitters.deserialize(
      daily.agg(HeavyHitters.mgMergeAgg(col("mg"))).head().getAs[Array[Byte]](0))
    assert(rolled.n === 10000)
    hashes.foreach(h => assert(rolled.counters.containsKey(h),
      s"rollup lost heavy hash $h"))
    // nulls are skipped, not phantom-counted (the xxhash64(NULL)=seed trap)
    val withNulls = (Seq.fill(100)(Some(5L)) ++ Seq.fill(50)(Option.empty[Long]))
      .map(Tuple1(_)).toDF("k")
    val sn = HeavyHitters.deserialize(
      withNulls.agg(HeavyHitters.mgAgg(HeavyHitters.hashCol(col("k"))))
        .head().getAs[Array[Byte]](0))
    assert(sn.n === 100, "null keys must not count")
  }
}
