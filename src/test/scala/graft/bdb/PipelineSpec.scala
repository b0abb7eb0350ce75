package graft.bdb

import graft.{Checkpoints, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.BlockStats

/** What a `Pipeline.run` leaves behind: its one pin (the shared feature
  * table, `Result.features`) is owned as `Checkpoints` defines, and the run
  * keeps no cache entry, RDD block or broadcast variable once its `Result`
  * is released or dropped. */
class PipelineSpec extends SparkSpec {

  private def small: DataFrame = Synth.tracking(spark, nGames = 2, playsPerGame = 10)

  private def run(t: DataFrame): Pipeline.Result =
    Pipeline.run(t, Synth.output(t), Synth.supplementary(t))

  /** Reads every `Result` frame, as a batch job does. */
  private def consume(r: Pipeline.Result): Unit = {
    r.modelMetrics.collect()
    r.scorecard.collect()
    Seq(r.features, r.routeFeatures, r.perPlay).foreach(_.count())
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def cacheEntries: Int = BlockStats.cacheEntries(spark)

  test("a run consumed inside a scope leaves the persistent RDDs and the cache as it found them") {
    val t = small
    val (rdds, entries) = (persisted, cacheEntries)
    Checkpoints.scoped {
      val r = Checkpoints.scoped(run(t)) // the pin passes up: features reads it
      assert(persisted.size == rdds.size + 1)
      consume(r)
    }
    assert(persisted == rdds)
    assert(cacheEntries == entries)
  }

  /** Runs and consumes the pipeline outside any scope, drops the `Result`,
    * and returns the RDD and broadcast blocks the run left while it was
    * held. */
  private def runAndDrop(t: DataFrame): Set[String] = {
    val before = BlockStats.rddAndBroadcastBlocks()
    consume(run(t))
    BlockStats.rddAndBroadcastBlocks() -- before
  }

  test("a dropped Result outside any scope leaves no RDD or broadcast block") {
    val t = small
    val entries = cacheEntries
    val made = runAndDrop(t)
    assert(made.exists(_.startsWith("broadcast_")), s"the run made no broadcast: $made")
    assert(made.exists(_.startsWith("rdd_")), s"the run pinned nothing: $made")
    val left = BlockStats.releaseUnreachable(spark.sparkContext, made)
    assert(left.isEmpty, s"blocks the run made are still held: ${left.toSeq.sorted}")
    assert(cacheEntries == entries)
  }

  test("Result.features is a pin: its analyzed plan is a LogicalRDD") {
    val r = run(small)
    assert(r.features.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      r.features.queryExecution.analyzed.treeString)
    Checkpoints.release(r.features)
  }

  test("modelMetrics is bit-equal whether the input arrives in 1 or 4 partitions") {
    val t = Synth.tracking(spark, nGames = 8, playsPerGame = 25)
    val Seq(one, four) = Seq(1, 4).map { n =>
      Checkpoints.scoped(run(t.repartition(n)).modelMetrics.collect().toSeq)
    }
    assert(one.size == 1 && one.head.schema == four.head.schema)
    one.head.schema.fieldNames.foreach { c =>
      val Seq(a, b) = Seq(one, four).map(_.head.getAs[Double](c))
      assert(java.lang.Double.doubleToRawLongBits(a) == java.lang.Double.doubleToRawLongBits(b),
        s"$c: $a in 1 partition, $b in 4")
    }
  }
}
