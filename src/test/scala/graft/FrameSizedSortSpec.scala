package graft

import org.apache.spark.sql.functions._

/** Pins the frame-sized exchange contract (r17 verdict #1/#2): a sort or
  * state-merge whose input is METADATA-scale must size its exchange to the
  * frame's bytes, not the session's directory-derived
  * `spark.sql.shuffle.partitions` — the defect class behind
  * `l_incr_agg_retract`'s cpu exponent ~2.0 (a 30 MB state table range-sorted
  * across 192 partitions sized for a 1.5 GB corpus; bisected in
  * NOTES_r17 §4).
  */
class FrameSizedSortSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("small frame under a directory-oversized session sorts in O(frame) partitions") {
    import spark.implicits._
    val path = tmp("framesort-small")
    (1 to 10000).map(i => (i % 977, i.toLong)).toDF("k", "v")
      .write.parquet(path)
    // simulate a session whose shuffle count was derived from a 1.5 GB
    // data directory (192 partitions) while THIS frame is ~100 KB
    withShufflePartitions(192) {
      val df = spark.read.parquet(path)
      assert(GraftSession.frameSizedPartitions(df) === 1,
        "a sub-8MiB frame wants exactly one partition")
      val sorted = GraftSession.frameSortedBy(df, col("k"), col("v"))
      assert(sorted.rdd.getNumPartitions === 1,
        "the sort exchange must track the FRAME's bytes, not the session's " +
          "directory-derived shuffle-partition count")
      // same total order as the implicit orderBy
      assert(sorted.collect().toSeq ===
        df.orderBy(col("k"), col("v")).collect().toSeq)
    }
  }

  test("partition count tracks frame bytes and caps at the session count") {
    import spark.implicits._
    val path = tmp("framesort-big")
    // ~5M incompressible doubles ≈ 40 MB of parquet → several 8 MiB slices
    spark.range(0, 2500000, 1, 4)
      .select(col("id"),
        rand(7L).as("a"), rand(11L).as("b"))
      .write.parquet(path)
    val df = spark.read.parquet(path)
    withShufflePartitions(192) {
      val k = GraftSession.frameSizedPartitions(df)
      assert(k > 1 && k < 192,
        s"a multi-slice frame derives >1 partition from its bytes (got $k)")
      val sorted = GraftSession.frameSortedBy(df.select("id", "a"), col("a"))
      assert(sorted.rdd.getNumPartitions ===
        GraftSession.frameSizedPartitions(df.select("id", "a")))
    }
    // clamp: a session sized BELOW the frame keeps its own (smaller) count —
    // frame sizing only ever removes directory-derived excess
    withShufflePartitions(2) {
      assert(GraftSession.frameSizedPartitions(df) === 2)
    }
  }

  test("frameSortedBy at k > 1 is the same total order as orderBy") {
    import spark.implicits._
    val path = tmp("framesort-order")
    spark.range(0, 2500000, 1, 4)
      .select((col("id") % 1013).as("k"), rand(13L).as("v"))
      .write.parquet(path)
    val df = spark.read.parquet(path)
    val k = GraftSession.frameSizedPartitions(df)
    assert(k > 1, s"fixture must exercise the multi-partition path (got $k)")
    val viaHelper = GraftSession.frameSortedBy(df, col("k"), col("v"))
      .select("k").as[Long].collect().toSeq
    val viaOrderBy = df.orderBy(col("k"), col("v"))
      .select("k").as[Long].collect().toSeq
    assert(viaHelper === viaOrderBy)
  }

  test("materialized-view read+sort stays frame-sized under an oversized session") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("framesort-mv").toString
    val table = s"$root/table"
    (1 to 5000).map(i => (i % 311, i * 1.5)).toDF("g", "x")
      .write.parquet(table)
    val spec = graft.sources.MaterializedAgg.Spec(
      groupCols = Seq("g"), sumCols = Seq("x"))
    graft.sources.MaterializedAgg.create(spark, table, s"$root/view", spec)
    withShufflePartitions(192) {
      val sorted = GraftSession.frameSortedBy(
        graft.sources.MaterializedAgg.read(spark, s"$root/view"), col("g"))
      assert(sorted.rdd.getNumPartitions === 1,
        "the l_incr_agg query shape: state read + sort must not fan to the " +
          "directory-derived count")
      // and the refresh-side merge exchange is frame-sized too: append a
      // delta, refresh, and the state stays correct (values re-checked)
      (5001 to 6000).map(i => (i % 311, i * 1.5)).toDF("g", "x")
        .write.mode("append").parquet(table)
      graft.sources.MaterializedAgg.refresh(spark, s"$root/view")
      val got = graft.sources.MaterializedAgg.read(spark, s"$root/view")
        .select(col("g"), col("cnt"), col("sum_x"))
        .orderBy("g").collect()
      val want = (1 to 6000).map(i => (i % 311, i * 1.5))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (g, xs) => (g, xs.size.toLong, xs.map(_._2).sum) }
      assert(got.length === want.length)
      got.zip(want).foreach { case (row, (g, cnt, sum)) =>
        assert(row.getInt(0) === g)
        assert(row.getLong(1) === cnt)
        assert(math.abs(row.getDouble(2) - sum) < 1e-6)
      }
    }
  }
}
