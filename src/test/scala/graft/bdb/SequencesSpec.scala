package graft.bdb

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{array, col}

class SequencesSpec extends SparkSpec {

  private def frames(n: Int) = {
    import spark.implicits._
    (1 to n).map(f => (1L, 1L, 10L, f.toLong, f.toDouble, f * 2.0))
      .toDF("game_id", "play_id", "nfl_id", "frame_id", "f1", "f2")
  }

  private def flatOf(row: Row): collection.Seq[Any] = row.getAs[collection.Seq[Any]]("flat")

  /** (f1, f2) of frames `from..to`, in frame order, flattened. */
  private def framesFlat(from: Int, to: Int): Seq[Double] =
    (from to to).flatMap(f => Seq(f.toDouble, f * 2.0))

  test("short trajectory keeps every frame, no padding") {
    val out = Sequences.buildFlat(frames(3), Seq("f1", "f2"), maxLen = 5).head()
    assert(out.getAs[Int]("seq_len") === 3)
    assert(flatOf(out) === framesFlat(1, 3))
  }

  test("long trajectory keeps the LAST maxLen frames (reference tail-keep)") {
    val out = Sequences.buildFlat(frames(8), Seq("f1", "f2"), maxLen = 5).head()
    assert(out.getAs[Int]("seq_len") === 5)
    assert(flatOf(out) === framesFlat(4, 8)) // frames 4..8 kept
  }

  test("exact-length trajectory keeps every frame") {
    val out = Sequences.buildFlat(frames(5), Seq("f1", "f2"), maxLen = 5).head()
    assert(out.getAs[Int]("seq_len") === 5)
    assert(flatOf(out) === framesFlat(1, 5))
  }

  test("named ≡ packed features, double ≡ float after a round trip") {
    // values that float cannot hold exactly, so the float form is a rounding
    val fr = (n: Int) => frames(n)
      .withColumn("f1", col("f1") * 0.1).withColumn("f2", col("f2") / 3.0)
    def flat(df: DataFrame, features: Seq[String], vt: String): Row =
      Sequences.buildFlat(df, features, maxLen = 5, valueType = vt)
        .select(col("seq_len"), col("flat")).head()
    for (n <- Seq(1, 3, 5, 8)) {
      val packedFrames = fr(n).select(col("game_id"), col("play_id"),
        col("nfl_id"), col("frame_id"), array(col("f1"), col("f2")).as("farr"))
      val byType = Seq("double", "float").map { vt =>
        val named = flat(fr(n), Seq("f1", "f2"), vt)
        val packed = flat(packedFrames, Seq("farr"), vt)
        assert(packed === named, s"n=$n vt=$vt")
        named
      }
      val Seq(d, f) = byType
      assert(f.getInt(0) === d.getInt(0), s"n=$n")
      assert(f.getSeq[Float](1) === d.getSeq[Double](1).map(_.toFloat), s"n=$n")
    }
  }

  test("shuffled frames across partitions equal sorted input") {
    import spark.implicits._
    val rows = for (traj <- 1L to 3L; f <- 1L to 12L)
      yield (traj, 0L, 0L, f, f * 1.5 + traj, f * -0.5)
    val sorted = rows.toDF("game_id", "play_id", "nfl_id", "frame_id", "f1", "f2")
      .repartition(1)
    val shuffled = new scala.util.Random(16L).shuffle(rows)
      .toDF("game_id", "play_id", "nfl_id", "frame_id", "f1", "f2")
      .repartition(4)
    def build(df: DataFrame) = Sequences.buildFlat(df, Seq("f1", "f2"), maxLen = 5)
      .orderBy("game_id").collect().toSeq
    val got = build(shuffled)
    assert(got === build(sorted))
    got.zipWithIndex.foreach { case (r, i) =>
      val traj = i + 1
      assert(r.getAs[Int]("seq_len") === 5)
      assert(flatOf(r) === (8 to 12).flatMap(f => Seq(f * 1.5 + traj, f * -0.5)),
        s"traj $traj")
    }
  }
}
