package graft.bdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-trajectory sequence assembly for sequence models (SURVEY §2.5 W10;
  * reference: bdb2026/sequences.py:21-88 builds dense (N, 25, F) NumPy tensors).
  *
  * Kept relational and de-padded: one row per trajectory with the key
  * columns, `seq_len` (the number of frames kept, at most `maxLen`) and
  * `flat` (the features of the LAST `maxLen` frames, in frame order,
  * concatenated: `seq_len × F` elements). There is no zero padding and no
  * mask — `seq_len` says where each sequence ends, so the LSTM scorer
  * ([[graft.ml.KerasLstm.scoreFlat]]) and trainer
  * ([[graft.ml.LstmTrainer.train]]) read the table as it is, without
  * collecting it, and it scales with the cluster.
  */
object Sequences {

  /** @param frames   ordered-frame table with the feature columns present
    * @param features per-frame feature column names (F); a single name
    *                 that is ALREADY an array column is taken as the
    *                 pre-packed per-frame vector
    * @param maxLen   truncation length (reference: max_len=25)
    * @param valueType element type of `flat` — "double" (default; the
    *                  trainer's precision) or "float" (the scorer's: the
    *                  reference's own tensor dtype). Float HALVES the
    *                  bytes the collect_list exchange ships.
    */
  def buildFlat(frames: DataFrame, features: Seq[String], maxLen: Int = 25,
      valueType: String = "double"): DataFrame = {
    require(valueType == "double" || valueType == "float",
      s"valueType must be double or float, got $valueType")
    // The packed form is about bytes on the wire: N top-level columns
    // occupy 8-byte UnsafeRow slots EACH regardless of declared type, while
    // a packed array<float> stores 4-byte elements — pack before the
    // exchange and the shuffle payload roughly halves again. Semantics
    // identical (same values in frame order).
    val packed = features.size == 1 &&
      frames.schema(features.head).dataType
        .isInstanceOf[org.apache.spark.sql.types.ArrayType]
    val featArr =
      if (packed) col(features.head).cast(s"array<$valueType>")
      else array(features.map(col(_).cast(valueType)): _*)
    frames
      .groupBy(Schemas.trajectoryKeys.map(col): _*)
      .agg(collect_list(struct(col("frame_id"), featArr.as("f"))).as("raw"))
      // collect_list order is nondeterministic across partitions → sort by
      // frame_id inside the array (deterministic, no extra shuffle).
      .withColumn("sorted", expr("transform(array_sort(raw), x -> x.f)"))
      .withColumn("seq_len", least(size(col("sorted")), lit(maxLen)))
      // keep the LAST maxLen frames (reference: sequences.py tail-keep)
      .withColumn("flat", flatten(expr(
        s"slice(sorted, greatest(size(sorted) - $maxLen + 1, 1), $maxLen)")))
      .select(Schemas.trajectoryKeys.map(col) ++
        Seq(col("seq_len"), col("flat")): _*)
  }
}
