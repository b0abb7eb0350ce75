package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Distributed sequence-model inference as a benched query surface: the
  * committed convergence LSTM (reference: models.py:24-67, artifact saved at
  * BDB_2026.ipynb cell 107) scoring a corpus of trajectories built
  * from the lineitem table — each order is a trajectory, each line a frame,
  * 28 deterministic features derived map-side from the numeric columns.
  *
  * No DuckDB oracle: a recurrent float32 forward pass is not expressible in
  * SQL (the driver records the weaker rows-only check, like the approx
  * sketches); numeric semantics are instead pinned by KerasLstmSpec's
  * cross-implementation fixture. What this query adds is the SCALE
  * measurement: signature build + scoring is one groupBy(trajectory)
  * exchange followed by embarrassingly-parallel per-sequence math over
  * broadcast weights (~36 k floats), so BENCH tracks model-inference
  * throughput alongside the relational operators — the reference runs the
  * same phase as a single-process TensorFlow `model.predict`.
  */
object ModelQueries {

  /** Overridable like SPARK_GRAFT_SF_DIR — the default is the public
    * reference checkout's committed artifact, but the query registry must
    * not hard-couple to that location on a real deployment. */
  private[graft] val modelPath = sys.env.getOrElse("SPARK_GRAFT_MODEL_PATH",
    "/root/reference/models/convergence_lstm_model_BlindPhysics_Completed_Pass.h5")

  /** The feature + sequence pipeline behind m_lstm_infer: the de-padded
    * flat sequences [[graft.ml.KerasLstm.scoreFlat]] reads.
    *
    * Trajectory = order; frame = line; features: bounded deterministic
    * transforms of the numerics (magnitudes roughly matching the notebook's
    * feature scales — positions ~tens, trig ~unit), all 28 built in ONE
    * select (a withColumn chain would re-run analysis over a copied plan
    * per column). Bench sizing: every 4th order (~37k trajectories at
    * sf0.1) keeps the entry representative without dominating the suite
    * total; throughput is linear in the subset.
    */
  private[graft] def inferInput(s: org.apache.spark.sql.SparkSession,
      dir: String, nFeatures: Int): org.apache.spark.sql.DataFrame = {
    // ONE exchange for the whole pipeline, and it ships the FIVE RAW BASE
    // COLUMNS the 28 features derive from, not the features: 5 numeric
    // slots (~56 B/row) instead of a 28-float array (~140 B/row), and the
    // 23 sin() transforms + float casts + array pack run AFTER the
    // exchange at the repartition's full parallelism instead of on the
    // scan's few bin-packed splits (r19 stage profile: the feature scan
    // was a 3-task stage holding ~0.3 s of wall while 29 cores idled —
    // §2.3 "shuffle keys/metadata, not payloads" + §2.5 input-split
    // parallelism). Feature EXPRESSIONS are unchanged and compute on
    // bit-identical shuffled values, so predictions are bit-identical.
    //
    // repartition on game_id ALONE: play_id/nfl_id are literal zeros here,
    // and hashing them in would partition by `hashpartitioning(game_id, 0,
    // 0)` while the collect_list agg's keys alias the folded literals into
    // fresh attributes (`0 AS 0#…`) — semantically unequal, so
    // EnsureRequirements inserted a SECOND full exchange of every sequence
    // byte right above this one (measured: 2 × ~130 MB at sf1 where the
    // design intends one). HashPartitioning(game_id) is a subset of the
    // agg's clustering keys, so the groupBy genuinely reuses this exchange.
    val raw = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 4 === 0)
      .select(col("l_orderkey").as("game_id"),
        col("l_linenumber").cast("long").as("frame_id"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_partkey"))
      .repartition(s.sparkContext.defaultParallelism, col("game_id"))
    val base = Seq(
      col("l_quantity") % 100,
      col("l_extendedprice") % 53,
      col("l_discount") * 10,
      col("l_tax") * 10,
      (col("l_partkey") % 7).cast("double"))
    // float32 features: the model's own dtype — bit-identical predictions
    val named = base.zipWithIndex.map { case (c, k) =>
      c.cast("float").as(s"f$k")
    }
    val derived = (5 until nFeatures).map(k =>
      sin(base(k % 5) + lit(k)).cast("float").as(s"f$k"))
    val wide = raw.select(Seq(
      col("game_id"), lit(0L).as("play_id"),
      lit(0L).as("nfl_id"), col("frame_id")) ++ named ++ derived: _*)
    // pack the 28 features into ONE array<float>: 28 top-level columns
    // cost an 8-byte row slot each no matter the declared type; the packed
    // array stores 4-byte elements. Projects preserve the game_id hash
    // partitioning, so the sequence agg still reuses the one exchange and
    // scoreFlat's rebalance pass stays skipped (rebalance = false).
    val packedFrames = wide
      .select(col("game_id"), col("play_id"), col("nfl_id"), col("frame_id"),
        array((0 until nFeatures).map(k => col(s"f$k")): _*).as("farr"))
    graft.bdb.Sequences.buildFlat(
      packedFrames, Seq("farr"), maxLen = 7, valueType = "float")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "m_lstm_infer",
      (s, dir) => {
        val model = graft.ml.KerasLstm.load(modelPath)
        val seqs = inferInput(s, dir, model.nFeatures)
        graft.ml.KerasLstm
          .scoreFlat(seqs, model, Seq("game_id", "play_id", "nfl_id"),
            rebalance = false) // inferInput pre-partitioned to core count
          .agg(
            count(lit(1)).as("n_frames"),
            countDistinct(col("game_id")).as("n_trajs"),
            avg("predicted_converge_rate").as("avg_pred"),
            min("predicted_converge_rate").as("min_pred"),
            max("predicted_converge_rate").as("max_pred"))
      },
      None,
      headline = true),
  )
}
