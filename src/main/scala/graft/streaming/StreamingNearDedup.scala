package graft.streaming

import graft.operators.MinHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Checkpoints.{pin, scoped}

/** Streaming NEAR-duplicate ingest: [[StreamingDedup]]'s exact-hash gate
  * composed with the MinHash signature path — documents arrive as a stream
  * and are dropped when they are *approximately* (est. Jaccard ≥ threshold)
  * similar to anything already ingested, not just byte-identical.
  *
  * The persistent store holds one row per (band, bkey, doc_id, sig): the
  * LSH candidate key plus the full K-component signature. Per micro-batch:
  *
  *  1. exact in-batch dedup (md5), as in the exact pipeline;
  *  2. signatures + band keys for the batch (map-side, [[MinHash]]);
  *  3. **vs store**: equi-join batch bands against the store ON (band,
  *     bkey) — the bucket-first shape; candidates Hamming-verify via
  *     signature agreement, est. similarity ≥ threshold ⇒ drop. Exact
  *     cross-batch duplicates have identical signatures (similarity 1.0),
  *     so the exact gate across batches is subsumed;
  *  4. **in-batch near-dups**: bucket-local i<j pairs per (band, bkey)
  *     (the lshPairs shape — never all-pairs), then TRUE greedy keep-first
  *     over the verified pair graph
  *     ([[graft.operators.ConnectedComponents.greedyKeepFirstDrops]]): docs
  *     in id order, dropped only when similar to a previously *kept* doc,
  *     so chains keep their non-adjacent tails (A~B, B~C, A≁C keeps A and
  *     C — B's drop cannot cascade to C) and every dropped doc has a kept
  *     similar representative;
  *  5. append survivors: corpus FIRST, then their band rows to the store —
  *     the same crash ordering as [[StreamingDedup.ingestBatch]]: a crash
  *     between the writes leaves recoverable duplicates, never losses, and
  *     [[StreamingDedup.compactCorpus]] closes the loop because
  *     crash-window duplicates are exact.
  *
  * Documents too short to shingle (< 5 chars) produce no signature and are
  * treated as unique — the exact md5 gate still applies to them in-batch.
  *
  * Scale: the store-check join has two regimes, both handled by AQE's
  * runtime strategy choice. Normal micro-batches are small → the BATCH band
  * rows broadcast and the store is scanned but never shuffled (the scan is
  * the irreducible cost; nothing prunes it because every band is probed).
  * Catch-up batches too large to broadcast → a shuffle join where only one
  * exchange is batch-sized; pre-bucketing the store on (band, bkey)
  * ([[graft.sources.Lake.writeBucketed]]) removes the store-side exchange
  * in that regime only — it does not reduce the scan, which is why the
  * plain-parquet store is the default. Batch-side work is map-side
  * signature build plus one exchange on the band key.
  */
object StreamingNearDedup {

  final case class Doc(doc_id: Long, text: String)

  def start(docs: DataFrame, storePath: String, corpusPath: String,
      checkpointLocation: String, simThreshold: Double = 0.5,
      name: String = "neardup_ingest"): StreamingQuery = {
    require(checkpointLocation.nonEmpty, "checkpointLocation is required")
    docs.writeStream.queryName(name)
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        ingestBatch(batch.toDF(), storePath, corpusPath, simThreshold)
      }
      .start()
  }

  /** One batch; also usable directly for batch backfills (same store). */
  def ingestBatch(batch: DataFrame, storePath: String, corpusPath: String,
      simThreshold: Double = 0.5): Unit = scoped {
    // the four checkpoints below are freed per batch, also when a write
    // fails: waiting for the ContextCleaner would accumulate them until a
    // driver GC happens to run (round-7 review wave 3)
    val spark = batch.sparkSession
    val exactDeduped = batch
      .withColumn("__h", md5(col("text").cast("binary")))
      .dropDuplicates("__h").drop("__h")

    val sigs = MinHash.signatures(exactDeduped) // (doc_id, sig); absent if unshingleable
    // materialized once: three consumers below (store check, in-batch pairs,
    // store append) would otherwise each re-run the shingling + signature agg
    val banded = pin(MinHash.bands(sigs))

    val vsStore = knownBands(spark, storePath) match {
      case Some(store) =>
        banded.join(store.select(col("band"), col("bkey"),
          col("sig").as("sig2")), Seq("band", "bkey"))
          .filter(MinHash.estSimilarity(col("sig"), col("sig2")) >= simThreshold)
          .select("doc_id")
      case None => banded.select("doc_id").limit(0)
    }

    // In-batch pairs are generated only among docs that SURVIVE the store
    // check: a doc similar only to a store-dropped batch-mate (and not to
    // anything ingested) must itself be kept — dropping it would leave it
    // with no similar representative in the corpus.
    val inBatchPairs = banded
      .join(vsStore, Seq("doc_id"), "left_anti")
      .groupBy("band", "bkey")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sig")))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds)),
          |    y -> struct(x.doc_id AS d1, x.sig AS s1,
          |                y.doc_id AS d2, y.sig AS s2))))""".stripMargin)).as("p"))
      .filter(MinHash.estSimilarity(col("p.s1"), col("p.s2")) >= simThreshold)
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
    // Greedy keep-first, not drop-d2-of-every-pair: the latter cascades
    // along chains (pair (B,C) would drop C even when B itself dropped via
    // (A,B)), violating the kept-representative invariant motivating the
    // left_anti above.
    val inBatch = graft.operators.ConnectedComponents
      .greedyKeepFirstDrops(inBatchPairs)
      .select(col("id").as("doc_id"))

    // materialized once: referenced by both outputs below, and its lineage
    // (two joins against the store) must not re-execute per consumer
    val dropIds = pin(vsStore.unionByName(inBatch).distinct())
    // BOTH outputs are materialized eagerly BEFORE either write: the store
    // append must not re-read the store it is appending to (dropIds' lineage
    // scans it), and the corpus append's lineage must not see the new store
    // rows (same reasoning as StreamingDedup). The band rows are reused from
    // `banded` — recomputing signatures for the survivors would double the
    // per-batch shingling cost.
    val fresh = pin(exactDeduped.join(dropIds, Seq("doc_id"), "left_anti"))
    val freshBands = pin(banded.join(dropIds, Seq("doc_id"), "left_anti"))

    fresh.write.mode("append").parquet(corpusPath)
    freshBands.write.mode("append").parquet(storePath)
    ensureVersionMarker(spark, storePath)
  }

  /** Underscore-prefixed so parquet readers skip it (like `_SUCCESS`). */
  private val VersionFile = "_graft_sig_version"

  /** Record [[MinHash.version]] beside the band rows (idempotent). Written
    * AFTER the first band append: a crash before it leaves the store
    * unmarked, which the next batch rejects loudly — fail-closed, never
    * fail-open onto possibly-incompatible signatures. */
  private def ensureVersionMarker(spark: SparkSession, path: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(dir, VersionFile)
    if (!fs.exists(marker)) {
      val out = fs.create(marker, true)
      try out.write(MinHash.version.getBytes("UTF-8")) finally out.close()
    }
  }

  private def readVersionMarker(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[String] = {
    val marker = new org.apache.hadoop.fs.Path(dir, VersionFile)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try Some(new String(in.readAllBytes(), "UTF-8").trim) finally in.close()
    }
  }

  /** None only when the store genuinely does not exist yet (no data files);
    * any other failure propagates (an "empty store" fallback would re-admit
    * the corpus). A store whose `_graft_sig_version` marker is missing or
    * differs from [[MinHash.version]] throws: its signatures were written
    * under different permutation constants and would NEVER match freshly
    * computed ones, so every stored near-duplicate would be silently
    * re-admitted — the one failure mode this module exists to prevent. */
  private def knownBands(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val hasData = fs.listStatus(p).exists { s =>
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      if (!hasData) None
      else readVersionMarker(fs, p) match {
        case Some(v) if v == MinHash.version => Some(spark.read.parquet(path))
        case Some(v) => throw new IllegalStateException(
          s"band store at $path was written with signature constants [$v] " +
            s"but this build uses [${MinHash.version}]; stored signatures " +
            "can never match new ones (near-dups would be silently " +
            "re-admitted) — rebuild the store from the corpus")
        case None => throw new IllegalStateException(
          s"band store at $path has no $VersionFile marker (predates " +
            "signature versioning, or an incomplete first append); its " +
            s"constants are unknown vs [${MinHash.version}] — rebuild the " +
            "store from the corpus")
      }
    }
  }
}
