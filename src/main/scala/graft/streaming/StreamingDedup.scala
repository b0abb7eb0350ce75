package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Checkpoints.{pin, scoped}

/** Streaming corpus dedup with a PERSISTENT signature store — the ingestion
  * pattern for a training-data pipeline: documents arrive as a stream, exact
  * duplicates (by content hash) are dropped both within each micro-batch and
  * against everything ever ingested, survivors append to the corpus.
  *
  * Built on foreachBatch (the batch writer escape hatch) because the dedup
  * state must outlive the stream AND be shared with batch backfills — unlike
  * `dropDuplicates`+watermark, the store is unbounded by design (it holds one
  * 32-char hash per unique doc, not the documents). At 100 TB the store is a
  * bucketed table on `h` so the anti-join is shuffle-free; idempotent restarts
  * come from checkpointing + the content-hash key (re-appending a batch after
  * a crash re-drops its rows against the store).
  */
object StreamingDedup {

  final case class Doc(doc_id: Long, text: String)

  /** Start deduplicating `docs` (streaming frame with doc_id/text) into
    * `corpusPath`; hash store lives at `storePath`.
    *
    * `checkpointLocation` is REQUIRED: restart recovery (replaying the
    * in-flight batch) only exists when the offset log survives the crash.
    */
  def start(docs: DataFrame, storePath: String, corpusPath: String,
      checkpointLocation: String, name: String = "dedup_ingest"): StreamingQuery = {
    require(checkpointLocation.nonEmpty, "checkpointLocation is required")
    docs.writeStream.queryName(name)
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        ingestBatch(batch.toDF(), storePath, corpusPath)
      }
      .start()
  }

  /** One batch: hash → in-batch dedup → anti-join the store → append both.
    * Also usable directly for batch backfills (same semantics, same store).
    *
    * Write ordering is corpus FIRST, store second: a crash between the two
    * writes then leaves a corpus row whose hash is not yet in the store, so
    * the replayed batch re-appends it — a duplicate a later batch/compaction
    * can drop by `h`. The opposite order would leave the hash in the store
    * with no corpus row, so the replay anti-joins the document away and it is
    * silently lost forever. Duplicates are recoverable; loss is not. */
  def ingestBatch(batch: DataFrame, storePath: String,
      corpusPath: String): Unit = scoped {
    val spark = batch.sparkSession
    val hashed = batch
      .withColumn("h", md5(col("text").cast("binary")))
      .dropDuplicates("h")
    val freshLazy = knownHashes(spark, storePath) match {
      case Some(known) => hashed.join(known, Seq("h"), "left_anti")
      case None => hashed
    }
    // eager localCheckpoint: the store append below would otherwise mutate
    // what the corpus append's lineage re-reads (lazy self-poisoning) — the
    // materialized rows must be fixed before either write. Freed per batch:
    // on a long-lived stream, waiting for the ContextCleaner accumulates one
    // checkpoint's blocks per micro-batch.
    val fresh = pin(freshLazy)
    fresh.drop("h").write.mode("append").parquet(corpusPath)
    fresh.select("h").write.mode("append").parquet(storePath)
  }

  /** None only when the store genuinely doesn't exist yet (first batch).
    * Any OTHER failure (corrupt files, permission, transient IO) must
    * propagate — treating it as "empty store" would silently re-admit the
    * whole corpus as fresh. */
  private def knownHashes(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(spark.read.parquet(path).select("h"))
  }

  /** Maintenance pass closing the crash-recovery loop: the corpus-first write
    * order can leave content duplicates after a replay (never losses); this
    * re-hashes the corpus, keeps one row per content hash (min doc_id), and
    * rewrites both corpus and store consistently. Run it like any compaction
    * — periodically, or after a recovery. Returns rows dropped. */
  def compactCorpus(spark: SparkSession, storePath: String,
      corpusPath: String): Long = scoped {
    val corpus = spark.read.parquet(corpusPath)
    val hashed = corpus.withColumn("h", md5(col("text").cast("binary")))
    val before = hashed.count()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy("doc_id")
    // materialized once so both replacements write the same snapshot
    val keep = pin(hashed
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn"))
    // crash-safe swaps (Lake.safeReplace): a crash between the two leaves a
    // compacted corpus with the uncompacted store — harmless, the distinct
    // hash SET is identical either way.
    graft.sources.Lake.safeReplace(spark, corpusPath, keep.drop("h"))
    graft.sources.Lake.safeReplace(spark, storePath, keep.select("h").distinct())
    before - keep.count()
  }
}
