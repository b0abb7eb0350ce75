package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.quality.Checks
import graft.Checkpoints.{pin, scoped}

/** The composed training-data ingest pipeline with a DEAD-LETTER channel:
  *
  * {{{
  * bus → JSON decode → late tag ─┬─ fresh → quality gate → dedup → corpus
  *                               └─ late  → quarantine (full wire record)
  * }}}
  *
  * Each stage is unit-tested on its own ([[EventBus.parseJson]],
  * [[EventStreams.tagLateRows]], [[Checks.enforce]],
  * [[StreamingDedup.ingestBatch]]); this object owns the CONTRACT between
  * them, and in particular the conservation law the pieces can't state
  * individually: **every bus record lands in the corpus, is dropped as a
  * content duplicate already represented there, or sits in quarantine —
  * nothing is ever silently lost.** Without the tagger, `withWatermark` +
  * any stateful operator discards late rows invisibly; here they carry
  * their full payload plus `late_by_ms` into a parquet quarantine, so a
  * backfill can replay them through the batch twin
  * ([[StreamingDedup.ingestBatch]] is directly callable on the quarantine).
  *
  * Scale notes: the tagger is stateless per row (one shuffle on a synthetic
  * key); the gate and the in-batch dedup are per-micro-batch map-side work;
  * the store anti-join is the only growing-state join and is bucketable on
  * `h`. The quarantine write is append-only parquet partitioned small — at
  * 100 TB/day it is the same sink discipline as the corpus itself.
  */
object IngestFlow {

  /** Start the flow. `valueSchema` decodes the JSON payload; `rules` gate
    * the DECODED columns (they see wire metadata too); `lateDelay` is the
    * watermark delay on the wire `timestamp`. Quarantine rows keep wire
    * metadata + decoded payload + `late_by_ms`. Rows failing `rules` fail
    * the batch loudly (bad data stops at the door — see
    * [[Checks.enforceStream]]); late rows are NOT an error, they are data
    * that missed the window.
    */
  def start(spark: SparkSession, bus: EventBus, valueSchema: StructType,
      rules: Seq[Checks.Rule], lateDelay: String, quarantinePath: String,
      storePath: String, corpusPath: String, checkpoint: String,
      name: String = "ingest_flow"): StreamingQuery = {
    // the flow adds columns of its own alongside the payload — a payload
    // field with one of these names would be silently clobbered (the
    // quarantine's "full wire record" guarantee would quietly lie). The
    // wire metadata names parseJson keeps (topic/partition/offset) are
    // reserved too: a payload field named `offset` — a very common event
    // field — would otherwise pass this gate and then blow up the first
    // micro-batch with a duplicate-column error after decode.
    val reserved = EventBus.keptWireCols ++
      Seq("_bus_ts", "late", "late_by_ms", "ingest_batch")
    val clash = valueSchema.fieldNames.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"payload fields collide with IngestFlow's reserved columns: " +
        s"${clash.mkString(", ")} (reserved: ${reserved.mkString(", ")})")
    // wire timestamp under a reserved alias: payloads commonly carry their
    // own `timestamp` field and the default name would be ambiguous
    val decoded = EventBus.parseJson(bus.readStream(spark), valueSchema,
      wireTsName = "_bus_ts")
    val payloadCols = valueSchema.fieldNames.toSeq
    val tagged = EventStreams.tagLateRows(decoded, "_bus_ts", lateDelay)
    tagged.writeStream.queryName(name)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        // one materialization feeds both sinks — without it the quarantine
        // write and the corpus ingest would each re-run the micro-batch's
        // decode+tag lineage; freed when the batch ends
        scoped {
          val batch = pin(b.toDF())
          val late = batch.filter(col("late")).drop("late")
          // skip the write job entirely on late-free batches (the common
          // steady state) — it would also leave a _SUCCESS-only directory
          // that a backfill read can't infer a schema from
          if (!late.isEmpty)
            quarantine(late, quarantinePath, batchId)
          val fresh = Checks.enforce(
            batch.filter(!col("late")), rules)
          StreamingDedup.ingestBatch(
            fresh.select(payloadCols.map(col): _*), storePath, corpusPath)
        }
      }
      .start()
  }

  /** Idempotent dead-letter write: partition by the micro-batch id and
    * dynamically OVERWRITE that partition, so a retried batch (the gate
    * threw, or a crash landed between this write and the corpus ingest)
    * replaces its own rows instead of appending duplicates — the
    * conservation law holds across replays. */
  private[streaming] def quarantine(late: org.apache.spark.sql.DataFrame,
      path: String, batchId: Long): Unit =
    late.withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch")
      .parquet(path)
}
