package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Checkpoints.pin

/** IVF-PQ: the composed billion-scale ANN index (the FAISS `IVFxx,PQyy`
  * architecture) — [[Ivf]]'s coarse quantizer prunes WHICH vectors are
  * scored, [[Pq]]'s product codes shrink WHAT is scored.
  *
  * Build: k-means cells (coarse), then PQ codebooks trained on RESIDUALS
  * (vector − its cell centroid) — residuals concentrate near zero, so the
  * same number of codes quantizes them much more finely than raw vectors.
  *
  * Search, per query: pick the `nProbe` nearest cells; for each probed cell
  * form the query residual against THAT cell's centroid and its m×k ADC
  * table; score only that cell's codes via an EQUI-JOIN on `cell`. This is
  * the key scale advantage over flat [[Pq.search]]: the corpus side is
  * reached by a hash join on the cell key (at 100 TB: cells are the physical
  * partition key, so probes prune whole directories — see
  * [[graft.sources.Lake]]), never a broadcast-×-everything scan. Exact
  * re-rank on original vectors touches only the shortlist.
  */
object IvfPq {

  /** `encoded`: (vec_id, cell, codes, embedding) — codes are PQ codes of the
    * residual; embedding retained for the re-rank. `deleted`: the disk
    * index's tombstone set (vec_id), excluded from every search until
    * [[compactIndex]] physically purges the rows. */
  final case class Index(ivf: Ivf.Index, cb: Pq.Codebooks, encoded: DataFrame,
      deleted: Option[DataFrame] = None)

  private def residualCol = expr(
    "zip_with(CAST(embedding AS ARRAY<DOUBLE>), centroid, (x, c) -> x - c)")

  /** Build the composed index. `vecs`: (vec_id, embedding array<float>).
    *
    * The returned `encoded` frame is a pin (`Checkpoints.pin`, materialized
    * now) — it IS the index; without it the residual lineage (nearest-cell
    * assign + centroid join + subtraction over the corpus) would re-execute
    * on every later search. It belongs to the caller's scope (or
    * `Checkpoints.release(idx.encoded)` frees it when done). */
  def build(vecs: DataFrame, dim: Int, nLists: Int = 16, m: Int = 16,
      k: Int = 16, seed: Long = 42L): Index = {
    val ivf = Ivf.build(vecs, nLists, seed)
    // read twice (the codebook fit, the encode), so not cached
    val resid = ivf.assigned
      .join(broadcast(ivf.centroids), Seq("cell"))
      .withColumn("residual", residualCol)
    // PQ over residuals: Pq.encode/train read a column named `embedding`
    val cb = Pq.train(
      resid.select(col("vec_id"), col("residual").as("embedding")),
      dim, m, k, seed)
    val encoded = pin(Pq.encode(
        resid.select(col("vec_id"), col("cell"),
          col("embedding").as("orig_emb"), col("residual").as("embedding")),
        cb)
      .select(col("vec_id"), col("cell"), col("codes"),
        col("orig_emb").as("embedding")))
    Index(ivf, cb, encoded)
  }

  /** Persist the index as the on-disk layout the 100 TB story promises:
    * codes PARTITIONED BY `cell` (each IVF cell is a directory — the probe
    * path prunes whole directories at scan planning time), plus the small
    * centroid table and the codebook model. [[readIndex]] + `search(...,
    * pruneCellScan = true)` serve from this layout without rebuilding. */
  def writeIndex(idx: Index, path: String): Unit = {
    // second partition level: the ingest batch id (-1 = the base build).
    // It exists for [[appendStream]]'s exactly-once contract — a replayed
    // micro-batch dynamically OVERWRITES its own (cell, batch) partitions
    // instead of appending duplicates. Cell stays the OUTER directory, so
    // probe-list pruning still prunes whole cell trees.
    idx.encoded.withColumn("ingest_batch", lit(-1L))
      .write.partitionBy("cell", "ingest_batch").mode("overwrite")
      .parquet(s"$path/codes")
    idx.ivf.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    val spark = idx.encoded.sparkSession
    import spark.implicits._
    Seq((idx.cb.m, idx.cb.k, idx.cb.subDim, idx.cb.cents))
      .toDF("m", "k", "subDim", "cents")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** Incremental maintenance for a disk index written by [[writeIndex]]: at
    * 100 TB you APPEND new vectors, you don't rebuild. New vectors are
    * assigned to the EXISTING cells by [[graft.ml.KMeans.nearest]] — the
    * argmin [[Ivf.build]] assigns with, ties to the lowest cell id —
    * their residuals PQ-encoded with the EXISTING codebooks, and the rows
    * appended into the same cell-partitioned layout — existing files are
    * never touched, and `search(pruneCellScan = true)` keeps pruning
    * directories because the partition key is unchanged. Assignment is one
    * map-side expression over the centroids literal (no join, no shuffle).
    *
    * Quantizer drift is the price of not refitting: appended vectors are
    * coded against centroids fit BEFORE they existed. The returned
    * per-cell histogram carries a `skewed` flag (cell size > `skewFactor` ×
    * mean) — the re-cluster signal; when it fires, rebuild with
    * [[build]] + [[writeIndex]]. */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      newVecs: DataFrame, skewFactor: Double = 4.0,
      batchId: Option[Long] = None): DataFrame = {
    requireBatchLayout(spark, path)
    val (cents, cb) = readQuantizers(spark, path)
    appendBatch(path, newVecs, batchId, cents.collect(), cb)
    val hist = spark.read.parquet(s"$path/codes")
      .groupBy("cell").agg(count(lit(1)).as("n"))
    hist.crossJoin(broadcast(hist.agg(avg(col("n")).as("mean_n"))))
      .withColumn("skewed", col("n") > col("mean_n") * skewFactor)
      .select("cell", "n", "skewed")
  }

  /** The write half of [[appendToIndex]], against PRE-LOADED quantizers
    * (`cents` is the collected centroid table) — what the streaming path
    * runs per micro-batch, so ingest never pays a per-batch codes-tree
    * listing or an unread histogram scan. */
  private def appendBatch(path: String, newVecs: DataFrame, batchId: Option[Long],
      cents: Array[org.apache.spark.sql.Row], cb: Pq.Codebooks): Unit = {
    val dim = cb.m * cb.subDim
    // same dim guard as search: zip_with would pad a short vector with
    // nulls and silently store all-null residual codes
    val guarded = newVecs.select(col("vec_id"), expr(
      s"""CASE WHEN size(embedding) = $dim THEN embedding
         |ELSE raise_error(concat('PQ append: vector dim ', size(embedding),
         |                        ', index expects $dim')) END""".stripMargin)
      .as("embedding"))
    val rows = cents.sortBy(_.getInt(0))
    val centers = rows.map(_.getSeq[Double](1).toSeq)
    val i = graft.ml.KMeans.nearest(col("embedding"), centers.map(_.toArray)) + 1
    val best = guarded
      .withColumn("cell", element_at(typedlit(rows.map(_.getInt(0)).toSeq), i))
      .withColumn("centroid", element_at(typedlit(centers.toSeq), i))
      .withColumn("residual", residualCol)
    val encoded = Pq.encode(
        best.select(col("vec_id"), col("cell"),
          col("embedding").as("orig_emb"), col("residual").as("embedding")),
        cb)
      .select(col("vec_id"), col("cell"), col("codes"),
        col("orig_emb").as("embedding"))
      .withColumn("ingest_batch", lit(batchId.getOrElse(-1L)))
    // with a batch id (the streaming path): dynamic OVERWRITE of this
    // batch's (cell, batch) partitions — a foreachBatch replay after a
    // crash replaces its own rows, never duplicates them. Without one
    // (ad-hoc batch append): plain append under batch -1.
    val w = encoded.write.partitionBy("cell", "ingest_batch")
    (batchId match {
      case Some(_) => w.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      case None => w.mode("append")
    }).parquet(s"$path/codes")
  }

  /** Appending into an index written by the pre-`ingest_batch` layout
    * (cell-only directories) would create a MIXED-DEPTH partition tree
    * that breaks every subsequent read of the code table ("conflicting
    * directory structures") — the append would "succeed" and leave the
    * on-disk index unreadable. Fail first, with the migration path named:
    * [[compactIndex]] reads the old layout fine and rewrites it into the
    * current one. */
  private def requireBatchLayout(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    require(
      spark.read.parquet(s"$path/codes").schema.fieldNames
        .contains("ingest_batch"),
      s"$path/codes uses the pre-ingest_batch (cell-only) layout; " +
        "appending would write a mixed-depth partition tree that breaks " +
        "every read. Run IvfPq.compactIndex(path) once to migrate it.")

  /** The STREAMING half of index maintenance: follow an unbounded vector
    * stream into a disk index, one [[appendToIndex]] per micro-batch with
    * the micro-batch id as the idempotence key — after a crash between the
    * append and the offset commit, the replayed batch dynamically
    * OVERWRITES its own (cell, batch) partitions instead of appending
    * duplicates, so the index is exactly-once with respect to the stream.
    * `vecStream`: streaming (vec_id, embedding) frame. Skew monitoring is
    * the caller's loop: run [[appendToIndex]]'s histogram (or
    * `readIndex` + a groupBy) periodically and [[splitCell]] what it
    * flags.
    *
    * The quantizers (centroids + codebooks) are loaded and collected ONCE
    * at start — per micro-batch the ingest pays only the
    * assignment job and the partitioned write, never a codes-tree listing
    * (which grows with total file count) or a histogram scan nobody reads.
    * Single-writer contract: do not run [[splitCell]] (which moves
    * centroids) while the stream is active. */
  def appendStream(spark: org.apache.spark.sql.SparkSession, path: String,
      vecStream: DataFrame, checkpoint: String,
      name: String = "ann_ingest"): org.apache.spark.sql.streaming.StreamingQuery = {
    requireBatchLayout(spark, path)
    val (centsTable, cb) = readQuantizers(spark, path)
    val cents = centsTable.collect()
    vecStream.writeStream.queryName(name)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        // skip empty micro-batches: the assignment job would still run
        if (!batch.isEmpty)
          appendBatch(path, batch.toDF(), Some(batchId), cents, cb)
        ()
      }
      .start()
  }

  /** **Deletion** (the right-to-be-forgotten path for a disk index): record
    * the vec_ids as TOMBSTONES under `<path>/deleted` — O(ids) appended
    * bytes, no index file touched — and every subsequent search (via
    * [[readIndex]]) anti-joins them out before scoring, so a deleted vector
    * can never be served again from the moment this returns. The rows'
    * bytes still exist on disk until [[compactIndex]] runs, which PURGES
    * tombstoned rows during its rewrite and then clears the tombstone set —
    * the same soft-delete-then-merge-purge lifecycle Lucene/FAISS-style
    * systems use, because an immediate per-delete rewrite of cell
    * partitions would turn every GDPR request into an O(cell) write.
    *
    * Semantics: deleting an id not in the index is a harmless no-op
    * (anti-join); deletes are idempotent. A vec_id RE-INGESTED after its
    * delete but before a purge stays invisible — the tombstone wins; run
    * [[compactIndex]] first if an id must be reusable. The crash story is
    * the parquet committer's: a failed append publishes nothing.
    *
    * Concurrency: tombstones live in their own directory, disjoint from
    * the codes tree — a delete is safe beside a live [[appendStream]] (the
    * single-writer maintenance window applies to LAYOUT rewrites:
    * [[compactIndex]], [[splitCell]] — not to this).
    *
    * `ids`: any frame with a `vec_id` column. Returns the number of
    * tombstones written. */
  def deleteVectors(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame): Long = {
    require(ids.columns.contains("vec_id"),
      "deleteVectors needs a vec_id column")
    val tomb = ids.select("vec_id").where(col("vec_id").isNotNull).distinct()
    val n = tomb.count()
    if (n > 0) tomb.write.mode("append").parquet(s"$path/deleted")
    n
  }

  /** The tombstone set of a disk index, if any delete ever ran. */
  private def readDeleted(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/deleted")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(s"$path/deleted")) else None
  }

  /** Sweep code directories whose cell id is no longer in the centroid
    * table — the step-3 cleanup a crashed [[splitCell]] leaves behind.
    * Such directories are unreachable (no probe can route to a cell the
    * centroid table doesn't know), so this only reclaims space and
    * non-pruned scan bytes; safe to run any time in the single-writer
    * maintenance window. Returns the removed cell ids. */
  def vacuumIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Int] = {
    val live = spark.read.parquet(s"$path/centroids")
      .select("cell").collect().map(_.getInt(0)).toSet
    val codes = new org.apache.hadoop.fs.Path(s"$path/codes")
    val fs = codes.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dead = fs.listStatus(codes).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map(st => (st.getPath, st.getPath.getName.stripPrefix("cell=").toInt))
      .filterNot { case (_, id) => live.contains(id) }
    dead.foreach { case (p, _) => fs.delete(p, true) }
    dead.map(_._2)
  }

  /** Fold the small files streaming ingest accrues back into the base
    * layout: each micro-batch writes up to one file per touched cell under
    * its own `ingest_batch=<id>` directory — thousands of KB-files per day
    * at serving scale — and this rewrites the whole code table as
    * `ingest_batch=-1` with ONE file per cell (hash-repartitioned on
    * `cell`, so each cell lands in exactly one task), committed by the
    * crash-safe staged-rename swap ([[graft.sources.Lake.safeReplace]]).
    *
    * SAFETY WINDOW: run only while no [[appendStream]] is active and after
    * its checkpoint has committed past every ingested batch. A batch
    * replayed AFTER compaction would re-append rows the compaction already
    * folded into the base — the same single-writer maintenance-window
    * contract every layout rewrite in [[graft.sources.Lake]] documents.
    * Also the MIGRATION step for indexes written by the pre-ingest_batch
    * (cell-only) layout: it reads either layout and always writes the
    * current one. Returns (files before, files after). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int) = {
    val codes = spark.read.parquet(s"$path/codes")
    val before = codes.inputFiles.length
    val nCells = codes.select("cell").distinct().count().toInt.max(1)
    // the merge-purge half of [[deleteVectors]]: tombstoned rows are
    // dropped from the rewrite, then the tombstone set is cleared — in
    // that order, so a crash in between leaves tombstones that exclude
    // nothing (already purged) rather than rows that should be excluded
    val deleted = readDeleted(spark, path)
    val live = deleted match {
      case Some(d) =>
        codes.join(d.select("vec_id"), Seq("vec_id"), "left_anti")
      case None => codes
    }
    val flat = live
      .select(col("vec_id"), col("cell"), col("codes"), col("embedding"))
      .withColumn("ingest_batch", lit(-1L))
      .repartition(nCells, col("cell"))
    graft.sources.Lake.safeReplace(spark, s"$path/codes", flat,
      partitionBy = Seq("cell", "ingest_batch"))
    if (deleted.isDefined) {
      val p = new org.apache.hadoop.fs.Path(s"$path/deleted")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    (before, spark.read.parquet(s"$path/codes").inputFiles.length)
  }

  /** Act on [[appendToIndex]]'s skew flag WITHOUT a full rebuild: re-cluster
    * ONE hot cell in place. Fits `k2` sub-centroids on the cell's stored
    * original embeddings, gives the sub-cells fresh ids above the current
    * max, re-encodes the cell's rows against their new centroids (residual
    * codes must follow the centroid they are residuals OF), and swaps the
    * layout in crash-ordered steps — the index is SEARCHABLE AND
    * DUPLICATE-FREE at every crash point:
    *
    *  1. write the re-encoded rows into the new cell directories with
    *     DYNAMIC partition overwrite (unreferenced by the centroid table →
    *     invisible to every search; a rerun after a crash REPLACES them
    *     instead of appending duplicates);
    *  2. atomically replace the centroid table (old cell row out, `k2` new
    *     rows in) — from this instant probes route to the sub-cells;
    *  3. delete the old cell directory (until then it is dead data no probe
    *     can reach: its cell id is no longer in the centroid table).
    *
    * Recovery from a crash at any point = rerun `splitCell` (steps are
    * idempotent through the dynamic overwrite) — except after step 2, when
    * the split has already logically happened and the rerun fails its
    * "cell exists" precondition; only the step-3 cleanup remains, and the
    * stale directory is unreachable in the meantime.
    *
    * PQ codebooks are NOT refit (they are index-global); sub-cell residuals
    * are strictly smaller than the original cell's, so existing codes
    * quantize them at least as well — same drift contract as
    * [[appendToIndex]]. Returns the new cell ids. */
  def splitCell(spark: org.apache.spark.sql.SparkSession, path: String,
      cell: Int, k2: Int = 2, seed: Long = 42L): Seq[Int] = {
    require(k2 >= 2, s"a split needs k2 >= 2 sub-cells, got $k2")
    requireBatchLayout(spark, path)
    val idx = readIndex(spark, path)
    val cents = idx.ivf.centroids.collect()
    require(cents.exists(_.getInt(0) == cell),
      s"cell $cell is not in the index's centroid table")
    val rows = spark.read.parquet(s"$path/codes")
      .filter(col("cell") === cell)
      .select("vec_id", "embedding", "ingest_batch")
    val nRows = rows.count()
    require(nRows >= k2,
      s"cell $cell holds $nRows vectors — cannot split into $k2")
    val maxCell = cents.map(_.getInt(0)).max
    // sub-quantizer fit on THIS cell only (one single-task k-means on the
    // capped sample; it touches one cell's data, not the corpus)
    val sub = Ivf.build(rows.select("vec_id", "embedding"), nLists = k2, seed)
    val shift = maxCell + 1
    // k-means returns one center per distinct vector when the cell holds
    // fewer than k2 distinct vectors (a cell hot with duplicates) — abort
    // BEFORE any write rather than report a split that changed nothing,
    // and return the ids actually produced, never a ghost range
    val subCells = sub.centroids.select("cell").collect()
      .map(_.getInt(0)).sorted
    require(subCells.length >= 2,
      s"cell $cell cannot be split: k-means found only ${subCells.length} " +
        s"distinct center(s) among $nRows vectors — the cell is hot with " +
        "(near-)duplicates; dedup it instead of splitting")
    val newCents = sub.centroids
      .select((col("cell") + lit(shift)).cast("int").as("cell"), col("centroid"))
    // re-encode against the NEW centroids with the EXISTING codebooks; each
    // row keeps its original ingest_batch (the layout's second level)
    val reEncoded = Pq.encode(
        sub.assigned
          .join(broadcast(sub.centroids), Seq("cell"))
          .join(rows.select("vec_id", "ingest_batch"), Seq("vec_id"))
          .withColumn("residual", residualCol)
          .select(col("vec_id"), (col("cell") + lit(shift)).cast("int").as("cell"),
            col("ingest_batch"),
            col("embedding").as("orig_emb"), col("residual").as("embedding")),
        idx.cb)
      .select(col("vec_id"), col("cell"), col("codes"),
        col("orig_emb").as("embedding"), col("ingest_batch"))
    // step 1: new dirs, dynamic overwrite (rerun-safe)
    reEncoded.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell", "ingest_batch").parquet(s"$path/codes")
    // step 2: centroid swap — the probe routing flips here, atomically for
    // readers that open the table after the swap
    val kept = idx.ivf.centroids.filter(col("cell") =!= cell)
      .unionByName(newCents)
    graft.sources.Lake.safeReplace(spark, s"$path/centroids", kept)
    // step 3: drop the now-unreachable old directory
    val old = new org.apache.hadoop.fs.Path(s"$path/codes/cell=$cell")
    val fs = old.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(old, true)
    subCells.map(_ + shift).toSeq
  }

  /** Open an index written by [[writeIndex]]. The codes frame is the LAZY
    * partitioned scan — nothing is cached; pair with
    * `search(pruneCellScan = true)` so each query batch reads only its
    * probed cells' directories. */
  def readIndex(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val codes = spark.read.parquet(s"$path/codes")
    val (centroids, cb) = readQuantizers(spark, path)
    Index(Ivf.Index(centroids, codes.select("vec_id", "cell")), cb, codes,
      deleted = readDeleted(spark, path))
  }

  /** Just the probe-side artifacts (centroid table + codebooks) — what the
    * append path needs; opening these never lists the codes tree. */
  private def readQuantizers(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, Pq.Codebooks) = {
    val centroids = spark.read.parquet(s"$path/centroids")
    val r = spark.read.parquet(s"$path/codebooks").head()
    // parquet hands back mutable ArraySeq at every nesting level — extract
    // via the collection supertype and convert to the immutable shape
    val cents = r.getAs[scala.collection.Seq[
        scala.collection.Seq[scala.collection.Seq[Double]]]]("cents")
      .map(_.map(_.toSeq).toSeq).toSeq
    (centroids, Pq.Codebooks(r.getAs[Int]("m"), r.getAs[Int]("k"),
      r.getAs[Int]("subDim"), cents))
  }

  /** Top-k per query. Plan: broadcast(query × nProbe cells with per-cell ADC
    * tables) ⨝cell codes → shortlist → exact re-rank.
    *
    * `pruneCellScan = true` (for disk-backed indexes from [[readIndex]])
    * first collects the distinct probed cell ids — bounded by
    * min(nLists, |queries| × nProbe), a serving-sized list, not data — and
    * narrows BOTH scans of the code table with a static `cell IN (...)`
    * partition filter: only the probed directories are listed or read. The
    * re-rank join is also valid under the filter because every shortlist
    * candidate came from a probed cell. */
  def search(idx: Index, queries: DataFrame, kNN: Int, nProbe: Int = 4,
      shortlist: Int = 64, pruneCellScan: Boolean = false): DataFrame = {
    require(shortlist >= kNN, "shortlist must cover k")
    val cb = idx.cb
    val dim = cb.m * cb.subDim
    // nProbe nearest cells per query, with the query residual per cell.
    // Dim guard HERE, on the raw query vector: zip_with pads a short vector
    // with nulls up to the centroid length, so the residual would pass the
    // downstream size check and silently score all-NULL distances.
    val cellW = Window.partitionBy("q_id").orderBy(col("cdist"), col("cell"))
    val probes = queries
      .select(col("vec_id").as("q_id"), expr(
        s"""CASE WHEN size(embedding) = $dim THEN embedding
           |ELSE raise_error(concat('PQ query: vector dim ', size(embedding),
           |                        ', index expects $dim')) END""".stripMargin)
        .as("q_emb"))
      .crossJoin(broadcast(idx.ivf.centroids))
      // native codegen'd fold — bit-identical to the HOF zip_with form
      .withColumn("cdist", expr("float_l2sq(q_emb, centroid)"))
      .withColumn("pr", row_number().over(cellW))
      .filter(col("pr") <= nProbe)
      .withColumn("q_resid", expr(
        "zip_with(CAST(q_emb AS ARRAY<DOUBLE>), centroid, (x, c) -> x - c)"))
      // per-(query, cell) ADC table over the RESIDUAL codebooks — the same
      // shared expressions Pq.search scores with, fed residuals
      .withColumn("__cb", Pq.cbCol(cb))
      .withColumn("tbl", expr(Pq.adcTableExpr(cb, "q_resid")))
      .select("q_id", "q_emb", "cell", "tbl")

    val (probesF, enc0) =
      if (!pruneCellScan) (probes, idx.encoded)
      else {
        // Pin ONE evaluation of the probe frame: the cells list below and
        // the join must see the SAME probe rows — with a nondeterministic
        // queries frame (sample, unordered limit) a re-execution could
        // probe a cell the IN-filter already dropped and silently lose
        // neighbors. Also saves re-running the centroid-assign + ADC-table
        // build. Materialized to the DRIVER as a LocalRelation, not a
        // localCheckpoint: probes are serving-sized (≤ |queries| × nProbe
        // rows) and a checkpoint here would leak its cached RDD until
        // driver GC — a serving loop issuing many searches accumulates
        // storage blocks with no release point, because the caller owns
        // the returned lazy frame's lifetime, not this method.
        val rows = probes.collect()
        val p = queries.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), probes.schema)
        val cells = rows.map(_.getAs[Any]("cell")).distinct.toSeq
        (p,
          if (cells.isEmpty) idx.encoded.filter(lit(false))
          else idx.encoded.filter(col("cell").isInCollection(cells)))
      }
    // tombstoned vectors are out BEFORE scoring (shortlist and re-rank
    // alike): a deleted vector must never displace a live neighbor
    val enc = idx.deleted match {
      case Some(d) => enc0.join(d.select("vec_id"), Seq("vec_id"), "left_anti")
      case None => enc0
    }

    // cell EQUI-join: each probed (query, cell) pair scans only that cell.
    // Deliberately TWO passes (codes-only ADC scan, then an embedding join
    // for the shortlist): candidates are probed-cell rows REPLICATED per
    // probing query, and the shortlist window's partial WindowGroupLimit
    // sorts that stream locally — carrying the embedding would multiply
    // every candidate vector's bytes through the sort, while the second
    // pass reads each shortlisted embedding exactly once (§8).
    val adcW = Window.partitionBy("q_id").orderBy(col("adc"), col("vec_id"))
    val cands = broadcast(probesF)
      .join(enc.select("vec_id", "cell", "codes"), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("adc", expr(Pq.adcScoreExpr))
      .withColumn("sr", row_number().over(adcW))
      .filter(col("sr") <= shortlist)
      .select("q_id", "q_emb", "vec_id")

    // exact re-rank on the original vectors (same scorer as Ivf/Pq)
    val rankW = Window.partitionBy("q_id").orderBy(col("l2_dist"), col("vec_id"))
    cands.join(enc.select("vec_id", "embedding"), Seq("vec_id"))
      .withColumn("l2_dist", Ivf.l2Pair)
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= kNN)
      .select("q_id", "rank", "vec_id", "l2_dist")
  }
}
