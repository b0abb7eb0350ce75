package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.Checkpoints.{pin, scoped}

/** Physical table layout for 100 TB operation (SURVEY §4): partitioned +
  * bucketed Parquet tables.
  *
  * - **Partition columns** (e.g. season/week, or ship month) give partition
  *   pruning: a predicate on the column skips whole directories — the
  *   distributed mirror of the reference's weekly CSV files
  *   (reference: bdb2026/data_io.py:19-28).
  * - **Bucketing** on the join/agg key pre-shuffles data at write time: two
  *   tables bucketed the same way join with ZERO exchange on either side
  *   (asserted in LakeSpec), and groupBy on the bucket key skips the
  *   partial→final shuffle. At 100 TB this converts every trajectory-key
  *   join/agg from a network shuffle into a local merge.
  */
object Lake {

  /** Write a managed bucketed (and optionally partitioned) table.
    *
    * The frame is re-partitioned to ALIGN with the bucket spec before the
    * write (same hash, same modulus), so each task holds exactly one
    * bucket's rows and each bucket lands in ONE file. That matters twice:
    * without it every write task spills a file into every bucket
    * (tasks×buckets small files), and Spark only exploits the write-time
    * `sortBy` order — dropping BOTH sides' sorts from a co-bucketed
    * sort-merge join — when a bucket is a single file. One shuffle at write
    * time, amortized over every downstream join/agg on the key.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      nBuckets: Int, partitionCols: Seq[String] = Nil,
      sortCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    var w = df.repartition(nBuckets, bucketCols.map(col): _*)
      .write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols: _*)
    w.saveAsTable(table)
  }

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** Crash-safe table replacement: write the new contents to `<path>__tmp`,
    * then swap via two renames (old → `<path>__old`, tmp → path) and delete
    * the backup. A crash at ANY point leaves either the old table, or the
    * new one (possibly plus a leftover `__tmp`/`__old` directory to sweep) —
    * never an empty/partial table, which is what plain
    * `mode("overwrite")` (delete-then-write) risks. Readers racing the two
    * renames can see a transient miss — single-writer maintenance windows
    * assumed; a real lakehouse table format replaces this with a metadata
    * pointer swap.
    */
  def safeReplace(spark: SparkSession, path: String, newData: DataFrame,
      partitionBy: Seq[String] = Nil): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val target = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + "__tmp")
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    fs.delete(tmp, true); fs.delete(old, true) // sweep prior crash leftovers
    val w = newData.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tmp.toString)
    // carry the snapshot HISTORY across the rewrite: the old snapshots
    // become unreadable (their files are gone — readSnapshot says so
    // loudly), but erasing the record of them would turn that loud failure
    // into a confusing "no snapshot" for ids the caller knows existed.
    // COPIED into the staged dir BEFORE the swap, so the promote carries
    // data and history together: a crash at any point leaves either the
    // old table (history in place) or the new one (history carried).
    // (Renaming it out of __old AFTER the swap — the previous scheme —
    // left a window where the history lived only in __old, which the next
    // call's leftover sweep would silently destroy.)
    val liveSnaps = new org.apache.hadoop.fs.Path(target, SnapshotDir)
    if (fs.exists(liveSnaps))
      require(org.apache.hadoop.fs.FileUtil.copy(fs, liveSnaps, fs,
        new org.apache.hadoop.fs.Path(tmp, SnapshotDir), false, conf),
        s"could not carry snapshot history into $tmp")
    require(fs.rename(target, old), s"could not stage $target aside")
    require(fs.rename(tmp, target), s"could not promote $tmp")
    fs.delete(old, true)
  }

  /** Batch upsert (the MERGE INTO shape without a table format that has it
    * natively): rows in `updates` replace target rows with the same key;
    * new keys append. Target-anti-join-updates ∪ updates, committed via
    * [[safeReplace]] — the same logic a `foreachBatch` streaming sink runs
    * per micro-batch (keyed on batchId for idempotence).
    *
    * Two physical paths:
    *  - **`partitionCol = None`** (unpartitioned table): the whole table is
    *    read and rewritten — `where` bounds the merge *logic* only. Fine for
    *    dimension-sized tables; wrong unit of work at 100 TB.
    *  - **`partitionCol = Some(p)`** (table hive-partitioned on `p`): the
    *    partition-pruned path. Rows only ever live in the directory their
    *    `p` value names, so the minimal rewrite set is exactly the
    *    partitions PRESENT IN `updates`; each touched `p=v` directory is
    *    merged and swapped individually ([[safeReplace]] semantics, hidden
    *    dot-prefixed staging dirs so a crash leftover can never parse as a
    *    phantom partition value). Every other directory is untouched ON
    *    DISK — same files, same timestamps — not read-and-rewritten: a
    *    micro-batch touching one day rewrites one directory, not the
    *    corpus. In-scope partitions with no updates need no rewrite (MERGE
    *    leaves unmatched rows as-is).
    *
    * Pruned-path contract (the `replaceWhere` shape of lakehouse formats):
    * `where` still bounds scope (out-of-scope updates rejected loudly), and
    * because out-of-scope directories are never opened, a key whose
    * partition value CHANGES leaves its old version in the old directory —
    * include `p` in `keys` to make key-moves impossible by construction
    * (with `keys == Seq(p)` the touched partitions are replaced wholesale).
    * NULL partition values are rejected (the Hive default-partition dir is
    * not modeled). Touched partition values are enumerated driver-side:
    * that is the swap list itself, inherently small. Updates are assumed
    * key-unique, as in SQL MERGE.
    */
  def upsertByKey(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String], where: Option[Column] = None,
      partitionCol: Option[String] = None): Unit = partitionCol match {
    case Some(p) => upsertPruned(spark, path, updates, keys, p, where)
    case None => upsertFullRewrite(spark, path, updates, keys, where)
  }

  private def upsertFullRewrite(spark: SparkSession, path: String,
      updates: DataFrame, keys: Seq[String], where: Option[Column]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val current0 = spark.read.parquet(path)
    // maintenance-path drift gate: name every drifted column up front,
    // instead of a unionByName analysis error (or worse, an implicit key
    // cast) deep in the merge plan
    SchemaCompat.preflightMaintenance(current0.schema, updates.schema,
      "upsertByKey")
    // Three-valued logic guard: a row where `where` evaluates NULL is false
    // under BOTH `w` and `!w`, so a naive filter pair drops it from the table
    // entirely. NULL-predicate rows are conservatively kept untouched.
    val current = where.map(w => current0.filter(coalesce(w, lit(false))))
      .getOrElse(current0)
    // `untouched` must ALSO drop rows whose key an update replaces: an
    // in-scope update may target a row that itself sits outside the scope
    // (its scope column changed, or is NULL) — keeping that old version
    // alongside the update would duplicate the key.
    val untouched = where.map(w => current0.filter(coalesce(!w, lit(true)))
      .join(updates.select(keys.map(col(_)): _*), keys, "left_anti"))
      .getOrElse(current0.limit(0))
    // `where` is a rewrite-scope prune, not a filter on the updates: an
    // update row outside the scope would duplicate its key (its old version
    // lives in `untouched`). Fail loudly rather than corrupt.
    where.foreach { w =>
      require(updates.filter(!coalesce(w, lit(false))).isEmpty,
        s"upsertByKey: updates contain rows outside the `where` scope $w; " +
          "widen the predicate or pre-filter the updates")
    }
    val merged = current.join(updates.select(keys.map(col(_)): _*), keys, "left_anti")
      .unionByName(updates)
      .unionByName(untouched)
    safeReplace(spark, path, merged)
  }

  /** The partition-pruned merge behind [[upsertByKey]]. One merge + swap
    * per partition value present in `updates`; directories the updates
    * don't name are never opened. New partition values create their
    * directory (staged + renamed, same crash discipline).
    */
  private def upsertPruned(spark: SparkSession, path: String,
      updates: DataFrame, keys: Seq[String], p: String,
      where: Option[Column]): Unit = scoped {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    where.foreach { w =>
      require(updates.filter(!coalesce(w, lit(false))).isEmpty,
        s"upsertByKey: updates contain rows outside the `where` scope $w; " +
          "widen the predicate or pre-filter the updates")
    }
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Layout sanity: writing `p=v` dirs under a root holding plain parquet
    // files would corrupt partition discovery — fail before touching disk.
    // A missing root is the bootstrap case (first-ever upsert creates it).
    val visible =
      if (!fs.exists(rootP)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(rootP).filterNot { s =>
        val n = s.getPath.getName; n.startsWith("_") || n.startsWith(".")
      }
    require(visible.forall(s => s.isDirectory && s.getPath.getName.startsWith(s"$p=")),
      s"upsertByKey: $path is not hive-partitioned on '$p'")
    // materialize once: the updates lineage is otherwise re-executed for the
    // distinct() below plus the merge write; freed once the staging write is
    // done and the lineage is dead
    val u = pin(updates)
    val vals = u.select(p).distinct().collect().map(_.get(0))
    require(!vals.contains(null),
      "upsertByKey: NULL partition values are not supported on the pruned path")
    // Within one directory the partition column is constant, so the merge
    // key inside it is `keys` minus `p`; empty ⇒ whole-partition replace.
    // Joining on dataKeys :+ p expresses both cases at once across ALL
    // touched partitions: an update only ever displaces rows in its own
    // directory, and with no dataKeys it displaces the whole directory.
    val dataKeys = keys.filterNot(_ == p)
    val dirNames = vals.map(v =>
      s"$p=${ExternalCatalogUtils.escapePathName(v.toString)}").toSeq
    // Recover any prior crash mid-swap BEFORE reading: old staged aside but
    // never replaced means `.upsert_old/p=v` holds the ONLY copy of the
    // partition — merging without it would take the updates-only branch
    // and the later sweep would destroy the last copy.
    dirNames.foreach(restoreCrashedSwap(fs, rootP, _))

    // ONE merge job across all touched partitions (round-5 VERDICT #3 —
    // the per-partition loop paid job-launch latency per directory): union
    // the touched directories that exist, anti-join the updates once, and
    // stage with ONE partitionBy(p) write (one Spark job; the union is scan
    // nodes, not jobs). Untouched directories are still never opened.
    //
    // Each directory is read WITHOUT partition-value inference (leaf files
    // don't store `p`) and gets the EXACT update-side value attached: the
    // dirname→inference→cast round trip is not identity for values like
    // "01" (inferred int 1 → cast "1"), and a mismatched `p` would both
    // skip the displacement join and stage old rows under a directory the
    // swap loop never promotes — silent data loss (round-6 self-review).
    val existingDirs = dirNames
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(rootP, d)))
      .map(d => new org.apache.hadoop.fs.Path(rootP, d).toString)
    // Schema-drift guard: the declared-schema read below silently PROJECTS
    // — a table column missing from `updates` would be dropped from every
    // touched partition on the rewrite (and an updates-only column would
    // backfill nulls, and a retyped column would be read under the wrong
    // declared type) with no error. Fail loudly with every drifted column
    // named (round-6 self-review; typed since round 9 via SchemaCompat).
    // One footer probe of one touched directory; partition columns aren't
    // in files.
    if (existingDirs.nonEmpty) {
      val fileSchema = spark.read.parquet(existingDirs.head).schema
      SchemaCompat.preflightMaintenance(fileSchema,
        org.apache.spark.sql.types.StructType(u.schema.filterNot(_.name == p)),
        "upsertByKey")
    }
    val merged =
      if (dataKeys.isEmpty || existingDirs.isEmpty) u // wholesale replace /
        // brand-new partitions: nothing old survives or exists
      else {
        // ONE scan relation (one AQE leaf stage — per-directory reads would
        // re-scale job count with the touched-partition count) with the
        // updates' schema DECLARED, partition column included: a declared
        // schema makes discovery parse `p` from the dirname AS THAT TYPE
        // instead of inferring one. Inference is the data-loss trap this
        // replaced (round-6 self-review): over touched dirs like day=01 it
        // yields int 1, a cast back to string gives "1" ≠ "01", the
        // displacement join displaces nothing, and the old rows stage under
        // a directory the swap loop never promotes. A declared StringType
        // keeps the raw "01"; numeric/date declared types reparse the exact
        // string their own toString wrote.
        spark.read.schema(u.schema).option("basePath", path)
          .parquet(existingDirs: _*)
          .join(u.select((dataKeys :+ p).map(col(_)): _*), dataKeys :+ p, "left_anti")
          .unionByName(u)
      }
    stageAndSwapPartitions(spark, rootP, p, dirNames, merged)
  }

  /** Batch delete-by-key (the GDPR / right-to-be-forgotten path): rows whose
    * key appears in `deletes` are removed; absent keys are a no-op (SQL
    * DELETE semantics). Same two physical paths as [[upsertByKey]]:
    *
    *  - **`partitionCol = None`**: whole-table anti-join + [[safeReplace]].
    *  - **`partitionCol = Some(p)`** (`p` must be one of `keys`): only the
    *    directories named by the deletes' `p` values are read (declared
    *    schema — the same dirname-inference trap as the pruned upsert),
    *    anti-joined once, and swapped with the same crash discipline; a
    *    partition emptied entirely is REMOVED. Directories the deletes
    *    don't name are untouched on disk. A crashed run must be re-run:
    *    recovery restores any half-deleted partition from `.upsert_old/`
    *    first (never destroys the last copy), and the re-run converges.
    *
    * NULL key values are rejected loudly — NULL never equi-joins, so a
    * NULL-key delete would silently remove nothing.
    */
  def deleteByKey(spark: SparkSession, path: String, deletes: DataFrame,
      keys: Seq[String], partitionCol: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "deleteByKey needs at least one key column")
    val missing = keys.filterNot(deletes.columns.contains)
    require(missing.isEmpty, s"deleteByKey: deletes lack key columns $missing")
    val d = deletes.select(keys.map(col(_)): _*).distinct()
    require(d.filter(keys.map(col(_).isNull).reduce(_ || _)).isEmpty,
      "deleteByKey: deletes contain NULL key values — NULL never matches, " +
        "the rows would silently survive")
    partitionCol match {
      case None =>
        val target = spark.read.parquet(path)
        // drift gate on the KEY columns: a retyped key would otherwise be
        // implicitly cast in the anti-join and silently match nothing
        SchemaCompat.preflightMaintenance(
          org.apache.spark.sql.types.StructType(
            target.schema.fields.filter(f => keys.contains(f.name))),
          d.schema, "deleteByKey")
        val remaining = target.join(d, keys, "left_anti")
        safeReplace(spark, path, remaining)
      case Some(p) =>
        require(keys.contains(p),
          s"deleteByKey: pruned path needs the partition column '$p' among " +
            "the keys — without it the touched directories are unknowable")
        deletePruned(spark, path, d, keys, p)
    }
  }

  private def deletePruned(spark: SparkSession, path: String,
      deletes: DataFrame, keys: Seq[String], p: String): Unit = scoped {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StructType
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(rootP), s"deleteByKey: $path does not exist")
    val visible = fs.listStatus(rootP).filterNot { s =>
      val n = s.getPath.getName; n.startsWith("_") || n.startsWith(".")
    }
    require(visible.forall(s => s.isDirectory && s.getPath.getName.startsWith(s"$p=")),
      s"deleteByKey: $path is not hive-partitioned on '$p'")
    val del = pin(deletes)
    val vals = del.select(p).distinct().collect().map(_.get(0))
    val dirNames = vals.map(v =>
      s"$p=${ExternalCatalogUtils.escapePathName(v.toString)}").toSeq
    dirNames.foreach(restoreCrashedSwap(fs, rootP, _))
    val existingDirs = dirNames
      .filter(dn => fs.exists(new org.apache.hadoop.fs.Path(rootP, dn)))
    if (existingDirs.nonEmpty) {
      val dirPaths = existingDirs.map(dn =>
        new org.apache.hadoop.fs.Path(rootP, dn).toString)
      // declared schema = one touched directory's file schema + the
      // partition column TYPED AS THE DELETES DECLARE IT, so the dirname
      // parses back to a value that equi-joins the delete keys exactly
      // (discovery inference is the "01" → 1 data-loss trap; see
      // upsertPruned)
      val fileSchema = spark.read.parquet(dirPaths.head).schema
      require(!fileSchema.fieldNames.contains(p),
        s"deleteByKey: data files already carry '$p'; not a partition column")
      // drift gate on the non-partition KEY columns (the partition key is
      // validated by the dirname parse itself): a retyped key would be
      // implicitly cast in the anti-join and silently delete nothing
      SchemaCompat.preflightMaintenance(
        StructType(fileSchema.fields.filter(f =>
          keys.contains(f.name) && f.name != p)),
        StructType(del.schema.fields.filter(_.name != p)), "deleteByKey")
      val declared = StructType(fileSchema.fields :+
        del.schema.fields(del.schema.fieldIndex(p)))
      val remaining = spark.read.schema(declared).option("basePath", path)
        .parquet(dirPaths: _*)
        .join(del, keys, "left_anti")
      stageAndSwapPartitions(spark, rootP, p, existingDirs, remaining,
        emptyMeansDrop = true)
    }
  }

  /** Stage `newData` (which must cover exactly the partition values named by
    * `dirNames`) under the hidden `.upsert_tmp` root with ONE
    * `partitionBy` write, then swap each directory with the same two-rename
    * crash discipline as [[swapPartitionDir]]: crash anywhere leaves every
    * individual partition either old, new, or recoverable from
    * `.upsert_old/` by [[restoreCrashedSwap]]. With `emptyMeansDrop`, a
    * named directory with NO staged output is removed (delete semantics)
    * instead of failing.
    */
  private def stageAndSwapPartitions(spark: SparkSession,
      root: org.apache.hadoop.fs.Path, p: String, dirNames: Seq[String],
      newData: DataFrame, emptyMeansDrop: Boolean = false): Unit = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stageRoot = new org.apache.hadoop.fs.Path(root, ".upsert_tmp")
    val oldRoot = new org.apache.hadoop.fs.Path(root, ".upsert_old")
    // Restore EVERY crash leftover before sweeping the roots — a crashed
    // swap from a prior upsert of a DIFFERENT partition value may hold the
    // only copy of that partition under `.upsert_old/`.
    if (fs.exists(oldRoot))
      fs.listStatus(oldRoot).foreach(s => restoreCrashedSwap(fs, root, s.getPath.getName))
    fs.delete(stageRoot, true); fs.delete(oldRoot, true) // sweep crash leftovers
    newData.write.mode("overwrite").partitionBy(p).parquet(stageRoot.toString)
    // Formatting-divergence guard (round-7 self-review): every staged
    // directory must be one the swap loop will visit. Without this, a
    // partition value whose partitionBy dirname formatting diverged from
    // the driver-side toString naming would stage its SURVIVING rows under
    // a name never promoted — and under `emptyMeansDrop` the target would
    // then read as "legitimately emptied" and be dropped: silent data loss.
    if (fs.exists(stageRoot)) {
      val staged = fs.listStatus(stageRoot).map(_.getPath.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
      val unexpected = staged.filterNot(dirNames.contains)
      require(unexpected.isEmpty,
        s"staging write produced ${unexpected.mkString(",")} outside the " +
          s"swap list ${dirNames.mkString(",")} — partition value formatting " +
          "diverged from the directory naming")
    }
    dirNames.foreach { dirName =>
      val target = new org.apache.hadoop.fs.Path(root, dirName)
      val tmp = new org.apache.hadoop.fs.Path(stageRoot, dirName)
      val old = new org.apache.hadoop.fs.Path(oldRoot, dirName)
      if (!fs.exists(tmp) && emptyMeansDrop) {
        // a delete emptied this partition entirely: partitionBy emits no
        // directory for zero rows, so "no staged output" IS the new state.
        // Two-step removal keeps the crash discipline: a crash between the
        // rename and the sweep leaves the copy under `.upsert_old/`, which
        // the next maintenance run restores (then the re-run delete
        // converges) — the last copy is never destroyed mid-operation.
        if (fs.exists(target)) {
          fs.mkdirs(old.getParent)
          require(fs.rename(target, old), s"could not stage $target aside")
          fs.delete(old, true)
        }
      } else {
        require(fs.exists(tmp),
          s"upsertByKey: staging write produced no $dirName — partition value " +
            "formatting diverged from the directory naming")
        if (fs.exists(target)) {
          fs.mkdirs(old.getParent)
          require(fs.rename(target, old), s"could not stage $target aside")
        }
        require(fs.rename(tmp, target), s"could not promote $tmp")
        fs.delete(old, true)
      }
    }
    fs.delete(stageRoot, true)
  }

  /** If a prior run crashed between swapPartitionDir's two renames, the
    * partition lives only under `.upsert_old/` — promote it back. */
  private def restoreCrashedSwap(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, dirName: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(root, dirName)
    val old = new org.apache.hadoop.fs.Path(root, s".upsert_old/$dirName")
    if (fs.exists(old) && !fs.exists(target))
      require(fs.rename(old, target),
        s"could not restore $old left by a crashed swap")
  }

  /** [[safeReplace]] for one partition directory, staged under HIDDEN
    * (dot-prefixed) siblings: partition discovery skips hidden paths, so a
    * crash leftover can never be parsed as a phantom partition value the
    * way a visible `p=v__tmp` sibling would. Crash anywhere leaves the old
    * directory, the new one, or (crash between the renames) the old copy
    * under `.upsert_old/` — which [[restoreCrashedSwap]] promotes back
    * before the next merge reads; the sweep here only deletes `old` when
    * `target` is present, so the last copy is never destroyed.
    */
  private def swapPartitionDir(spark: SparkSession,
      root: org.apache.hadoop.fs.Path, dirName: String,
      newData: DataFrame): Unit = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(root, dirName)
    val tmp = new org.apache.hadoop.fs.Path(root, s".upsert_tmp/$dirName")
    val old = new org.apache.hadoop.fs.Path(root, s".upsert_old/$dirName")
    restoreCrashedSwap(fs, root, dirName) // direct callers get recovery too
    fs.delete(tmp, true); fs.delete(old, true) // sweep prior crash leftovers
    newData.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(target)) {
      fs.mkdirs(old.getParent)
      require(fs.rename(target, old), s"could not stage $target aside")
    }
    require(fs.rename(tmp, target), s"could not promote $tmp")
    fs.delete(old, true)
  }

  /** Slowly-changing-dimension TYPE-2 merge: the history-preserving upsert
    * (dimension tables whose attribute changes must stay queryable
    * "as of" any past time — training-data lineage, feature registries,
    * entity metadata). Table rows carry `effective_from` / `effective_to`
    * (NULL = still current) / `is_current` beside the data columns.
    *
    * Semantics per update row, MERGE-style:
    *  - key exists, any non-key attribute differs → the reigning version is
    *    CLOSED (`effective_to = asOf`, `is_current = false`) and the update
    *    becomes the new current version (`effective_from = asOf`);
    *  - key exists, attributes identical → no-op (re-running a batch is
    *    idempotent — no version churn);
    *  - new key → inserted as current.
    * Historical (already-closed) versions are never touched. Committed via
    * [[safeReplace]] (crash-safe swap). Updates are assumed key-unique.
    *
    * Scale shape: one read of the dimension, one hash join on the keys
    * (dimensions are the small side of a lakehouse — broadcastable), one
    * write; attribute comparison is a null-safe equality over the shared
    * non-key columns, so adding attribute columns needs no code change.
    */
  def scdMerge(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String], asOf: Long,
      bootstrap: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.{col, lit, struct, when}
    val meta = Seq("effective_from", "effective_to", "is_current")
    require(updates.columns.toSeq.intersect(meta).isEmpty,
      s"updates must not carry the SCD metadata columns ${meta.mkString(",")}")
    val attrs = updates.columns.toSeq.filterNot(keys.contains)
    require(attrs.nonEmpty, "scdMerge needs at least one non-key attribute")
    // NULL keys never join-match (NULL != NULL), so a NULL-key update would
    // be re-classified "new" on EVERY run — version accumulation instead of
    // idempotence. Reject loudly, like the pruned upsert does for NULL
    // partition values.
    require(updates.filter(keys.map(col(_).isNull).reduce(_ || _)).isEmpty,
      "scdMerge: updates contain NULL key values — clean the feed first")
    // "Updates are assumed key-unique" is a documented precondition, but a
    // violating batch would SILENTLY write multiple is_current versions per
    // key — breaking as-of reads and idempotence — so validate it as loudly
    // as the NULL-key and out-of-order guards do.
    require(updates.groupBy(keys.map(col(_)): _*).count()
        .filter(col("count") > 1).isEmpty,
      "scdMerge: updates contain duplicate keys — a batch must carry at " +
        "most one version per key (dedup-keep-last the feed first)")
    val asCurrent = updates
      .withColumn("effective_from", lit(asOf))
      .withColumn("effective_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
    if (bootstrap) {
      asCurrent.write.mode("errorifexists").parquet(path)
      return
    }
    val table = spark.read.parquet(path)
    // maintenance-path drift gate: the updates must carry exactly the
    // target's business columns (target schema minus the SCD metadata),
    // with the same types — name every drifted column up front
    SchemaCompat.preflightMaintenance(
      org.apache.spark.sql.types.StructType(
        table.schema.fields.filterNot(f => meta.contains(f.name))),
      updates.schema, "scdMerge")
    val history = table.filter(!col("is_current"))
    val current = table.filter(col("is_current"))
    // null-safe attribute comparison: structs compare field-wise and <=>
    // treats NULL = NULL as equal
    val joined = current.join(asCurrent.select(
        (keys.map(asCurrent(_)) :+
          struct(attrs.map(c => asCurrent(c)): _*).as("__new_attrs")): _*),
      keys, "left")
    // Out-of-order guard: closing a version that became current AFTER asOf
    // would write an inverted interval ([from, to) with to < from) and make
    // point-in-time reads match two versions of the key. Batches must be
    // applied in asOf order; fail loudly on a late arrival.
    require(joined.filter(col("__new_attrs").isNotNull &&
        !(struct(attrs.map(col): _*) <=> col("__new_attrs")) &&
        col("effective_from") > asOf).isEmpty,
      s"scdMerge: asOf=$asOf precedes the effective_from of a version it " +
        "would close — apply batches in effective-time order")
    val changedOrKept = joined.select(
      (keys.map(col) ++ attrs.map(col) ++ Seq(
        col("effective_from"),
        when(col("__new_attrs").isNotNull &&
          !(struct(attrs.map(col): _*) <=> col("__new_attrs")), lit(asOf))
          .otherwise(col("effective_to")).as("effective_to"),
        (col("__new_attrs").isNull ||
          (struct(attrs.map(col): _*) <=> col("__new_attrs"))).as("is_current"))): _*)
    // new versions: updates whose key is absent OR whose attributes changed
    val newVersions = asCurrent.join(
      current.select((keys.map(current(_)) :+
        struct(attrs.map(c => current(c)): _*).as("__cur_attrs")): _*),
      keys, "left")
      .filter(col("__cur_attrs").isNull ||
        !(struct(attrs.map(col): _*) <=> col("__cur_attrs")))
      .drop("__cur_attrs")
    safeReplace(spark, path,
      history.unionByName(changedOrKept).unionByName(newVersions))
  }

  /** SCD type-2 RETIREMENT: close the current version of each key in
    * `retire` at `asOf` WITHOUT inserting a successor — the "entity ceased
    * to exist" form of [[scdMerge]] (offboarded entity, deleted feature,
    * GDPR-retired dimension member). History stays intact, so point-in-time
    * reads before `asOf` still see the key; reads at or after `asOf` do
    * not. Keys with no current version (absent, or already retired) are a
    * no-op — re-running a batch is idempotent. Committed via
    * [[safeReplace]].
    */
  def scdRetire(spark: SparkSession, path: String, retire: DataFrame,
      keys: Seq[String], asOf: Long): Unit = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val missing = keys.filterNot(retire.columns.contains)
    require(missing.isEmpty, s"scdRetire: retire frame lacks key columns $missing")
    val k = retire.select(keys.map(col(_)): _*).distinct()
    require(k.filter(keys.map(col(_).isNull).reduce(_ || _)).isEmpty,
      "scdRetire: retire keys contain NULLs — clean the feed first")
    val table = spark.read.parquet(path)
    val marked = table.join(k.withColumn("__retire", lit(true)), keys, "left")
    // same out-of-order guard as scdMerge: closing a version that became
    // current AFTER asOf would write an inverted interval
    require(marked.filter(col("__retire").isNotNull && col("is_current") &&
        col("effective_from") > asOf).isEmpty,
      s"scdRetire: asOf=$asOf precedes the effective_from of a version it " +
        "would close — apply batches in effective-time order")
    val out = marked.select(table.columns.map {
      case "effective_to" =>
        when(col("is_current") && col("__retire").isNotNull, lit(asOf))
          .otherwise(col("effective_to")).as("effective_to")
      case "is_current" =>
        (col("is_current") && col("__retire").isNull).as("is_current")
      case c => col(c)
    }: _*)
    safeReplace(spark, path, out)
  }

  /** SCD retention: drop CLOSED versions whose validity ended before
    * `horizon` (current rows and versions still valid at the horizon are
    * always kept, so any as-of query at t ≥ horizon still answers
    * correctly). The GDPR/retention companion to [[scdMerge]]; committed
    * via [[safeReplace]]. Returns (rowsBefore, rowsAfter).
    */
  def scdVacuum(spark: SparkSession, path: String,
      horizon: Long): (Long, Long) = scoped {
    import org.apache.spark.sql.functions.col
    // one read: history tables can be large and count/filter/rewrite would
    // otherwise scan the files three times
    val table = pin(spark.read.parquet(path))
    val before = table.count()
    val kept = table.filter(col("is_current") ||
      col("effective_to").isNull || col("effective_to") > horizon)
    val after = kept.count()
    if (after < before) safeReplace(spark, path, kept)
    (before, after)
  }

  /** Small-file compaction: rewrite a parquet directory into ~`rowsPerFile`
    * sized files (streaming appends and per-batch writes accumulate tiny
    * files; scan cost at scale is dominated by file count, not bytes).
    * Committed via [[safeReplace]]. Returns (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, path: String, rowsPerFile: Long): (Int, Int) = {
    def parquetFiles: Int = {
      // resolve the filesystem OF `path` (s3a://, abfs://, ...), not the
      // configured default one — same as safeReplace above
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val before = parquetFiles
    // one read: count() then the safeReplace rewrite would otherwise scan
    // the directory twice (same fix as scdVacuum above)
    scoped {
      val df = pin(spark.read.parquet(path))
      val nFiles = math.max(1, math.ceil(df.count().toDouble / rowsPerFile).toInt)
      safeReplace(spark, path, df.repartition(nFiles))
    }
    (before, parquetFiles)
  }

  /** **Snapshots (time travel for append-only tables)** — pin the exact
    * file set a training run read, so the run is REPRODUCIBLE: re-reading
    * the snapshot months later returns byte-identical data even though the
    * table has kept ingesting. The snapshot is a manifest of (relative
    * path, length) under `_graft_snapshots/` inside the table directory
    * (underscore-prefixed → invisible to normal parquet reads, the same
    * convention as FileSkipping's `_graft_stats`), published by atomic
    * rename. Valid for as long as the table is APPEND-ONLY — the engine's
    * corpus/sink discipline; a rewriting maintenance pass
    * ([[safeReplace]], [[compact]], [[upsertByKey]]) invalidates older
    * snapshots, and [[readSnapshot]] detects that LOUDLY (missing/resized
    * files named) instead of silently returning different data. A real
    * lakehouse table format makes snapshots first-class metadata; this is
    * the same contract expressed with plain directories. Returns the new
    * snapshot id (monotonic). */
  def snapshot(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(p).toString
    // same distributed listing as the skipping manifest: past 8 top-level
    // partition dirs the recursive list fans out as a Spark job — at 10⁴+
    // partitions a driver-serial walk is minutes of metadata RPCs.
    // parquetOnly = false: a manifest that claims "the exact file set" must
    // pin EVERY visible file, including oddly-named ones an external writer
    // left — omitting them would make readSnapshot a silent partial read
    val files = FileSkipping.listDataFiles(spark, path, parquetOnly = false)
      .map { case (abs, len) =>
        s"$len\t${abs.stripPrefix(base).stripPrefix("/")}"
      }.sorted
    val dir = new org.apache.hadoop.fs.Path(p, SnapshotDir)
    fs.mkdirs(dir)
    val id = mintedIds(fs, p).sorted.lastOption.getOrElse(0L) + 1L
    val tmp = new org.apache.hadoop.fs.Path(dir, s".snap_$id.tmp")
    val out = fs.create(tmp, true)
    try out.write(files.mkString("\n").getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, s"snap_$id")),
      s"could not publish snapshot $id")
    id
  }

  /** Read the table EXACTLY as it was at `snapId`. Fails loudly if a
    * rewrite has invalidated the snapshot. Partition columns survive via
    * `basePath`. */
  def readSnapshot(spark: SparkSession, path: String, snapId: Long): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = snapshotEntries(fs, p, snapId)
    requireIntact(spark, path, entries, snapId, "is no longer readable")
    // a snapshot of a then-empty table (pinned before first ingest) reads
    // as zero rows with the CURRENT schema, not a schema-inference crash
    if (entries.isEmpty) emptyLike(spark, path, s"snapshot $snapId")
    else spark.read.option("basePath", path)
      .parquet(entries.map { case (_, rel) => s"$path/$rel" }: _*)
  }

  /** Incremental batch processing WITHOUT streaming: the rows appended
    * since `snapId` — current data files minus the snapshot's set. The
    * batch twin of a streaming file source: snapshot after each processing
    * run, read-appended-since the previous one on the next. */
  def readAppendedSince(spark: SparkSession, path: String,
      snapId: Long): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = snapshotEntries(fs, p, snapId)
    // the same loud-invalidation contract as readSnapshot: after a rewrite
    // every old file name is gone, so WITHOUT this check the whole
    // rewritten table would come back as the "delta" and an incremental
    // consumer would silently double-process the corpus. requireIntact
    // returns the current file map it validated against — the delta is its
    // complement, no second listing.
    val current =
      requireIntact(spark, path, entries, snapId, "is no longer a valid delta base")
    val old = entries.map(_._2).toSet
    val fresh = current.keys.filterNot(old.contains).toSeq.sorted
    if (fresh.isEmpty) emptyLike(spark, path, s"delta since snapshot $snapId")
    else spark.read.option("basePath", path)
      .parquet(fresh.map(rel => s"$path/$rel"): _*)
  }

  /** Metadata-only diff of the table's CURRENT files against a pinned
    * manifest: (appended, rewrittenOrRemoved) relative paths. Both empty
    * means the table is bit-identical to the snapshot — the freshness check
    * [[MaterializedAgg]] runs on a pinned DIMENSION before trusting
    * per-delta enrichment (unlike [[readSnapshot]]'s intact check, an
    * APPEND also counts as change here). One distributed listing, no scan. */
  def driftSinceSnapshot(spark: SparkSession, path: String,
      snapId: Long): (Seq[String], Seq[String]) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = snapshotEntries(fs, p, snapId)
    val base = fs.makeQualified(p).toString
    val current = FileSkipping.listDataFiles(spark, path, parquetOnly = false)
      .map { case (abs, len) =>
        abs.stripPrefix(base).stripPrefix("/") -> len
      }.toMap
    val broken = entries.filter { case (len, rel) =>
      !current.get(rel).contains(len)
    }.map(_._2).sorted
    val old = entries.map(_._2).toSet
    val appended = current.keys.filterNot(old.contains).toSeq.sorted
    (appended, broken)
  }

  /** Validate a manifest against ONE distributed listing (never a serial
    * exists/length RPC per file — at 10⁴+ files that is minutes of driver
    * metadata calls). Returns the (relative path → length) map of the
    * table's current files for callers that need the complement. */
  private def requireIntact(spark: SparkSession, path: String,
      entries: Seq[(Long, String)], snapId: Long, what: String):
      Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(p).toString
    val current = FileSkipping.listDataFiles(spark, path, parquetOnly = false)
      .map { case (abs, len) =>
        abs.stripPrefix(base).stripPrefix("/") -> len
      }.toMap
    val broken = entries.filter { case (len, rel) =>
      !current.get(rel).contains(len)
    }
    require(broken.isEmpty,
      s"snapshot $snapId of $path $what — a rewrite " +
        s"(compaction/replace/upsert) changed ${broken.size} of its files: " +
        broken.take(5).map(_._2).mkString(", "))
    current
  }

  /** Zero rows with the table's CURRENT schema; fails with a named message
    * (instead of Spark's schema-inference error) when the table is still
    * empty and there is no schema to borrow. */
  private def emptyLike(spark: SparkSession, path: String,
      what: String): DataFrame = {
    require(FileSkipping.listDataFiles(spark, path).nonEmpty,
      s"$what of $path is empty and the table has no data files yet to " +
        "borrow a schema from — read it after first ingest")
    spark.read.parquet(path).limit(0)
  }

  /** The rows appended between two snapshots — `toId`'s file set minus
    * `fromId`'s. Unlike [[readAppendedSince]] this delta is PINNED on both
    * ends: an incremental consumer that snapshots first and then reads the
    * from→to difference can never lose rows that land mid-refresh (they are
    * simply after `toId`, picked up next run) and can re-run the identical
    * delta after a crash. [[MaterializedAgg.refresh]] is built on exactly
    * that property. */
  def readAppendedBetween(spark: SparkSession, path: String,
      fromId: Long, toId: Long): DataFrame = {
    val fresh = appendedFilesBetween(spark, path, fromId, toId)
    if (fresh.isEmpty) emptyLike(spark, path, s"delta $fromId -> $toId")
    else readFileSubset(spark, path, fresh)
  }

  /** An explicit file-subset read with partition columns intact. Callers
    * that already hold a validated relative-path list (e.g. a refresh that
    * probed [[appendedFilesBetween]]) read it directly instead of
    * re-deriving the same list from the manifests. */
  private[sources] def readFileSubset(spark: SparkSession, path: String,
      rels: Seq[String]): DataFrame = {
    require(rels.nonEmpty, s"empty file subset for $path")
    spark.read.option("basePath", path)
      .parquet(rels.map(rel => s"$path/$rel"): _*)
  }

  /** The file-set difference behind [[readAppendedBetween]] (relative
    * paths), manifest-metadata only — lets an incremental consumer detect
    * "nothing appended" without planning (or scanning) anything. */
  private[sources] def appendedFilesBetween(spark: SparkSession, path: String,
      fromId: Long, toId: Long): Seq[String] = {
    require(fromId <= toId,
      s"readAppendedBetween: fromId $fromId > toId $toId")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val from = snapshotEntries(fs, p, fromId)
    val to = snapshotEntries(fs, p, toId)
    // append-only sanity between the two pins: every old file must appear
    // unchanged in the newer manifest, else a rewrite happened in between
    // and the "delta" would silently double-count the rewritten corpus
    val toSet = to.toSet
    val broken = from.filterNot(toSet.contains)
    require(broken.isEmpty,
      s"snapshots $fromId -> $toId of $path are not append-related — " +
        s"${broken.size} files of $fromId are missing/resized in $toId: " +
        broken.take(5).map(_._2).mkString(", "))
    val old = from.map(_._2).toSet
    to.map(_._2).filterNot(old.contains)
  }

  /** Drop one snapshot's manifest. Retention companion to [[snapshot]]: a
    * manifest lists EVERY data file, so at lake scale each one is O(files)
    * bytes and a consumer that pins per refresh ([[MaterializedAgg]])
    * accumulates them without bound unless superseded pins are dropped.
    * Only drop ids you created and no longer serve — a dropped id fails
    * future [[readSnapshot]]/[[readAppendedBetween]] calls loudly (named as
    * dropped), it never silently changes data: a zero-byte `gone_<id>`
    * tombstone replaces the manifest, so [[snapshot]] can never re-mint the
    * id over different content. Written tombstone-first, so a crash
    * mid-drop leaves the id readable, never reusable. No-op on a missing
    * id (drops are idempotent / crash-replayable). */
  def dropSnapshot(spark: SparkSession, path: String, snapId: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val f = new org.apache.hadoop.fs.Path(p, s"$SnapshotDir/snap_$snapId")
    if (fs.exists(f)) {
      fs.create(new org.apache.hadoop.fs.Path(p,
        s"$SnapshotDir/gone_$snapId"), true).close()
      require(fs.delete(f, false),
        s"could not drop snapshot $snapId at $path")
    }
  }

  /** Existing snapshot ids, ascending. */
  def snapshots(spark: SparkSession, path: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    snapshotIds(fs, p).sorted
  }

  private val SnapshotDir = "_graft_snapshots"

  private def snapshotIds(fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(table, SnapshotDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("snap_")).map(_.stripPrefix("snap_").toLong)
  }

  /** Ids that must never be minted again: live manifests PLUS tombstones of
    * dropped ones. Without the tombstones, dropping the newest id would let
    * the next [[snapshot]] re-mint it over different content — a consumer
    * holding the dropped id would silently read the wrong file set instead
    * of failing loudly. */
  private def mintedIds(fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(table, SnapshotDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case n if n.startsWith("snap_") => n.stripPrefix("snap_").toLong
      case n if n.startsWith("gone_") && !n.startsWith("gone_upto_") =>
        n.stripPrefix("gone_").toLong
      case n if n.startsWith("gone_upto_") =>
        n.stripPrefix("gone_upto_").toLong
    }
  }

  /** Fold individual drop tombstones into one `gone_upto_<maxId>` marker —
    * a per-refresh drop discipline otherwise accumulates one empty inode
    * per drop forever. Crash-safe: the folded marker is created BEFORE the
    * tombstones it covers are deleted, and ids ≤ an upto-marker count as
    * minted exactly like individual tombstones. Ids covered only by an
    * upto-marker lose the per-id "was dropped" message (reads report "no
    * snapshot" instead) — the never-reuse guarantee is what matters and is
    * preserved. Returns the number of tombstones folded away. */
  def compactSnapshotTombstones(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(p, SnapshotDir)
    if (!fs.exists(dir)) return 0
    val names = fs.listStatus(dir).toSeq.map(_.getPath.getName)
    val singles = names.filter(n =>
      n.startsWith("gone_") && !n.startsWith("gone_upto_"))
    val uptos = names.filter(_.startsWith("gone_upto_"))
    if (singles.isEmpty && uptos.size <= 1) return 0
    val hwm = (singles.map(_.stripPrefix("gone_").toLong) ++
      uptos.map(_.stripPrefix("gone_upto_").toLong)).max
    // create ONLY if absent: create(overwrite=true) deletes the existing
    // marker before recreating it on some filesystems, and a crash inside
    // that window would lose the high-water mark — making folded ids
    // mintable again, the exact guarantee the tombstones protect
    val marker = new org.apache.hadoop.fs.Path(dir, s"gone_upto_$hwm")
    if (!fs.exists(marker)) fs.create(marker, false).close()
    var folded = 0
    (singles ++ uptos.filter(_ != s"gone_upto_$hwm")).foreach { n =>
      if (fs.delete(new org.apache.hadoop.fs.Path(dir, n), false)) folded += 1
    }
    folded
  }

  private def snapshotEntries(fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path, snapId: Long): Seq[(Long, String)] = {
    val f = new org.apache.hadoop.fs.Path(table, s"$SnapshotDir/snap_$snapId")
    if (!fs.exists(f)) {
      val dropped = fs.exists(new org.apache.hadoop.fs.Path(table,
        s"$SnapshotDir/gone_$snapId"))
      require(!dropped, s"snapshot $snapId at $table was dropped (retention)")
      require(false, s"no snapshot $snapId at $table " +
        s"(have: ${snapshotIds(fs, table).sorted.mkString(", ")})")
    }
    val in = fs.open(f)
    val text = try {
      val bytes = new java.io.ByteArrayOutputStream()
      org.apache.commons.io.IOUtils.copy(in, bytes)
      bytes.toString("UTF-8")
    } finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty).map { line =>
      val Array(len, rel) = line.split("\t", 2)
      (len.toLong, rel)
    }
  }

  /** **Z-order layout**: range-partition + sort rows by the interleaved bits
    * of two numeric columns before writing, so parquet row-group min/max
    * stats are tight in BOTH dimensions — point/range filters on either
    * column skip most files (plain sorting only helps its leading column).
    */
  def zorderWrite(df: DataFrame, path: String, c1: String, c2: String,
      nFiles: Int = 8, bits: Int = 12): Unit =
    zorderWrite(df, path, Seq(c1, c2), nFiles, bits)

  /** N-dimensional z-order (real layouts cluster 3-4 columns): interleave
    * `bits` bits from each of `cols` round-robin — bit `i` of dimension `d`
    * lands at position `i * n + d` — so locality degrades evenly across all
    * dimensions rather than favoring a leading one.
    *
    * Columns are min-max normalized to [0, 2^bits) with one global agg
    * (scale-safe: no global sort; heavily skewed columns interleave less
    * evenly — pre-bucket by rank on a sample if that matters). Per-dimension
    * selectivity falls as n grows (each dimension contributes bits/n of the
    * leading key); 2-3 dims is the sweet spot, and n*bits must fit a long.
    */
  def zorderWrite(df: DataFrame, path: String, cols: Seq[String],
      nFiles: Int, bits: Int): Unit = {
    import org.apache.spark.sql.functions._
    val n = cols.size
    require(n >= 2, s"z-order needs >= 2 columns, got $cols")
    require(n * bits <= 62, s"$n dims x $bits bits overflows the z long")
    val buckets = (1 << bits) - 1
    val stats = df.agg(
      min(col(cols.head)).as("mn0"), (
        max(col(cols.head)).as("mx0") +: cols.zipWithIndex.tail.flatMap {
          case (c, d) => Seq(min(col(c)).as(s"mn$d"), max(col(c)).as(s"mx$d"))
        }): _*)
    def bucketed(c: String, mn: Column, mx: Column): Column =
      when(mx === mn, lit(0L)).otherwise(
        floor((col(c) - mn) / (mx - mn) * buckets).cast("long"))
    val withB = cols.zipWithIndex.foldLeft(df.crossJoin(broadcast(stats))) {
      case (acc, (c, d)) =>
        acc.withColumn(s"__b$d", bucketed(c, col(s"mn$d"), col(s"mx$d")))
    }
    // interleave: z = Σ_d Σ_i ((b_d >> i) & 1) << (i*n + d)
    val z = (0 until bits).flatMap { i =>
      (0 until n).map { d =>
        shiftleft(shiftright(col(s"__b$d"), i).bitwiseAND(1), i * n + d)
      }
    }.reduce(_ + _)
    val scratch = (0 until n).flatMap(d => Seq(s"__b$d", s"mn$d", s"mx$d"))
    withB.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z" +: scratch: _*)
      .write.mode("overwrite").parquet(path)
  }
}
