package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics._
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** **File-level min-max data skipping** — the Delta/Iceberg capability
  * re-expressed over plain parquet directories: per-file column bounds let a
  * range/point scan open only the files whose [min, max] intersects the
  * predicate, instead of every file in the table.
  *
  * Spark's built-in pushdown already skips ROW GROUPS inside each file it
  * opens, but it must still LIST and OPEN every file — at 100 TB
  * (~800k × 128 MB files) the task-scheduling floor alone dominates a
  * selective query. File-level pruning removes those tasks entirely; paired
  * with [[Lake.zorderWrite]] the bounds are tight in BOTH clustered
  * dimensions, so either predicate column prunes.
  *
  * Stats come from parquet FOOTERS — metadata-only reads (no data pages),
  * aggregated min-of-mins / max-of-maxs across row groups. Footer bounds are
  * safe under parquet's binary-stats truncation (truncated min is a valid
  * lower bound, truncated max a valid upper bound). A file whose footer
  * carries no usable stats for the column is always KEPT — pruning degrades
  * to a no-op, never to a wrong answer.
  *
  * The footer pass is a DISTRIBUTED Spark job over the file list: executors
  * read footers (one ~8 kB metadata read per file, all requested columns in
  * one open) and ship back only fixed-width stats rows. At 100 TB
  * (10⁵–10⁷ files) a driver-side footer loop is an hours-long bottleneck;
  * as a job it scales with the cluster, and the driver holds only the
  * file listing plus the stats rows. For repeated scans, [[writeManifest]]
  * persists the stats as `_graft_stats.parquet` beside the data
  * (underscore-prefixed — data readers skip it); [[readPruned]] uses
  * the manifest only when its (name, length) inventory exactly matches the
  * current listing, so a stale manifest after any rewrite is DETECTED and
  * ignored, never trusted.
  */
object FileSkipping {

  /** Per-file bounds for one column. Bounds are carried in the natural
    * domain: integer types in `minLong`/`maxLong`, float types in
    * `minDouble`/`maxDouble`, UTF-8 strings in `minString`/`maxString`.
    * `hasStats = false` means the footer had no usable bound (column
    * missing, stats suppressed, or an unsupported type) — such files never
    * prune. */
  final case class FileStat(
      file: String, length: Long, rows: Long, hasStats: Boolean,
      minLong: Option[Long], maxLong: Option[Long],
      minDouble: Option[Double], maxDouble: Option[Double],
      minString: Option[String], maxString: Option[String])

  /** Past this many top-level subdirectories the recursive listing runs as a
    * Spark job, one task wave over the subdirs — the same move Spark's own
    * file index makes (`parallelPartitionDiscovery`): at 10⁴+ hive
    * partitions a driver-serial recursive list is minutes of metadata RPCs
    * before any work starts. */
  private val ParallelListThreshold = 8

  /** All visible data files under `root` as (path, length). Hidden rule
    * matches Spark's file index: `_`/`.` prefixed names (and everything
    * below such a directory) are metadata, not data. `parquetOnly = false`
    * keeps EVERY visible file — what an exactness-critical manifest
    * ([[Lake.snapshot]]) needs, where the stats lister's suffix filter
    * would silently omit oddly-named data files. */
  private def dataFilesUnder(conf: Configuration, root: String,
      parquetOnly: Boolean = true): Seq[(String, Long)] = {
    val p = new Path(root)
    val fs = p.getFileSystem(conf)
    val out = Seq.newBuilder[(String, Long)]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      val rel = st.getPath.toString.stripPrefix(fs.makeQualified(p).toString)
      val hidden = rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))
      if (!hidden && (!parquetOnly || name.endsWith(".parquet")))
        out += ((st.getPath.toString, st.getLen))
    }
    out.result()
  }

  private[sources] def listDataFiles(spark: SparkSession, path: String,
      parquetOnly: Boolean = true): Seq[(String, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val top = fs.listStatus(p)
      .filterNot(st => st.getPath.getName.startsWith("_") ||
        st.getPath.getName.startsWith("."))
    val (dirs, files) = top.partition(_.isDirectory)
    val topFiles = files.collect {
      case st if !parquetOnly || st.getPath.getName.endsWith(".parquet") =>
        (st.getPath.toString, st.getLen)
    }.toSeq
    val nested: Seq[(String, Long)] =
      if (dirs.length >= ParallelListThreshold) {
        // distributed listing: each task recursively lists a slice of the
        // partition dirs; only (path, length) pairs come back to the driver
        onFiles(spark, dirs.map(_.getPath.toString).toSeq)(
          (c, d) => dataFilesUnder(c, d, parquetOnly))
      } else dirs.toSeq.flatMap(d =>
        dataFilesUnder(conf, d.getPath.toString, parquetOnly))
    topFiles ++ nested
  }

  /** One Spark job over `items` (file or directory paths, with whatever
    * rides along): up to 2 × defaultParallelism slices, each task applying
    * `f` with the driver's Hadoop configuration, shipped once as a
    * broadcast and destroyed when the results are back. */
  private def onFiles[A: ClassTag, B: ClassTag](spark: SparkSession, items: Seq[A])(
      f: (Configuration, A) => IterableOnce[B]): Seq[B] = {
    val sc = spark.sparkContext
    val bc = sc.broadcast(new ConfBox(sc.hadoopConfiguration))
    val slices = math.max(1, math.min(items.size, sc.defaultParallelism * 2))
    try sc.parallelize(items, slices)
      .mapPartitions { it => val conf = bc.value.conf; it.flatMap(f(conf, _)) }
      .collect().toSeq
    finally bc.destroy()
  }

  /** Hadoop Configuration is Writable but not Serializable; this 10-line
    * wrapper ships it into the footer tasks (same shape as Spark's internal
    * SerializableConfiguration, re-stated here to stay on public API). */
  private final class ConfBox(@transient var conf: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject(); conf = new Configuration(false); conf.readFields(in)
    }
  }

  /** Footer bounds for `column` in one file (opens + closes the footer). */
  private def footerStats(conf: Configuration, file: String, length: Long,
      column: String): FileStat = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), conf))
    try statsFromReader(reader, file, length, column)
    finally reader.close()
  }

  /** Bounds for EVERY requested column from one open footer — the manifest
    * build path: one metadata read per file regardless of column count. */
  private def footerStatsAll(conf: Configuration, file: String, length: Long,
      columns: Seq[String]): Seq[(String, FileStat)] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), conf))
    try columns.map(c => c -> statsFromReader(reader, file, length, c))
    finally reader.close()
  }

  /** Unsigned lexicographic comparison of the UTF-8 encodings — parquet's
    * sort order for stringType BINARY columns. Java's `String` compareTo
    * orders by UTF-16 code units, which DISAGREES with UTF-8 byte order for
    * supplementary (non-BMP) characters: surrogate code units 0xD800–0xDFFF
    * sort below 0xE000–0xFFFF, but the code points they encode (≥ 0x10000)
    * sort above. Every bound comparison in this file must use THIS ordering,
    * or a file whose byte-range contains the probed value can be pruned. */
  private def utf8Compare(a: String, b: String): Int =
    bytesCompare(a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Unsigned lexicographic byte order — parquet's UNSIGNED sort order for
    * BINARY, and the engine's own binary comparison semantics. */
  private def bytesCompare(x: Array[Byte], y: Array[Byte]): Int = {
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }
  private def utf8Min(a: String, b: String): String = if (utf8Compare(a, b) <= 0) a else b
  private def utf8Max(a: String, b: String): String = if (utf8Compare(a, b) >= 0) a else b

  /** Is this chunk's Statistics object PROVABLY an all-null chunk?
    * parquet-mr hands back a non-null but EMPTY Statistics when stats were
    * never written, and may drop min/max while keeping null_count for
    * oversized binary values — in both cases `hasNonNullValue` is false for
    * a chunk that can still hold matching rows. Only a set null count equal
    * to the chunk's row count proves all-null (mirrors parquet's own
    * StatisticsFilter). */
  private def provablyAllNull(stats: Statistics[_], chunkRows: Long): Boolean =
    stats != null && !stats.isEmpty && !stats.hasNonNullValue &&
      stats.isNumNullsSet && stats.getNumNulls == chunkRows

  private def statsFromReader(reader: ParquetFileReader, file: String,
      length: Long, column: String): FileStat = {
    {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // chunk stats paired with their block's row count — the all-null
      // proof needs numNulls == rowCount per chunk, not per file
      val chunks = blocks.flatMap(b => b.getColumns.asScala
        .filter(_.getPath.toDotString == column).map(c => (b.getRowCount, c)))
      val schema = reader.getFooter.getFileMetaData.getSchema
      val isUtf8 = schema.getColumns.asScala
        .find(_.getPath.toSeq == Seq(column))
        .exists(c => c.getPrimitiveType.getLogicalTypeAnnotation ==
          LogicalTypeAnnotation.stringType())
      var (mnL, mxL) = (Option.empty[Long], Option.empty[Long])
      var (mnD, mxD) = (Option.empty[Double], Option.empty[Double])
      var (mnS, mxS) = (Option.empty[String], Option.empty[String])
      var ok = chunks.nonEmpty
      chunks.foreach { case (chunkRows, chunk) =>
        val s = chunk.getStatistics
        if (s == null || s.isEmpty) ok = false // stats never written: unknowable
        else if (!s.hasNonNullValue) {
          // bounds absent. A PROVEN all-null chunk constrains nothing (NULL
          // never passes a range predicate) and is skipped; anything short
          // of that proof (e.g. min/max dropped for oversized binaries but
          // null_count kept) makes the file unprunable.
          if (!provablyAllNull(s, chunkRows)) ok = false
        } else s match {
          case s: LongStatistics =>
            mnL = Some(mnL.fold(s.getMin.toLong)(_ min s.getMin)); mxL = Some(mxL.fold(s.getMax.toLong)(_ max s.getMax))
          case s: IntStatistics =>
            mnL = Some(mnL.fold(s.getMin.toLong)(_ min s.getMin)); mxL = Some(mxL.fold(s.getMax.toLong)(_ max s.getMax))
          case s: DoubleStatistics =>
            mnD = Some(mnD.fold(s.getMin.toDouble)(_ min s.getMin)); mxD = Some(mxD.fold(s.getMax.toDouble)(_ max s.getMax))
          case s: FloatStatistics =>
            mnD = Some(mnD.fold(s.getMin.toDouble)(_ min s.getMin)); mxD = Some(mxD.fold(s.getMax.toDouble)(_ max s.getMax))
          case s: BinaryStatistics if isUtf8 =>
            val (lo, hi) = (s.genericGetMin.toStringUsingUTF8, s.genericGetMax.toStringUsingUTF8)
            mnS = Some(mnS.fold(lo)(utf8Min(_, lo))); mxS = Some(mxS.fold(hi)(utf8Max(_, hi)))
          case _ => ok = false // boolean/int96/non-string binary: no pruning
        }
      }
      FileStat(file, length, rows, ok,
        mnL, mxL, mnD, mxD, mnS, mxS)
    }
  }

  /** One [[FileStat]] per data file for `column` — a single-column view of
    * the distributed footer pass. */
  def fileStats(spark: SparkSession, path: String, column: String): Seq[FileStat] =
    fileStatsMulti(spark, path, Seq(column)).getOrElse(column, Seq.empty)

  /** EXACT table row count from parquet footer metadata (sum of per-file row
    * counts; `column` only names which footer chunk to read stats through).
    * Memo-backed like every stats read here — after the first call this is
    * job-free, which makes it the right `expectedItems` upper bound for
    * [[graft.operators.BloomJoin]] builds over a filtered dim subset: an
    * upper bound only LOWERS the realized false-positive rate (more bits per
    * actual key), never changes join results, and it replaces the per-
    * execution distinct-count job (a scan + shuffle) the default sizing
    * pays. */
  def tableRows(spark: SparkSession, path: String, column: String): Long =
    fileStats(spark, path, column).map(_.rows).sum

  /** The footer pass, DISTRIBUTED: executors each open a slice of the file
    * list (one footer open covers every requested column) and return only
    * fixed-width stats rows. Driver-side state is the listing + the stats —
    * both O(files), never O(data). Ordering of the result is not meaningful.
    */
  def fileStatsMulti(spark: SparkSession, path: String,
      columns: Seq[String]): Map[String, Seq[FileStat]] = {
    val files = listDataFiles(spark, path)
    val rows = footerPass(spark, files, columns)
    columns.map(c => c -> rows.collect { case (`c`, s) => s }).toMap
  }

  /** Per-JVM footer-stats memo, keyed (file, length, column) — METADATA, the
    * same catalog class as `Tables`' relation memo: parquet footers are
    * immutable per (path, length) (Spark writers emit job-UUID part names, so
    * an overwrite replaces the file SET rather than rewriting a name in
    * place), and the directory LISTING stays fresh on every call, so new or
    * vanished files are always seen. Only the per-file stats rows are reused;
    * without this, every pruned-scan execution re-runs a distributed
    * footer-open job whose driver latency (~0.1-0.2 s of job gaps at bench
    * scale) dwarfs the metadata it fetches. In-process writers that rewrite
    * a table dir invalidate through [[Tables.invalidate]] →
    * [[invalidateStats]]. */
  private val statsCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, String), FileStat]()

  /** Drop memoized footer stats and schemas for every file under `dir`. */
  def invalidateStats(dir: String): Unit = {
    statsCache.keySet.removeIf(_._1.startsWith(dir))
    schemaCache.keySet.removeIf(_.startsWith(dir)); ()
  }

  /** Per-JVM schema memo per table dir — the same catalog layer as
    * [[statsCache]] (invalidated together). The pruned read-back paths pass
    * this schema explicitly, skipping the per-call footer-inference JOB
    * `spark.read.parquet(files)` otherwise runs (~50 ms span + scheduling
    * gap per execution at bench scale). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def tableSchema(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType =
    schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)

  /** Read-back of a pruned file subset with the memoized table schema and
    * the residual predicate applied — exactly `spark.read.parquet(...)`
    * .where(pred)` minus the per-call schema-inference job. An empty kept
    * set still returns a correctly-typed empty frame. */
  private def readKept(spark: SparkSession, path: String, kept: Seq[String],
      pred: org.apache.spark.sql.Column): DataFrame = {
    val sch = tableSchema(spark, path)
    if (kept.isEmpty) spark.read.schema(sch).parquet(path).where(pred).limit(0)
    else spark.read.schema(sch).parquet(kept: _*).where(pred)
  }

  /** The distributed footer job over an explicit file list; memo-backed
    * (see [[statsCache]]) — only files not yet seen pay the job. */
  private def footerPass(spark: SparkSession, files: Seq[(String, Long)],
      columns: Seq[String]): Seq[(String, FileStat)] = {
    if (files.isEmpty) return Seq.empty
    val cols = columns.toIndexedSeq
    val missing = files.filter { case (f, l) =>
      cols.exists(c => !statsCache.containsKey((f, l, c)))
    }
    if (missing.nonEmpty) {
      val rows = onFiles(spark, missing) { case (conf, (file, len)) =>
        footerStatsAll(conf, file, len, cols)
      }
      rows.foreach { case (c, st) => statsCache.put((st.file, st.length, c), st) }
    }
    for { (f, l) <- files; c <- cols; st <- Option(statsCache.get((f, l, c))) }
      yield (c, st)
  }

  /** Write a parquet directory with NATIVE per-column bloom filters in the
    * file footers (parquet-format §BloomFilter, split-block xxhash). Range
    * stats cannot prune an EQUALITY probe on a high-cardinality column
    * whose values interleave across files (every [min,max] spans the whole
    * domain); the bloom answers "definitely absent" per file, so a point
    * lookup opens ~1 file instead of all of them. `ndv` sizes the filter
    * (distinct values per FILE, not per table).
    *
    * Dictionary encoding is DISABLED for the bloom columns: parquet-mr
    * silently drops a row group's bloom filter when every data page ended
    * up dictionary-encoded (the dictionary already answers membership
    * exactly), which at test scale — where a key column easily fits a
    * dictionary — would leave the layout with no bloom at all. A column
    * worth a bloom is high-cardinality, so at production scale its
    * dictionary would fall back to plain anyway; forcing plain just makes
    * the layout the same at every scale. */
  def writeWithBloom(df: DataFrame, path: String, bloomCols: Seq[String],
      ndv: Long = 100000L): Unit =
    bloomCols.foldLeft(df.write.mode("overwrite")) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
        .option(s"parquet.enable.dictionary#$c", "false")
    }.parquet(path)

  /** Can this file contain `column = value`? Block-level, three rungs: a
    * block is ruled out when its chunk stats exclude the value, OR its
    * dictionary page (exact, when all pages are dictionary-encoded) lacks
    * it, OR its native bloom filter answers "definitely absent"; the file
    * survives if ANY block might match. Files offering none of the three
    * are always kept — pruning degrades to a no-op, never to a wrong
    * answer. */
  private def fileMayContain(conf: Configuration, file: String,
      column: String, value: Any): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), conf))
    try {
      val footer = reader.getFooter
      footer.getBlocks.asScala.exists { block =>
        block.getColumns.asScala.find(_.getPath.toDotString == column) match {
          case None => true // column absent from this file: cannot rule out
          case Some(chunk) =>
            val stats = chunk.getStatistics
            val inRange =
              if (stats == null || stats.isEmpty) true // stats never written: cannot rule out
              else if (!stats.hasNonNullValue)
                // a PROVEN all-null chunk cannot hold `value` (equality never
                // matches NULL); bounds merely absent → cannot rule out
                !provablyAllNull(stats, block.getRowCount)
              else (stats, normalize(value)) match {
                case (s: LongStatistics, v: Long) => v >= s.getMin && v <= s.getMax
                case (s: IntStatistics, v: Long) => v >= s.getMin && v <= s.getMax
                case (s: DoubleStatistics, v: Double) => v >= s.getMin && v <= s.getMax
                case (s: FloatStatistics, v: Double) => v >= s.getMin && v <= s.getMax
                case (s: BinaryStatistics, v: String)
                    if chunk.getPrimitiveType.getLogicalTypeAnnotation ==
                      LogicalTypeAnnotation.stringType() =>
                  // unsigned UTF-8 byte order — parquet's ordering for
                  // stringType bounds; UTF-16 String <= disagrees on
                  // supplementary characters (see utf8Compare)
                  utf8Compare(v, s.genericGetMin.toStringUsingUTF8) >= 0 &&
                    utf8Compare(v, s.genericGetMax.toStringUsingUTF8) <= 0
                case _ => true // incomparable domains: cannot rule out
              }
            inRange && {
              // Dictionary-EXACT membership first: when every data page of
              // the chunk is dictionary-encoded, the dictionary page IS the
              // chunk's exact value set — one small page read answers
              // "present?" with zero false positives. This is precisely the
              // case where parquet-mr refuses to write a bloom filter (see
              // writeWithBloom), so the two mechanisms are complementary:
              // small/low-cardinality chunks prune via dictionary, large
              // plain-encoded chunks via bloom. Mirrors parquet's own
              // DictionaryFilter.
              dictionaryContains(reader, block, chunk, value).getOrElse {
                val bf = reader.getBloomFilterDataReader(block).readBloomFilter(chunk)
                if (bf == null) true // no bloom written: cannot rule out
                else {
                  val tpe = chunk.getPrimitiveType.getPrimitiveTypeName
                  val hash = (tpe, normalize(value)) match {
                    case (INT64, v: Long) => Some(bf.hash(v))
                    case (INT32, v: Long) => Some(bf.hash(v.toInt))
                    case (DOUBLE, v: Double) => Some(bf.hash(v))
                    case (FLOAT, v: Double) => Some(bf.hash(v.toFloat))
                    case (BINARY, v: String) if utf8Bytes(chunk) =>
                      // stringType or raw binary only: a DECIMAL-annotated
                      // BINARY stores unscaled ints — UTF-8 bytes of the
                      // probe would hash to "absent" for values the engine
                      // predicate (which casts) can still match
                      Some(bf.hash(org.apache.parquet.io.api.Binary.fromString(v)))
                    case _ => None // unhashable pairing: cannot rule out
                  }
                  hash.forall(bf.findHash)
                }
              }
            }
        }
      }
    } finally reader.close()
  }

  /** Exact dictionary-membership verdict for `column = value` on one chunk,
    * or None when the dictionary cannot decide: pages not fully
    * dictionary-encoded (a plain fallback page may hold the value), no
    * encoding stats in the footer (pre-1.10 writers), no readable
    * dictionary page, or an undecodable (type, probe) pairing. Decode
    * errors degrade to None — pruning must never be wrong, only absent. */
  private def dictionaryContains(reader: ParquetFileReader,
      block: org.apache.parquet.hadoop.metadata.BlockMetaData,
      chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      value: Any): Option[Boolean] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    try {
      val dictOpt = chunkDictionary(reader, block, chunk)
      if (dictOpt.isEmpty) return None
      val dict = dictOpt.get
      val ids = 0 to dict.getMaxId
      (chunk.getPrimitiveType.getPrimitiveTypeName, normalize(value)) match {
        case (INT64, v: Long) => Some(ids.exists(dict.decodeToLong(_) == v))
        case (INT32, v: Long) =>
          Some(v.isValidInt && ids.exists(dict.decodeToInt(_) == v.toInt))
        case (DOUBLE, v: Double) => Some(ids.exists(dict.decodeToDouble(_) == v))
        case (FLOAT, v: Double) =>
          Some(ids.exists(dict.decodeToFloat(_) == v.toFloat))
        case (BINARY, v: String) if utf8Bytes(chunk) =>
          // stringType or raw binary: byte equality IS the engine's
          // equality. A DECIMAL-annotated BINARY stores unscaled ints —
          // comparing UTF-8 probe bytes would wrongly rule chunks out.
          val b = org.apache.parquet.io.api.Binary.fromString(v)
          Some(ids.exists(dict.decodeToBinary(_) == b))
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Are this BINARY chunk's bytes comparable as UTF-8 text? True for
    * stringType-annotated columns and for RAW (unannotated) binary — where
    * the engine's own string-vs-binary comparison is also byte equality.
    * False for any other annotation (DECIMAL, BSON, …), whose bytes mean
    * something else entirely. */
  private def utf8Bytes(
      chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Boolean = {
    val ann = chunk.getPrimitiveType.getLogicalTypeAnnotation
    ann == null || ann == LogicalTypeAnnotation.stringType()
  }

  /** The chunk's decoded dictionary, when the dictionary is the chunk's
    * COMPLETE value set: all pages dictionary-encoded (per footer encoding
    * stats — absent stats mean pre-1.10 writers, undecidable) and a
    * readable dictionary page. `getDictionaryReader`'s declared return type
    * is package-private in parquet-mr (the public surface is the
    * DictionaryPageReadStore interface it implements), so scalac cannot
    * emit a direct call — invoke the public method reflectively and use
    * the interface. */
  private def chunkDictionary(reader: ParquetFileReader,
      block: org.apache.parquet.hadoop.metadata.BlockMetaData,
      chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : Option[org.apache.parquet.column.Dictionary] = {
    val es = chunk.getEncodingStats
    if (es == null || es.hasNonDictionaryEncodedPages) return None
    val desc = reader.getFooter.getFileMetaData.getSchema
      .getColumnDescription(chunk.getPath.toArray)
    val store = classOf[ParquetFileReader]
      .getMethod("getDictionaryReader",
        classOf[org.apache.parquet.hadoop.metadata.BlockMetaData])
      .invoke(reader, block)
      .asInstanceOf[org.apache.parquet.column.page.DictionaryPageReadStore]
    Option(store.readDictionaryPage(desc))
      .map(p => p.getEncoding.initDictionary(desc, p))
  }

  /** Exact dictionary verdict for "any value in [lo, hi]" on one chunk —
    * the RANGE twin of [[dictionaryContains]], same decidability contract
    * (None whenever the dictionary cannot decide; errors degrade to None,
    * never to a wrong prune). Blooms cannot answer ranges; the dictionary
    * can, exactly. */
  private def dictionaryAnyInRange(reader: ParquetFileReader,
      block: org.apache.parquet.hadoop.metadata.BlockMetaData,
      chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      lo: Any, hi: Any): Option[Boolean] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    try {
      val dictOpt = chunkDictionary(reader, block, chunk)
      if (dictOpt.isEmpty) return None
      val dict = dictOpt.get
      val ids = 0 to dict.getMaxId
      (chunk.getPrimitiveType.getPrimitiveTypeName,
        normalize(lo), normalize(hi)) match {
        case (INT64, l: Long, h: Long) =>
          Some(ids.exists { i => val v = dict.decodeToLong(i); v >= l && v <= h })
        case (INT32, l: Long, h: Long) =>
          Some(ids.exists { i => val v = dict.decodeToInt(i).toLong; v >= l && v <= h })
        case (DOUBLE, l: Double, h: Double) =>
          Some(ids.exists { i => val v = dict.decodeToDouble(i); v >= l && v <= h })
        case (FLOAT, l: Double, h: Double) =>
          Some(ids.exists { i => val v = dict.decodeToFloat(i).toDouble; v >= l && v <= h })
        case (BINARY, l: String, h: String) if utf8Bytes(chunk) =>
          // compare RAW dictionary bytes against the probes' UTF-8 bytes:
          // toStringUsingUTF8 is lossy on invalid UTF-8 (raw binary columns
          // may hold any bytes; U+FFFD substitution would re-order values
          // and wrongly prune files whose rows the engine predicate matches)
          val lb = l.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val hb = h.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          Some(ids.exists { i =>
            val v = dict.decodeToBinary(i).getBytes
            bytesCompare(v, lb) >= 0 && bytesCompare(v, hb) <= 0
          })
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Range-scan refinement through the dictionary rung: start from the
    * stats verdict of [[prunedFiles]], then open each KEPT file's footer
    * and rule it out when every chunk is fully dictionary-encoded and no
    * dictionary value falls inside [lo, hi]. For hash/interleaved layouts —
    * where every file's [min, max] spans the predicate and stats keep
    * everything — the dictionary is the only mechanism that can prune a
    * range (blooms only answer equality). Distributed over the kept list
    * like the other passes; files whose dictionaries cannot decide stay
    * kept. */
  def prunedFilesDict(spark: SparkSession, path: String, column: String,
      lo: Any, hi: Any): (Seq[String], Seq[String]) = {
    val (kept0, pruned0) = prunedFiles(spark, path, column, lo, hi)
    if (kept0.isEmpty) return (kept0, pruned0)
    val decided = onFiles(spark, kept0) { (conf, f) =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f), conf))
      val may =
        try reader.getFooter.getBlocks.asScala.exists { block =>
          block.getColumns.asScala
            .find(_.getPath.toDotString == column) match {
            case None => true // column absent: cannot rule out
            case Some(chunk) =>
              dictionaryAnyInRange(reader, block, chunk, lo, hi)
                .getOrElse(true)
          }
        } finally reader.close()
      Some((f, may))
    }
    val (kept, prunedMore) = decided.partition(_._2)
    (kept.map(_._1), pruned0 ++ prunedMore.map(_._1))
  }

  /** Range scan through stats + dictionary pruning; result is exactly
    * `spark.read.parquet(path).where(col BETWEEN lo AND hi)` (the predicate
    * still applies; partition-columns caveat as in [[readPruned]]). */
  def readPrunedDict(spark: SparkSession, path: String, column: String,
      lo: Any, hi: Any): DataFrame = {
    val (kept, _) = prunedFilesDict(spark, path, column, lo, hi)
    val pred = col(column) >= lit(lo) && col(column) <= lit(hi)
    readKept(spark, path, kept, pred)
  }

  /** Split the table's files into (kept, pruned) for `column = value`,
    * using footer stats, EXACT dictionary membership, AND native bloom
    * filters — distributed over the file list like the stats pass. */
  def pointLookupFiles(spark: SparkSession, path: String, column: String,
      value: Any): (Seq[String], Seq[String]) = {
    val files = listDataFiles(spark, path)
    if (files.isEmpty) return (Seq.empty, Seq.empty)
    val decided = onFiles(spark, files) { case (conf, (f, _)) =>
      Some((f, fileMayContain(conf, f, column, value)))
    }
    val (kept, pruned) = decided.partition(_._2)
    (kept.map(_._1), pruned.map(_._1))
  }

  /** Point-lookup scan: opens only files whose stats/bloom admit the value;
    * the equality predicate still applies, so the result is exactly
    * `spark.read.parquet(path).where(col === value)` (bloom false positives
    * die at the filter; partition columns caveat as in [[readPruned]]). */
  def readPoint(spark: SparkSession, path: String, column: String,
      value: Any): DataFrame = {
    val (kept, _) = pointLookupFiles(spark, path, column, value)
    val pred = col(column) === lit(value)
    readKept(spark, path, kept, pred)
  }

  private val ManifestDir = "_graft_stats.parquet"

  /** Persist footer stats for `columns` beside the data — ONE distributed
    * footer pass covering every column (each file's footer is opened once,
    * not once per column). Overwrites any previous manifest; readers
    * validate freshness against the current listing before trusting it. */
  def writeManifest(spark: SparkSession, path: String, columns: Seq[String]): Unit = {
    val byCol = fileStatsMulti(spark, path, columns)
    val rows = columns.flatMap(c => byCol(c).map(s =>
      (c, s.file, s.length, s.rows, s.hasStats, s.minLong, s.maxLong,
        s.minDouble, s.maxDouble, s.minString, s.maxString)))
    writeManifestRows(spark, path, rows)
  }

  private def writeManifestRows(spark: SparkSession, path: String,
      rows: Seq[(String, String, Long, Long, Boolean, Option[Long], Option[Long],
        Option[Double], Option[Double], Option[String], Option[String])]): Unit = {
    import spark.implicits._
    rows.toDF("column", "file", "length", "rows", "has_stats",
        "min_long", "max_long", "min_double", "max_double",
        "min_string", "max_string")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/$ManifestDir")
  }

  /** Outcome of [[updateManifest]]: how many data files had their footers
    * read vs carried forward from the previous manifest unchanged. */
  final case class ManifestUpdate(filesRead: Int, filesCarried: Int)

  /** Maintain the manifest INCREMENTALLY: footer-read only files that are
    * new or rewritten (same (name, length) inventory check the read path
    * trusts), carry every other file's stats forward, drop rows for deleted
    * files. At 100 TB a daily ingest touches a sliver of the table —
    * rebuilding the whole manifest re-reads millions of unchanged footers;
    * this reads only the sliver. The result is IDENTICAL to a fresh
    * [[writeManifest]] over the same columns (stats are per-file facts).
    * A file counts as carried only if the old manifest covers it for EVERY
    * requested column; otherwise its footer is read (once, all columns).
    */
  def updateManifest(spark: SparkSession, path: String,
      columns: Seq[String]): ManifestUpdate = {
    val current = listDataFiles(spark, path)
    val old: Map[String, Seq[FileStat]] =
      columns.map(c => c -> manifestStatsRaw(spark, path, c)).toMap
    // set-keyed coverage: this loop runs per data file — at manifest scale
    // (10⁵–10⁷ files) a linear scan per file would be quadratic
    val oldKeys: Map[String, Set[(String, Long)]] =
      old.map { case (c, ss) => c -> ss.map(s => (s.file, s.length)).toSet }
    def covered(file: String, len: Long): Boolean =
      columns.forall(c => oldKeys(c)((file, len)))
    val (carry, fresh) = current.partition { case (f, l) => covered(f, l) }
    val carrySet = carry.map(_._1).toSet
    val carried = columns.flatMap(c =>
      old(c).filter(s => carrySet.contains(s.file)).map(c -> _))
    val rows = (carried ++ footerPass(spark, fresh, columns)).map {
      case (c, s) => (c, s.file, s.length, s.rows, s.hasStats, s.minLong,
        s.maxLong, s.minDouble, s.maxDouble, s.minString, s.maxString)
    }
    writeManifestRows(spark, path, rows)
    ManifestUpdate(fresh.size, carry.size)
  }

  /** Manifest rows for `column` with NO freshness validation — the update
    * path's raw view (stale rows are exactly what it prunes and replaces). */
  private def manifestStatsRaw(spark: SparkSession, path: String,
      column: String): Seq[FileStat] = {
    val p = new Path(s"$path/$ManifestDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    import spark.implicits._
    spark.read.parquet(p.toString)
      .where(col("column") === column)
      .select("file", "length", "rows", "has_stats", "min_long", "max_long",
        "min_double", "max_double", "min_string", "max_string")
      .as[(String, Long, Long, Boolean, Option[Long], Option[Long],
        Option[Double], Option[Double], Option[String], Option[String])]
      .collect().toSeq
      .map(t => FileStat(t._1, t._2, t._3, t._4, t._5, t._6, t._7, t._8,
        t._9, t._10))
  }

  /** Manifest stats for `column`, ONLY if the manifest covers exactly the
    * current data files (same names and lengths) — else None and the caller
    * falls back to a live footer pass. */
  private def manifestStats(spark: SparkSession, path: String,
      column: String): Option[Seq[FileStat]] = {
    val all = manifestStatsRaw(spark, path, column)
    val current = listDataFiles(spark, path).toMap
    val covered = all.map(s => s.file -> s.length).toMap
    if (current == covered && all.nonEmpty) Some(all) else None
  }

  /** Split the table's files into (kept, pruned) for the predicate
    * `column BETWEEN lo AND hi`. `lo`/`hi` must be Int/Long, Float/Double,
    * or String, matching the column's domain. Files without usable stats
    * are kept. */
  def prunedFiles(spark: SparkSession, path: String, column: String,
      lo: Any, hi: Any): (Seq[String], Seq[String]) = {
    val stats = manifestStats(spark, path, column)
      .getOrElse(fileStats(spark, path, column))
    // per file: keep when stats are unusable; prune an all-NULL file (no
    // bound in any domain — a range predicate cannot match NULL); compare in
    // the caller's domain otherwise. Bounds in a DIFFERENT domain than the
    // caller's literals mean the caller mistyped the predicate — fail loudly
    // rather than prune on an incomparable bound.
    def keep(s: FileStat): Boolean = {
      if (!s.hasStats) return true
      val allNull = s.minLong.isEmpty && s.minDouble.isEmpty && s.minString.isEmpty
      if (allNull) return false
      (normalize(lo), normalize(hi)) match {
        case (l: Long, h: Long) => (s.minLong, s.maxLong) match {
          case (Some(mn), Some(mx)) => mx >= l && mn <= h
          case _ => throw new IllegalArgumentException(
            s"$column carries non-integer bounds but integer literals were passed")
        }
        case (l: Double, h: Double) => (s.minDouble, s.maxDouble) match {
          case (Some(mn), Some(mx)) => mx >= l && mn <= h
          case _ => throw new IllegalArgumentException(
            s"$column carries non-float bounds but float literals were passed")
        }
        case (l: String, h: String) => (s.minString, s.maxString) match {
          case (Some(mn), Some(mx)) =>
            utf8Compare(mx, l) >= 0 && utf8Compare(mn, h) <= 0
          case _ => throw new IllegalArgumentException(
            s"$column carries non-string bounds but string literals were passed")
        }
        case other => throw new IllegalArgumentException(
          s"unsupported bound types: $other")
      }
    }
    val (kept, pruned) = stats.partition(keep)
    (kept.map(_.file), pruned.map(_.file))
  }

  /** Range scan that opens only the files whose bounds intersect
    * [lo, hi]. The predicate is STILL applied to surviving rows, so the
    * result is exactly `spark.read.parquet(path).where(between)` — pruning
    * is a performance fact, never a semantic one.
    *
    * Hive-partitioned layouts: leaf files are read directly, so directory-
    * derived partition COLUMNS are absent from the result — prune on data
    * columns here, and let Spark's own partition pruning handle predicates
    * on partition columns (LakeSpec covers that path). */
  def readPruned(spark: SparkSession, path: String, column: String,
      lo: Any, hi: Any): DataFrame = {
    val (kept, _) = prunedFiles(spark, path, column, lo, hi)
    val pred = col(column) >= lit(lo) && col(column) <= lit(hi)
    readKept(spark, path, kept, pred)
  }

  private def normalize(v: Any): Any = v match {
    case i: Int => i.toLong
    case s: Short => s.toLong
    case f: Float => f.toDouble
    case other => other
  }
}
