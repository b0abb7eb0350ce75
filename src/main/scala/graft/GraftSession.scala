package graft

import org.apache.spark.sql.SparkSession

/** Session factory used by library mains and tests.
  *
  * Conventions (match Verify/Bench + the DuckDB oracle):
  *  - UTC session timezone, so naive parquet timestamps mean the same instant in
  *    Spark and DuckDB.
  *  - `inferTimestampNTZ=false`: read parquet timestamps as TimestampType so the
  *    full functions surface (unix_millis etc.) applies uniformly.
  *  - AQE on (runtime join-strategy switching + skew splitting at scale).
  *  - shuffle partitions sized to local cores, not the 200 default.
  *  - generated classes are kept for the driver's lifetime: Spark's codegen
  *    cache holds [[GeneratedClassCacheEntries]] classes, not its default
  *    100, so a warm driver compiles no class twice.
  */
object GraftSession {
  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100), sized to the
    * largest working set one driver was measured to need (distinct classes
    * compiled, 4 cores):
    *  - one `query_mix` pass (perfbench, sf0.02): 187;
    *  - one cold `Pipeline.run` (perfbench `pipeline`): 341;
    *  - one `graft.Bench` sweep (sf0.1 and its sf1 tail): 668;
    *  - one `graft.Verify` sweep at sf0.01: 1,878, the largest.
    * At 100 a warm driver recompiles most of them on every pass (a warm
    * `query_mix` pass: 147–183 compiles, and 2.2 s instead of 1.4 s; a
    * Verify sweep: 3,109 compiles); at this size it compiles none twice. The cost
    * is driver memory, because the cache keeps each class and its source
    * text: at the end of one Verify sweep Metaspace holds 210 MB (197 MB at
    * 100 entries) and old gen 157 MB after a full GC (109 MB).
    *
    * The setting is static. Spark reads it once, in `CodeGenerator`'s
    * static initializer on the JVM's first compile, through `SQLConf.get`,
    * so the session that compiles first sets it for the JVM's life and a
    * later session's value is ignored. Every session comes from [[builder]],
    * which sets it; `GraftSessionSpec` checks that a second round over more
    * than 100 classes compiles none. */
  val GeneratedClassCacheEntries: Int = 2048

  def local(cores: Int = cpus): SparkSession =
    builder(cores).getOrCreate()

  /** Local cores for a driver main: `SPARK_GRAFT_CPUS`, else the box's
    * processors capped at 32. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(parseCpus)
    .getOrElse(Runtime.getRuntime.availableProcessors.min(32))

  /** A `SPARK_GRAFT_CPUS` value as a core count; rejects a non-integer or a
    * count below 1 with a message naming the variable and the value. */
  def parseCpus(value: String): Int =
    value.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be an integer of at least 1, got '$value'"))

  /** Compressed parquet bytes per shuffle partition the session targets when
    * it can see its input directory. 8 MiB of parquet is ~64–128 MiB of
    * in-flight row data (the registry's scan→UnsafeRow expansion runs
    * 8–16×: dictionary+RLE text columns fan out, doubles stay put), so this
    * IS the standard ~128 MB/partition guidance, stated in the unit the
    * driver can actually measure before running anything. */
  val BytesPerShufflePartition: Long = 8L << 20

  /** Shuffle-partition count derived from the input corpus size: one
    * partition per [[BytesPerShufflePartition]] of on-disk input, floored at
    * the core count (never fewer slots than the box can fill) and capped
    * (task-launch overhead dominates past a few thousand on one JVM).
    *
    * Holding partitions at the core count while data grows 100× makes
    * per-reducer aggregation state grow linearly with data — the r15 scale
    * audit measured d_dup_spans super-linear (cpu exp 1.33) until a manual
    * env var raised the count, which dropped it to 0.47 (SCALING_AUDIT_r15
    * partition-probe phase). A cluster derives the same number from AQE's
    * initialPartitionNum; a local session must derive it from the data it is
    * pointed at — this is that derivation, replacing the env knob (which
    * remains as an explicit override). sf0.1 and below stay under the floor,
    * so every bench-SF plan is unchanged.
    */
  def derivedShufflePartitions(cores: Int, dataDir: String,
      cap: Int = 4096): Int = {
    val bytes = try {
      val root = java.nio.file.Paths.get(dataDir)
      if (!java.nio.file.Files.isDirectory(root)) -1L
      else {
        val s = java.nio.file.Files.walk(root)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      }
    } catch {
      // Files.walk/size surface races (file deleted mid-traversal, unreadable
      // entry) as UncheckedIOException — a RuntimeException — not IOException.
      // Any failure to size the directory must degrade to the core-count
      // fallback, never crash session construction.
      case scala.util.control.NonFatal(_) => -1L
    }
    if (bytes < 0) cores
    else math.max(cores.toLong,
      math.min(cap.toLong,
        (bytes + BytesPerShufflePartition - 1) / BytesPerShufflePartition))
      .toInt
  }

  /** Builder for a session that will read `dataDir`: shuffle partitions are
    * sized to the directory's bytes via [[derivedShufflePartitions]]. */
  def builder(cores: Int, dataDir: String): SparkSession.Builder =
    builder(cores).config("spark.sql.shuffle.partitions",
      derivedShufflePartitions(cores, dataDir).toLong)

  /** Re-point an EXISTING session at a data dir (`spark.sql.shuffle
    * .partitions` is runtime-mutable): set the derived count, as
    * [[builder]] does. Multi-scale tools (PlanDiffScales) call this per
    * scale so each tier runs with the partitioning a fresh session over
    * that tier would have. Returns the count it set. */
  def tuneShuffleFor(spark: SparkSession, cores: Int, dataDir: String): Int = {
    val n = derivedShufflePartitions(cores, dataDir)
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    n
  }

  /** Partition count sized to the FRAME being exchanged, not the session's
    * directory-derived `spark.sql.shuffle.partitions` — the r17 scale
    * defect's general form: a session sized for a 1.5 GB corpus fans a
    * 30 MB state-table sort out to 192 range partitions, and the per-task
    * constants plus n·log(p) dominate a sort that wants ~2
    * (`l_incr_agg_retract`, cpu exponent ~2.0; bisected in NOTES_r17 §4).
    * Derives the count from the optimizer's size estimate of THIS plan
    * (exact file bytes for a parquet scan — the state-table
    * case), clamped to [1, current shuffle partitions]: metadata-scale
    * frames get metadata-scale exchanges, data-scale frames keep the
    * directory-derived count (estimates for derived plans only ever
    * OVER-state, which degrades to today's behavior, never under-pays
    * parallelism on a genuinely large frame below what the bytes say). */
  def frameSizedPartitions(df: org.apache.spark.sql.Dataset[_]): Int = {
    val cap = df.sparkSession.sessionState.conf.numShufflePartitions
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = (bytes + BytesPerShufflePartition - 1) / BytesPerShufflePartition
    want.min(BigInt(cap)).max(BigInt(1)).toInt
  }

  /** Global sort with the exchange sized to the frame ([[frameSizedPartitions]]):
    * `repartitionByRange(k, cols) + sortWithinPartitions(cols)` is exactly
    * `orderBy(cols)` with an explicit partition count (same range exchange,
    * same asc-nulls-first total order), and an EXPLICIT count is the one
    * thing AQE respects verbatim — the implicit `orderBy` fans to
    * `spark.sql.shuffle.partitions`. Use at every sort whose input is
    * metadata-scale by contract (materialized-view state, manifests,
    * per-group summaries) under a session sized for the data directory. */
  def frameSortedBy(df: org.apache.spark.sql.DataFrame,
      cols: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame = {
    val k = frameSizedPartitions(df)
    // k == 1 keeps the same shape: RangePartitioner skips its sampling job
    // for a single partition, and the one-partition exchange (unlike a
    // coalesce(1)) leaves the parent stage's parallelism intact
    df.repartitionByRange(k, cols: _*).sortWithinPartitions(cols: _*)
  }

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .appName("graft")
      // Default: one shuffle partition per core — right for bench-scale data
      // on this box. Mains that know their input directory use
      // builder(cores, dataDir), which derives the count from input bytes
      // (see derivedShufflePartitions).
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", GeneratedClassCacheEntries.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // If a writer produced TIMESTAMP(NANOS) (which the Spark reader otherwise
      // rejects), surface it as long nanos instead of failing the scan;
      // Tables.eventsUs/microsCol dispatch on the arrival type (timestamp[us]
      // vs nanos-as-long) so either encoding normalizes to the same epoch-µs.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Report write-time sortBy order from bucketed scans, dropping both
      // sides' sorts in co-bucketed sort-merge joins. Self-guarded: Spark
      // only reports the ordering when a bucket is a single file, which
      // Lake.writeBucketed guarantees by aligning write partitioning with
      // the bucket spec.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      // Long-lived sessions accumulate shuffle files until the driver GCs
      // the referencing objects — ContextCleaner is GC-driven, and the
      // default periodic-GC interval (30 min) let a 40-minute 185-query
      // sweep at 30x data pile ~70 GB of dead shuffle into local dirs and
      // ENOSPC the box (r14 incident, d_ngram_jaccard the innocent
      // casualty). Two-minute periodic GC keeps dead shuffle bounded at a
      // negligible driver cost; the same setting is what a 100 TB
      // long-running query service wants.
      .config("spark.cleaner.periodicGC.interval", "2min")
}
