package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.ThetaSketch
import graft.Checkpoints.{pin, scoped}

/** **Incremental materialized-aggregate maintenance** — keep a GROUP BY
  * result current over an append-only table by folding in ONLY the rows
  * appended since the last refresh, instead of re-scanning the corpus.
  *
  * The 100 TB shape this exists for: a per-group dashboard/report over a
  * corpus that grows by ~0.1 % a day. A full recompute re-shuffles 100 TB
  * for every refresh; this refresh reads the appended files (pinned by the
  * [[Lake.snapshot]] / [[Lake.readAppendedBetween]] pair), partial-aggregates
  * them map-side like any Spark agg, and merges |groups| state rows — cost
  * O(delta + groups), never O(table). The trick is the standard one
  * (Iceberg/Materialize-style incremental view maintenance, restricted to
  * ALGEBRAIC aggregates): every maintained aggregate is kept as a MERGEABLE
  * partial state, the same discipline as the repo's sketch rollups —
  *
  *  - count            → long, merges by sum
  *  - sum              → exact DECIMAL(38,6) (the [[graft.queries.Exact]]
  *                       discipline: decimal addition is exact and
  *                       associative, so staged merging is bit-identical to
  *                       a one-shot sum; finalized to double the same way)
  *  - avg              → derived at read time from (decimal sum, non-null
  *                       count) — never stored, so it merges exactly
  *  - min / max        → merge by min / max
  *  - approx distinct  → [[ThetaSketch]] bytes; the KMV merge is
  *                       bit-identical to sketching the union directly, so
  *                       a maintained sketch equals a full-recompute sketch
  *  - approx quantiles → [[graft.operators.TDigest]] bytes; digests merge
  *                       associatively (estimates, not bit-identity — the
  *                       centroid layout depends on merge order, the error
  *                       bound does not)
  *
  * Non-algebraic aggregates (exact median, exact distinct) are out of
  * contract by construction — they cannot be maintained from state smaller
  * than the data; use the t-digest / theta estimates or recompute.
  *
  * Crash-safety is the repo's staged-commit pattern: each refresh writes a
  * fresh `state_<snapId>` directory, then publishes an empty `commit_<snapId>`
  * marker by atomic rename. The current state is the NEWEST committed id; a
  * crash at any point leaves the previous state authoritative and the next
  * refresh redoes the delta from it (snapshot pins make the redo exact, not
  * approximate). Single-writer per view, like the rest of [[Lake]]'s
  * maintenance ops. A rewrite of the base table (compaction, upsert) breaks
  * the append-only contract and refresh fails LOUDLY via
  * [[Lake.readAppendedBetween]]'s manifest check — recreate the view.
  */
object MaterializedAgg {

  /** Optional broadcast-dimension enrich for JOINED views: the maintained
    * aggregate is `GROUP BY` over `fact ⋈ dim`, with the join applied to
    * each DELTA before partial aggregation. That per-delta rewrite is only
    * correct against a FROZEN dimension (a join distributes over a union of
    * fact batches, but only when the other operand doesn't move), so the
    * dimension is pinned by its own [[Lake.snapshot]] at create/rebase time
    * and [[MaterializedAgg.refresh]] REFUSES loudly when the dimension has
    * changed since its pin — [[MaterializedAgg.rebase]] is the repair path
    * that adopts the new dimension with one full recompute.
    *
    * `dimCols` are the dimension columns brought into the enriched frame
    * (usable as group or value columns in the [[Spec]]); they must not
    * collide with fact column names. `joinType` is `inner` or `left` — both
    * are per-fact-row enrichments and therefore IVM-safe; right/full outer
    * are not decomposable per delta and are rejected. At 100 TB the
    * dimension side is broadcast: the fact delta never shuffles for the
    * enrich. */
  final case class DimSpec(
      dimPath: String,
      factKeys: Seq[String],
      dimKeys: Seq[String],
      dimCols: Seq[String],
      joinType: String = "inner") {
    require(factKeys.nonEmpty && factKeys.size == dimKeys.size,
      s"dim join keys must pair up, got $factKeys / $dimKeys")
    require(dimCols.nonEmpty, "a dim enrich that brings in no columns is a no-op")
    require(Set("inner", "left", "left_outer", "leftouter")
        .contains(joinType.toLowerCase.replace(" ", "")),
      s"dim enrich supports inner/left only (got '$joinType'): right/full " +
        "outer are not decomposable per delta")
    require(!dimPath.exists(ch => ch == '\t' || ch == '\n'),
      s"dim path '$dimPath' cannot be stored in the view meta")
    (factKeys ++ dimKeys ++ dimCols).foreach { c =>
      require(!c.exists(ch =>
        ch == '\t' || ch == '\n' || ch == ',' || ch == ':'),
        s"dim column name '$c' cannot be stored in the view meta")
    }
  }

  /** Which aggregates the view maintains. All referenced columns must exist
    * in the base table (or, with [[DimSpec]], in `dimCols`); names must be
    * tab/newline-free (they are stored in the view's plain-text meta file). */
  final case class Spec(
      groupCols: Seq[String],
      sumCols: Seq[String] = Nil,
      minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil,
      distinctCols: Seq[String] = Nil,
      thetaK: Int = ThetaSketch.DefaultK,
      quantileCols: Seq[String] = Nil,
      quantiles: Seq[Double] = Seq(0.5),
      dim: Option[DimSpec] = None) {
    require(groupCols.nonEmpty, "materialized agg needs group columns")
    quantiles.foreach(q => require(q > 0.0 && q < 1.0,
      s"quantiles must be in (0,1), got $q"))
    require(quantiles.map(quantileLabel).distinct.size == quantiles.size,
      s"quantiles $quantiles collide after labeling")
    private[sources] def allCols: Seq[String] =
      (groupCols ++ sumCols ++ minCols ++ maxCols ++ distinctCols ++
        quantileCols).distinct
    allCols.foreach { c =>
      require(!c.exists(ch =>
        ch == '\t' || ch == '\n' || ch == ',' || ch == ':'),
        s"column name '$c' cannot be stored in the view meta")
      // the state frame's mergeable columns live under the __ prefix — a
      // spec column there would shadow or duplicate them inside
      // partialState/mergeStates and fail confusingly mid-plan
      require(!c.startsWith("__"),
        s"column name '$c' collides with the view's reserved __-prefixed " +
          "state namespace")
    }
    // group columns pass through to BOTH the state and the finalized view
    // verbatim — one named like a finalized alias (cnt, sum_<c>, p50_<c>)
    // would produce duplicate/ambiguous output columns
    private[sources] def finalizedNames: Seq[String] =
      Seq("cnt") ++
        sumCols.flatMap(c => Seq(s"sum_$c", s"avg_$c")) ++
        minCols.map(c => s"min_$c") ++ maxCols.map(c => s"max_$c") ++
        distinctCols.map(c => s"distinct_$c") ++
        quantileCols.flatMap(c => quantiles.map(q =>
          s"p${quantileLabel(q)}_$c"))
    locally {
      val clash = groupCols.filter(finalizedNames.contains)
      require(clash.isEmpty,
        s"group columns ${clash.mkString(", ")} collide with the view's " +
          "finalized output names (cnt / sum_<c> / avg_<c> / min_<c> / " +
          "max_<c> / distinct_<c> / p<q>_<c>) — rename them upstream")
    }
  }

  /** How long a writer lease may sit untouched before another writer may
    * take it over — generous against the longest plausible refresh, since a
    * takeover of a LIVE writer would reintroduce the very interleaving the
    * lease exists to prevent. */
  val DefaultLeaseStaleMs: Long = 15 * 60 * 1000L

  private val LeaseFile = "_graft_view_lock"

  /** Enforce the single-writer-per-view contract: acquire a create-exclusive
    * lease file for the duration of `body`, failing the second writer LOUDLY
    * (naming the lease) instead of letting two refreshes interleave — the
    * newest-committed-id rule keeps readers consistent either way, but the
    * losing writer's work would be silently discarded and its pinned
    * manifest leaked. Acquisition order matters: the lease is taken BEFORE
    * any snapshot pin, so a refused writer pins nothing.
    *
    * Crash story: a writer that dies holds the lease until `staleMs` passes,
    * then the next writer deletes-and-recreates it (the recreate is
    * create-exclusive, so two simultaneous takeovers still serialize on
    * filesystems with atomic create — HDFS and object stores with
    * conditional writes; the local dev FS approximates it).
    *
    * Liveness story (r12 ADVICE): a LIVE writer whose operation runs longer
    * than `staleMs` (a 100 TB rebase) must not look crashed, so a daemon
    * heartbeat touches the lease's mtime every `staleMs / 3` for the
    * duration of `body` — a second writer's stale check then always sees a
    * fresh lease while the holder is alive, regardless of operation length. */
  private[sources] def withLease[T](fs: org.apache.hadoop.fs.FileSystem,
      viewPath: String, op: String, staleMs: Long)(body: => T): T = {
    val root = new org.apache.hadoop.fs.Path(viewPath)
    if (!fs.exists(root)) fs.mkdirs(root)
    val lock = new org.apache.hadoop.fs.Path(viewPath, LeaseFile)
    if (fs.exists(lock)) {
      val age = System.currentTimeMillis() -
        fs.getFileStatus(lock).getModificationTime
      if (age > staleMs) fs.delete(lock, false) // crashed writer: take over
    }
    val out =
      try fs.create(lock, false)
      catch {
        case e: java.io.IOException => throw new IllegalStateException(
          s"$op: another writer holds the lease $lock — materialized views " +
            s"are single-writer; a crashed writer's lease can be taken over " +
            s"after ${staleMs / 1000}s idle", e)
      }
    try {
      out.write(s"$op@${System.currentTimeMillis()}".getBytes("UTF-8"))
    } finally out.close()
    val beating = new java.util.concurrent.atomic.AtomicBoolean(true)
    val heartbeat = new Thread(() => {
      while (beating.get()) {
        // strictly staleMs/3 — a floor above it (an earlier 250 ms clamp)
        // would let the beat interval reach the stale horizon for small
        // horizons, judging a LIVE writer stale between beats (r13 ADVICE);
        // sub-second horizons are test-only, so the short sleeps are cheap
        try Thread.sleep(math.max(staleMs / 3, 1L))
        catch { case _: InterruptedException => () }
        if (beating.get())
          try fs.setTimes(lock, System.currentTimeMillis(), -1)
          catch { case _: Throwable => () } // transient FS hiccup: next beat retries
      }
    }, s"graft-view-lease-heartbeat")
    heartbeat.setDaemon(true)
    heartbeat.start()
    try body finally {
      beating.set(false)
      heartbeat.interrupt()
      fs.delete(lock, false)
    }
  }

  /** Materialize the view: snapshot the table, aggregate it once, commit
    * `state_<snapId>`. Returns the snapshot id the state reflects. */
  def create(spark: SparkSession, tablePath: String, viewPath: String,
      spec: Spec, leaseStaleMs: Long = DefaultLeaseStaleMs): Long = {
    val base = spark.read.parquet(tablePath)
    validateSpecColumns(spark, base, tablePath, spec)
    val fs = fsOf(spark, viewPath)
    withLease(fs, viewPath, "create", leaseStaleMs) {
    // committed state, not the meta file, is what makes a view exist — a
    // create that crashed between meta and commit can simply be re-run
    currentId(fs, viewPath).foreach { id =>
      throw new IllegalStateException(
        s"a materialized view already exists at $viewPath (state $id)")
    }
    val snapId = Lake.snapshot(spark, tablePath)
    // same pin-rollback discipline as refresh: a failure after the snapshots
    // (bad data, IO) must drop the freshly minted manifests, or every failed
    // create attempt leaks an O(table-files) pin
    var dimSnap: Option[Long] = None
    try {
      dimSnap = spec.dim.map(d => Lake.snapshot(spark, d.dimPath))
      val dimRead = spec.dim.map(d =>
        d -> Lake.readSnapshot(spark, d.dimPath, dimSnap.get))
      // record the spec columns' types as of create: refresh adapts appended
      // files to THESE (or fails with the drift named) — without the record,
      // a retyped value column would be erased by the aggregation casts and
      // silently corrupt the maintained sums. Dim-sourced columns are
      // recorded from the pinned dim (they can only move via rebase).
      val recordedTypes = recordTypes(base, dimRead, spec)
      writeMeta(fs, viewPath, tablePath, spec, recordedTypes,
        dimSnap.map(id => Seq(snapId -> id)).getOrElse(Nil))
      val full = Lake.readSnapshot(spark, tablePath, snapId)
      val enriched = dimRead match {
        case Some((d, dimDf)) => enrich(full, dimDf, d)
        case None => full
      }
      val state = partialState(enriched, spec)
      state.write.mode("overwrite").parquet(s"$viewPath/state_$snapId")
      publishCommit(fs, viewPath, snapId)
      snapId
    } catch {
      case t: Throwable =>
        try Lake.dropSnapshot(spark, tablePath, snapId)
        catch { case _: Throwable => () } // keep the original failure
        for (d <- spec.dim; id <- dimSnap)
          try Lake.dropSnapshot(spark, d.dimPath, id)
          catch { case _: Throwable => () }
        throw t
    }
    }
  }

  /** Columns the FACT side must supply: every spec column not brought in by
    * the dim enrich, plus the enrich's fact-side join keys. */
  private def factSideCols(spec: Spec): Seq[String] = spec.dim match {
    case None => spec.allCols
    case Some(d) =>
      (spec.allCols.filterNot(d.dimCols.contains) ++ d.factKeys).distinct
  }

  private def validateSpecColumns(spark: SparkSession, base: DataFrame,
      tablePath: String, spec: Spec): Unit = {
    spec.dim.foreach { d =>
      val missFact = d.factKeys.filterNot(base.columns.contains)
      require(missFact.isEmpty,
        s"dim enrich fact keys $missFact absent from $tablePath")
      val dimBase = spark.read.parquet(d.dimPath)
      val missDim = (d.dimKeys ++ d.dimCols).filterNot(dimBase.columns.contains)
      require(missDim.isEmpty,
        s"dim enrich columns $missDim absent from ${d.dimPath}")
      // a dim column shadowing a fact column would make every downstream
      // reference ambiguous — refuse at create, not mid-plan
      val shadow = d.dimCols.filter(base.columns.contains)
      require(shadow.isEmpty,
        s"dim columns $shadow also exist on the fact table $tablePath — " +
          "rename them on one side before creating the view")
    }
    val missing = spec.allCols.filterNot(c =>
      base.columns.contains(c) || spec.dim.exists(_.dimCols.contains(c)))
    require(missing.isEmpty,
      s"materialized-agg spec references columns $missing absent from " +
        s"$tablePath${spec.dim.map(d => s" and ${d.dimPath}").getOrElse("")}")
  }

  private def recordTypes(base: DataFrame,
      dimRead: Option[(DimSpec, DataFrame)],
      spec: Spec): Seq[(String, String)] =
    factSideCols(spec).filter(base.columns.contains)
      .map(c => c -> base.schema(c).dataType.catalogString) ++
      dimRead.toSeq.flatMap { case (d, dimDf) =>
        (spec.allCols.filter(d.dimCols.contains))
          .map(c => c -> dimDf.schema(c).dataType.catalogString)
      }

  /** The broadcast-dimension enrich: fact rows gain `dimCols`; join-key-only
    * dim columns are dropped after the join. The dim side is broadcast —
    * the fact side never shuffles for this. */
  private def enrich(fact: DataFrame, dimDf: DataFrame,
      d: DimSpec): DataFrame = {
    val dimSel = dimDf.select((d.dimKeys ++ d.dimCols).distinct.map(col): _*)
    val joinCond = d.factKeys.zip(d.dimKeys)
      .map { case (f, k) => fact(f) === dimSel(k) }.reduce(_ && _)
    val joined = fact.join(
      org.apache.spark.sql.functions.broadcast(dimSel), joinCond, d.joinType)
    d.dimKeys.filterNot(d.dimCols.contains).distinct
      .foldLeft(joined)((df, k) => df.drop(dimSel(k)))
  }

  /** Fold in everything appended since the last committed refresh. Returns
    * the snapshot id the state now reflects.
    *
    * Snapshot retention: each refresh pins a fresh table snapshot, and a
    * manifest is O(table files) bytes — at lake scale an hourly refresh
    * accumulates them without bound. `dropSuperseded = true` drops the
    * previous pin's manifest (and a no-op probe's) AFTER the new state is
    * committed, keeping exactly one view-owned pin alive; leave it false
    * when other consumers time-travel to the ids this view created. A
    * crash between commit and drop leaks at most that one manifest
    * (bounded per crash, not per refresh; [[Lake.dropSnapshot]] is
    * idempotent, so sweeping leftovers manually is safe). */
  def refresh(spark: SparkSession, viewPath: String,
      dropSuperseded: Boolean = false,
      leaseStaleMs: Long = DefaultLeaseStaleMs): Long = {
    val fs = fsOf(spark, viewPath)
    val (tablePath, spec, recordedTypes, dimSnaps) = readMeta(fs, viewPath)
    withLease(fs, viewPath, "refresh", leaseStaleMs) {
    val cur = currentId(fs, viewPath).getOrElse(
      throw new IllegalStateException(s"no committed state at $viewPath"))
    // joined view: per-delta enrichment is only valid against the dim AS OF
    // its pin — ANY dim change (append included) invalidates the whole
    // maintained state, not just this delta, so refuse loudly with the
    // repair path named rather than serve a half-old half-new join
    val dimPin: Option[(DimSpec, Long)] = spec.dim.map { d =>
      val pin = dimSnapFor(dimSnaps, cur).getOrElse(
        throw new IllegalStateException(
          s"view $viewPath has a dim enrich but no dim pin covering state " +
            s"$cur — corrupt meta; re-run rebase"))
      val (appended, broken) = Lake.driftSinceSnapshot(spark, d.dimPath, pin)
      require(appended.isEmpty && broken.isEmpty,
        s"refresh: dimension ${d.dimPath} changed since its pin $pin " +
          s"(${appended.size} appended, ${broken.size} rewritten/removed " +
          "files) — a per-delta join against a moved dimension would " +
          "corrupt the view; run MaterializedAgg.rebase to adopt it")
      d -> pin
    }
    // pin FIRST (but after the lease): rows appended after this instant are
    // cleanly out of this refresh and cleanly inside the next — nothing can
    // fall between reads
    val newId = Lake.snapshot(spark, tablePath)
    // a pin that never commits is garbage — drop it on ANY failure below
    // (drift, IO), or a failing scheduled refresh would leak an
    // O(table-files) manifest per attempt. The rollback scope ends at
    // publishCommit (atomic tmp-create + rename — a throw from it means
    // NOT committed): post-commit cleanup runs after the try, warn-only.
    var committed = false
    val out = try {
      // one manifest diff serves both the no-op check (metadata-only:
      // nothing appended → nothing planned or scanned) and the delta read
      val fresh = Lake.appendedFilesBetween(spark, tablePath, cur, newId)
      if (fresh.isEmpty) {
        if (dropSuperseded) Lake.dropSnapshot(spark, tablePath, newId)
        cur
      } else {
        val delta = Lake.readFileSubset(spark, tablePath, fresh)
        val state = readState(spark, viewPath, cur)
        val adapted = adaptDelta(delta, spec, recordedTypes, tablePath)
        val enrichedDelta = dimPin match {
          case Some((d, pin)) =>
            enrich(adapted, Lake.readSnapshot(spark, d.dimPath, pin), d)
          case None => adapted
        }
        val deltaState = partialState(enrichedDelta, spec)
        // backstop for views whose meta predates recorded types: any residual
        // type disagreement must fail NAMED, not as a union error mid-plan
        val drifted = state.schema.fields.flatMap { f =>
          deltaState.schema.fields.find(_.name == f.name)
            .filter(_.dataType != f.dataType)
            .map(g => s"${f.name}: state ${f.dataType.simpleString} vs " +
              s"appended ${g.dataType.simpleString}")
        }
        require(drifted.isEmpty,
          s"refresh: appended files at $tablePath retype maintained columns — " +
            s"${drifted.mkString("; ")} (recreate the view for the new types)")
        val merged = mergeStates(state, deltaState, spec)
        merged.write.mode("overwrite").parquet(s"$viewPath/state_$newId")
        publishCommit(fs, viewPath, newId)
        committed = true
        newId
      }
    } catch {
      case t: Throwable =>
        if (!committed)
          try Lake.dropSnapshot(spark, tablePath, newId)
          catch { case _: Throwable => () } // keep the original failure
        throw t
    }
    if (committed && dropSuperseded)
      dropSupersededPin(spark, tablePath, cur, "refresh")
    out
    }
  }

  /** Adapt appended files to the view's RECORDED column types, or fail with
    * the drift named. Missing columns fail outright. Type differences are
    * adapted when the cast is semantics-preserving — `Cast.canUpCast`
    * (numeric widening, int→long etc.) or any atomic type into a recorded
    * STRING column (partition-value inference drift: a delta subset whose
    * partition values all look numeric reads as int where the full table
    * inferred string) — and refused otherwise (e.g. a sum column retyped to
    * string, which the aggregation casts would silently null-corrupt). */
  private def adaptDelta(delta: DataFrame, spec: Spec,
      recorded: Map[String, org.apache.spark.sql.types.DataType],
      tablePath: String): DataFrame = {
    val needed = factSideCols(spec)
    val missingCols = needed.filterNot(delta.columns.contains)
    require(missingCols.isEmpty,
      s"refresh: appended files at $tablePath lack spec columns " +
        s"$missingCols (schema drift — the view was defined against a " +
        "different table shape)")
    import org.apache.spark.sql.types.{ArrayType, MapType, StringType, StructType}
    def simple(t: org.apache.spark.sql.types.DataType): Boolean =
      !t.isInstanceOf[StructType] && !t.isInstanceOf[ArrayType] &&
        !t.isInstanceOf[MapType]
    val adapted = needed.map { c =>
      val have = delta.schema(c).dataType
      recorded.get(c) match {
        case None => col(c) // pre-types meta: the schema backstop guards
        case Some(want) if have == want => col(c)
        case Some(want)
            if org.apache.spark.sql.catalyst.expressions.Cast
              .canUpCast(have, want) ||
              (want == StringType && simple(have)) =>
          col(c).cast(want).as(c)
        case Some(want) =>
          throw new IllegalArgumentException(
            s"refresh: appended files at $tablePath retype column $c — " +
              s"recorded ${want.simpleString}, appended ${have.simpleString}" +
              " (schema drift; recreate the view for the new type)")
      }
    }
    delta.select(adapted: _*)
  }

  /** The finalized view: group columns plus `cnt`, `sum_<c>` / `avg_<c>`
    * (exact-decimal finalization, bit-equal to [[graft.queries.Exact]]'s
    * one-shot forms), `min_<c>` / `max_<c>`, `distinct_<c>` (theta
    * estimate — approximate above k, exact below), and `p<q>_<c>` t-digest
    * quantiles (`p50_x`, `p99_9_x`). Reads |groups| state rows; never
    * touches the base table. */
  def read(spark: SparkSession, viewPath: String): DataFrame = {
    val fs = fsOf(spark, viewPath)
    val (_, spec, _, _) = readMeta(fs, viewPath)
    val cur = currentId(fs, viewPath).getOrElse(
      throw new IllegalStateException(s"no committed state at $viewPath"))
    finalizeState(readState(spark, viewPath, cur), spec)
  }

  private def finalizeState(st: DataFrame, spec: Spec): DataFrame = {
    val out: Seq[Column] =
      spec.groupCols.map(col) ++ Seq(col("__cnt").as("cnt")) ++
        spec.sumCols.flatMap { c =>
          Seq(col(s"__sum_$c").cast("double").as(s"sum_$c"),
            (col(s"__sum_$c").cast("double") / col(s"__cnt_$c")).as(s"avg_$c"))
        } ++
        spec.minCols.map(c => col(s"__min_$c").as(s"min_$c")) ++
        spec.maxCols.map(c => col(s"__max_$c").as(s"max_$c")) ++
        spec.distinctCols.map(c =>
          ThetaSketch.estimateOf(col(s"__theta_$c")).as(s"distinct_$c")) ++
        spec.quantileCols.flatMap(c => spec.quantiles.map(q =>
          graft.operators.TDigest.quantileOf(col(s"__td_$c"), q)
            .as(s"p${quantileLabel(q)}_$c")))
    st.select(out: _*)
  }

  /** Snapshot id the committed state reflects (None before [[create]]). */
  def committedId(spark: SparkSession, viewPath: String): Option[Long] =
    currentId(fsOf(spark, viewPath), viewPath)

  /** Every committed state id still on disk, ascending — each is readable
    * via [[readAt]] until [[vacuum]] drops the superseded ones. */
  def committedIds(spark: SparkSession, viewPath: String): Seq[Long] = {
    val fs = fsOf(spark, viewPath)
    val root = new org.apache.hadoop.fs.Path(viewPath)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("commit_")).map(_.stripPrefix("commit_").toLong)
      .filter(id =>
        fs.exists(new org.apache.hadoop.fs.Path(viewPath, s"state_$id")))
      .sorted.toSeq
  }

  /** Time travel for the VIEW: the finalized aggregate exactly as of an
    * earlier committed refresh — "what did the dashboard say before
    * yesterday's ingest" without recomputing anything (each refresh keeps
    * its whole state directory until [[vacuum]]; a vacuumed id fails
    * loudly here). The table-side twin is [[Lake.readSnapshot]]. */
  def readAt(spark: SparkSession, viewPath: String, snapId: Long): DataFrame = {
    val fs = fsOf(spark, viewPath)
    require(committedIds(spark, viewPath).contains(snapId),
      s"no committed state $snapId at $viewPath " +
        s"(have: ${committedIds(spark, viewPath).mkString(", ")} — " +
        "superseded states are dropped by vacuum)")
    val (_, spec, _, _) = readMeta(fs, viewPath)
    finalizeState(readState(spark, viewPath, snapId), spec)
  }

  /** Drop all state directories and markers except the newest committed one
    * (crashed refreshes and superseded states accumulate otherwise).
    * Takes the writer lease: an unguarded vacuum racing an in-flight refresh
    * would sweep the staged `state_<newId>` directory out from under it.
    * Returns the number of directories removed. */
  def vacuum(spark: SparkSession, viewPath: String,
      leaseStaleMs: Long = DefaultLeaseStaleMs): Int = {
    val fs = fsOf(spark, viewPath)
    withLease(fs, viewPath, "vacuum", leaseStaleMs) {
    currentId(fs, viewPath) match {
      case None => 0
      case Some(keep) =>
        val root = new org.apache.hadoop.fs.Path(viewPath)
        var dropped = 0
        fs.listStatus(root).foreach { st =>
          val n = st.getPath.getName
          val stale =
            (n.startsWith("state_") && n.stripPrefix("state_").toLong != keep) ||
              (n.startsWith("commit_") && n.stripPrefix("commit_").toLong != keep) ||
              n.startsWith(".") // crashed-publish tmp leftovers
          if (stale) {
            require(fs.delete(st.getPath, true), s"could not vacuum ${st.getPath}")
            if (n.startsWith("state_")) dropped += 1
          }
        }
        dropped
    }
    }
  }

  // ---- state construction ------------------------------------------------

  /** One mergeable-state row per group. Runs as an ordinary hash aggregate:
    * map-side partials over the input files, one exchange on the group key. */
  private def partialState(df: DataFrame, spec: Spec): DataFrame = {
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("__cnt")) ++
        spec.sumCols.flatMap { c =>
          Seq(sum(col(c).cast(graft.queries.Exact.dt)).as(s"__sum_$c"),
            count(col(c)).as(s"__cnt_$c"))
        } ++
        spec.minCols.map(c => min(col(c)).as(s"__min_$c")) ++
        spec.maxCols.map(c => max(col(c)).as(s"__max_$c")) ++
        spec.distinctCols.map(c =>
          ThetaSketch.thetaAggK(spec.thetaK)(ThetaSketch.hashCol(col(c)))
            .as(s"__theta_$c")) ++
        spec.quantileCols.map(c =>
          graft.operators.TDigest.tdigestAgg(col(c).cast("double"))
            .as(s"__td_$c"))
    df.groupBy(spec.groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge two state frames: every stored aggregate is mergeable by
    * construction, so this is one more hash aggregate over |groups| rows.
    *
    * The merge exchange is FRAME-sized: state frames are metadata-scale
    * (O(groups)) by this object's contract, while the session's shuffle
    * partitions are sized for the DATA directory — letting the groupBy fan
    * |groups| rows out to the directory-derived count pays per-task
    * constants for parallelism the frame cannot use (the same defect class
    * as the r17 `l_incr_agg_retract` sort, NOTES_r17 §4). An explicit
    * hash repartition on the group key at the committed state's own byte
    * count satisfies the aggregate's required distribution, so no second
    * exchange is added. */
  private def mergeStates(a: DataFrame, b: DataFrame, spec: Spec): DataFrame = {
    val k = graft.GraftSession.frameSizedPartitions(a)
    val aggs: Seq[Column] =
      Seq(sum(col("__cnt")).as("__cnt")) ++
        spec.sumCols.flatMap { c =>
          Seq(sum(col(s"__sum_$c")).cast(graft.queries.Exact.dt).as(s"__sum_$c"),
            sum(col(s"__cnt_$c")).as(s"__cnt_$c"))
        } ++
        spec.minCols.map(c => min(col(s"__min_$c")).as(s"__min_$c")) ++
        spec.maxCols.map(c => max(col(s"__max_$c")).as(s"__max_$c")) ++
        spec.distinctCols.map(c =>
          ThetaSketch.thetaMergeAgg(col(s"__theta_$c")).as(s"__theta_$c")) ++
        spec.quantileCols.map(c =>
          graft.operators.TDigest.tdigestMergeAgg(col(s"__td_$c"))
            .as(s"__td_$c"))
    a.unionByName(b).repartition(k, spec.groupCols.map(col): _*)
      .groupBy(spec.groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  // Tables.readDir memo: a state snapshot dir is write-once (new ids get
  // new paths), so the relation — listing + schema, never rows — is safe to
  // reuse; without it every read of the view pays a one-task footer job.
  private def readState(spark: SparkSession, viewPath: String,
      id: Long): DataFrame =
    Tables.readDir(spark, s"$viewPath/state_$id")

  // ---- commit protocol ---------------------------------------------------

  /** Column-name-safe label for a quantile: p0.5→"50", p0.999→"99_9". */
  private def quantileLabel(q: Double): String = {
    // snap to a 1e-4-of-a-percent grid first: double q*100 can land a hair
    // off (0.29*100 = 28.999...), which would leak into the column name
    val s = BigDecimal(q * 100).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      .underlying.stripTrailingZeros.toPlainString
    s.replace(".", "_")
  }

  private val MetaFile = "_graft_view_meta"

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Post-commit cleanup must never trigger rollback of committed
    * resources (r12 ADVICE): once `commit_<id>` is published, a failure
    * dropping the SUPERSEDED pin leaks at most that one manifest —
    * bounded, idempotent to sweep — and is reported, not thrown (and
    * never answered by dropping the pin the new state depends on). */
  private def dropSupersededPin(spark: SparkSession, path: String, id: Long,
      op: String): Unit =
    try Lake.dropSnapshot(spark, path, id)
    catch {
      case t: Throwable =>
        System.err.println(s"[materialized-agg] $op: post-commit cleanup " +
          s"failed for superseded snapshot $id at $path — pin leaked, " +
          s"sweep with Lake.dropSnapshot ($t)")
    }

  private def publishCommit(fs: org.apache.hadoop.fs.FileSystem,
      viewPath: String, id: Long): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(viewPath, s".commit_$id.tmp")
    fs.create(tmp, true).close()
    val dst = new org.apache.hadoop.fs.Path(viewPath, s"commit_$id")
    if (!fs.exists(dst)) // a redo of a crashed refresh may re-commit the id
      require(fs.rename(tmp, dst), s"could not publish commit $id at $viewPath")
    else fs.delete(tmp, false)
  }

  /** Newest id with BOTH a commit marker and a state directory (a marker
    * whose state a partial vacuum removed is skipped, not fatal). */
  private def currentId(fs: org.apache.hadoop.fs.FileSystem,
      viewPath: String): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(viewPath)
    if (!fs.exists(root)) return None
    fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("commit_")).map(_.stripPrefix("commit_").toLong)
      .sorted(Ordering[Long].reverse)
      .find(id => fs.exists(new org.apache.hadoop.fs.Path(viewPath, s"state_$id")))
  }

  /** The dim pin governing a given committed state: the newest pin minted
    * at or before that state (refreshes commit new state ids without new
    * dim pins; rebases append a pin at their own state id — a rebase that
    * crashed after its meta write but before its commit leaves a pin with
    * stateId > every committed id, which this lookup correctly ignores). */
  private def dimSnapFor(dimSnaps: Seq[(Long, Long)],
      stateId: Long): Option[Long] = {
    val applicable = dimSnaps.filter(_._1 <= stateId)
    if (applicable.isEmpty) None else Some(applicable.maxBy(_._1)._2)
  }

  private def writeMeta(fs: org.apache.hadoop.fs.FileSystem, viewPath: String,
      tablePath: String, spec: Spec,
      recordedTypes: Seq[(String, String)],
      dimSnaps: Seq[(Long, Long)]): Unit = {
    require(!tablePath.exists(ch => ch == '\t' || ch == '\n'),
      s"table path '$tablePath' cannot be stored in the view meta")
    // a crashed earlier create may have left a meta behind (no committed
    // state, or create would have refused above) — replace it
    val dst = new org.apache.hadoop.fs.Path(viewPath, MetaFile)
    if (fs.exists(dst)) fs.delete(dst, false)
    val dimLines = spec.dim.toSeq.flatMap { d =>
      Seq(
        s"dimtable\t${d.dimPath}",
        s"dimfactkeys\t${d.factKeys.mkString(",")}",
        s"dimkeys\t${d.dimKeys.mkString(",")}",
        s"dimcols\t${d.dimCols.mkString(",")}",
        s"dimjoin\t${d.joinType}",
        // stateId:dimSnapId pairs — the pin HISTORY, so readAt-era states
        // keep their provenance across rebases
        s"dimsnaps\t${dimSnaps.map { case (s, i) => s"$s:$i" }.mkString(";")}")
    }
    val text = (Seq(
      s"table\t$tablePath",
      s"k\t${spec.thetaK}",
      s"group\t${spec.groupCols.mkString(",")}",
      s"sum\t${spec.sumCols.mkString(",")}",
      s"min\t${spec.minCols.mkString(",")}",
      s"max\t${spec.maxCols.mkString(",")}",
      s"distinct\t${spec.distinctCols.mkString(",")}",
      s"quantilecols\t${spec.quantileCols.mkString(",")}",
      s"quantiles\t${spec.quantiles.mkString(",")}",
      // col:catalogString pairs, ';'-joined: catalogString is DDL-parseable
      // and, unlike a plain comma join, survives complex types whose
      // rendering itself contains commas (struct<a:int,b:int>); no Spark
      // type string contains ';', and column names cannot contain ':'
      s"types\t${recordedTypes.map { case (c, t) => s"$c:$t" }.mkString(";")}") ++
      dimLines)
      .mkString("\n")
    val tmp = new org.apache.hadoop.fs.Path(viewPath, s".$MetaFile.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, dst),
      s"could not publish view meta at $viewPath")
  }

  private def readMeta(fs: org.apache.hadoop.fs.FileSystem, viewPath: String):
      (String, Spec, Map[String, org.apache.spark.sql.types.DataType],
        Seq[(Long, Long)]) = {
    val f = new org.apache.hadoop.fs.Path(viewPath, MetaFile)
    require(fs.exists(f), s"no materialized view at $viewPath")
    val in = fs.open(f)
    val text = try {
      val bytes = new java.io.ByteArrayOutputStream()
      org.apache.commons.io.IOUtils.copy(in, bytes)
      bytes.toString("UTF-8")
    } finally in.close()
    val kv = text.split("\n").map { line =>
      val Array(key, value) = line.split("\t", 2)
      key -> value
    }.toMap
    def cols(key: String): Seq[String] =
      kv.getOrElse(key, "").split(",").toSeq.filter(_.nonEmpty)
    val types = kv.getOrElse("types", "").split(";").toSeq
      .filter(_.nonEmpty).map { pair =>
        val Array(c, t) = pair.split(":", 2)
        c -> org.apache.spark.sql.types.DataType.fromDDL(t)
      }.toMap
    val dim = kv.get("dimtable").map { p =>
      DimSpec(p, cols("dimfactkeys"), cols("dimkeys"), cols("dimcols"),
        kv.getOrElse("dimjoin", "inner"))
    }
    val dimSnaps = kv.getOrElse("dimsnaps", "").split(";").toSeq
      .filter(_.nonEmpty).map { pair =>
        val Array(s, i) = pair.split(":", 2)
        s.toLong -> i.toLong
      }
    (kv("table"), Spec(cols("group"), cols("sum"), cols("min"), cols("max"),
      cols("distinct"), kv("k").toInt,
      cols("quantilecols"), cols("quantiles").map(_.toDouble) match {
        case Nil => Seq(0.5)
        case qs => qs
      }, dim), types, dimSnaps)
  }

  /** **Exact retraction** — the O(deleted + groups) delete repair, for
    * views whose every aggregate RETRACTS exactly: counts and decimal sums
    * (addition of the negation is exact and associative, so folding the
    * deleted rows OUT is bit-identical to recomputing without them).
    * min/max/theta/t-digest cannot retract from state smaller than the
    * data — specs carrying them are refused by name (use [[rebase]]), as
    * are joined views (retraction against a pinned dimension adds failure
    * modes rebase doesn't have).
    *
    * Flow: the caller first removes the rows from the base table
    * ([[Lake.deleteByKey]] or any rewrite), then passes the SAME rows here.
    * Retract pins the post-delete table as the view's new base (appends
    * after that instant fold in on the next refresh), folds the negated
    * partial state of `deleted` into the current state, drops groups whose
    * count reaches zero, and commits — crash-safe like any refresh.
    *
    * Integrity is NOT taken on faith: (a) any group whose count or
    * non-null count would go negative fails the whole retract loudly
    * (the caller passed rows that were never in the view), and (b) the
    * retracted state's total row count must equal the pinned table's row
    * count (a parquet-footer count — cheap at any scale), which catches a
    * wrong deleted set size and writes that landed inside the
    * delete→retract window. Single-writer window discipline applies like
    * every maintenance op. Returns the new state id. */
  def retract(spark: SparkSession, viewPath: String, deleted: DataFrame,
      dropSuperseded: Boolean = false,
      leaseStaleMs: Long = DefaultLeaseStaleMs): Long = {
    val fs = fsOf(spark, viewPath)
    val (tablePath, spec, recordedTypes, _) = readMeta(fs, viewPath)
    val nonRetractable =
      (if (spec.minCols.nonEmpty) Seq(s"min(${spec.minCols.mkString(",")})") else Nil) ++
      (if (spec.maxCols.nonEmpty) Seq(s"max(${spec.maxCols.mkString(",")})") else Nil) ++
      (if (spec.distinctCols.nonEmpty) Seq(s"distinct(${spec.distinctCols.mkString(",")})") else Nil) ++
      (if (spec.quantileCols.nonEmpty) Seq(s"quantiles(${spec.quantileCols.mkString(",")})") else Nil)
    require(nonRetractable.isEmpty,
      s"retract: view at $viewPath maintains ${nonRetractable.mkString("; ")} " +
        "— min/max/sketch state cannot retract exactly; run rebase instead")
    require(spec.dim.isEmpty,
      s"retract: view at $viewPath is a joined view — run rebase instead")
    withLease(fs, viewPath, "retract", leaseStaleMs) {
    val cur = currentId(fs, viewPath).getOrElse(
      throw new IllegalStateException(s"no committed state at $viewPath"))
    // pin the POST-delete table: this becomes the view's new base
    val newId = Lake.snapshot(spark, tablePath)
    // same rollback discipline as refresh: the scope ends at the atomic
    // publishCommit; post-commit cleanup is warn-only outside the try
    var committed = false
    val out = try {
      val negated = {
        val del = partialState(
          adaptDelta(deleted, spec, recordedTypes, tablePath), spec)
        val flipped: Seq[Column] = spec.groupCols.map(col) ++
          Seq((-col("__cnt")).as("__cnt")) ++
          spec.sumCols.flatMap { c =>
            Seq((-col(s"__sum_$c")).cast(graft.queries.Exact.dt).as(s"__sum_$c"),
              (-col(s"__cnt_$c")).as(s"__cnt_$c"))
          }
        del.select(flipped: _*)
      }
      scoped {
        // validate ONCE, then write the same rows
        val merged = pin(mergeStates(readState(spark, viewPath, cur), negated, spec))
        val negCols = col("__cnt") < 0 ||
          spec.sumCols.map(c => col(s"__cnt_$c") < 0)
            .foldLeft(lit(false))(_ || _)
        val bad = merged.filter(negCols).count()
        require(bad == 0,
          s"retract: $bad group(s) would go NEGATIVE — the deleted rows " +
            s"were not (all) in the view at $viewPath; nothing committed")
        val kept = merged.filter(col("__cnt") > 0)
        // total-count audit vs the pinned table (parquet footer count):
        // catches a wrong deleted set size and writes that landed inside
        // the delete->retract window
        val stateRows = kept.agg(coalesce(sum(col("__cnt")), lit(0L)))
          .head().getLong(0)
        val tableRows = Lake.readSnapshot(spark, tablePath, newId).count()
        require(stateRows == tableRows,
          s"retract: retracted state totals $stateRows rows but the " +
            s"post-delete table snapshot $newId holds $tableRows — the " +
            "deleted set does not match what left the table (or writes " +
            "landed mid-retract); nothing committed, run rebase")
        kept.write.mode("overwrite").parquet(s"$viewPath/state_$newId")
        publishCommit(fs, viewPath, newId)
        committed = true
        newId
      }
    } catch {
      case t: Throwable =>
        if (!committed)
          try Lake.dropSnapshot(spark, tablePath, newId)
          catch { case _: Throwable => () } // keep the original failure
        throw t
    }
    if (committed && dropSuperseded)
      dropSupersededPin(spark, tablePath, cur, "retract")
    out
    }
  }

  /** What one [[maintenanceCycle]] did, for the operator's log. */
  final case class MaintenanceReport(
      committed: Map[String, Long],
      statesVacuumed: Int,
      tombstonesFolded: Int,
      compaction: Option[(Int, Int)])

  /** **The retention maintenance loop**, composed: the steps a scheduled
    * (e.g. hourly) maintainer runs so that a table plus its materialized
    * views stay fresh AND bounded in inodes forever —
    *
    *  1. without compaction (the common cycle): `refresh(dropSuperseded)`
    *     each view — fold the delta, keep exactly one view-owned table pin;
    *  2. with `compactRowsPerFile` set (the periodic cycle, when streaming
    *     appends have accumulated small files): [[Lake.compact]] FIRST,
    *     then [[rebase]] each view — the FENCE, because compaction rewrites
    *     the table and invalidates every pinned snapshot, so an incremental
    *     refresh across it would fail (correctly, loudly); the rebase
    *     re-pins and recomputes under the view's identity. View READS are
    *     unaffected throughout — they serve the committed state, never the
    *     table;
    *  3. [[vacuum]] each view — drop superseded state directories (the
    *     retention decision: after this, [[readAt]] history is gone);
    *  4. [[Lake.compactSnapshotTombstones]] — fold the drop tombstones the
    *     dropSuperseded discipline accrues into one high-water marker.
    *
    * Inode budget at steady state, per cycle count: O(1) — one state dir,
    * one commit marker, and one meta per view; one live manifest per
    * view-owned pin plus one folded tombstone marker per table (fact and
    * dim alike). Joined views re-pin their dimension only
    * at rebase; compact a DIMENSION table separately and follow it with a
    * rebase of its views (same fence, dim-side). Single-writer: the cycle
    * takes each view's lease through the calls it composes. */
  def maintenanceCycle(spark: SparkSession, tablePath: String,
      viewPaths: Seq[String], compactRowsPerFile: Option[Long] = None,
      leaseStaleMs: Long = DefaultLeaseStaleMs): MaintenanceReport = {
    val compaction = compactRowsPerFile.map { rows =>
      Lake.compact(spark, tablePath, rows)
    }
    val committed = viewPaths.map { v =>
      v -> (compaction match {
        case Some(_) => rebase(spark, v, dropSuperseded = true, leaseStaleMs)
        case None => refresh(spark, v, dropSuperseded = true, leaseStaleMs)
      })
    }.toMap
    val vacuumed = viewPaths.map(v => vacuum(spark, v, leaseStaleMs)).sum
    // fold drop tombstones on the table AND on every joined view's
    // dimension — rebases drop superseded dim pins too, and an unfolded
    // dim-side tombstone is one inode of growth per compacting cycle
    val dimTables = viewPaths.flatMap { v =>
      readMeta(fsOf(spark, v), v)._2.dim.map(_.dimPath)
    }.distinct
    val folded = (tablePath +: dimTables)
      .map(Lake.compactSnapshotTombstones(spark, _)).sum
    MaintenanceReport(committed, vacuumed, folded, compaction)
  }

  /** Full recompute under the view's identity: re-pin the CURRENT table
    * (and, for joined views, the CURRENT dimension), rebuild the state in
    * one shot, and commit it as a new refresh — keeping the view's id
    * history (earlier states stay [[readAt]]-readable with their own dim
    * provenance until [[vacuum]]). This is the repair path for everything
    * incremental maintenance correctly refuses: a moved dimension, a
    * rewritten/compacted base table, deletions, or recorded-type drift —
    * one O(table) recompute instead of a silent wrong answer.
    *
    * Crash discipline: the new dim pin is recorded in the meta BEFORE the
    * state commit, tagged with the new state id; until `commit_<newId>`
    * publishes, every reader and refresher resolves the OLD pin (see
    * [[dimSnapFor]]), so a crash anywhere leaves the previous state
    * authoritative and consistent. Returns the new state id. */
  def rebase(spark: SparkSession, viewPath: String,
      dropSuperseded: Boolean = false,
      leaseStaleMs: Long = DefaultLeaseStaleMs): Long = {
    val fs = fsOf(spark, viewPath)
    val (tablePath, spec, oldTypes, dimSnaps) = readMeta(fs, viewPath)
    withLease(fs, viewPath, "rebase", leaseStaleMs) {
    val cur = currentId(fs, viewPath).getOrElse(
      throw new IllegalStateException(s"no committed state at $viewPath"))
    val newId = Lake.snapshot(spark, tablePath)
    var dimSnap: Option[Long] = None
    // rollback scope ends at the atomic publishCommit: a post-commit
    // cleanup failure must neither drop the pins the committed state
    // depends on nor roll the meta back under it (warn-only, outside)
    var committed = false
    val out = try {
      dimSnap = spec.dim.map(d => Lake.snapshot(spark, d.dimPath))
      val base = Lake.readSnapshot(spark, tablePath, newId)
      val dimRead = spec.dim.map(d =>
        d -> Lake.readSnapshot(spark, d.dimPath, dimSnap.get))
      // a rebase is a full recompute: legal type drift (widening, or even a
      // recreate-worthy retype) folds in here, so re-record from what IS
      validateSpecColumns(spark, base, tablePath, spec)
      val recordedTypes = recordTypes(base, dimRead, spec)
      writeMeta(fs, viewPath, tablePath, spec, recordedTypes,
        dimSnaps ++ dimSnap.map(id => newId -> id).toSeq)
      val enriched = dimRead match {
        case Some((d, dimDf)) => enrich(base, dimDf, d)
        case None => base
      }
      partialState(enriched, spec)
        .write.mode("overwrite").parquet(s"$viewPath/state_$newId")
      publishCommit(fs, viewPath, newId)
      committed = true
      newId
    } catch {
      case t: Throwable =>
        if (!committed) {
          try Lake.dropSnapshot(spark, tablePath, newId)
          catch { case _: Throwable => () } // keep the original failure
          for (d <- spec.dim; id <- dimSnap)
            try Lake.dropSnapshot(spark, d.dimPath, id)
            catch { case _: Throwable => () }
          // roll the meta back too: a dangling pin pair referencing the
          // just-dropped dim manifest would otherwise be resolved by a LATER
          // committed state's provenance lookup and fail misdiagnosed
          try writeMeta(fs, viewPath, tablePath, spec,
            oldTypes.toSeq.map { case (c, dt) => c -> dt.catalogString },
            dimSnaps)
          catch { case _: Throwable => () }
        }
        throw t
    }
    if (dropSuperseded) {
      dropSupersededPin(spark, tablePath, cur, "rebase")
      for (d <- spec.dim; old <- dimSnapFor(dimSnaps, cur)
          if !dimSnap.contains(old))
        dropSupersededPin(spark, d.dimPath, old, "rebase (old dim pin)")
    }
    out
    }
  }
}
