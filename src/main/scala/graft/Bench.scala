package graft

import graft.queries.Registry
import graft.Checkpoints.{pin, scoped}

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line sized to survive a bounded tail capture (~2000
  * chars): 3-decimal MIN-of-3 timings only, with the adjudication-critical
  * fields (`value`, `n_queries`, `n_failed`, calibration, contention flags)
  * placed at the END of the object so any tail slice still carries them.
  * Medians/means, per-query calibration probes, and per-query shuffle bytes
  * go to `BENCH_DETAIL.json` beside the repo — full fidelity without
  * blowing the line budget.
  *
  * Contention self-labeling (two rounds of driver benches needed manual
  * idle re-adjudication): a fixed CPU-bound probe (in-memory range agg, no
  * I/O, no shuffle) runs ONCE BEFORE EVERY QUERY's timed window, not just
  * at run edges. A query whose preceding probe exceeds the pinned idle
  * envelope is FLAGGED on the emitted line (`flagged`, with its probe
  * seconds) — a contended run labels itself, per query, mechanically. On an
  * idle 32-thread box the single-shot probe sits at 0.24–0.37 s (NOTES_r6 /
  * NOTES_r8); the envelope pins 0.75 s = that range plus scheduling jitter
  * headroom (see [[ContentionLabel.CalIdleEnvelope]]). min-of-3 stays the per-query
  * statistic: background load inflates medians long before mins.
  *
  * Shuffle-write bytes ride along as the contention-IMMUNE signal: wall
  * time at sf0.1 is launch-latency noise under load, but bytes shuffled are
  * a plan property — they move only when a plan moves. The line carries the
  * run total (`shuffle_mb`); per-query bytes are in the detail file.
  */
object Bench {

  // The whole-run contention verdict is the OR of five independent
  // detectors in ContentionLabel (probe-vs-envelope, run spread at every
  // tier, calibration non-stationarity, an absolute fence vs the previous
  // committed line, a sustained median-probe ceiling) — the r16 driver
  // re-run proved the box-relative envelope ALONE fails open under uniform
  // load (it is derived from the contaminated sample). Windows flagged by
  // the envelope are re-measured once (see the retry pass) — transients
  // heal, sustained load flags again.

  /** The 13-query sf1 heavy tail: the scale-predictive section of the bench
    * (also the query set of the r13-r15 constrained-memory soak, NOTES_r14). */
  val Sf1Heavy: Seq[String] = Seq("e_pagerank_types", "t_bpe_train",
    "m_lstm_infer", "t_bigram_lm", "j_star_chain", "j_star_chain_bucketed",
    "d_fuzzy_verify", "d_contamination", "l_pruned_bloom_join",
    "j_bloom_join", "d_simhash_banded", "j7_nearest_in_group",
    "j7_nearest_asof")

  private def timeRuns(n: Int)(body: => Unit): Seq[Double] =
    (1 to n).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

  /** The box's BURST-CONCURRENCY cpu-accounting factor: executor cpu of
    * `cpus` concurrent allocation-heavy tasks over `cpus` × one such task's
    * cpu. PER-TASK work is identical in both jobs, so honest accounting
    * reads 1.0. NOTES_r17 §3 measured 1.5-3.2× on a 32-thread VM class: a
    * FIXED 40-task plan burned that much more executor cpu at 32 concurrent
    * threads than at 8, while the tight-loop calibration probe (no
    * allocation) tracks only core speed. The inflation lives in
    * allocator/memory contention inside short wide stage bursts, so the
    * probe must ALLOCATE like a real task, not just spin; it is what
    * inflated cpu_total_s across rounds while bytes stayed bit-flat. */
  private def burstFactor(spark: org.apache.spark.sql.SparkSession,
      meter: StageMeter): Double = {
    val cpus = spark.sparkContext.defaultParallelism
    // median-of-`runs` executor-cpu seconds of `parts` concurrent churn tasks
    def cpuOf(parts: Int, runs: Int): Double = (1 to runs).map { _ =>
      meter.measure(spark.sparkContext.parallelize(0 until parts, parts)
        .map(p => churn(BurstItersPerTask, p.toLong)).count())._2.cpuS
    }.sorted.apply(runs / 2)
    cpuOf(1, 1) // untimed warm (C2)
    cpuOf(cpus, 1)
    val single = cpuOf(1, 3)
    cpuOf(cpus, 3) / (cpus * single)
  }

  private val BurstItersPerTask = 2_000_000L

  /** One burst task's work: byte-array + string churn per iteration, the
    * allocation profile of an agg/codegen task. Returns a value so nothing
    * folds away. */
  private def churn(iters: Long, salt: Long): Long = {
    var h = salt
    var i = 0L
    while (i < iters) {
      val a = new Array[Byte](((i + salt) % 48 + 16).toInt)
      a(0) = (i ^ h).toByte
      h ^= java.util.Arrays.hashCode(a)
      h += java.lang.Long.toString(h ^ i).length
      i += 1
    }
    h
  }

  // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
  // comma-decimal locale would make the one adjudication artifact invalid
  // JSON. Same for the shuffle-MB field below.
  private def r3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** The PREVIOUS committed run's min-of-3 walls (headline names as-is,
    * sf1 names `sf1:`-prefixed), read from the repo's COMMITTED
    * BENCH_DETAIL.json — `git show HEAD:<path>`, never the working tree:
    * the working-tree copy is the previous run's output even when that run
    * was contended and never committed, so a poisoned prior run would
    * inflate the fence baseline and silence the one contention detector
    * advertised as immune to poisoning (r17 ADVICE). Falls back to the
    * working-tree file only when git itself is unavailable, and in EITHER
    * source skips a baseline that self-labels contended. Empty when
    * absent, unparseable, contended, or from a different SF. */
  private def committedMins(path: String, sfDir: String): Map[String, Double] =
    try {
      import org.json4s._
      val text = gitShowHead(path).orElse {
        val f = java.nio.file.Paths.get(path)
        if (java.nio.file.Files.isRegularFile(f))
          Some(new String(java.nio.file.Files.readAllBytes(f),
            java.nio.charset.StandardCharsets.UTF_8))
        else None
      }.getOrElse(return Map.empty)
      val j = org.json4s.jackson.JsonMethods.parse(text)
      j \ "verdict" \ "contended" match {
        case JBool(true) => return Map.empty // a contended baseline is noise
        case _ => ()
      }
      val sfPrev = j \ "sf" match { case JString(s) => s; case _ => "" }
      if (sfPrev != sfDir) return Map.empty
      def mins(v: JValue, prefix: String): Map[String, Double] = v match {
        case JObject(fields) => fields.collect {
          case (k, JDouble(d))  => (prefix + k) -> d
          case (k, JInt(i))     => (prefix + k) -> i.toDouble
          case (k, JDecimal(d)) => (prefix + k) -> d.toDouble
        }.toMap
        case _ => Map.empty
      }
      mins(j \ "queries_min", "") ++ mins(j \ "sf1" \ "queries_min", "sf1:")
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** The file as committed at HEAD, or None (not in git / git absent). */
  private def gitShowHead(path: String): Option[String] =
    try {
      val pb = new ProcessBuilder("git", "show", s"HEAD:$path")
      pb.redirectErrorStream(true) // one stream: no pipe-buffer deadlock
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      if (p.waitFor() == 0 && out.nonEmpty) Some(out) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  def main(args: Array[String]): Unit = {
    val jvmStart = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val prevMins = committedMins("BENCH_DETAIL.json", sfDir)
    // host-steal baseline: the hypervisor counter the verdict's steal
    // detector diffs at the end — the one contention signal an in-guest
    // probe can neither generate nor hide (r17 root-cause of the r16
    // driver's cpu x26-50 anomaly)
    val steal0 = ContentionLabel.procStatSteal()
    val cpus = GraftSession.cpus
    // derives shuffle partitions from the bench dir's bytes — identical to
    // the old per-core count at sf0.1 (17 MB is under the floor), so bench
    // plans are unchanged; only genuinely large inputs derive more
    val spark = GraftSession.builder(cpus, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Same preflight as Verify: if the testdata's physical types drifted,
    // say WHICH column up front on stderr — 8 cryptic per-query errors in
    // the r7 artifact traced to one column's encoding change.
    val drift = graft.sources.SchemaCompat.problems(spark, sfDir)
    if (drift.nonEmpty) {
      System.err.println("[bench] SCHEMA DRIFT DETECTED — expect query failures:")
      drift.foreach(p => System.err.println(s"[bench]   $p"))
    }

    // Every per-query cpu / shuffle figure below comes from this meter.
    // CPU time is the BOX-SPEED-INVARIANT adjudication number: wall time
    // moves with background load and per-box clock speed (the r9→r10
    // compare needed manual calibration-ratio reasoning to conclude
    // "flat"); task CPU nanoseconds move only when the plan does more work.
    val meter = StageMeter(spark)

    // Box-class instrument (r17 verdict #4), measured before any query on
    // the plateau-warm principle (its own warm jobs are untimed). Riding the
    // line + sidecar lets bench_diff normalize cpu by the two runs' factor
    // RATIO, so BASELINE.md's pinned cpu column gates again across VM
    // classes.
    val burstFactor: Option[Double] =
      try Some(Bench.burstFactor(spark, meter))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] burst probe failed: $e"); None }

    val perQueryShuffle = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val perQueryCpu = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var plateauWarmRuns = 0 // emitted on the line so the close gate can verify the methodology ran

    // Fixed CPU-bound probe: one whole-stage-codegen pass over an in-memory
    // range, one partition per thread — measures available compute, nothing
    // about the engine under test.
    def probeOnce(): Double = timeRuns(1) {
      spark.range(0, 2_000_000_000L, 1, cpus)
        .selectExpr("sum(id % 1000003) AS s").collect()
    }.head
    def calibrate(): Double = timeRuns(3)(
      spark.range(0, 2_000_000_000L, 1, cpus)
        .selectExpr("sum(id % 1000003) AS s").collect()).sorted.apply(1)
    // calFirst is meant to measure the BOX, not JVM startup: settle the
    // probe to its own plateau first — on slower VM classes one warm
    // calibrate still carries C2 compilation (measured: median 1.04 vs
    // 0.26 steady two probes later) and would read as contention
    val calFirst = {
      var prev = calibrate() // untimed warm (codegen + classloading)
      var cur = calibrate()
      var i = 0
      while (i < 4 && math.abs(cur - prev) > 0.15 * math.max(cur, 1e-9)) {
        prev = cur; cur = calibrate(); i += 1
      }
      cur
    }

    // Warm each headline query once on the smallest SF so timings measure
    // steady-state execution, not first-call classloading + codegen.
    Registry.headline.foreach { q =>
      try scoped(q.run(spark, "/root/testdata/sf0.001").count())
      catch { case _: Throwable => () }
    }
    // Force-stage the derived layouts THE BENCHED SET READS at the bench SF
    // before any timed window: staging is a one-time write (a full-table
    // shuffle + rewrite) that the sf0.001 warmup above does not trigger for
    // sfDir, so it would otherwise land inside the first timed run and the
    // per-query shuffle-byte metric would measure the staging, not the
    // query (round-9 VERDICT finding #1 — j_star_chain_bucketed reported
    // the bucketed WRITE's 30.7 MB against an exchange-free join). Only
    // bucketedFacts is consumed by a benched query today — staging the
    // other lake layouts (bloom/dict/zorder/CSV/upsert/SCD) would burn
    // minutes of untimed rewrites for data nothing here reads; extend this
    // when a staged-layout query joins the headline set.
    try graft.queries.JoinQueries.bucketedFacts(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] layout staging failed (queries will " +
        s"stage lazily instead): $e")
    }
    probeOnce() // untimed settle: absorb post-warmup GC before labeled probes

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def recordErr(name: String, e: Throwable): Unit = {
      System.err.println(s"[bench] $name: $e")
      // First line only, hard-capped: round-7's 8 full AnalysisException
      // texts blew the artifact past the capture window. Full stack is on
      // stderr above.
      errors.getOrElseUpdate(name, e.toString.takeWhile(_ != '\n').take(80))
    }
    val perQueryCal = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    type Runs[T] = Seq[(Option[T], StageMeter.Sample)]
    // 3 timed runs, each measured on its own. A run that THROWS
    // contributes no timing (an elapsed-until-exception number is not a
    // measurement) — it lands in the machine-readable "errors" map instead
    // of masquerading as a fast query.
    def timed[T](name: String, run: () => T): Runs[T] = (1 to 3).map { _ =>
      meter.measure(try Some(run()) catch { case e: Throwable => recordErr(name, e); None })
    }
    // A query's window: plateau warm, then ONE calibration probe labeling
    // the window, then the timed runs.
    def window[T](name: String)(run: () => T): Runs[T] = {
      plateauWarmRuns += meter.warmToPlateau(() => run())
      perQueryCal(name) = probeOnce()
      timed(name, run)
    }
    def walls(runs: Runs[_]): Seq[Double] = runs.collect { case (Some(_), s) => s.wallS }
    def median(t: Seq[Double]): Double = t(t.size / 2 min (t.size - 1))
    // a bench-SF window's shuffle bytes and cpu over its 3 runs; returns the
    // sorted walls
    def record(name: String, runs: Runs[_]): Seq[Double] = {
      perQueryShuffle(name) = runs.map(_._2.shuffleWriteBytes).sum
      perQueryCpu(name) = runs.map(_._2.cpuS).sum
      walls(runs).sorted
    }
    val results = Registry.headline.map { q =>
      // Plateau-warm AT THE BENCH SF before the window (r14): the sf0.001
      // warm pass misses codepaths the bench-SF execution alone compiles
      // (the bucketed one-file-per-bucket readers: first-sf0.1-run cpu
      // 3.7 s vs 0.95 s steady state), so without this, the timed window
      // carries C2 compilation and cpu_s_3runs reads up to ~5x steady state
      // on those queries. min-wall was already post-warm; this makes the CPU
      // column steady-state too, which is the bench's stated intent.
      q.name -> record(q.name, window(q.name)(() => scoped(q.run(spark, sfDir).count())))
    }

    // ANN search benches: the index is a built artifact (its cost is the
    // k-means fits, which would swamp the engine signal) — build OUTSIDE the
    // timed region, then time search only.
    val calAnn = calibrate()
    // bench-local serialized index copy: deleted in the finally so a failed
    // run doesn't leak one bench_ivfpq temp dir per attempt
    var annTmp: java.io.File = null
    val annResults = try scoped {
      import org.apache.spark.sql.functions.col
      val vecs = graft.sources.Tables.embeddings(spark, sfDir)
        .select("vec_id", "embedding")
      val queries = vecs.filter(col("vec_id") < 20)
      val idx = graft.operators.IvfPq.build(vecs, dim = 64)
      def ivfpqSearch(): Unit =
        graft.operators.IvfPq.search(idx, queries, kNN = 5, nProbe = 4).count()
      // the SERVING path the 100 TB story ships: index on disk, codes
      // partitioned by cell, probed cells as a static partition filter —
      // write + open untimed (index build cost, not search cost)
      val diskPath = java.nio.file.Files.createTempDirectory("bench_ivfpq")
        .toString + "/ix"
      annTmp = new java.io.File(diskPath).getParentFile
      graft.operators.IvfPq.writeIndex(idx, diskPath)
      val disk = graft.operators.IvfPq.readIndex(spark, diskPath)
      def ivfpqDisk(): Unit =
        graft.operators.IvfPq.search(disk, queries, kNN = 5, nProbe = 4,
          pruneCellScan = true).count()
      val pqCb = graft.operators.Pq.train(vecs, dim = 64, m = 16, k = 16,
        sampleFraction = 0.5)
      val pqEnc = pin(graft.operators.Pq.encode(vecs, pqCb))
      def pqSearch(): Unit =
        graft.operators.Pq.search(pqEnc, queries, pqCb, k = 5, shortlist = 64)
          .count()
      val runs = Seq("s_ivfpq_search" -> (() => ivfpqSearch()),
        "s_ivfpq_disk" -> (() => ivfpqDisk()),
        "s_pq_search" -> (() => pqSearch()))
      runs.map { case (name, run) => name -> record(name, window(name)(run)) }
    } catch {
      case e: Throwable => recordErr("ann_search", e); Seq.empty
    } finally {
      if (annTmp != null)
        org.apache.commons.io.FileUtils.deleteQuietly(annTmp)
    }

    // Tokenizer-apply bench: training is a model build (K driver-fetch
    // rounds whose cost is iteration latency) — train OUTSIDE the timed
    // region, then time the production apply path over the documents table,
    // forcing full token materialization.
    val calApply = calibrate()
    val applyResults = try scoped {
      val docs = graft.sources.Tables.documents(spark, sfDir)
      val model = graft.operators.Bpe.train(docs, "text", 32)
      Seq("t_bpe_apply" -> record("t_bpe_apply", window("t_bpe_apply") { () =>
        graft.operators.Bpe.tokenizeCompiled(docs, "text", model.merges)
          .selectExpr("sum(size(bpe_tokens)) AS n").collect()
      }))
    } catch {
      case e: Throwable => recordErr("bpe_apply", e); Seq.empty
    }

    // sf1 heavy-tail profile: sf0.1 is launch-latency-bound for most
    // queries (the round-9 sweep's sublinear ratios say so), so the
    // scale-predictive wall-time signal comes from a second profile at 10x
    // the bench SF — generated in-engine (ScaleGen) if absent, same
    // per-query contention guard ("sf1:"-prefixed probes share the flag
    // map). Numbers land in BENCH_DETAIL's "sf1" section and as sf1_total
    // on the line. SPARK_GRAFT_SF1=0 skips (iteration-speed escape hatch).
    val sf1Heavy = Bench.Sf1Heavy
    val sf1Shuffle = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val sf1Cpu = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // r12 VERDICT #1: the 3-run cpu window hid a single 25× run. Each sf1
    // run now records its OWN wall / cpu / shuffle / post-AQE plan
    // fingerprint ("e4b3s0n0") — a one-in-three replan or recompute storm
    // is attributable to the run (and the plan) it happened in, and
    // `sf1_unstable` on the adjudication line names any query whose
    // per-run cpu spread exceeds 3× (above a 2 s floor so toy-cost queries
    // don't flag on run-to-run noise).
    val sf1Runs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val sf1Walls = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val sf1Unstable = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var sf1Dir = ""
    // Deadline guard: the section adds minutes (one-time generation +
    // staging + 36 timed runs). On an idle box the main loop ends well
    // under this bound; a contended or otherwise slow run skips the
    // section with a note rather than risk an external harness timeout
    // killing the process before the ONE adjudication line prints.
    val elapsedMin = (System.nanoTime() - jvmStart) / 6e10
    val sf1Enabled = sys.env.getOrElse("SPARK_GRAFT_SF1", "1") != "0" &&
      (elapsedMin < 12.0 || {
        System.err.println(f"[bench] skipping sf1 section: main loop took " +
          f"$elapsedMin%.1f min (slow/contended run)")
        false
      })
    if (sf1Enabled) try {
      sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR",
        graft.tools.ScaleGen.ensure(spark, sfDir, "/tmp/graft_sf1", 10))
      try // same out-of-window staging rationale and scope as the bench SF
        graft.queries.JoinQueries.bucketedFacts(spark, sf1Dir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] sf1 staging failed: $e")
      }
      val byName = Registry.headline.map(q => q.name -> q).toMap
      sf1Heavy.foreach { name =>
        byName.get(name) match {
          case None => recordErr(s"sf1:$name",
            new NoSuchElementException("not in headline registry"))
          case Some(q) =>
            // plateau warm: the sf0.001 warmup loop doesn't touch sf1
            // data, and r14's run showed ONE warm run is not enough (the
            // bucketed chain's first timed sf1 run still carried 7.2 cpu_s
            // of compilation vs 2.2 steady — exactly the >3x spread
            // sf1_unstable flags); warm to the C2 plateau instead
            val runs = window(s"sf1:$name") { () =>
              // mirror of Dataset.count(): the grouped frame is OURS, so
              // after collect() its finalized AQE plan is readable —
              // count() itself hides its queryExecution
              scoped {
                val counted = q.run(spark, sf1Dir).groupBy().count()
                counted.collect()
                graft.queries.PlanFingerprints.ofExecuted(counted).brief
              }
            }
            sf1Runs(name) = runs.map { case (fp, s) =>
              s"""{"wall":${r3(fp.fold(-1.0)(_ => s.wallS))},"cpu_s":${r3(s.cpuS)},""" +
                s""""shuffle_bytes":${s.shuffleWriteBytes},"fp":"${fp.getOrElse("error")}"}"""
            }.mkString("[", ",", "]")
            val runCpus = runs.map(_._2.cpuS)
            if (runCpus.max > 3 * math.max(runCpus.min, 0.001) && runCpus.max - runCpus.min > 2.0)
              sf1Unstable(name) = runCpus.map(r3).mkString("[", ",", "]")
            sf1Shuffle(name) = runs.map(_._2.shuffleWriteBytes).sum
            sf1Cpu(name) = runCpus.sum
            sf1Walls(name) = walls(runs)
        }
      }
    } catch { case e: Throwable => recordErr("sf1_profile", e) }
    val sf1Sorted = sf1Walls.filter(_._2.nonEmpty).map { case (k, v) => k -> v.sorted }
    val sf1Min = sf1Sorted.map { case (k, v) => k -> v.head }
    val sf1Med = sf1Sorted.map { case (k, v) => k -> median(v) }

    val calLast = calibrate()

    // Box-relative envelope + one-shot window retry (r16): flag threshold =
    // max(floor, 2.5 × the run's own median probe); each flagged HEADLINE
    // window re-measures once — a transient spike (GC burst, noisy
    // neighbor) heals and the clean numbers replace the poisoned ones (the
    // poisoned probe is kept on the line under "retried"); sustained load
    // re-flags and the run stays honestly contended. sf1/ann/apply windows
    // keep their flags (their closures are out of scope here). This
    // PRE-RETRY envelope only drives retry selection; the emitted verdict
    // is ContentionLabel's post-retry one.
    val calEnvelope = ContentionLabel.envelope(
      ContentionLabel.medianOf(perQueryCal.values.toSeq))
    val resultsMap = scala.collection.mutable.LinkedHashMap(results: _*)
    val retried = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    locally {
      val byName = Registry.headline.map(q => q.name -> q).toMap
      perQueryCal.filter { case (n, c) =>
        c > calEnvelope && byName.contains(n) &&
          resultsMap.get(n).exists(_.nonEmpty)
      }.keys.toSeq.foreach { name =>
        val probe = probeOnce()
        if (probe <= calEnvelope) {
          val q = byName(name)
          val runs = timed(name, () => scoped(q.run(spark, sfDir).count()))
          if (runs.forall(_._1.isDefined)) {
            retried(name) = perQueryCal(name)
            resultsMap(name) = record(name, runs)
            perQueryCal(name) = probe
          }
        }
      }
    }

    // measured host-steal fraction over the whole run (always emitted raw;
    // the verdict flags it only above ContentionLabel.StealCeiling)
    val stealPct: Option[Double] = for {
      (s0, t0) <- steal0
      (s1, t1) <- ContentionLabel.procStatSteal()
      if t1 > t0
    } yield (s1 - s0).toDouble / (t1 - t0)

    // Whole-run contention verdict — OR of five independent detectors
    // (ContentionLabel scaladoc has the r16 failure analysis): the envelope
    // alone is self-referential and fails open under uniform load, so the
    // verdict also reads per-query run spread at EVERY tier, probe-series
    // non-stationarity, an absolute fence against the PREVIOUS committed
    // line's mins, and a sustained median-probe ceiling.
    val verdict = ContentionLabel.label(
      perQueryCal.toSeq,
      Seq(calFirst, calAnn, calApply, calLast),
      (resultsMap.toSeq ++ annResults ++ applyResults) ++
        sf1Walls.toSeq.map { case (k, v) => (s"sf1:$k", v) },
      (resultsMap.toSeq ++ annResults ++ applyResults)
        .filter(_._2.nonEmpty).map { case (k, t) => k -> t.min } ++
        sf1Min.toSeq.map { case (k, v) => (s"sf1:$k", v) },
      prevMins,
      stealFrac = stealPct)
    val medianCal = verdict.medianCal

    // "total" stays the ROUND-COMPARABLE sum over the headline registry
    // only (ANN/apply ride in their own totals), now as SUM OF MINS — the
    // contention-resistant statistic; medians live in the detail file.
    // Partial failures (1-2 of 3 runs threw) are EXCLUDED from "total" and
    // counted in `n_partial`; their surviving timings still appear in the
    // per-query map for diagnosis.
    val all = (resultsMap.toSeq ++ annResults ++ applyResults).filter(_._2.nonEmpty)
    val qsMin = all.map { case (k, t) => "\"" + k + "\":" + r3(t.head) }
      .mkString("{", ",", "}")
    val clean = resultsMap.toSeq.filter(_._2.size == 3)
    val nPartial = resultsMap.count(r => r._2.nonEmpty && r._2.size < 3)
    val total = clean.map(_._2.head).sum
    val annTotal = annResults.filter(_._2.nonEmpty).map(_._2.head).sum
    val applyTotal = applyResults.filter(_._2.nonEmpty).map(_._2.head).sum
    val errJson = errors.map { case (k, v) =>
      JsonText.quote(k) + ":" + JsonText.quote(v)
    }.mkString("{", ",", "}")
    // Per-query contention flags: the probe preceding a query's window
    // exceeded the envelope → that window's numbers are load-poisoned and
    // say so on the line. Idle run: empty. `contended` is the FULL
    // ContentionLabel verdict, plus sf1's per-run cpu-spread signal (cpu
    // spread is measured where walls can stay flat under cpu escalation —
    // the r16 m_lstm case that only sf1_unstable caught).
    val flagged = verdict.flagged
    val flaggedJson = flagged.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val contended = verdict.contended || sf1Unstable.nonEmpty
    val unstableJson = verdict.unstable.map { case (k, ts) =>
      "\"" + k + "\":" + ts.map(r3).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val driftJson = verdict.calDrift
      .map(_.map(r3).mkString("[", ",", "]")).getOrElse("null")
    val fenceJson = verdict.fence.map { case (k, cur, prev) =>
      "\"" + k + "\":[" + r3(cur) + "," + r3(prev) + "]"
    }.mkString("{", ",", "}")
    val sustainedJson = verdict.sustainedCal.map(r3).getOrElse("null")
    // the raw measured fraction (adjudication data even when under the
    // ceiling); verdict.steal is the FLAG form and feeds `contended`
    val stealJson = stealPct
      .map(s => String.format(java.util.Locale.ROOT, "%.4f", Double.box(s)))
      .getOrElse("null")
    val burstJson = burstFactor.map(r3).getOrElse("null")
    val shuffleMb = perQueryShuffle.values.sum / 1048576.0

    // Full-fidelity sidecar: medians, per-query calibration, per-query
    // shuffle bytes — everything too wide for the emitted line.
    val detail = {
      val qsMed = all.map { case (k, t) => "\"" + k + "\":" + r3(median(t)) }
        .mkString("{", ",", "}")
      val calJson = perQueryCal.map { case (k, v) => "\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
      val shJson = perQueryShuffle.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      def dmap(mm: scala.collection.Map[String, Double]) =
        mm.map { case (k, v) => "\"" + k + "\":" + r3(v) }
          .mkString("{", ",", "}")
      val sf1Sh = sf1Shuffle.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val sf1RunsJson = sf1Runs.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val sf1Json = s"""{"dir":${JsonText.quote(sf1Dir)},""" +
        s""""queries_min":${dmap(sf1Min)},"queries_median":${dmap(sf1Med)},""" +
        s""""shuffle_bytes":$sf1Sh,"cpu_s":${dmap(sf1Cpu)},""" +
        s""""runs":$sf1RunsJson}"""
      // cpu_s: executor-CPU seconds over the query's 3 timed runs — the
      // box-speed-invariant per-query number round-over-round compares
      // should read first (wall time needs the calibration ratio)
      s"""{"sf":"$sfDir","stat_line":"min_of_3","queries_min":$qsMin,""" +
        s""""queries_median":$qsMed,"cal_s":$calJson,"shuffle_bytes":$shJson,""" +
        s""""cpu_s":${dmap(perQueryCpu)},"burst_factor":$burstJson,""" +
        s""""sf1":$sf1Json,"errors":$errJson,"cal_envelope":${r3(verdict.envelope)},""" +
        // the full contention verdict rides the sidecar too, so bench_diff
        // can auto-class a poisoned run's queries without the emitted line
        s""""verdict":{"contended":$contended,"flagged":$flaggedJson,""" +
        s""""unstable":$unstableJson,"cal_drift":$driftJson,""" +
        s""""fence":$fenceJson,"sustained_cal":$sustainedJson,""" +
        s""""steal_pct":$stealJson,""" +
        s""""sf1_unstable":${sf1Unstable.map { case (k, v) =>
          "\"" + k + "\":" + v }.mkString("{", ",", "}")}}}"""
    }
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }

    // Tail-critical ordering: everything an adjudicator needs sits in the
    // LAST fields of the object, so a bounded tail capture still has the
    // totals, failure counts, calibration, and contention verdict even if
    // the head is cut.
    val line =
      s"""{"metric":"total","unit":"sec","stat":"min_of_3","sf":"$sfDir",""" +
        s""""queries_min":$qsMin,"errors":$errJson,""" +
        s""""ann_search_total":${r3(annTotal)},"bpe_apply_total":${r3(applyTotal)},""" +
        s""""shuffle_mb":${String.format(java.util.Locale.ROOT, "%.1f",
          Double.box(shuffleMb))},""" +
        s""""n_queries":${clean.size},"n_failed":${Registry.headline.size - clean.size - nPartial},""" +
        s""""n_partial":$nPartial,""" +
        s""""sf1_total":${r3(sf1Min.values.sum)},"sf1_n":${sf1Min.size},""" +
        s""""sf1_unstable":${sf1Unstable.map { case (k, v) =>
          "\"" + k + "\":" + v }.mkString("{", ",", "}")},""" +
        s""""cpu_total_s":${r3(perQueryCpu.values.sum)},""" +
        s""""burst_factor":$burstJson,""" +
        s""""calibration":{"first":${r3(calFirst)},"ann":${r3(calAnn)},"apply":${r3(calApply)},"last":${r3(calLast)},"median":${r3(medianCal)},"envelope":${r3(verdict.envelope)}},""" +
        s""""retried":${retried.map { case (k, v) =>
          "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")},""" +
        s""""warm":"plateau","warm_runs":$plateauWarmRuns,""" +
        s""""unstable":$unstableJson,"cal_drift":$driftJson,""" +
        s""""fence":$fenceJson,"sustained_cal":$sustainedJson,""" +
        s""""steal_pct":$stealJson,""" +
        s""""flagged":$flaggedJson,"contended":$contended,"value":${r3(total)}}"""
    if (line.length > 1900)
      System.err.println(s"[bench] emitted line ${line.length} chars — may exceed capture window")
    println(line)
    spark.stop()
  }
}
