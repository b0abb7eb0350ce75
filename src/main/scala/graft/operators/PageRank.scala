package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Checkpoints.{pin, release, scoped}

/** Fixed-iteration PageRank over an edge list — the canonical iterative
  * graph centrality, run as K co-partitioned rounds of join + aggregate.
  *
  * r_{k+1}(v) = (1−d)/N + d · ( Σ_{u→v} r_k(u)/outdeg(u) + dangling_k/N )
  *
  * with dangling mass (rank held by nodes without out-edges) redistributed
  * uniformly. Multi-edges contribute once per edge (multigraph semantics);
  * self-loops are ordinary edges.
  *
  * Determinism — FIXED-POINT pico-units: ranks are exact BIGINTs (1e12 =
  * total mass), so the order-dependent floating sums of a naive PageRank
  * become exact integer additions, and the only inexact steps are double
  * DIVISIONS of identical inputs (correctly rounded, so bit-identical on
  * any engine) followed by round-to-integer — the one rounding primitive
  * DuckDB and the JVM agree on for every double (no pre-multiply, unlike
  * round-to-k-decimals; the sf1 t_unigram_lm finding). At a fixed K the
  * result is bit-stable across partitionings and engines — the
  * `e_pagerank_types` oracle mirrors the iteration as unrolled DuckDB CTEs
  * and hash-matches with NO rounding tolerance. Per-round drift from the
  * integer rounding is ≤ N/2 + 1 pico (Σ ranks stays 1 ± 1e-6 for any
  * realistic N; spec-asserted).
  *
  * Scale — CO-PARTITIONED ITERATION (the GraphX / Pregel layout, expressed
  * in DataFrames): `prepare` partitions the edge list by `src` ONCE and
  * folds the static out-degree into the rank state keyed (and partitioned)
  * by `node`, both with an explicit pinned partition count. Every round's
  * contribution join (state.node = edges.src) and rank-update join
  * (stateBase.node = inSums.node) then align partitioner-for-partitioner
  * and EnsureRequirements inserts NO exchange for them; the only per-round
  * shuffles are the in-sum groupBy on `dst` (the irreducible one — rank
  * mass genuinely moves from src-space to dst-space) and the 1-row global
  * dangling sum. At 100 TB graph scale that is the difference between one
  * network pass per round and three.
  *
  * Every held frame is a pin (`graft.Checkpoints`). The collapsed pair
  * list is a plain pin: nothing downstream needs its layout. The static
  * frames (`stateBase`, `eP`) and the iterated state, materialized EVERY
  * round (the Pregel superstep shape), go through `cut`: a pin taken with
  * AQE scoped off. Under AQE, `Dataset.localCheckpoint` would capture
  * `AdaptiveSparkPlanExec`'s `outputPartitioning` (`UnknownPartitioning`),
  * so the frame would forget its layout and every downstream join would
  * re-shuffle it; with AQE off it captures the hash partitioning, and the
  * round runs as one pipelined job instead of a fan of
  * individually-scheduled KB-sized AQE stages. Lazy multi-round chains
  * were measured strictly slower (the doubled `state` reference makes the
  * logical tree grow 2^rounds between cuts, and the driver re-analysis
  * dwarfs the cut jobs). `run` also scopes `spark.sql.shuffle.partitions`
  * to a data-sized count so the per-round aggregation lands on the SAME
  * partitioning as the cut joins. `PlanAuditSpec` pins exchanges/round ≤ 1
  * over the cut static frames and across the per-round cut.
  */
object PageRank {

  val Unit: Long = 1_000_000_000_000L // pico-units of rank mass

  /** Below these, the iteration runs DRIVER-LOCAL (see [[runScoped]]): the
    * collapsed inputs are |V| state rows and ≤|V|² weighted pairs — for an
    * event-type transition graph that is dozens of rows no matter how many
    * petabytes of events produced them, and a 49-stage distributed
    * iteration over it is pure scheduling latency (profiled: ~0.8 executor-
    * CPU-s against 2.4 s wall, the rest inter-stage gaps). The heavy part —
    * collapsing O(|E|) raw edges to weighted pairs — is always distributed. */
  val SmallGraphMaxNodes: Int = 4096
  val SmallGraphMaxPairs: Long = 1L << 18

  /** @param edges (src, dst) rows; column names configurable
    * @param localMaxNodes node-count threshold for the driver-local
    *        iteration (bit-identical to the distributed path — spec-pinned);
    *        pass 0 to force the distributed iteration
    * @return (node, rank) for every node appearing as src or dst, rank in
    *         [0, 1] doubles summing to ~1 */
  def run(edges: DataFrame, iterations: Int, damping: Double = 0.85,
      srcCol: String = "src", dstCol: String = "dst",
      localMaxNodes: Int = SmallGraphMaxNodes): DataFrame =
    runBounded(edges, iterations, damping, srcCol, dstCol, tol = None,
      localMaxNodes)._1

  /** [[run]] with CONVERGENCE-BASED termination: iterate until the L1 rank
    * delta between consecutive rounds drops to `tol` or below (rank-mass
    * units — e.g. 1e-6 means "less than a millionth of the total rank moved
    * this round"), capped at `maxIterations`. At 100 TB nobody runs a fixed
    * K: a fast-mixing graph converges in a handful of rounds and a
    * power-law one needs the cap. The delta is an exact BIGINT sum in
    * pico-units over the node-co-partitioned join of consecutive states —
    * one extra exchange-free join + 1-row agg per round, so the check costs
    * a fraction of the round it might save. Returns the ranks and the
    * number of rounds actually run. */
  def runUntilConverged(edges: DataFrame, tol: Double, maxIterations: Int,
      damping: Double = 0.85, srcCol: String = "src",
      dstCol: String = "dst",
      localMaxNodes: Int = SmallGraphMaxNodes): (DataFrame, Int) = {
    require(tol > 0, s"tol must be > 0, got $tol")
    runBounded(edges, maxIterations, damping, srcCol, dstCol, Some(tol),
      localMaxNodes)
  }

  private def runBounded(edges: DataFrame, iterations: Int, damping: Double,
      srcCol: String, dstCol: String, tol: Option[Double],
      localMaxNodes: Int): (DataFrame, Int) = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    // The iteration scopes session confs (a data-sized shuffle-partition
    // count here; AQE off inside `cut`): the per-round groupBy takes its
    // partition count from the conf, and it must EQUAL the pinned join
    // partitioning or EnsureRequirements re-shuffles one side every round.
    // Those confs are session-global, so a CONCURRENT query planned on the
    // same session mid-iteration (a streaming micro-batch, most plausibly)
    // would silently pick them up — round 10 guarded this with a hostile
    // require(no active streams). Instead, AUTO-ISOLATE: run the whole
    // iteration on a private `newSession()` (own SQLConf; shared
    // SparkContext and blocks). Runtime conf the caller set is
    // copied across (newSession starts from the SparkConf defaults only).
    // Plans cross the session boundary through GLOBAL temp views — the one
    // public cross-session channel — resolved eagerly on the target
    // session (`table()` analyzes immediately, inlining the view), so the
    // views can be dropped before returning. The result re-rooted into the
    // caller is a LogicalRDD leaf; nothing of the private session leaks.
    val caller = edges.sparkSession
    // COLLAPSE the multigraph on the CALLER's session, before any conf
    // scoping: the collapse is the one O(|E|) pass, and it must run at the
    // caller's data-sized parallelism. The r18 stage profile caught the old
    // shape executing the whole upstream edge pipeline (a window over the
    // full events table, for e_pagerank_types) inside the iteration scope's
    // 1-partition conf — a 420 ms single task where the caller session
    // would have run 32 (plans/r18/e_pagerank_types_before.txt:
    // `Exchange hashpartitioning(user_id, 1)`). Scoped-down partitions are
    // for the ITERATION's metadata-scale frames only.
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // `pairs` is freed when this scope exits: after the local iteration
    // (which runs no Spark job), or once the distributed result is pinned
    scoped {
      val pairs = pin(
        e0.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w")))
      val nPairs = pairs.count()
      // the local path declares its node column as src's type, while the
      // distributed path WIDENS mixed src/dst types via unionByName — so
      // mixed-type edges must take the distributed iteration or the two
      // paths would fork (or createDataFrame would reject the rows)
      val typesAgree = e0.schema("src").dataType == e0.schema("dst").dataType
      val tolPico = tol.map(t => (t * Unit).toLong)
      // SMALL-GRAPH fast path: collect the collapsed pairs (bounded by the
      // gate), derive nodes/degrees on the driver, iterate locally —
      // bit-identical arithmetic (spec-pinned against the distributed
      // path), zero node-layout jobs, zero per-round stages, and no
      // private-session plumbing at all.
      val local =
        if (localMaxNodes > 0 && typesAgree && nPairs <= SmallGraphMaxPairs) {
          val es = pairs.collect()
          val distinctNodes = {
            val s = new java.util.HashSet[Any]()
            es.foreach { r => s.add(r.get(0)); s.add(r.get(1)) }
            s.size()
          }
          Option.when(distinctNodes <= localMaxNodes)(es)
        } else None
      local match {
        case Some(es) =>
          runLocal(caller, es, e0.schema("src").dataType, damping, iterations,
            tolPico)
        case None =>
          // Distributed iteration: isolate its scoped confs on a private
          // session (see the comment block above); the already-collapsed
          // and pinned pair frame crosses via a global temp view, and the
          // iso plan's LogicalRDD leaf reads the same checkpoint blocks.
          val iso = caller.newSession()
          caller.conf.getAll.foreach { case (k, v) =>
            if (iso.conf.isModifiable(k) && iso.conf.getOption(k) != Some(v))
              try iso.conf.set(k, v)
              catch { case _: org.apache.spark.sql.AnalysisException => () }
          }
          val vid = viewIds.incrementAndGet()
          val inView = s"graft_pagerank_in_$vid"
          val outView = s"graft_pagerank_out_$vid"
          try {
            pairs.createOrReplaceGlobalTempView(inView)
            val pIso = iso.table(s"global_temp.$inView")
            iso.conf.set("spark.sql.shuffle.partitions",
              partitionCountFor(pIso).toString)
            val (res, rounds) = runScoped(pIso, iterations, damping, tolPico)
            res.createOrReplaceGlobalTempView(outView)
            (caller.table(s"global_temp.$outView"), rounds)
          } finally {
            caller.catalog.dropGlobalTempView(inView)
            caller.catalog.dropGlobalTempView(outView)
            ()
          }
      }
    }
  }

  /** Unique suffixes for the cross-session handoff views — two concurrent
    * PageRank runs on one application must not clobber each other's. */
  private val viewIds = new java.util.concurrent.atomic.AtomicLong

  /** The distributed iteration, on the ISO session: `pairs` is the
    * already-collapsed (and pinned) weighted pair frame, re-analyzed on
    * the session whose confs are scoped for the iteration (tolPico: the
    * convergence threshold in exact pico-units — floor: any delta strictly
    * below tol·Unit stops; the comparison itself is integer-exact). */
  private def runScoped(pairs: DataFrame, iterations: Int, damping: Double,
      tolPico: Option[Long]): (DataFrame, Int) = scoped {
    // leaving the scope frees stateBase, eP and the final cut, all AFTER
    // the result below is materialized: what remains pinned is exactly one
    // O(|V|) block backing the returned frame
    val (stateBase, eP, n) = prepareFromPairs(pairs,
      pairs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    if (n == 0)
      (pin(stateBase.select(col("node"))
        .withColumn("rank", lit(0.0))), 0)
    else {
      val nD = n.toDouble
      // r0 = round(Unit / N) pico each; deg rides along so no per-round
      // ranks⋈deg join is ever needed
      var state = stateBase.withColumn("r_mc",
        round(lit(Unit.toDouble) / nD).cast("long"))
      var prevCut: Option[DataFrame] = None
      var rounds = 0
      var converged = false
      while (rounds < iterations && !converged) {
        // materialize EVERY round (the Pregel superstep shape): `step` reads
        // `state` twice (dangling + contribs), so a lazily-chained tree would
        // DOUBLE per round — 2^K logical blowup — and even short chains spend
        // more driver time re-analyzing nested copies than the cut job costs.
        // Each round is one flat, pipelined job over LogicalRDD leaves;
        // measured at sf0.1: cut-every-5 ≈ 4.8 s, cut-every-round ≈ 2.2 s.
        val c = cut(step(stateBase, state, eP, nD, damping))
        rounds += 1
        // L1 delta vs the previous round, only when a tolerance is set: both
        // frames are node-partitioned (cut preserves the layout), so this is
        // an exchange-free join + a 1-row agg — exact BIGINT arithmetic, no
        // float drift in the stopping rule itself.
        tolPico.foreach { tp =>
          val d = c.select(col("node"), col("r_mc").as("r_new"))
            .join(state.select(col("node"), col("r_mc").as("r_old")), Seq("node"))
            .agg(coalesce(sum(abs(col("r_new") - col("r_old"))), lit(0L)))
            .head.getLong(0)
          if (d <= tp) converged = true
        }
        // release the superseded round's blocks IMMEDIATELY: round k+1 reads
        // only cut k, so live pinned state stays at 2 × O(|V|), not K ×
        // (eager cut ⇒ cut k is fully materialized before cut k−1 goes)
        prevCut.foreach(release)
        prevCut = Some(c)
        state = c
      }
      (pin(state.select(col("node"),
        (col("r_mc").cast("double") / Unit.toDouble).as("rank"))), rounds)
    }
  }

  /** Spark's `round(double)` (HALF_UP via the canonical
    * `BigDecimal.valueOf` decimal rendering) — the local iteration must use
    * the IDENTICAL rounding primitive or it silently forks from the
    * distributed path and the DuckDB oracle. */
  private def roundHU(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  /** The driver-local iteration: same pico-unit arithmetic as [[step]],
    * operation for operation — long sums (order-free, exact), double
    * divisions of identical operands, [[roundHU]] where the plan has
    * `round(...)`. Input is the COLLECTED collapsed pair list (src, dst, w)
    * — the one O(|E|) pass stays distributed; nodes and degrees derive on
    * the driver, and everything after is O(rounds × pairs) arithmetic on
    * dozens-to-thousands of rows. */
  private def runLocal(spark: org.apache.spark.sql.SparkSession,
      es: Array[org.apache.spark.sql.Row],
      nodeType: org.apache.spark.sql.types.DataType, damping: Double,
      iterations: Int, tolPico: Option[Long]): (DataFrame, Int) = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", nodeType),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.DoubleType)))
    // nodes in first-seen order (src then dst per pair); index for arrays
    val idx = new java.util.LinkedHashMap[Any, Int]()
    es.foreach { r =>
      if (!idx.containsKey(r.get(0))) idx.put(r.get(0), idx.size())
      if (!idx.containsKey(r.get(1))) idx.put(r.get(1), idx.size())
    }
    val n = idx.size()
    if (n == 0)
      return (spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        schema), 0)
    val nodes = new Array[Any](n)
    idx.forEach((k, i) => nodes(i) = k)
    val srcI = es.map(r => idx.get(r.get(0)).intValue())
    val dstI = es.map(r => idx.get(r.get(1)).intValue())
    val w = es.map(_.getLong(2))
    val degArr = new Array[Long](n) // 0 = dangling (deg >= 1 otherwise)
    var e = 0
    while (e < srcI.length) { degArr(srcI(e)) += w(e); e += 1 }

    val nD = n.toDouble
    var r = Array.fill(n)(roundHU(Unit.toDouble / nD))
    val oneMinusD = 1.0 - damping
    var rounds = 0
    var converged = false
    while (rounds < iterations && !converged) {
      var dang = 0L
      var i = 0
      while (i < n) { if (degArr(i) == 0L) dang += r(i); i += 1 }
      val inMc = new Array[Long](n)
      e = 0
      while (e < srcI.length) {
        val u = srcI(e)
        // w * round(r/deg): Divide(long,long) is double division in the plan
        inMc(dstI(e)) += w(e) * roundHU(r(u).toDouble / degArr(u).toDouble)
        e += 1
      }
      val rNew = new Array[Long](n)
      i = 0
      while (i < n) {
        // round((1-d)*Unit/N + d*(in + dang/N)) — same association as step()
        rNew(i) = roundHU(oneMinusD * Unit.toDouble / nD +
          damping * (inMc(i).toDouble + dang.toDouble / nD))
        i += 1
      }
      rounds += 1
      tolPico.foreach { tp =>
        var d = 0L; var j = 0
        while (j < n) { d += math.abs(rNew(j) - r(j)); j += 1 }
        if (d <= tp) converged = true
      }
      r = rNew
    }
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(nodes.zipWithIndex.map { case (nd, i) =>
        org.apache.spark.sql.Row(nd, r(i).toDouble / Unit.toDouble)
      }: _*)
    (spark.createDataFrame(rows, schema), rounds)
  }

  /** Static per-round inputs, built once: `stateBase` = (node, deg-or-null)
    * hash-partitioned by `node`; `eP` = (src, dst, w) hash-partitioned by
    * `src`; both pinned to the session shuffle-partition count (explicit
    * count ⇒ AQE never coalesces a REPARTITION_BY_NUM exchange) so the two
    * per-round joins are exchange-free. Both frames are [[cut]] pins and
    * belong to the caller's scope. Also returns |V|. */
  private[graft] def prepare(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): (DataFrame, DataFrame, Long) = {
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // COLLAPSE the multigraph once: duplicate (src,dst) edges become one
    // weighted edge. Rank-exact, not an approximation — every duplicate
    // contributes the IDENTICAL rounded value round(r_mc/deg), so summing
    // w copies equals w * round(r_mc/deg), and deg = Σw keeps the divisor
    // the raw out-edge count. Event-transition graphs (e_pagerank_types:
    // 10^7 edge rows over ~10 node types at sf1) shrink every round from
    // O(|E|) to O(|distinct pairs|); a simple graph has w=1 everywhere and
    // pays only this one extra upfront exchange, which the iteration
    // amortizes. (Under run() the collapse is the small-path PROBE and its
    // pin is handed to prepareFromPairs directly.)
    scoped {
      val pairs = pin(
        e0.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w")))
      prepareFromPairs(pairs,
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    }
  }

  /** The node-co-partitioned layout from an already-collapsed (and
    * pinned) weighted pair frame. `numP` is the CURRENT session
    * shuffle-partition count — under run() that is the data-sized scoped
    * value — so the explicit repartitions here and every per-round groupBy
    * land on the same partitioning and no round needs a requirement
    * re-shuffle. */
  private def prepareFromPairs(pairs: DataFrame,
      numP: Int): (DataFrame, DataFrame, Long) = {
    val eP = cut(pairs.repartition(numP, col("src")))
    val nodes = eP.select(col("src").as("node"))
      .unionByName(eP.select(col("dst").as("node"))).distinct()
    val deg = eP.groupBy(col("src").as("node")).agg(sum(col("w")).as("deg"))
    val stateBase = cut(nodes.join(deg, Seq("node"), "left")
      .repartition(numP, col("node")))
    (stateBase, eP, stateBase.count())
  }

  /** One power-iteration round. Exchanges: the in-sum groupBy (keyed on
    * dst — the irreducible shuffle; rank mass genuinely moves from
    * src-space to dst-space) and the 1-row dangling rollup — nothing else.
    * Both joins reuse the `prepare` partitioning, and the SHUFFLE_HASH
    * hint on the SMALL side (the rank state / the in-sums) turns them into
    * build-small hash joins: a co-partitioned SMJ would instead re-sort
    * the full edge list every round. (Build-side legality drives the join
    * shapes: Inner can build left, so state⋈edges streams the edges;
    * a state-preserving OUTER join could only build the |E| side, which is
    * why the dangling mass comes from a separate cheap scan of the state
    * rather than one outer-join pass.) Pinned by `PlanAuditSpec`. */
  private[graft] def step(stateBase: DataFrame, state: DataFrame,
      eP: DataFrame, nD: Double, damping: Double): DataFrame = {
    val oneMinusD = 1.0 - damping
    // dangling mass: exact BIGINT sum over nodes with no out-edges
    val dangling = state.filter(col("deg").isNull)
      .agg(coalesce(sum(col("r_mc")), lit(0L)).as("dang_mc"))
    // per-edge contribution: bigint/bigint is true (double) division in
    // both engines; round-to-integer of the identical double is exact
    val contribs = state.filter(col("deg").isNotNull).hint("SHUFFLE_HASH")
      .join(eP, state("node") === eP("src"))
      // w * round(r/deg): the exact sum of w identical per-edge
      // contributions (see prepare's collapse note)
      .select(col("dst").as("node"),
        (col("w") * round(col("r_mc") / col("deg")).cast("long")).as("c_mc"))
    val inSums = contribs.groupBy("node").agg(sum(col("c_mc")).as("in_mc"))
    // explicit broadcast of the 1-row dangling frame: AQE would usually
    // pick it anyway, but plan stability at scale should not depend on a
    // runtime re-plan (same discipline as AsofJoin's span frame)
    stateBase.join(inSums.hint("SHUFFLE_HASH"), Seq("node"), "left")
      .crossJoin(broadcast(dangling))
      .select(col("node"), col("deg"),
        round(lit(oneMinusD) * Unit / nD + lit(damping) *
          (coalesce(col("in_mc"), lit(0L)) + col("dang_mc") / nD))
          .cast("long").as("r_mc"))
  }

  /** Iteration partition count, sized to the edge volume — the same
    * decision AQE's advisory-size coalescing would make at runtime, made
    * ONCE up front, because a pinned count is what keeps every round's
    * joins exchange-free (coalescing a co-partition-feeding shuffle would
    * force a re-shuffle instead). Catalyst's size estimate propagates from
    * the underlying scan; when it is unknown (defaultSizeInBytes) fall
    * back to the session shuffle-partition count. At 100 TB the estimate
    * saturates the session setting; at test scale it stops 32-task stages
    * being launched to move a few KB per round. */
  private def partitionCountFor(e0: DataFrame): Int = {
    val confP = e0.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val targetBytes = BigInt(32L << 20)
    val bytes = e0.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= 0 || bytes >= BigInt(Long.MaxValue)) confP
    else {
      // clamp in BigInt space: a multi-PB estimate narrowed with .toInt
      // would wrap negative and end up at 1 partition
      val quotient = (bytes + targetBytes - 1) / targetBytes
      if (quotient >= BigInt(confP)) confP else quotient.toInt.max(1)
    }
  }

  /** Pin a frame without losing its hash partitioning: an eager
    * localCheckpoint executed with AQE scoped off. Used for the static
    * frames and the per-round state; `PlanAuditSpec` pins the rounds over
    * them at ≤1 data exchange. */
  private[graft] def cut(df: DataFrame): DataFrame = {
    // Scope AQE off for the materialization, for two reasons:
    //  - capture: `localCheckpoint` records the physical plan's
    //    outputPartitioning into its LogicalRDD, and under AQE the
    //    AdaptiveSparkPlanExec wrapper reports UnknownPartitioning — the
    //    cut frame would forget its layout and re-shuffle every round;
    //  - latency: AQE materializes every exchange as its own scheduled
    //    stage; a 5-round chain
    //    is ~90 such stages of a few KB each, all scheduling latency. The
    //    non-adaptive plan pipelines them inside one job.
    // The plans are explicit repartitions and co-partitioned joins over
    // pinned partition counts — exactly the shape AQE would leave alone.
    val conf = df.sparkSession.conf
    val key = "spark.sql.adaptive.enabled"
    val prev = conf.get(key)
    conf.set(key, "false")
    try pin(df) finally conf.set(key, prev)
  }
}
