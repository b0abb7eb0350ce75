package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan audits (SURVEY §4): the scale-critical plan properties are
  * asserted, not just eyeballed — projection pruning reaches the parquet
  * scan, filters are pushed, dimension joins broadcast.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executedPlan(df: DataFrame): SparkPlan = {
    df.count()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def run(name: String): DataFrame =
    Registry.all.find(_.name == name).get.run(spark, dir)

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collectWithSubqueries { case f: FileSourceScanExec => f }

  /** Like [[scans]] but descends through AQE stage wrappers — a materialized
    * QueryStageExec hides its plan from `children`, so `collect` alone misses
    * every scan below an exchange in an adaptively-executed plan. */
  private def deepScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => deepScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      deepScans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other =>
      (other.children ++ other.subqueries).flatMap(deepScans)
  }

  test("p1_projection: scan reads exactly the projected columns") {
    val s = scans(executedPlan(run("p1_projection")))
    assert(s.nonEmpty)
    assert(s.head.requiredSchema.fieldNames.toSet ===
      Set("l_orderkey", "l_linenumber", "l_quantity"))
  }

  test("p2_filter_eq: equality predicate is pushed to the parquet scan") {
    val s = scans(executedPlan(run("p2_filter_eq")))
    assert(s.head.dataFilters.map(_.toString).mkString
      .contains("l_returnflag"))
    assert(s.head.metadata("PushedFilters").contains("EqualTo(l_returnflag,R)"))
  }

  test("j_star_chain: every dimension joins via broadcast") {
    val plan = executedPlan(run("j_star_chain"))
    val joins = plan.collectWithSubqueries {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(joins.size >= 3, s"expected >=3 broadcast joins, got ${joins.size}")
    val smj = plan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s
    }
    assert(smj.isEmpty, "dimension chain should not sort-merge at this scale")
  }

  test("j_star_chain_bucketed: the fact-fact merge join has NO exchange and " +
      "NO sort beneath it") {
    // The bucketed variant's entire reason to exist: both facts were
    // written bucketed+sorted on the order key (one file per bucket), so
    // the pinned MERGE join must consume the layout as-is — a Sort or
    // ShuffleExchange under it means the write-time layout was wasted.
    val plan = executedPlan(run("j_star_chain_bucketed"))
    def descend(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: descend(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: descend(q.plan)
      case other => p +: (other.children ++ other.subqueries).flatMap(descend)
    }
    val smj = descend(plan).collect {
      case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s
    }
    assert(smj.size === 1, s"expected the pinned fact-fact merge, got ${smj.size}")
    val below = smj.head.children.flatMap(descend)
    val bad = below.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(bad.isEmpty,
      s"bucketed layout not consumed: ${bad.map(_.nodeName).mkString(", ")}")
  }

  test("Packing.pack: running-sum window is partitioned, never one global partition") {
    import org.apache.spark.sql.functions._
    val docs = spark.range(1000)
      .select(col("id").as("doc_id"), (col("id") % 40 + 1).as("n_tok"))
    val plan = executedPlan(
      graft.operators.Packing.pack(docs, "doc_id", "n_tok", 512, 8))
    val windows = plan.collectWithSubqueries {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "empty partitionSpec would serialize the corpus through one task")
  }

  test("Sampling.mixture: map-side only — no shuffle exchange in the plan") {
    import org.apache.spark.sql.functions._
    val docs = spark.range(1000)
      .select(col("id"), concat(lit("src"), col("id") % 4).as("source"))
    val plan = executedPlan(graft.operators.Sampling.mixture(
      docs, "id", "source", Map("src0" -> 500), defaultRate = 100))
    val exchanges = plan.collectWithSubqueries {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, "mixture sampling must not shuffle")
  }

  test("bucketed ANN (single + multiprobe): candidates come from an " +
    "equi-join on the bucket key, no pairwise enumeration") {
    Seq("s_lsh_knn", "s_lsh_knn_multiprobe").foreach { name =>
      val plan = executedPlan(run(name))
      val loops = plan.collectWithSubqueries {
        case n: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => n
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      assert(loops.isEmpty,
        s"$name must not enumerate pairs: ${loops.map(_.nodeName)}")
      val hashJoins = plan.collectWithSubqueries {
        case h: org.apache.spark.sql.execution.joins.HashJoin => h
      }
      assert(hashJoins.nonEmpty, s"$name: expected a hash equi-join on bucket")
      assert(hashJoins.exists(_.leftKeys.exists(_.toString.contains("bucket"))),
        s"$name: corpus join must key on bucket, got keys: " +
          hashJoins.map(j => j.leftKeys.mkString("[", ",", "]")).mkString(" "))
    }
  }

  test("j_star_chain_bucketed: the fact-fact join subtree has no exchange " +
    "and no sort") {
    // force the fact join to actually join (no auto-broadcast of orders);
    // restore the PRIOR values, not hard-coded defaults, so a suite-level
    // configuration survives this test (round-9 ADVICE)
    val bcastKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val bcastSaved = bcastKeys.map(k => k -> spark.conf.getOption(k))
    bcastKeys.foreach(spark.conf.set(_, "-1"))
    try {
      val plan = executedPlan(run("j_star_chain_bucketed"))
      def descend(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => descend(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => descend(q.plan)
        case other => other.children.flatMap(descend)
      })
      val nodes = descend(plan)
      val factJoin = nodes.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.leftKeys.exists(_.toString.contains("orderkey")) => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
          if j.leftKeys.exists(_.toString.contains("orderkey")) => j
      }
      assert(factJoin.nonEmpty, s"no fact join on orderkey found")
      val subtree = descend(factJoin.get)
      val exchanges = subtree.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(exchanges.isEmpty,
        "co-bucketed fact join must not exchange either side")
      val sorts = subtree.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }
      assert(sorts.isEmpty,
        "write-time sortBy must also eliminate both join sorts")
    } finally {
      bcastSaved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
  }

  test("PageRank iteration is co-partitioned: <=1 data shuffle per round, " +
    "surviving the per-round checkpoint cut") {
    import org.apache.spark.sql.functions._
    val edges = spark.range(400).selectExpr(
      "concat('n', id % 37) AS src", "concat('n', (id * 7) % 41) AS dst")
    // at scale neither side broadcasts — prove the co-partitioning claim,
    // not a toy-size broadcast plan. Saved/restored, not reset to defaults.
    val bcastKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val bcastSaved = bcastKeys.map(k => k -> spark.conf.getOption(k))
    bcastKeys.foreach(spark.conf.set(_, "-1"))
    val (stateBase, eP, n) = graft.operators.PageRank.prepare(edges)
    try {
      def descend(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => descend(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => descend(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => descend(r.child)
        case other => other.children.flatMap(descend)
      })
      // "data" shuffles = everything except the 1-row dangling global agg
      // (SinglePartition) — that one moves O(partitions) longs, not data
      def dataShuffles(df: DataFrame): Seq[SparkPlan] = {
        df.count()
        descend(df.queryExecution.executedPlan).collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
            if !e.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.SinglePartition.type] => e
        }
      }
      val r0 = stateBase.withColumn("r_mc",
        round(lit(graft.operators.PageRank.Unit.toDouble) / n).cast("long"))
      val s1 = graft.operators.PageRank.step(stateBase, r0, eP, n.toDouble, 0.85)
      val round1 = dataShuffles(s1)
      assert(round1.size <= 1,
        s"round 1 must shuffle only the in-sum groupBy, got ${round1.size}: " +
          round1.map(_.nodeName).mkString(", "))
      // after a lineage cut (as run() does every round) the captured
      // partitioning must still make the next round's joins exchange-free.
      // Cut a FRESH step frame: dataShuffles() above already planned s1
      // under AQE and QueryExecution caches its physical plan — run()
      // always cuts never-executed frames, so mirror that here
      val cp = graft.operators.PageRank.cut(
        graft.operators.PageRank.step(stateBase, r0, eP, n.toDouble, 0.85))
      try {
        val round2 = dataShuffles(
          graft.operators.PageRank.step(stateBase, cp, eP, n.toDouble, 0.85))
        assert(round2.size <= 1,
          s"post-cut round must keep co-partitioning, got ${round2.size}: " +
            round2.map(_.nodeName).mkString(", "))
      } finally graft.Checkpoints.release(cp)
    } finally {
      Seq(stateBase, eP).foreach(graft.Checkpoints.release)
      bcastSaved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
  }

  test("disk IVF-PQ: probe path prunes cell directories; results match " +
    "the in-memory index") {
    import org.apache.spark.sql.functions._
    import graft.operators.IvfPq
    val vecs = graft.sources.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
    val idx = IvfPq.build(vecs, dim = 64, nLists = 8)
    val path = java.nio.file.Files.createTempDirectory("ivfpq").toString + "/ix"
    try {
      IvfPq.writeIndex(idx, path)
      val disk = IvfPq.readIndex(spark, path)
      val queries = vecs.orderBy("vec_id").limit(2)

      def rows(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val mem = IvfPq.search(idx, queries, kNN = 5, nProbe = 2)
      val pruned = IvfPq.search(disk, queries, kNN = 5, nProbe = 2,
        pruneCellScan = true)
      assert(rows(pruned) === rows(mem), "disk layout must serve the same " +
        "neighbors as the in-memory index")

      // the codes scans carry a partition filter and read a strict subset
      // of the cell directories (2 queries x 2 probes <= 4 of 8 cells)
      val codeScans = deepScans(executedPlan(pruned)).filter(
        _.relation.location.rootPaths.exists(_.toString.contains("codes")))
      assert(codeScans.nonEmpty, "expected file scans over the codes layout")
      codeScans.foreach(sc => assert(sc.partitionFilters.nonEmpty,
        s"codes scan missing partition filter: ${sc.metadata}"))
      val totalFiles = spark.read.parquet(s"$path/codes").inputFiles.length
      val readFiles = codeScans.map(_.metrics("numFiles").value).max
      assert(readFiles < totalFiles,
        s"expected directory pruning: read $readFiles of $totalFiles files")
    } finally graft.Checkpoints.release(idx.encoded)
  }

  test("q1_pricing_summary: scan prunes to the 6 referenced columns") {
    val s = scans(executedPlan(run("q1_pricing_summary")))
    assert(s.head.requiredSchema.fieldNames.toSet ===
      Set("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax"))
  }

  test("d_contamination: hash prefilter broadcasts; no sort-merge or cartesian") {
    val plan = executedPlan(run("d_contamination"))
    // the corpus gram-hash stream must probe BROADCAST bench sides (both the
    // hash set and the verify grams) — a sort-merge would shuffle every
    // corpus gram, a nested loop would be the all-pairs shape this query
    // exists to avoid
    val bhj = plan.collectWithSubqueries {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.size >= 2, s"expected >=2 broadcast hash joins, got ${bhj.size}")
    val bad = plan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s
      case n: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => n
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(bad.isEmpty, s"scale-hostile join in the plan: ${bad.map(_.nodeName)}")
  }

  test("composed lake path: file skipping + bloom probe, exact vs the plain join") {
    // l_pruned_bloom_join's composition on a MULTI-file layout (the shipped
    // testdata is one file per table, where file pruning is inert by
    // construction): the orders scan must open a subset of the files, the
    // explicit bloom membership probe (xxhash64) must sit in the plan ahead
    // of the join, and the result must equal the plain range-filtered join.
    import graft.sources.{FileSkipping, Tables}
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("lake_compose").toString
    val path = s"$tmp/orders.parquet"
    Tables.orders(spark, dir)
      .repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.parquet(path)
    val dim = Tables.customer(spark, dir)
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val facts = FileSkipping.readPruned(spark, path, "o_orderkey", 300L, 900L)
    val composed = graft.operators.BloomJoin
      .inner(facts, dim, "o_custkey", "c_custkey")
    val plan = executedPlan(composed)
    val orderScans = scans(plan).filter(
      _.requiredSchema.fieldNames.contains("o_custkey"))
    assert(orderScans.nonEmpty, "no orders scan in the plan")
    val readFiles = orderScans.map(_.relation.location.inputFiles.length).sum
    assert(readFiles < 8, s"file skipping inert: scan reads $readFiles of 8 files")
    assert(plan.toString.contains("xxhash64"),
      "bloom membership probe missing from the physical plan")
    val plain = spark.read.parquet(path)
      .where(col("o_orderkey").between(300L, 900L))
      .join(dim, col("o_custkey") === col("c_custkey"), "inner")
    assert(composed.count() === plain.count())
  }

  test("routed join: each regime's physical shape actually engages") {
    import graft.operators.Joins
    import graft.operators.Joins.RouteConfig
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    val orders = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir).filter(col("c_nationkey") === 1)
    def route(cfg: RouteConfig, want: String) = {
      val rj = Joins.routed(orders, cust,
        Seq("o_custkey"), Seq("c_custkey"), cfg)
      assert(rj.decision.strategy === want, rj.decision.reason)
      executedPlan(rj.df)
    }
    // broadcast regime: the join must BE a broadcast hash join
    val bPlan = route(RouteConfig(), "broadcast")
    def descend(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => descend(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        descend(q.plan)
      case other => other.children.flatMap(descend)
    })
    assert(descend(bPlan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "broadcast regime did not plan a BroadcastHashJoinExec")
    // salted regime: the salt must be IN the join keys (visible in the
    // physical condition/partitioning, even though it is dropped after)
    val sPlan = route(RouteConfig(broadcastMaxRows = 0, skewHotFraction = 0.0),
      "salted")
    assert(descend(sPlan).map(_.toString).exists(_.contains("__route_salt")),
      "salted regime's salt column never reached the physical join")
    // bloom regime: the big side must carry the membership probe (the
    // xxhash64 -> shiftright word test) as a filter BEFORE the join
    val fPlan = route(RouteConfig(broadcastMaxRows = 0, skewHotFraction = 1.1,
      bloomMaxMatchFraction = 1.0), "bloom")
    val probe = descend(fPlan).collect {
      case f: org.apache.spark.sql.execution.FilterExec => f.toString
    }
    assert(probe.exists(s => s.contains("xxhash64") && s.contains("bloom_bit_test")
      && s.contains("o_custkey")),
      "bloom regime's membership probe is not a filter on the big side")
  }

  test("t_bigram_lm: single stream derivation, lp broadcast, no sort-merge") {
    // Round-13 hardening (r12 VERDICT #2): the scoring job must (a) derive
    // the exploded bigram stream exactly ONCE — the pair/ctx/vocab stats
    // come from the LocalRelation pin, not re-explosions — (b) probe lp via
    // BROADCAST hash join (AQE stats once degraded this to a full-stream
    // string-pair sort-merge: the 25× sf1 cpu blowup), and (c) contain no
    // sort-merge join anywhere.
    val plan = executedPlan(run("t_bigram_lm"))
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: nodes(q.plan)
      case other => p +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val all = nodes(plan)
    val gens = all.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(gens.size === 1,
      s"scoring job must explode the corpus exactly once, got ${gens.size}")
    val smj = all.collect { case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s }
    assert(smj.isEmpty, "sort-merge join crept back into the LM scoring plan")
    val bhj = all.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    // r15: the scoring probe keys on ONE long (the rolling gram hash,
    // injectivity driver-verified on the pinned pair table) instead of the
    // two string keys — assert the hash-keyed broadcast probe, and that
    // the long key genuinely replaced the string pair
    val probe = bhj.filter(_.leftKeys.size == 1)
    assert(probe.nonEmpty,
      "the gram-hash scoring probe must be a broadcast hash join on one key")
    assert(probe.exists(_.leftKeys.head.dataType ==
      org.apache.spark.sql.types.LongType),
      "the scoring probe key must be the LONG gram hash, not a string pair")
    val pins = all.collect {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l
    }
    assert(pins.nonEmpty, "pair-table LocalRelation pin missing from the plan")
  }

  test("runtime bloom-filter pruning reaches the fact scan on shuffle joins") {
    // When a fact-dim join is too big to broadcast, Spark's runtime row-level
    // filtering builds a bloom filter from the SELECTIVE dim side and probes
    // it on the fact side BEFORE the shuffle — at 100 TB this prunes most
    // fact rows pre-exchange. Assert the engine's session config leaves this
    // path reachable: with broadcast disabled, the selective-dim join must
    // show might_contain on the fact side.
    import graft.sources.Tables
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      // test-scale thresholds: the sf0.001 fact side is far below the 10 GB
      // production default, so lower the application-side gate to zero and
      // force the shuffle-join regime broadcast would otherwise pre-empt
      spark.conf.set(keys(0), "0")
      spark.conf.set(keys(1), "-1")
      spark.conf.set(keys(2), "-1")
      val part = Tables.part(spark, dir).filter(col("p_brand") === "Brand#13")
      val li = Tables.lineitem(spark, dir)
      val j = li.join(part, li("l_partkey") === part("p_partkey"))
        .groupBy("p_brand").agg(sum("l_quantity").as("qty"))
      val plan = executedPlan(j) // executes once (count inside)
      val pruned = plan.toString.linesIterator.exists(l =>
        l.contains("might_contain") && l.contains("l_partkey"))
      assert(pruned,
        "expected a bloom-filter might_contain probe on the fact join key")
    } finally saved.foreach { case (k, v) =>
      v match {
        case Some(x) => spark.conf.set(k, x)
        case None => spark.conf.unset(k)
      }
    }
  }
}
