package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Approximate-sketch operators and the SQL front-end entry.
  *
  * The sketch queries have no DuckDB oracle on purpose — HLL/KLL estimates are
  * engine-specific — so the driver records its rows-only check; each carries
  * the exact companion value in the same row so accuracy is auditable.
  * At 100 TB these replace their exact forms: approx_count_distinct is one
  * pass + constant memory vs count(distinct)'s expensive expand/double-agg,
  * and percentile_approx avoids the per-group sort of exact percentile.
  */
object SketchQueries {

  /** Shared ANSI text runnable by BOTH Spark SQL and DuckDB — demonstrates the
    * spark.sql() entry point; the oracle is literally the same string. */
  private val revenueSql =
    """SELECT l_orderkey,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
      |    AS revenue,
      |  CAST(COUNT(*) AS BIGINT) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderstatus = 'O'
      |GROUP BY l_orderkey
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 20""".stripMargin

  /** Correlated scalar subquery — identical text on both engines. */
  private val correlatedScalarSql =
    """SELECT o_orderkey,
      |  (SELECT CAST(MAX(l_quantity) AS DOUBLE) FROM lineitem
      |   WHERE l_orderkey = o_orderkey) AS max_qty
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Correlated LATERAL subquery with per-row top-2 — identical text. */
  private val lateralSql =
    """SELECT o_orderkey, l.l_linenumber, l.l_quantity
      |FROM orders, LATERAL (
      |  SELECT l_linenumber, l_quantity FROM lineitem
      |  WHERE l_orderkey = o_orderkey
      |  ORDER BY l_quantity DESC, l_linenumber LIMIT 2) l
      |ORDER BY o_orderkey, l.l_quantity DESC, l.l_linenumber""".stripMargin

  private def viaSql(sql: String) = (s: org.apache.spark.sql.SparkSession, dir: String) => {
    Seq("lineitem", "orders").foreach(t =>
      Tables.read(s, dir, t).createOrReplaceTempView(t))
    s.sql(sql)
  }

  /** Correlated EXISTS / NOT EXISTS — identical text on both engines
    * (Catalyst rewrites into semi/anti joins). */
  private val existsSql =
    """SELECT o_orderkey, o_orderstatus,
      |  CASE WHEN EXISTS (SELECT 1 FROM lineitem
      |                    WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
      |       THEN 1 ELSE 0 END AS has_bulk_item
      |FROM orders
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem
      |                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |ORDER BY o_orderkey""".stripMargin

  /** CTE defined once, consumed twice (self-join on adjacent keys) —
    * identical text on both engines. */
  private val cteReuseSql =
    """WITH per_order AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT a.l_orderkey, a.qty, b.qty AS next_qty
      |FROM per_order a JOIN per_order b ON b.l_orderkey = a.l_orderkey + 1
      |ORDER BY a.l_orderkey""".stripMargin

  /** Explicit GROUPING SETS — identical text on both engines. */
  private val groupingSetsSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(COUNT(*) AS BIGINT) AS cnt,
      |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY gid, l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Explicit grouping sets (the general form behind rollup/cube).
    QueryDef("sql_grouping_sets", viaSql(groupingSetsSql), Some(groupingSetsSql)),

    // Correlated scalar subquery (Catalyst decorrelates it into an aggregate
    // + left join — SURVEY §4's "subquery decorrelation" row, exercised).
    QueryDef("sql_correlated_scalar", viaSql(correlatedScalarSql),
      Some(correlatedScalarSql)),

    // Correlated LATERAL join with per-row ORDER BY ... LIMIT.
    QueryDef("sql_lateral_topk", viaSql(lateralSql), Some(lateralSql)),

    // Correlated EXISTS in a projection + NOT EXISTS in the filter
    // (semi/anti-join decorrelation, both positions).
    QueryDef("sql_exists", viaSql(existsSql), Some(existsSql)),

    // CTE reuse (WITH consumed twice).
    QueryDef("sql_cte_reuse", viaSql(cteReuseSql), Some(cteReuseSql)),

    QueryDef(
      "a_approx_distinct",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(
            approx_count_distinct(col("l_partkey")).as("approx_parts"),
            countDistinct(col("l_partkey")).as("exact_parts"))
          .orderBy("l_returnflag"),
      None),

    QueryDef(
      "a_approx_quantiles",
      (s, dir) => {
        // the exact audit column comes from the order-statistics operator —
        // the builtin's per-group value→count map over a high-distinct
        // column is the a_percentiles OOM shape
        val approx = Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("approx_median"))
        val exact = graft.operators.Percentiles
          .exactByGroup(Tables.lineitem(s, dir), "l_returnflag",
            "l_extendedprice", Seq(0.5))
          .select(col("l_returnflag"), col("value").as("exact_median"))
        approx.join(broadcast(exact), Seq("l_returnflag"))
          .orderBy("l_returnflag")
      },
      None),

    // Mergeable HLL sketches — the 100 TB distinct-count architecture: sketch
    // ONCE per partition (here: per day), persist the ~KB sketches, and answer
    // "distinct users over any day range" by merging sketches instead of
    // rescanning raw data. HLL merge is a register-wise max — associative,
    // commutative, order-independent — so the merged estimate is bit-identical
    // to sketching the union directly (asserted in SketchSpec, with the exact
    // count alongside for accuracy audit).
    QueryDef(
      "a_hll_mergeable",
      (s, dir) => {
        val ev = Tables.eventsUs(s, dir)
          .select(col("user_id"), expr("tus div 86400000000").as("day"))
        val daily = ev.groupBy("day").agg(hll_sketch_agg(col("user_id")).as("sk"))
        val merged = daily.agg(
          count(lit(1)).as("n_days"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_users"))
        val direct = ev.agg(
          hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("direct_users"),
          countDistinct(col("user_id")).as("exact_users"))
        // both sides are one-row aggregates: without the hint AQE builds
        // the nested-loop join on whichever stage finishes first, and each
        // orientation compiles its own classes
        merged.crossJoin(broadcast(direct))
      },
      None),

    // Mergeable Count-Min sketches — the 100 TB heavy-hitter / frequency
    // architecture, the point-count sibling of a_hll_mergeable: sketch ONCE
    // per partition (per day), persist the ~KB sketches, answer "how often
    // did key k occur over any day range" by merging sketches instead of
    // rescanning. CMS merge is counter-wise ADDITION — associative,
    // commutative — so same-seed merged counters are bit-identical to
    // sketching the union directly (asserted in SketchSpec with the
    // one-sided error bound: estimate ≥ exact, ≤ exact + ε·N w.h.p.).
    // The per-day agg is distributed; the merge + top-k probe touch only
    // n_days sketch blobs and k candidate keys — the swap-list-size driver
    // work this package allows by contract.
    QueryDef(
      "a_cms_topk",
      (s, dir) => {
        import org.apache.spark.util.sketch.CountMinSketch
        val ev = Tables.eventsUs(s, dir)
          .select(col("user_id"), expr("tus div 86400000000").as("day"))
        val daily = ev.groupBy("day")
          .agg(count_min_sketch(col("user_id"), lit(0.001), lit(0.99), lit(42))
            .as("cms"))
        val merged = daily.select("cms").collect() // bounded by #days
          .map(r => CountMinSketch.readFrom(r.getAs[Array[Byte]]("cms")))
          .reduce { (a, b) => a.mergeInPlace(b); a }
        // true top-10 by exact count (deterministic tiebreak), probed
        // against the merged sketch
        val top = ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("user_id")).limit(10).collect()
        import s.implicits._
        top.map { r =>
          val uid = r.getAs[Long]("user_id")
          (uid, r.getAs[Long]("exact_n"), merged.estimateCount(uid))
        }.toSeq.toDF("user_id", "exact_n", "cms_n").orderBy("user_id")
      },
      None),

    // Misra–Gries heavy hitters, ORACLE-GATED through its own guarantee:
    // the sketch (one pass, m counters) yields candidate key hashes that
    // PROVABLY cover every key above the error bound; the exact pass then
    // counts ONLY candidate rows (map-side hash filter, ≤ m-key agg state)
    // and keeps those above the threshold. Because candidates ⊇ true heavy
    // hitters, the filtered-exact result IS the true heavy-hitter set —
    // which DuckDB recomputes with a full GROUP BY/HAVING. A green row
    // hash-gates the completeness guarantee itself, cross-engine. The
    // same sketch is what Joins.routed's skew decision reads, in-pass.
    // NULL discipline (both engines): the sketch never sees null keys
    // (hashCol(null) is null and the agg skips it), so the oracle's total
    // is COUNT(event_type) and its groups exclude the NULL group — the
    // threshold and group sets stay aligned even if the fixture gains
    // null event_type rows.
    QueryDef(
      "a_heavy_hitters",
      (s, dir) => {
        import graft.operators.HeavyHitters
        val ev = Tables.eventsUs(s, dir).select(col("event_type"))
        val sk = HeavyHitters.deserialize(
          ev.agg(HeavyHitters.mgAgg(HeavyHitters.hashCol(col("event_type"))))
            .head().getAs[Array[Byte]](0))
        val total = sk.totalItems
        // threshold total/16: comfortably above the n/(m+1) error at m=64
        val cands = sk.candidatesAbove(total / 16)
        require(cands.nonEmpty, "fixture lost its heavy event types")
        ev.filter(col("event_type").isNotNull &&
            xxhash64(col("event_type")).isInCollection(cands))
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * lit(16L) > lit(total))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
             |FROM events
             |WHERE event_type IS NOT NULL
             |GROUP BY event_type
             |HAVING COUNT(*) * 16 > (SELECT COUNT(event_type) FROM events)
             |ORDER BY event_type""".stripMargin)),

    // Mergeable t-digest quantiles — the third leg of the sketch-rollup
    // architecture (HLL = distinct, CMS = frequency, t-digest = quantiles):
    // sketch ONCE per day, answer "p50/p99 over any day range" by MERGING
    // the ~KB digests (tdigestMergeAgg — itself a distributed agg, so the
    // rollup never routes raw data through the driver). Exact percentiles
    // ride alongside for self-audit; TDigestSpec pins the rank-error bound
    // and merged-vs-direct agreement.
    QueryDef(
      "a_tdigest_quantiles",
      (s, dir) => {
        import graft.operators.TDigest
        val ev = Tables.eventsUs(s, dir)
          .select(col("user_id"), expr("tus div 86400000000").as("day"),
            col("value"))
        val daily = ev.groupBy("day")
          .agg(TDigest.tdigestAgg(col("value")).as("td"))
        val merged = daily
          .agg(count(lit(1)).as("n_days"),
            TDigest.tdigestMergeAgg(col("td")).as("td"))
          .select(col("n_days"),
            TDigest.quantileOf(col("td"), 0.5).as("td_p50"),
            TDigest.quantileOf(col("td"), 0.99).as("td_p99"))
        // exact audit quantiles via the builtin: a global `percentile` holds
        // one map entry per DISTINCT value, and events.value is a bounded
        // 2-decimal metric domain (measured: 17,792 distinct at sf0.1 AND at
        // 30× — constant), so the map is ~18k entries at any corpus size.
        // The a_percentiles OOM shape needs an UNBOUNDED value domain
        // (prices, measurements at full precision) — those sites use
        // operators.Percentiles; converting this one cost a 102× bench
        // regression for no scale win (r15 continuation, bench_diff).
        val exact = ev.agg(
          expr("percentile(value, 0.5)").as("exact_p50"),
          expr("percentile(value, 0.99)").as("exact_p99"),
          count(lit(1)).as("n_events"))
        merged.crossJoin(exact)
      },
      None,
      headline = true),

    // Theta-sketch set algebra (operators/Theta): the sketch family's
    // SET-EXPRESSION member — HLL answers union-distinct only (register
    // max); theta sketches retain their hash sample, so two of them also
    // answer INTERSECTION / difference / Jaccard. The pipeline question
    // this models: how much do two corpus halves overlap (= what would
    // dedup remove), estimated from KB-scale sketches before paying for
    // the exact join. Rows-only by design (the estimate is
    // construction-specific); the EXACT distinct/overlap counts ride
    // alongside from one pass over the same data, so the artifact
    // self-audits the estimates, and ThetaSpec pins the error bounds.
    QueryDef(
      "a_theta_overlap",
      (s, dir) => {
        import graft.operators.ThetaSketch
        // two overlapping customer populations: orders from the date
        // halves of the dataset (1995–2001; customers ordering in both
        // halves are the overlap)
        val o = Tables.orders(s, dir)
          .select(col("o_custkey"),
            (col("o_orderdate") >= "1998-01-01").as("late_half"))
        val sketches = o.groupBy("late_half")
          .agg(ThetaSketch.thetaAgg(ThetaSketch.hashCol(col("o_custkey")))
            .as("sk"))
        val a = sketches.filter(col("late_half")).select(col("sk").as("sk_a"))
        val b = sketches.filter(!col("late_half")).select(col("sk").as("sk_b"))
        val est = a.crossJoin(b).select(
          round(ThetaSketch.estimateOf(col("sk_a")), 1).as("est_a"),
          round(ThetaSketch.estimateOf(col("sk_b")), 1).as("est_b"),
          round(ThetaSketch.intersectOf(col("sk_a"), col("sk_b")), 1)
            .as("est_overlap"),
          round(ThetaSketch.jaccardOf(col("sk_a"), col("sk_b")), 4)
            .as("est_jaccard"))
        val exact = o.groupBy("o_custkey")
          .agg(max(when(col("late_half"), 1).otherwise(0)).as("in_a"),
            max(when(!col("late_half"), 1).otherwise(0)).as("in_b"))
          .agg(sum(col("in_a")).as("exact_a"), sum(col("in_b")).as("exact_b"),
            sum(col("in_a") * col("in_b")).as("exact_overlap"))
        est.crossJoin(exact)
      },
      None),

    // Recursive CTE (Spark 4's WITH RECURSIVE): the classic date-spine
    // gap-fill — generate every day offset of 1995 recursively, left-join
    // daily order counts, emit zeros for silent days. Cross-engine text
    // differences: the datediff spelling (Spark 2-arg end/start vs DuckDB
    // 3-arg part/start/end) and Spark's MAX RECURSION LEVEL clause (its
    // default limit is 100 levels; the 365-day spine needs more). The
    // recursion itself is identical.
    QueryDef(
      "sql_recursive_cte",
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("orders")
        s.sql("""WITH RECURSIVE spine(d) MAX RECURSION LEVEL 400 AS (
                |  SELECT 0 UNION ALL SELECT d + 1 FROM spine WHERE d < 364),
                |daily AS (
                |  SELECT CAST(datediff(CAST(o_orderdate AS DATE),
                |                       DATE '1995-01-01') AS INT) AS d,
                |         CAST(COUNT(*) AS BIGINT) AS n
                |  FROM orders
                |  WHERE o_orderdate >= DATE '1995-01-01'
                |    AND o_orderdate <  DATE '1996-01-01'
                |  GROUP BY 1)
                |SELECT s.d, COALESCE(dy.n, CAST(0 AS BIGINT)) AS n
                |FROM spine s LEFT JOIN daily dy ON s.d = dy.d
                |ORDER BY s.d""".stripMargin)
      },
      Some("""WITH RECURSIVE spine(d) AS (
             |  SELECT 0 UNION ALL SELECT d + 1 FROM spine WHERE d < 364),
             |daily AS (
             |  SELECT CAST(datediff('day', DATE '1995-01-01',
             |                       CAST(o_orderdate AS DATE)) AS INT) AS d,
             |         CAST(COUNT(*) AS BIGINT) AS n
             |  FROM orders
             |  WHERE o_orderdate >= DATE '1995-01-01'
             |    AND o_orderdate <  DATE '1996-01-01'
             |  GROUP BY 1)
             |SELECT s.d, COALESCE(dy.n, CAST(0 AS BIGINT)) AS n
             |FROM spine s LEFT JOIN daily dy ON s.d = dy.d
             |ORDER BY s.d""".stripMargin)),

    // The SQL front-end: the engine accepts raw ANSI SQL over registered
    // views; the oracle is the identical query text run by DuckDB.
    QueryDef(
      "sql_entry_revenue",
      (s, dir) => {
        Seq("lineitem", "orders").foreach(t =>
          Tables.read(s, dir, t).createOrReplaceTempView(t))
        s.sql(revenueSql)
      },
      Some(revenueSql)),
  )
}
