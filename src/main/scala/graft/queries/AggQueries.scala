package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Checkpoints.pin

/** Aggregation operators (SURVEY §2.4).
  *
  * All double sums go through [[Exact.dsum]]/[[Exact.davg]] so partial-agg order
  * (Spark's map-side combine tree vs DuckDB's sequential fold) cannot change the
  * result. Counts are exact; DuckDB integer sums are CAST to BIGINT to match Spark's
  * LongType. Hash aggregation is Tungsten's default physical strategy here; at 100 TB
  * these are one-shuffle partial→final aggs on their group keys.
  */
object AggQueries {

  val defs: Seq[QueryDef] = Seq(

    // A1 — multi-function hash agg, TPC-H-Q1-shaped (reference: per-route
    // first/last/sum/mean/max/std aggregation, routes.py:72-155). Headline query.
    QueryDef(
      "q1_pricing_summary",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            Exact.dsum(col("l_quantity")).as("sum_qty"),
            Exact.dsum(col("l_extendedprice")).as("sum_base_price"),
            Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("sum_disc_price"),
            Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              * (lit(1.0) + col("l_tax"))).as("sum_charge"),
            Exact.davg(col("l_quantity")).as("avg_qty"),
            Exact.davg(col("l_extendedprice")).as("avg_price"),
            Exact.davg(col("l_discount")).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  ${Exact.sqlDsum("l_quantity")} AS sum_qty,
              |  ${Exact.sqlDsum("l_extendedprice")} AS sum_base_price,
              |  ${Exact.sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
              |  ${Exact.sqlDsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
              |  ${Exact.sqlDavg("l_quantity")} AS avg_qty,
              |  ${Exact.sqlDavg("l_extendedprice")} AS avg_price,
              |  ${Exact.sqlDavg("l_discount")} AS avg_disc,
              |  CAST(COUNT(*) AS BIGINT) AS count_order
              |FROM lineitem GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      headline = true),

    // A2 — residual-stats agg: mean/median/sum/MAE/RMSE (reference: TrueSpeed residual
    // rollup, metrics.py:13-57). Median is exact (quantities are .0/.5-exact doubles,
    // so both engines' linear interpolation is exact). The median comes from
    // Percentiles.ranked/medianAgg (streaming window + codegen conditional agg,
    // one exchange the groupBy reuses) — the builtin `percentile` here means an
    // ObjectHashAggregate holding one value→count map PER ORDER (millions of
    // groups), which falls back to sort-based aggregation and drove the 30×
    // scale audit to 231 cpu_s / exponent 1.27.
    QueryDef(
      "a2_residual_stats",
      (s, dir) =>
        graft.operators.Percentiles
          .ranked(Tables.lineitem(s, dir), Seq("l_orderkey"), "l_quantity")
          .groupBy("l_orderkey")
          .agg(
            count(lit(1)).as("n"),
            Exact.davg(col("l_quantity")).as("mean_q"),
            graft.operators.Percentiles.medianAgg("l_quantity").as("med_q"),
            Exact.dsum(col("l_quantity")).as("sum_q"),
            Exact.davg(abs(col("l_quantity") - 25.0)).as("mae"),
            sqrt(Exact.davg((col("l_quantity") - 25.0) * (col("l_quantity") - 25.0)))
              .as("rmse"))
          .orderBy("l_orderkey"),
      Some(s"""SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n,
              |  ${Exact.sqlDavg("l_quantity")} AS mean_q,
              |  median(l_quantity) AS med_q,
              |  ${Exact.sqlDsum("l_quantity")} AS sum_q,
              |  ${Exact.sqlDavg("abs(l_quantity - 25.0)")} AS mae,
              |  sqrt(${Exact.sqlDavg("(l_quantity - 25.0) * (l_quantity - 25.0)")}) AS rmse
              |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)),

    // Higher moments in ONE pass: population skewness and excess kurtosis from
    // exact-decimal raw-moment sums (Σx..Σx⁴ are order-independent decimals;
    // the central-moment algebra is then pure deterministic double arithmetic
    // written with identical association on both engines — sqrt instead of
    // pow(·,1.5) because sqrt is IEEE-exact while pow may differ in the last
    // ulp across libm implementations). Built-in skewness/kurtosis are NOT
    // comparable cross-engine (population vs bias-corrected sample); the
    // explicit form is, and is what a distributed profiler computes anyway.
    QueryDef(
      "a_moments",
      (s, dir) => {
        val q = col("l_quantity")
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            Exact.dsum(q).as("s1"),
            Exact.dsum(q * q).as("s2"),
            Exact.dsum(q * q * q).as("s3"),
            Exact.dsum(q * q * q * q).as("s4"))
          .select(col("l_returnflag"), col("n"),
            (col("s1") / col("n")).as("mu"),
            col("s2"), col("s3"), col("s4"))
          .select(col("l_returnflag"), col("n"), col("mu"),
            (col("s2") / col("n") - col("mu") * col("mu")).as("m2"),
            (col("s3") / col("n") - lit(3.0) * col("mu") * (col("s2") / col("n"))
              + lit(2.0) * col("mu") * col("mu") * col("mu")).as("m3"),
            (col("s4") / col("n") - lit(4.0) * col("mu") * (col("s3") / col("n"))
              + lit(6.0) * col("mu") * col("mu") * (col("s2") / col("n"))
              - lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu")).as("m4"))
          .select(col("l_returnflag"), col("n"), col("mu"),
            (col("m3") / (col("m2") * sqrt(col("m2")))).as("skew"),
            (col("m4") / (col("m2") * col("m2")) - lit(3.0)).as("kurt"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH sums AS (
              |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
              |    ${Exact.sqlDsum("l_quantity")} AS s1,
              |    ${Exact.sqlDsum("l_quantity * l_quantity")} AS s2,
              |    ${Exact.sqlDsum("l_quantity * l_quantity * l_quantity")} AS s3,
              |    ${Exact.sqlDsum("l_quantity * l_quantity * l_quantity * l_quantity")} AS s4
              |  FROM lineitem GROUP BY l_returnflag),
              |mus AS (
              |  SELECT l_returnflag, n, s1 / n AS mu, s2, s3, s4 FROM sums),
              |cms AS (
              |  SELECT l_returnflag, n, mu,
              |    s2 / n - mu * mu AS m2,
              |    s3 / n - 3.0 * mu * (s2 / n) + 2.0 * mu * mu * mu AS m3,
              |    s4 / n - 4.0 * mu * (s3 / n) + 6.0 * mu * mu * (s2 / n)
              |      - 3.0 * mu * mu * mu * mu AS m4
              |  FROM mus)
              |SELECT l_returnflag, n, mu,
              |  m3 / (m2 * sqrt(m2)) AS skew,
              |  m4 / (m2 * m2) - 3.0 AS kurt
              |FROM cms ORDER BY l_returnflag""".stripMargin)),

    // Gini coefficient of quantity concentration per return flag — the
    // standard inequality metric, via the sorted-rank identity
    // G = 2·Σ(r·x) / (n·Σx) − (n+1)/n. Ties in x permute ranks among equal
    // values, leaving Σ(r·x) unchanged, so any total order gives the same
    // answer; both sums are exact decimals and the final arithmetic is
    // identically-associated doubles — bit-exact cross-engine, no rounding.
    QueryDef(
      "a_gini",
      (s, dir) => {
        val w = Window.partitionBy("l_returnflag")
          .orderBy("l_quantity", "l_orderkey", "l_linenumber")
        Tables.lineitem(s, dir)
          .select(col("l_returnflag"), col("l_quantity"),
            row_number().over(w).as("r"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            Exact.dsum(col("l_quantity")).as("sumx"),
            Exact.dsum(col("l_quantity") * col("r")).as("sumrx"))
          .select(col("l_returnflag"), col("n"),
            (lit(2.0) * col("sumrx") / (col("n") * col("sumx"))
              - (col("n") + lit(1)).cast("double") / col("n")).as("gini"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH ranked AS (
              |  SELECT l_returnflag, l_quantity,
              |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
              |      ORDER BY l_quantity, l_orderkey, l_linenumber) AS r
              |  FROM lineitem),
              |agg AS (
              |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
              |    ${Exact.sqlDsum("l_quantity")} AS sumx,
              |    ${Exact.sqlDsum("l_quantity * r")} AS sumrx
              |  FROM ranked GROUP BY l_returnflag)
              |SELECT l_returnflag, n,
              |  2.0 * sumrx / (n * sumx) - CAST(n + 1 AS DOUBLE) / n AS gini
              |FROM agg ORDER BY l_returnflag""".stripMargin)),

    // Shannon entropy of each user's event-type distribution — the
    // concentration profile (0 = one type only, ln(5) ≈ 1.609 = uniform).
    // Decomposed as ln(n) - (Σ c·ln(c))/n with the transcendentals rounded
    // to 6 dp BEFORE the exact-decimal sum (the t_unigram_lm recipe), so
    // both engines agree bit-for-bit.
    //
    // Scaling accounting (r19 adjudication of the r18 1.611 cell, measured
    // clean at CPUS=8, a_percentiles as control — plans/r19/
    // a_entropy_scaling*.json): sf3→sf10 cpu exponent 1.249 with each
    // tier's own derived shuffle-partition count (58 vs 200), 1.109 with
    // the count pinned equal. The gap is per-partition constants (range
    // sampling, merge streams) against a still-small tier, not per-row
    // growth; the residual ~1.1 is the n·log n of the data-scale ORDER BY
    // (output is one row per user — OUTPUT_BOUND, the sort is the
    // deliverable).
    QueryDef(
      "a_entropy",
      (s, dir) => {
        val counts = Tables.events(s, dir)
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("c"))
        counts.groupBy("user_id")
          .agg(sum("c").as("n"),
            Exact.dsum12(expr("c * round(ln(c), 6)")).as("clnc"))
          .select(col("user_id"), col("n"),
            round(round(log(col("n")), 6) - col("clnc") / col("n"), 6)
              .as("entropy"))
          .orderBy("user_id")
      },
      Some(s"""WITH counts AS (
              |  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
              |  FROM events GROUP BY user_id, event_type),
             |agg AS (
             |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
             |    ${Exact.sqlDsum12("c * round(ln(c), 6)")} AS clnc
             |  FROM counts GROUP BY user_id)
             |SELECT user_id, n, round(round(ln(n), 6) - clnc / n, 6) AS entropy
             |FROM agg ORDER BY user_id""".stripMargin)),

    // One-pass column profiling (quality.Profiler): every column's null /
    // distinct / min / max statistics from a single scan — the ingest-time
    // "what is in this table" query. Oracled column-by-column in SQL.
    QueryDef(
      "a_profile",
      (s, dir) =>
        graft.quality.Profiler
          .profile(Tables.lineitem(s, dir)
            .select("l_orderkey", "l_quantity", "l_returnflag", "l_linestatus"))
          .orderBy("col_name"),
      Some(Seq("l_orderkey", "l_quantity", "l_returnflag", "l_linestatus").map(c =>
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_s,
           |  CAST(MAX($c) AS VARCHAR) AS max_s
           |FROM lineitem""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))),

    // A4 — named production aggs per entity (reference: Total_Targets/Total_Yards/
    // Catch_Rate per player, metrics.py:296-322)
    QueryDef(
      "a4_named_aggs",
      (s, dir) =>
        Tables.orders(s, dir)
          .groupBy("o_custkey")
          .agg(
            count(lit(1)).as("total_orders"),
            Exact.dsum(col("o_totalprice")).as("total_price"),
            Exact.davg((col("o_orderstatus") === "O").cast("double")).as("open_rate"),
            sum((col("o_orderpriority") === "1-URGENT").cast("long")).as("n_urgent"))
          .orderBy("o_custkey"),
      Some(s"""SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS total_orders,
              |  ${Exact.sqlDsum("o_totalprice")} AS total_price,
              |  ${Exact.sqlDavg("CAST(o_orderstatus = 'O' AS DOUBLE)")} AS open_rate,
              |  CAST(SUM(CAST(o_orderpriority = '1-URGENT' AS INT)) AS BIGINT) AS n_urgent
              |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // A5 + A7 — global scalar agg and exact count-distinct (reference: series
    // min/max/mean thresholds; groupby().ngroups)
    QueryDef(
      "a5_scalar_global",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .agg(
            min(col("l_extendedprice")).as("min_price"),
            max(col("l_extendedprice")).as("max_price"),
            Exact.davg(col("l_extendedprice")).as("avg_price"),
            count(lit(1)).as("n_rows"),
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_orderkey")).as("n_orders")),
      Some(s"""SELECT min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
              |  ${Exact.sqlDavg("l_extendedprice")} AS avg_price,
              |  CAST(COUNT(*) AS BIGINT) AS n_rows,
              |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
              |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
              |FROM lineitem""".stripMargin)),

    // A6 — dedup keep-last-by-order (reference: drop_duplicates(keep='last') after
    // sort, metrics.py:261-265 → row_number desc === 1)
    QueryDef(
      "a6_dedup_keeplast",
      (s, dir) => {
        // (l_orderkey, l_linenumber) is not unique in the synthetic data, so the
        // keep-last order tiebreaks on every output column for determinism.
        val w = Window.partitionBy("l_orderkey")
          .orderBy(col("l_linenumber").desc, col("l_quantity").desc)
        Tables.lineitem(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("l_orderkey", "l_linenumber", "l_quantity")
          .orderBy("l_orderkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |QUALIFY row_number() OVER (PARTITION BY l_orderkey
             |                           ORDER BY l_linenumber DESC, l_quantity DESC) = 1
             |ORDER BY l_orderkey""".stripMargin)),

    // A7 — count-distinct per group (reference: nunique per play)
    QueryDef(
      "a7_count_distinct",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy("l_partkey")
          .agg(countDistinct(col("l_suppkey")).as("n_sup"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_partkey"),
      Some("""SELECT l_partkey, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_sup,
             |  CAST(COUNT(*) AS BIGINT) AS n_rows
             |FROM lineitem GROUP BY l_partkey ORDER BY l_partkey""".stripMargin)),

    // A8 — value_counts top-k with deterministic tiebreak (reference:
    // value_counts().head(10), BDB_2026.ipynb cell 5)
    QueryDef(
      "a8_top_freq",
      (s, dir) =>
        Tables.part(s, dir)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("p_brand"))
          .limit(10),
      Some("""SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS cnt
             |FROM part GROUP BY p_brand
             |ORDER BY cnt DESC, p_brand LIMIT 10""".stripMargin)),

    // A9 — cross-tab via conditional aggregation (reference: clusters × route labels,
    // BDB_2026.ipynb cell 41). Manual pivot keeps column names stable across engines.
    QueryDef(
      "a9_crosstab",
      (s, dir) => {
        def cnt(p: String) =
          sum((col("o_orderpriority") === p).cast("long"))
        Tables.orders(s, dir)
          .groupBy("o_orderstatus")
          .agg(
            cnt("1-URGENT").as("n_urgent"),
            cnt("2-HIGH").as("n_high"),
            cnt("3-MEDIUM").as("n_medium"),
            cnt("4-NOT SPECIFIED").as("n_notspec"),
            cnt("5-LOW").as("n_low"),
            count(lit(1)).as("n_total"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  CAST(SUM(CAST(o_orderpriority = '1-URGENT' AS INT)) AS BIGINT) AS n_urgent,
             |  CAST(SUM(CAST(o_orderpriority = '2-HIGH' AS INT)) AS BIGINT) AS n_high,
             |  CAST(SUM(CAST(o_orderpriority = '3-MEDIUM' AS INT)) AS BIGINT) AS n_medium,
             |  CAST(SUM(CAST(o_orderpriority = '4-NOT SPECIFIED' AS INT)) AS BIGINT) AS n_notspec,
             |  CAST(SUM(CAST(o_orderpriority = '5-LOW' AS INT)) AS BIGINT) AS n_low,
             |  CAST(COUNT(*) AS BIGINT) AS n_total
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // A10 — histogram binning (reference: hist(bins=50), cell 33). Fixed-width
    // buckets via integer arithmetic — identical in both engines.
    QueryDef(
      "a10_histogram",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .withColumn("bucket",
            least(floor(col("l_quantity") / 5.0), lit(9.0)).cast("bigint"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("cnt"))
          .orderBy("bucket"),
      Some("""SELECT CAST(least(floor(l_quantity / 5.0), 9.0) AS BIGINT) AS bucket,
             |  CAST(COUNT(*) AS BIGINT) AS cnt
             |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ROLLUP — hierarchical subtotals (beyond the reference's surface, part of
    // the complete agg family). grouping_id disambiguates NULL group values.
    QueryDef(
      "a_rollup",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("cnt"),
            Exact.dsum(col("l_quantity")).as("sum_qty"),
            grouping_id().cast("int").as("gid"))
          .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus")),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  CAST(COUNT(*) AS BIGINT) AS cnt,
              |  ${Exact.sqlDsum("l_quantity")} AS sum_qty,
              |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid
              |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
              |ORDER BY gid, l_returnflag NULLS LAST, l_linestatus NULLS LAST"""
        .stripMargin)),

    // CUBE — all grouping-set combinations (completes the rollup family).
    QueryDef(
      "a_cube",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .cube("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("cnt"),
            grouping_id().cast("int").as("gid"))
          .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(COUNT(*) AS BIGINT) AS cnt,
             |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY gid, l_returnflag NULLS LAST, l_linestatus NULLS LAST"""
        .stripMargin)),

    // Explicit GROUPING SETS — the general form behind ROLLUP/CUBE (here:
    // per-flag totals, per-status totals, and the grand total — but NOT the
    // flag×status cross, which neither rollup nor cube can express alone).
    QueryDef(
      "a_grouping_sets",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupingSets(
            Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
            col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("cnt"),
            Exact.dsum(col("l_quantity")).as("sum_qty"),
            grouping_id().cast("int").as("gid"))
          .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus")),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  CAST(COUNT(*) AS BIGINT) AS cnt,
              |  ${Exact.sqlDsum("l_quantity")} AS sum_qty,
              |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid
              |FROM lineitem
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
              |ORDER BY gid, l_returnflag NULLS LAST, l_linestatus NULLS LAST"""
        .stripMargin)),

    // A12 — HAVING against a global agg (reference: Total_Targets > max*0.5 volume
    // filter, metrics.py:327-330). Scalar threshold via cross join of the 1-row agg.
    //
    // `totals` has THREE consumers (the scalar max, the join probe, and the
    // orderBy's range-sample pass), and exchange reuse only saves the scan +
    // partial agg — Catalyst re-runs the 1M-group decimal FINAL agg once per
    // consumer (StageProfile r18: 3 × 22 MB exchange reads, the third pass
    // alone 10 cpu_s at sf10 with 1.3 s GC; sf3→sf10 exponent 1.184).
    // The group count is customer-bounded — a FRAME, not the fact table —
    // so an EAGER localCheckpoint finalizes it exactly once and every
    // consumer reads the ~30 MB materialized state (same discipline as
    // PageRank's per-round checkpoint). Eager, not lazy: AQE launches the
    // scalar-max and range-sample stages concurrently, and a lazy
    // checkpoint lets both race to compute `totals` before either
    // materializes it (measured r18: the sample-side recompute alone burnt
    // 22 cpu_s at sf10). Timing stays honest — every measured path invokes
    // the query builder inside its timed window.
    QueryDef(
      "a12_having_global",
      (s, dir) => {
        val totals = pin(Tables.orders(s, dir)
          .groupBy("o_custkey")
          .agg(Exact.dsum(col("o_totalprice")).as("total")))
        // threshold multiplied ONCE on the 1-row aggregate: the filter
        // lands in the (interpreted, non-codegen) BNLJ join condition, so a
        // per-row `mx * 0.5` pays an interpreted decimal multiply +
        // overflow check per customer (measured r18: the join stage burnt
        // 17-22 cpu_s at sf10; a plain compare is a fraction of that)
        val mx = totals.agg((max(col("total")) * 0.5).as("thr"))
        totals.crossJoin(broadcast(mx))
          .filter(col("total") > col("thr"))
          .select("o_custkey", "total")
          .orderBy("o_custkey")
      },
      Some(s"""WITH t AS (
              |  SELECT o_custkey, ${Exact.sqlDsum("o_totalprice")} AS total
              |  FROM orders GROUP BY o_custkey),
              |m AS (SELECT max(total) AS mx FROM t)
              |SELECT o_custkey, total FROM t, m WHERE total > mx * 0.5
              |ORDER BY o_custkey""".stripMargin)),

    // A13 — correlation agg from exact sums (reference: Pearson r between metrics,
    // viz.py:435). Identical closed form on both engines → bit-equal doubles.
    QueryDef(
      "a13_corr",
      (s, dir) => {
        val x = col("l_quantity")
        val y = col("l_extendedprice")
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).cast("double").as("n"),
            Exact.dsum(x).as("sx"), Exact.dsum(y).as("sy"),
            Exact.dsum(x * x).as("sxx"), Exact.dsum(x * y).as("sxy"),
            Exact.dsum(y * y).as("syy"))
          .select(col("l_returnflag"),
            // round(…,9): the closed form is written identically on both engines,
            // but fused-multiply-add differences can still flip the last ulp.
            round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 9)
              .as("corr_qty_price"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH t AS (
              |  SELECT l_returnflag,
              |    CAST(COUNT(*) AS DOUBLE) AS n,
              |    ${Exact.sqlDsum("l_quantity")} AS sx,
              |    ${Exact.sqlDsum("l_extendedprice")} AS sy,
              |    ${Exact.sqlDsum("l_quantity * l_quantity")} AS sxx,
              |    ${Exact.sqlDsum("l_quantity * l_extendedprice")} AS sxy,
              |    ${Exact.sqlDsum("l_extendedprice * l_extendedprice")} AS syy
              |  FROM lineitem GROUP BY l_returnflag)
              |SELECT l_returnflag,
              |  round((n * sxy - sx * sy)
              |        / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9)
              |    AS corr_qty_price
              |FROM t ORDER BY l_returnflag""".stripMargin)),

    // PIVOT: returnflag values become columns (Spark's relational pivot
    // operator; the oracle states the equivalent CASE-sums, which is also
    // Spark's own physical strategy for a pivot with known values). Decimal
    // sums for cross-engine exactness.
    QueryDef(
      "a_pivot",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy("l_linestatus")
          .pivot("l_returnflag", Seq("A", "N", "R"))
          .agg(Exact.dsum(col("l_quantity")))
          .orderBy("l_linestatus"),
      Some(s"""SELECT l_linestatus,
              |  ${Exact.sqlDsum("CASE WHEN l_returnflag = 'A' THEN l_quantity END")} AS "A",
              |  ${Exact.sqlDsum("CASE WHEN l_returnflag = 'N' THEN l_quantity END")} AS "N",
              |  ${Exact.sqlDsum("CASE WHEN l_returnflag = 'R' THEN l_quantity END")} AS "R"
              |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // Deterministic MODE per group: most frequent order priority per status,
    // ties broken by value order (Spark's mode() is tie-nondeterministic, so
    // the engine states the deterministic argmax explicitly — count desc,
    // value asc).
    QueryDef(
      "a_mode",
      (s, dir) => {
        val counts = Tables.orders(s, dir)
          .groupBy("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("o_orderstatus")
          .orderBy(col("n").desc, col("o_orderpriority"))
        counts.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_orderstatus"),
            col("o_orderpriority").as("mode_priority"), col("n"))
          .orderBy("o_orderstatus")
      },
      Some("""WITH c AS (
             |  SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM orders GROUP BY o_orderstatus, o_orderpriority),
             |r AS (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
             |    ORDER BY n DESC, o_orderpriority) AS rn
             |  FROM c)
             |SELECT o_orderstatus, o_orderpriority AS mode_priority, n
             |FROM r WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin)),

    // Mixed multi-distinct aggregation (Catalyst's EXPAND path: two distinct
    // aggregates over different column sets + a plain sum in one pass).
    QueryDef(
      "a_multi_distinct",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_linestatus")).as("n_status"),
            countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS n_status,
             |  CAST(COUNT(DISTINCT (l_partkey, l_suppkey)) AS BIGINT) AS n_part_supp,
             |  CAST(COUNT(*) AS BIGINT) AS n_rows
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Boolean aggregates + conditional counting (every/any/count_if).
    QueryDef(
      "a_bool_aggs",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(
            bool_and(col("l_quantity") > 0).as("all_positive_qty"),
            bool_or(col("l_quantity") >= 49).as("any_bulk"),
            count_if(col("l_discount") === 0.0).as("n_no_discount"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  bool_and(l_quantity > 0) AS all_positive_qty,
             |  bool_or(l_quantity >= 49) AS any_bulk,
             |  CAST(count_if(l_discount = 0.0) AS BIGINT) AS n_no_discount
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Exact interpolated percentiles per group (SQL-standard PERCENTILE_CONT
    // semantics: both engines sort and linearly interpolate; round(6) guards
    // the interpolation's last ulp). Computed by graft.operators.Percentiles
    // — distributed order statistics over a range-partitioned spillable sort
    // — NOT Spark's builtin `percentile` aggregate, whose per-task value→
    // count map is unbounded state: the 30× registry scale audit heap-killed
    // the builtin on 18 M rows over 3 groups. The operator stays bounded and
    // data-parallel at any scale; a_approx_quantiles remains the sketch twin.
    QueryDef(
      "a_percentiles",
      (s, dir) => {
        val qs = Seq(0.25, 0.5, 0.75)
        graft.operators.Percentiles
          .exactByGroup(Tables.lineitem(s, dir), "l_returnflag",
            "l_extendedprice", qs)
          .groupBy("l_returnflag")
          .agg(
            round(max(when(col("q") === 0.25, col("value"))), 6).as("p25"),
            round(max(when(col("q") === 0.5, col("value"))), 6).as("p50"),
            round(max(when(col("q") === 0.75, col("value"))), 6).as("p75"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
             |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
             |  round(quantile_cont(l_extendedprice, 0.75), 6) AS p75
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // A3 through the library path (graft.bdb.Metrics.trajectoryDeviation):
    // a trajectory per customer (frames = their orders, frame_id =
    // o_orderkey — GLOBALLY unique, so the operator's frame-key join is
    // exactly 1:1; lineitem's l_linenumber repeats across suppliers within
    // an order and would fan the join out), two coordinate tracks derived
    // deterministically, mean Euclidean gap per trajectory — the same
    // join+avg(sqrt) DuckDB recomputes from the raw table. Graduates A3
    // from spec-only (MetricsExtraSpec) to oracle-gated. Groups are small
    // (orders per customer), so avg's summation-order float noise sits far
    // below the round(6) gate.
    QueryDef(
      "a3_trajectory_dev",
      (s, dir) => {
        def traj(xExpr: org.apache.spark.sql.Column,
            yExpr: org.apache.spark.sql.Column) =
          Tables.orders(s, dir).select(
            col("o_custkey").as("game_id"), lit(0L).as("play_id"),
            (col("o_custkey") % 11).as("nfl_id"),
            col("o_orderkey").as("frame_id"),
            xExpr.as("x"), yExpr.as("y"))
        val a = traj(col("o_totalprice") % 97,
          ((col("o_orderkey") % 7) * 10).cast("double"))
        val b = traj(col("o_totalprice") % 83,
          ((col("o_orderkey") % 5) * 10).cast("double"))
        graft.bdb.Metrics.trajectoryDeviation(a, b)
          .filter(col("game_id") % 20 === 0)
          .select(col("game_id"), col("play_id"), col("nfl_id"),
            round(col("trajectory_deviation"), 6).as("trajectory_deviation"))
          .orderBy("game_id")
      },
      Some("""SELECT o_custkey AS game_id, CAST(0 AS BIGINT) AS play_id,
             |  o_custkey % 11 AS nfl_id,
             |  round(avg(sqrt(
             |    ((o_totalprice % 97) - (o_totalprice % 83))
             |      * ((o_totalprice % 97) - (o_totalprice % 83))
             |    + (CAST((o_orderkey % 7) * 10 AS DOUBLE) - CAST((o_orderkey % 5) * 10 AS DOUBLE))
             |      * (CAST((o_orderkey % 7) * 10 AS DOUBLE) - CAST((o_orderkey % 5) * 10 AS DOUBLE)))), 6)
             |    AS trajectory_deviation
             |FROM orders WHERE o_custkey % 20 = 0
             |GROUP BY 1, 2, 3 ORDER BY game_id""".stripMargin)),

    // A11 through the library path (bdb/Routes.clusterCentroids): the
    // centroid aggregator is generic over any int cluster column — here the
    // id derives deterministically from the order key and the 9 route
    // features from lineitem numerics, so DuckDB recomputes the same
    // per-cluster means from the raw table. Feature magnitudes <= ~100 over
    // ~5k-row groups keep double-summation noise ~1e-12, far below the
    // round(6) gate. The KMeans ASSIGNMENT itself (M2) stays spec-verified
    // by design. Graduates A11 from spec-only (RoutesSpec) to oracle-gated.
    QueryDef(
      "a11_cluster_centroids",
      (s, dir) => {
        val exprs = Seq[(String, org.apache.spark.sql.Column)](
          "route_frames" -> col("l_quantity"),
          "delta_x" -> col("l_discount") * 10,
          "delta_y" -> col("l_tax") * 10,
          "route_len" -> (col("l_extendedprice") % 53),
          "direct_dist" -> col("l_quantity") * 0.5,
          "straightness" -> col("l_discount"),
          "mean_speed" -> (col("l_partkey") % 7).cast("double"),
          "max_speed" -> (col("l_suppkey") % 5).cast("double"),
          "std_speed" -> col("l_linenumber").cast("double"))
        val assigned = Tables.lineitem(s, dir).select(
          (col("l_orderkey") % 12).cast("int").as("route_cluster") +:
            exprs.map { case (n, e) => e.as(n) }: _*)
        val cents = graft.bdb.Routes.clusterCentroids(assigned)
        cents.select(col("route_cluster") +: exprs.map { case (n, _) =>
          round(col(s"cent_$n"), 6).as(s"cent_$n")
        }: _*).orderBy("route_cluster")
      },
      Some("""SELECT CAST(l_orderkey % 12 AS INT) AS route_cluster,
             |  round(avg(l_quantity), 6) AS cent_route_frames,
             |  round(avg(l_discount * 10), 6) AS cent_delta_x,
             |  round(avg(l_tax * 10), 6) AS cent_delta_y,
             |  round(avg(l_extendedprice % 53), 6) AS cent_route_len,
             |  round(avg(l_quantity * 0.5), 6) AS cent_direct_dist,
             |  round(avg(l_discount), 6) AS cent_straightness,
             |  round(avg(CAST(l_partkey % 7 AS DOUBLE)), 6) AS cent_mean_speed,
             |  round(avg(CAST(l_suppkey % 5 AS DOUBLE)), 6) AS cent_max_speed,
             |  round(avg(CAST(l_linenumber AS DOUBLE)), 6) AS cent_std_speed
             |FROM lineitem GROUP BY 1 ORDER BY route_cluster""".stripMargin)),

    // M8 through the library path (bdb/Metrics.trendline): closed-form
    // least-squares fit + Pearson r from one aggregation pass. Unit-scale
    // inputs (quantity vs discount) keep the mean-based formula's
    // cross-engine summation noise ~1e-12 — round(6) gates it exactly.
    QueryDef(
      "m8_trendline",
      (s, dir) =>
        graft.bdb.Metrics
          .trendline(Tables.lineitem(s, dir), "l_quantity", "l_discount")
          .select(round(col("slope"), 6).as("slope"),
            round(col("intercept"), 6).as("intercept"),
            round(col("pearson_r"), 6).as("pearson_r")),
      Some("""WITH m AS (
             |  SELECT avg(l_quantity) AS mx, avg(l_discount) AS my,
             |    avg(l_quantity * l_discount) AS mxy,
             |    avg(l_quantity * l_quantity) AS mxx,
             |    avg(l_discount * l_discount) AS myy
             |  FROM lineitem)
             |SELECT
             |  round((mxy - mx * my) / (mxx - mx * mx), 6) AS slope,
             |  round(my - (mxy - mx * my) / (mxx - mx * mx) * mx, 6) AS intercept,
             |  round((mxy - mx * my) / (sqrt(mxx - mx * mx) * sqrt(myy - my * my)), 6)
             |    AS pearson_r
             |FROM m""".stripMargin)),

    // M5 through the library path (bdb/Routes.routeDeviation): Euclidean
    // distance of each row's 9-feature vector from its cluster's centroid,
    // computed as the broadcast join + codegen'd sqrt-of-squares the
    // operator ships. Centroids are the per-cluster means of the SAME
    // deterministic lineitem-derived features a11 gates, so DuckDB
    // recomputes assignment, centroids, and distance from the raw table —
    // the KMeans FIT (M2) stays spec-verified by design; the deviation
    // arithmetic (reference metrics.py:170-182) is what this row gates.
    // Square-sum order matches routeDeviation's left-assoc featureCols
    // fold; magnitudes <= ~55 keep cross-engine noise far under round(6).
    // Graduates M5 from spec-only (GoldenParitySpec) to oracle-gated.
    QueryDef(
      "m5_centroid_dist",
      (s, dir) => {
        val exprs = Seq[(String, org.apache.spark.sql.Column)](
          "route_frames" -> col("l_quantity"),
          "delta_x" -> col("l_discount") * 10,
          "delta_y" -> col("l_tax") * 10,
          "route_len" -> (col("l_extendedprice") % 53),
          "direct_dist" -> col("l_quantity") * 0.5,
          "straightness" -> col("l_discount"),
          "mean_speed" -> (col("l_partkey") % 7).cast("double"),
          "max_speed" -> (col("l_suppkey") % 5).cast("double"),
          "std_speed" -> col("l_linenumber").cast("double"))
        val assigned = Tables.lineitem(s, dir).select(
          Seq(col("l_orderkey"), col("l_linenumber"),
            (col("l_orderkey") % 12).cast("int").as("route_cluster")) ++
            exprs.map { case (n, e) => e.as(n) }: _*)
        graft.bdb.Routes.routeDeviation(assigned)
          .filter(col("l_orderkey") % 20 === 0)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("route_cluster"),
            round(col("route_deviation"), 6).as("route_deviation"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""WITH assigned AS (
             |  SELECT l_orderkey, l_linenumber,
             |    CAST(l_orderkey % 12 AS INT) AS route_cluster,
             |    l_quantity AS route_frames,
             |    l_discount * 10 AS delta_x,
             |    l_tax * 10 AS delta_y,
             |    l_extendedprice % 53 AS route_len,
             |    l_quantity * 0.5 AS direct_dist,
             |    l_discount AS straightness,
             |    CAST(l_partkey % 7 AS DOUBLE) AS mean_speed,
             |    CAST(l_suppkey % 5 AS DOUBLE) AS max_speed,
             |    CAST(l_linenumber AS DOUBLE) AS std_speed
             |  FROM lineitem),
             |cents AS (
             |  SELECT route_cluster,
             |    avg(route_frames) AS c_route_frames, avg(delta_x) AS c_delta_x,
             |    avg(delta_y) AS c_delta_y, avg(route_len) AS c_route_len,
             |    avg(direct_dist) AS c_direct_dist,
             |    avg(straightness) AS c_straightness,
             |    avg(mean_speed) AS c_mean_speed, avg(max_speed) AS c_max_speed,
             |    avg(std_speed) AS c_std_speed
             |  FROM assigned GROUP BY 1)
             |SELECT a.l_orderkey, a.l_linenumber, a.route_cluster,
             |  round(sqrt(
             |    (route_frames - c_route_frames) * (route_frames - c_route_frames)
             |    + (delta_x - c_delta_x) * (delta_x - c_delta_x)
             |    + (delta_y - c_delta_y) * (delta_y - c_delta_y)
             |    + (route_len - c_route_len) * (route_len - c_route_len)
             |    + (direct_dist - c_direct_dist) * (direct_dist - c_direct_dist)
             |    + (straightness - c_straightness) * (straightness - c_straightness)
             |    + (mean_speed - c_mean_speed) * (mean_speed - c_mean_speed)
             |    + (max_speed - c_max_speed) * (max_speed - c_max_speed)
             |    + (std_speed - c_std_speed) * (std_speed - c_std_speed)), 6)
             |    AS route_deviation
             |FROM assigned a JOIN cents c USING (route_cluster)
             |WHERE a.l_orderkey % 20 = 0
             |ORDER BY a.l_orderkey, a.l_linenumber""".stripMargin)),

    // Ordered string aggregation (listagg/string_agg): distinct values
    // sorted then joined — the order-by-inside-agg form made deterministic
    // (collect_set order is undefined, so sort the array before joining).
    QueryDef(
      "a_string_agg",
      (s, dir) =>
        Tables.orders(s, dir)
          .groupBy("o_orderstatus")
          .agg(concat_ws(",", array_sort(collect_set(col("o_orderpriority"))))
            .as("priorities"))
          .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
             |  string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
             |    AS priorities
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
  )
}
