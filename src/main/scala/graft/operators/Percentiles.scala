package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.Checkpoints.{pin, scoped}

/** Exact per-group interpolated percentiles (percentile_cont semantics) as
  * distributed two-pass order statistics.
  *
  * Spark's builtin exact `percentile` aggregate buffers a value→count map per
  * group in every task — state that grows with the number of DISTINCT values,
  * not with any tunable, and hard-OOMs once a group's values outgrow the heap
  * (the 30× registry scale audit killed an 8 g context this way: 18 M rows,
  * 3 groups). The window form (`row_number` over a per-group sort) survives by
  * spilling but caps parallelism at the group count — useless for few huge
  * groups, the exact regime where percentiles are wanted. This operator keeps
  * every stage bounded AND data-parallel:
  *
  *   1. range-partition by (group, value) + in-partition sort — Spark's
  *      spillable sort; one group may span MANY partitions, so parallelism
  *      scales with data volume, not group count;
  *   2. first scan of the cached sort counts contiguous (partition, group)
  *      runs — a sorted group is contiguous, so the driver collects at most
  *      #groups + #partitions rows, metadata-scale at any corpus size;
  *   3. the driver prefix-sums run counts into per-partition global rank
  *      offsets and broadcasts the ≤ 2·|qs| target ranks per group
  *      (floor/ceil of pos = (n−1)·q — percentile_cont's rank pair);
  *   4. second scan emits only rows whose global rank is a target
  *      (≤ 2·|qs|·#groups rows total);
  *   5. the driver interpolates with Spark `Percentile`'s exact double
  *      arithmetic (see [[interpolate]]) — bit-parity with the builtin, and
  *      within one ulp of DuckDB's `quantile_cont` (the oracle rounds to 6
  *      decimals, far above ulp noise).
  *
  * == Execution contract — read before composing ==
  * The operator is EAGER: calling it RUNS THREE SPARK JOBS immediately
  * (sample-for-ranges, run-count, rank-extract) and returns a DRIVER-LOCAL
  * result frame (group: original dtype, q: double, value: double — one row
  * per (group, q)). It is a terminal action, not a lazy transformation:
  * composing it mid-DAG materializes at the call site and severs lineage —
  * downstream operators see a `LocalRelation`, not the input's plan. That is
  * the intended shape (the result is metadata-scale by construction), but a
  * caller expecting lazy semantics should either call it last or treat the
  * result as a broadcast-joinable lookup table. Driver state is bounded by
  * `maxGroups` (pass 1 run counts ≈ #groups + #partitions; pass 2 hits
  * ≤ 2·|qs|·#groups): the operator REFUSES with an actionable error when the
  * group count exceeds it, because the many-small-groups regime belongs on
  * [[ranked]]/[[medianAgg]] (one distributed window pass, no driver state).
  *
  * Null values are ignored (builtin/`quantile_cont` behavior); null group
  * keys form their own group (SQL GROUP BY behavior). The group column keeps
  * its input DataType in the output schema (it must be range-partitionable,
  * i.e. orderable — true of every GROUP BY-able atomic type). Ties are safe:
  * rows tied on (group, value) may be permuted by cache rescans, but every
  * permutation carries the same value at every rank.
  */
object Percentiles {

  /** Value-equality wrapper for BinaryType group keys. The run-detection and
    * driver maps compare keys as plain JVM values; Array[Byte]'s equals is
    * REFERENCE equality, which would make every row its own run (O(rows)
    * driver state and a spurious maxGroups refusal). Keys are canonicalized
    * through this wrapper before any comparison/hashing and unwrapped when
    * the output rows are built. A dedicated private class (not a bare
    * ArraySeq) so unwrapping can never confuse a genuine Seq-valued key. */
  private final case class BinKey(k: scala.collection.immutable.ArraySeq[Byte])

  private def canonKey(a: Any): Any = a match {
    case b: Array[Byte] =>
      BinKey(scala.collection.immutable.ArraySeq.unsafeWrapArray(b))
    case other => other
  }

  private def decanonKey(a: Any): Any = a match {
    case BinKey(k) => k.toArray
    case other     => other
  }

  private def outSchema(g: StructField) = StructType(Seq(
    g.copy(nullable = true),
    StructField("q", DoubleType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** percentile_cont over a sorted run, in Spark `Percentile`'s exact
    * arithmetic — the symmetric weighted form
    * (hi − pos)·lower + (pos − lo)·upper, NOT lower + frac·(upper − lower):
    * the two differ in the last ulp and the spec pins bit-parity with the
    * builtin wherever the builtin can run at all. */
  private[operators] def interpolate(n: Long, q: Double,
      at: Long => Double): Double = {
    val pos = (n - 1) * q
    val lo = math.floor(pos).toLong
    val hi = math.ceil(pos).toLong
    val lower = at(lo)
    if (hi == lo) return lower
    val upper = at(hi)
    if (upper == lower) lower
    else (hi - pos) * lower + (pos - lo) * upper
  }

  /** Stage 1 of the window-median form (the right shape when GROUPS ARE
    * SMALL but numerous — the regime where the builtin `percentile`'s
    * per-group value→count maps drown in object churn and ObjectHashAggregate
    * falls back to sorting anyway): rank rows within each group by value.
    * `__rn` (1-based rank, streaming row_number) and `__nn` (group size;
    * unbounded-frame count buffers only one GROUP's rows, fine for small
    * groups) ride along for [[medianAgg]]. One exchange on `groupCols` that
    * a following `groupBy(groupCols)` reuses. Null semantics MATCH the
    * builtin `percentile` (nulls ignored): `__nn` counts only non-null
    * values, and since nulls sort FIRST under ascending row_number, shifting
    * ranks down by the group's null count gives non-null values ranks
    * 1..`__nn` while null rows land at ranks ≤ 0 — never a median target.
    * An all-null group yields a NULL median, like the builtin. With no nulls
    * the shift is zero and both columns are bit-identical to the r15 form.
    */
  def ranked(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byG = Window.partitionBy(groupCols.map(col): _*)
    df.withColumn("__nn", count(col(valueCol)).over(byG))
      .withColumn("__rn", row_number().over(byG.orderBy(col(valueCol)))
        - (count(lit(1)).over(byG) - col("__nn")))
  }

  /** Stage 2: exact median over a [[ranked]] frame, as a plain codegen'd
    * conditional agg — bit-identical to `percentile(v, 0.5)`: the builtin
    * computes (hi−pos)·lower + (pos−lo)·upper, which at q=0.5 is
    * 0.5·lower + 0.5·upper; for odd groups lo == hi and the element itself
    * comes back exactly (0.5v + 0.5v = v). */
  def medianAgg(valueCol: String): org.apache.spark.sql.Column = {
    // Column `/` is double division; floor() recovers the integer middle
    // ranks (exact for any realistic group size — doubles are integral to 2⁵³)
    val lo = floor((col("__nn") + 1) / 2) // 1-based lower middle
    val hi = floor(col("__nn") / 2) + 1
    max(when(col("__rn") === lo, col(valueCol))) * 0.5 +
      max(when(col("__rn") === hi, col(valueCol))) * 0.5
  }

  /** Exact percentiles of `valueCol` (cast to double, nulls ignored) for each
    * value of `groupCol` (ORIGINAL DataType preserved in the output schema;
    * must be orderable for range partitioning), at quantiles `qs` ∈ [0, 1].
    * `partitions` = 0 uses spark.sql.shuffle.partitions. EAGER — see the
    * object scaladoc's execution contract. Refuses when the observed group
    * count exceeds `maxGroups` (default 2²², ~100 MB of driver run-count
    * metadata at worst): that regime belongs on [[ranked]]/[[medianAgg]].
    */
  def exactByGroup(df: DataFrame, groupCol: String, valueCol: String,
      qs: Seq[Double], partitions: Int = 0,
      maxGroups: Long = 1L << 22): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0,1]: $qs")
    val spark = df.sparkSession
    val gField = df.schema(groupCol)
    val schema = outSchema(gField)
    val empty = spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    val vals = df
      .select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
      .where(col("__v").isNotNull)
    // frame-sized default (r17 verdict #2 sweep): a small frame under a
    // session whose shuffle count was derived from a much LARGER data
    // directory would otherwise fan its range sort — and the per-partition
    // run metadata both passes collect — out to partitions the frame cannot
    // fill. Floored at the box parallelism (this operator is compute-bound
    // over the frame, unlike a pure metadata sort) and capped at the
    // session count, so only the directory-oversized regime changes.
    val p = if (partitions > 0) partitions
            else math.max(
              math.min(spark.sparkContext.defaultParallelism,
                spark.sessionState.conf.numShufflePartitions),
              graft.GraftSession.frameSizedPartitions(vals))
    // leaving the scope frees `sorted`; the result is a local relation
    scoped {
      val sorted = pin(vals
        .repartitionByRange(p, col("__g"), col("__v"))
        .sortWithinPartitions("__g", "__v"))
      // one RDD handle for both scans: identical partition ids by
      // construction. Row-based (not a typed Dataset) so the group key keeps
      // whatever external type its DataType maps to; keys are compared and
      // hashed as plain JVM values (null-safe) after canonKey, which is exact
      // for every atomic GROUP BY-able type including BinaryType (wrapped for
      // value equality — Array[Byte].equals is reference equality).
      val rdd = sorted.rdd
      val eq = (a: Any, b: Any) => java.util.Objects.equals(a, b)

      // pass 1: contiguous (partition, group) run lengths, in partition order
      val runs: Array[(Int, Any, Long)] =
        rdd.mapPartitionsWithIndex { (pid, it) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Any, Long)]
          var cur: Any = null
          var started = false
          var cnt = 0L
          it.foreach { row =>
            val g = canonKey(row.get(0))
            if (started && eq(g, cur)) cnt += 1
            else {
              if (started) out += ((pid, cur, cnt))
              cur = g; cnt = 1L; started = true
            }
          }
          if (started) out += ((pid, cur, cnt))
          out.iterator
        }.collect()
      if (runs.isEmpty) empty
      else {

        // prefix-sum to per-(partition, group) global rank offsets + totals
        val totals = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
        val offsets = runs.map { case (pid, g, cnt) =>
          val off = totals.getOrElse(g, 0L)
          totals(g) = off + cnt
          (pid, g) -> off
        }.toMap
        if (totals.size > maxGroups) {
          throw new IllegalArgumentException(
            s"Percentiles.exactByGroup: ${totals.size} groups exceeds " +
            s"maxGroups=$maxGroups — driver rank metadata would not be " +
            "metadata-scale. The many-small-groups regime belongs on " +
            "Percentiles.ranked/medianAgg (one distributed window pass, " +
            "no driver state); raise maxGroups only if the driver heap is " +
            "sized for it.")
        }

        // target ranks per group: floor/ceil of (n−1)·q for every q
        val targets: Map[Any, Set[Long]] = totals.map { case (g, n) =>
          g -> qs.flatMap { q =>
            val pos = (n - 1) * q
            Seq(math.floor(pos).toLong, math.ceil(pos).toLong)
          }.toSet
        }.toMap
        val bOff = spark.sparkContext.broadcast(offsets)
        val bTgt = spark.sparkContext.broadcast(targets)

        // pass 2: emit exactly the target-rank rows; only this collect reads
        // the broadcasts, so they are destroyed right after it
        val hits: Array[(Any, Long, Double)] =
          try rdd.mapPartitionsWithIndex { (pid, it) =>
            val off = bOff.value
            val tgt = bTgt.value
            var cur: Any = null
            var started = false
            var rank = 0L
            it.flatMap { row =>
              val g = canonKey(row.get(0))
              val v = row.getDouble(1)
              if (!started || !eq(g, cur)) {
                cur = g; started = true; rank = off((pid, g))
              }
              val r = rank
              rank += 1
              if (tgt(g).contains(r)) Some((g, r, v)) else None
            }
          }.collect()
          finally { bOff.destroy(); bTgt.destroy() }

        val byGroup: Map[Any, Map[Long, Double]] =
          hits.groupBy(_._1).map { case (g, a) =>
            g -> a.map(h => h._2 -> h._3).toMap
          }
        val rows = new java.util.ArrayList[Row]()
        totals.foreach { case (g, n) =>
          val at = byGroup(g)
          qs.foreach { q =>
            rows.add(Row(decanonKey(g), q, interpolate(n, q, at.apply)))
          }
        }
        spark.createDataFrame(rows, schema)
      }
    }
  }
}
