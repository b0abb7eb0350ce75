package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Checkpoints.pin

/** **Scale-adaptive nearest-in-group** (SURVEY §2.3 J7; reference: per-frame
  * nearest defender, BDB_2026.ipynb cell 69 / preprocess.py:489-499): for
  * each left row, the minimum |leftVal − rightVal| over the right rows that
  * share its group key, plus that group's right-row count.
  *
  * The same semantics have two physical regimes with OPPOSITE scaling, and
  * the r15 sweep measured both (SCALING_r15.json):
  *
  *  - '''pairwise''' — equi-join on the key, then min per left row. Cost
  *    Σ_k L_k·R_k: LINEAR when group SIZE is bounded and the group count
  *    scales (the reference's shape: ~11 defenders per frame), with
  *    unbounded parallelism and [[Joins.routed]]'s broadcast/salt/bloom
  *    moves underneath. Quadratic (measured cpu exponent 2.2 at 100×) when
  *    the group COUNT is fixed and both sides scale.
  *  - '''sorted-neighbor''' — union both sides per key, ONE exchange + sort
  *    by value; each left row's nearest right value is one of its two
  *    sorted neighbors, recovered by two growing-frame window passes.
  *    O((L+R) log) regardless of group size (47× less cpu than pairwise at
  *    100× on the fixed-group-count fixture), but parallelism is bounded by
  *    the group count — wrong for millions of tiny groups, where the
  *    pairwise join is linear anyway and saturates every core.
  *
  * Neither form is "the" operator; the REGIME is data-dependent, so this
  * entry point routes on the measured stats [[Joins]]' preflight already
  * collects (one cheap agg pass per side, cached): the Misra–Gries
  * `maxKeyRowsRight` is an UPPER bound on any single key's right-side rows,
  * so `maxKeyRowsRight ≤ maxPairwiseGroupRows` PROVES every per-left-row
  * fan-out is bounded and picks pairwise; anything above routes to
  * sorted-neighbor (the bound's one-sided error only ever demotes a
  * bounded-group input to the always-safe O(n log n) form, never the
  * reverse). The decision and its inputs are returned and logged, like
  * [[Joins.routed]].
  *
  * Both routes return EXACTLY the same bits: IEEE subtraction is
  * sign-symmetric (`b − a == −(a − b)` exactly), so the sorted form's
  * `v − below` / `above − v` equal the pairwise `abs(lv − rv)` at the
  * achieving neighbor, and the min over a group is achieved AT a sorted
  * neighbor. The spec pins bit-equality on both fixture shapes.
  *
  * Contract: output = every left row whose key matches ≥ 1 right row with a
  * non-null value (inner semantics), with ALL left columns preserved plus
  * `n_group` (bigint — matching right rows) and `min_gap` (double — null iff
  * the left value is null). Right rows with a null value or null key are
  * excluded from both the count and the gap; left column names must not
  * collide with those two. Keys pair up positionally like [[Joins.routed]].
  */
object NearestInGroup {

  final case class Decision(strategy: String, reason: String,
      maxKeyRowsRight: Long, rowsLeft: Long, rowsRight: Long)

  final case class Result(df: DataFrame, decision: Decision)

  /** Routed entry point — see the object scaladoc for the regime analysis.
    * `maxPairwiseGroupRows`: the proven per-key right-side bound above which
    * pairwise enumeration is declined. Default 256: pairwise materializes
    * `fan-out` candidate rows per left row while the sorted form pays
    * ~log(L+R) comparisons per row on an already-needed exchange, so the
    * break-even fan-out is low — well under the reference regime's ~11 and
    * well over anything "dimension-per-key"-shaped.
    */
  def nearest(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftVal: String, rightVal: String,
      maxPairwiseGroupRows: Long = 256L): Result = {
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
      s"nearest: key lists must pair up, got $leftKeys / $rightKeys")
    require(!left.columns.contains("n_group") && !left.columns.contains("min_gap"),
      "nearest: left columns n_group/min_gap collide with the output contract")
    // measured routing stats: same cached one-pass-per-side preflight the
    // join router uses (Misra–Gries max-key bound rides the theta pass)
    val rv = right.filter(col(rightVal).isNotNull)
    val pf = Joins.cachedPreflight(left, rv, leftKeys, rightKeys,
      ThetaSketch.DefaultK).estimate
    val (strategy, reason) =
      if (pf.maxKeyRowsRight <= maxPairwiseGroupRows)
        ("pairwise",
          s"max right rows/key <= ${pf.maxKeyRowsRight} (MG upper bound) " +
          s"<= $maxPairwiseGroupRows: bounded fan-out, linear pairwise join " +
          "with unbounded parallelism")
      else
        ("sorted-neighbor",
          s"max right rows/key may reach ${pf.maxKeyRowsRight} (MG upper " +
          s"bound) > $maxPairwiseGroupRows: pairwise enumeration risks " +
          "quadratic blowup; one-exchange sorted-neighbor window is " +
          "O((L+R) log) at any group size")
    org.slf4j.LoggerFactory.getLogger("graft.operators.NearestInGroup").info(
      s"nearest-in-group [$strategy]: $reason; " +
        s"L ${pf.rowsLeft} x R ${pf.rowsRight}")
    val d = Decision(strategy, reason, pf.maxKeyRowsRight,
      pf.rowsLeft, pf.rowsRight)
    val df =
      if (strategy == "pairwise")
        pairwise(left, rv, leftKeys, rightKeys, leftVal, rightVal)
      else sortedNeighbor(left, rv, leftKeys, rightKeys, leftVal, rightVal)
    Result(df, d)
  }

  /** **2-D nearest-in-group** (the reference's ACTUAL J7 shape: per-play
    * nearest defender by Euclidean distance, preprocess.py:441-513 /
    * BDB_2026.ipynb cell 69 — [[graft.bdb.Separation]] keeps the reference
    * regime's pairwise join, which is linear only because a play holds ~11
    * defenders): for each left row, min √((lx−rx)² + (ly−ry)²) over the
    * right rows sharing its group key, plus that group's right-row count.
    *
    * Same two-regime story as the 1-D [[nearest]], but sorted-neighbor does
    * NOT generalize to 2-D (no total order puts every Euclidean nearest
    * neighbor adjacent), so the unbounded-group rung is a '''grid-cell
    * candidate join''' — the sketch-proposes/exact-confirms shape of
    * `d_fuzzy_verify`:
    *
    *  1. bucket right rows by (⌊x/ε⌋, ⌊y/ε⌋) and REPLICATE each into its
    *     3×3 neighbor cells (9 rows); left rows probe with their own cell —
    *     ONE equi-join on (key, cellX, cellY), never all-pairs;
    *  2. a left row whose best candidate sits within ε is PROVEN exact: a
    *     true nearest neighbor at distance ≤ ε has |Δx|,|Δy| ≤ ε, hence
    *     lies in the probed 3×3 block, so the candidate min is the true
    *     min (computed by the same IEEE expression as pairwise →
    *     bit-identical, spec-pinned). The ≤-ε check keeps a relative slack
    *     for the distance rounding plus an absolute 4·(maxAbs+ε)·ulp(1)
    *     slack for the floor(x/ε) CELL-INDEX rounding, which grows with
    *     coordinate magnitude, not with ε (see [[grid2d]]);
    *  3. the residue (no candidate within ε — sparse keys, outliers, null
    *     coords) takes the exact per-key pairwise fallback. ε tunes cost,
    *     never correctness: too small → more fallback rows; too large →
    *     fatter cells. `eps = 0` (the default) derives it from the data —
    *     2·√(boundingArea / avgRowsPerKey), about twice the expected
    *     PER-KEY nearest-neighbor distance of a uniform scatter — so
    *     candidate count per left row stays ~constant (≈ 9·ε²·keyDensity
    *     = 36) AS DENSITY GROWS: a fixed ε goes quadratic the moment the
    *     corpus densifies in a fixed coordinate domain (measured: exponent
    *     1.38 at ε=500 on the 30×→100× replicated tiers), the derived ε
    *     stays linear. One cheap agg over the right side, only when the
    *     grid route is taken.
    *
    * Cost: O((L + 9R) shuffle + candidates), candidates ≈ L · (points per
    * 3×3 block) — linear for any fixed density, ANY group size (the
    * pairwise form is quadratic when the group count is fixed). Parallelism
    * is bounded by occupied CELLS, not groups.
    *
    * Routing mirrors [[nearest]]: the preflight's Misra–Gries bound proves
    * bounded fan-out → pairwise (the reference regime); above the bound →
    * grid. Contract: output = every left row whose key matches ≥ 1 right
    * row with non-null coordinates, ALL left columns preserved plus
    * `n_group` and `min_dist` (double — null iff a left coordinate is
    * null). Right rows with a null coordinate or null key are excluded
    * from count and distance alike.
    */
  def nearest2d(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftX: String, leftY: String, rightX: String, rightY: String,
      eps: Double = 0.0, maxPairwiseGroupRows: Long = 256L): Result = {
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
      s"nearest2d: key lists must pair up, got $leftKeys / $rightKeys")
    require(!eps.isNaN && !eps.isInfinite, s"nearest2d: eps must be finite: $eps")
    require(!left.columns.contains("n_group") && !left.columns.contains("min_dist"),
      "nearest2d: left columns n_group/min_dist collide with the output contract")
    val rv = right.filter(col(rightX).isNotNull && col(rightY).isNotNull)
    val pf = Joins.cachedPreflight(left, rv, leftKeys, rightKeys,
      ThetaSketch.DefaultK).estimate
    val (strategy, reason) =
      if (pf.maxKeyRowsRight <= maxPairwiseGroupRows)
        ("pairwise",
          s"max right rows/key <= ${pf.maxKeyRowsRight} (MG upper bound) " +
          s"<= $maxPairwiseGroupRows: bounded fan-out, linear pairwise join")
      else
        ("grid",
          s"max right rows/key may reach ${pf.maxKeyRowsRight} (MG upper " +
          s"bound) > $maxPairwiseGroupRows: pairwise enumeration risks " +
          "quadratic blowup; grid-cell candidate join is linear at any " +
          "group size")
    val gridEps =
      if (strategy != "grid") eps
      else if (eps > 0) eps
      else derivedEps(rv, rightKeys, rightX, rightY)
    org.slf4j.LoggerFactory.getLogger("graft.operators.NearestInGroup").info(
      s"nearest-in-group-2d [$strategy]: $reason; " +
        (if (strategy == "grid") s"eps=$gridEps" +
          (if (eps <= 0) " (density-derived)" else " (caller-pinned)") + "; "
         else "") +
        s"L ${pf.rowsLeft} x R ${pf.rowsRight}")
    val d = Decision(strategy, reason, pf.maxKeyRowsRight,
      pf.rowsLeft, pf.rowsRight)
    val df =
      if (strategy == "pairwise")
        pairwise2d(left, rv, leftKeys, rightKeys, leftX, leftY, rightX, rightY)
      else grid2d(left, rv, leftKeys, rightKeys, leftX, leftY, rightX, rightY,
        gridEps)
    Result(df, d)
  }

  /** Density-derived grid cell size: 2·√(boundingArea / avgRowsPerKey) —
    * roughly twice a uniform scatter's expected nearest-neighbor distance
    * AT THE KEY LEVEL. The density that matters is PER KEY: groups share
    * the coordinate domain, so dividing the bounding box by the TOTAL row
    * count (the first cut of this derivation) makes ε shrink with the key
    * count and fall below the per-key NN distance — nearly every row
    * missed its ε and took the pairwise fallback, measuring WORSE than a
    * caller-pinned ε (cpu exponent 1.77 vs 1.38 on the replicated tiers).
    * With per-key density the 3×3 block holds ~36 expected candidates and
    * the Poisson miss probability at 2× the expected NN distance is
    * e^(−4π) ≈ 3·10⁻⁶ — the fallback is outliers only, and the candidate
    * join stays linear as the corpus densifies. Degenerate spans
    * (collinear/identical points) fall back to the larger span scaled by
    * √n, then to 1.0 — any positive ε is exact, these are only cost
    * choices. One agg job over the pre-filtered right (the key count via
    * approx_count_distinct — a cost knob needs no exact shuffle). */
  private def derivedEps(rv: DataFrame, rightKeys: Seq[String],
      rightX: String, rightY: String): Double = {
    // density of DISTINCT POSITIONS per key, not rows: duplicates stack on
    // one position (quantized/replicated data), and a row-count density
    // would shrink ε below the position-level NN distance — nearly every
    // probe misses and falls back (measured before the fix). The grid
    // itself joins distinct positions too, so this is the matching measure.
    val r = rv.agg(
      min(col(rightX).cast("double")), max(col(rightX).cast("double")),
      min(col(rightY).cast("double")), max(col(rightY).cast("double")),
      approx_count_distinct(struct(
        rightKeys.map(col) :+ col(rightX) :+ col(rightY): _*)),
      approx_count_distinct(struct(rightKeys.map(col): _*))).head()
    if (r.isNullAt(0) || r.getLong(4) == 0L) return 1.0
    val spanX = r.getDouble(1) - r.getDouble(0)
    val spanY = r.getDouble(3) - r.getDouble(2)
    val n = r.getLong(4).toDouble
    val nKeys = math.max(1L, r.getLong(5)).toDouble
    val perKey = math.max(1.0, n / nKeys)
    val area = spanX * spanY
    if (area > 0) 2.0 * math.sqrt(area / perKey)
    else {
      val span = math.max(spanX, spanY)
      if (span > 0) math.max(span / math.sqrt(perKey), Double.MinPositiveValue)
      else 1.0
    }
  }

  /** √((lx−rx)² + (ly−ry)²) — ONE shared expression for both 2-D forms so
    * their bit-equality is structural (sqrt is correctly rounded; the
    * products and the two-term sum evaluate identically). */
  private def dist2d(lx: org.apache.spark.sql.Column, ly: org.apache.spark.sql.Column,
      rx: org.apache.spark.sql.Column, ry: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val dx = lx - rx
    val dy = ly - ry
    sqrt(dx * dx + dy * dy)
  }

  /** The 2-D join+min form. `right` must already be filtered to non-null
    * coordinates. Same single-evaluation synthetic-id shape as the 1-D
    * [[pairwise]]. */
  private[operators] def pairwise2d(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftX: String, leftY: String, rightX: String, rightY: String): DataFrame = {
    val lid = left.withColumn("__nid", monotonically_increasing_id())
    val renamedKeys = rightKeys.indices.map(i => s"__nrk$i")
    val rr = right.select(
      rightKeys.zip(renamedKeys).map { case (k, n) => col(k).as(n) } :+
      col(rightX).cast("double").as("__nrx") :+
      col(rightY).cast("double").as("__nry"): _*)
    val routed = Joins.routed(lid, rr, leftKeys, renamedKeys)
    val aggs = left.columns.map(c => first(col(c)).as(c)).toSeq :+
      count(lit(1)).as("n_group") :+
      min(dist2d(col(leftX).cast("double"), col(leftY).cast("double"),
        col("__nrx"), col("__nry"))).as("min_dist")
    routed.df
      .groupBy("__nid")
      .agg(aggs.head, aggs.tail: _*)
      .drop("__nid")
      .select(left.columns.map(col) :+ col("n_group") :+ col("min_dist"): _*)
  }

  /** The grid-cell candidate form (see [[nearest2d]]). `right` must already
    * be filtered to non-null coordinates. The left IS localCheckpoint'ed
    * (one eager materialization): the synthetic row id is both the
    * grouping key and the rejoin key across THREE consumers (candidate
    * pass, fallback anti-join, final rejoin), and truncating lineage is
    * what makes the id stable over an order-unstable source — the same
    * hazard the r16 advice flagged on sortedNeighbor, closed here by
    * construction. */
  private[operators] def grid2d(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftX: String, leftY: String, rightX: String, rightY: String,
      eps: Double): DataFrame = {
    val keyCols = leftKeys.indices.map(i => s"__nk$i")
    val lid = pin(leftKeys.zip(keyCols).foldLeft(left) {
        case (df, (k, kc)) => df.withColumn(kc, col(k))
      }
      .withColumn("__nid", monotonically_increasing_id())
      .withColumn("__nlx", col(leftX).cast("double"))
      .withColumn("__nly", col(leftY).cast("double")))
    val rRows = right.select(
      rightKeys.zip(keyCols).map { case (k, n) => col(k).as(n) } :+
      col(rightX).cast("double").as("__nrx") :+
      col(rightY).cast("double").as("__nry"): _*)
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
    // DISTINCT positions, with multiplicities: the distance to a position
    // is the distance to every duplicate at it, so min-over-positions ≡
    // min-over-rows (bit-identical — same value set) while the candidate
    // join touches each position ONCE. This is what keeps the operator
    // linear on duplicate-heavy data (quantized sensors, replicated
    // fixtures: the 100× tier stacks 100 exact copies per position — a
    // per-ROW candidate join degenerates to pairwise cost at ANY ε, this
    // measured cpu exponent 1.97 before the dedup). n_group still counts
    // ROWS (sum of multiplicities), matching the pairwise contract.
    val r = rRows.groupBy(keyCols.map(col) :+ col("__nrx") :+ col("__nry"): _*)
      .agg(count(lit(1)).as("__nmult"))
    val counts = r.groupBy(keyCols.map(col): _*)
      .agg(sum("__nmult").as("n_group"))
    // each distinct position registered in its 3×3 neighborhood (9 rows);
    // floor on double returns bigint, so cell ids join as longs
    val rGrid = r
      .withColumn("__dxo", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("__dyo", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(keyCols.map(col) :+
        (floor(col("__nrx") / eps) + col("__dxo")).as("__gx") :+
        (floor(col("__nry") / eps) + col("__dyo")).as("__gy") :+
        col("__nrx") :+ col("__nry"): _*)
    // null-keyed left rows can never match (inner contract); null-coord
    // left rows fall through to the fallback, which yields a null min_dist
    val lProbe = lid
      .select((keyCols ++ Seq("__nid", "__nlx", "__nly")).map(col): _*)
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__gx", floor(col("__nlx") / eps))
      .withColumn("__gy", floor(col("__nly") / eps))
    val gridMin = lProbe
      .join(rGrid, keyCols :+ "__gx" :+ "__gy")
      .groupBy("__nid")
      .agg(min(dist2d(col("__nlx"), col("__nly"), col("__nrx"), col("__nry")))
        .as("min_dist"))
    // exactness boundary: within the threshold the 3×3 containment proof
    // applies. Two rounding sources eat into ε: (a) the distance
    // expression's last-ulp rounding — covered by the relative (1 − 1e-9)
    // slack; (b) the ⌊x/ε⌋ CELL-INDEX rounding, whose error grows with
    // |x/ε| (~|x/ε|·2⁻⁵³ cells), not with ε — with a caller-pinned ε on
    // far-from-origin coordinates a true neighbor just inside ε could land
    // 2 computed cells away and be silently missed (r17 ADVICE). The
    // absolute slack 4·(maxAbs+ε)·ulp(1) bounds that drift for every row
    // that can pass the filter (a passing left coordinate is within ε of a
    // right one, so |l| ≤ maxAbs+ε; per-axis computed |Δx/ε| then stays
    // ≤ 1, and a value-space gap ≤ 1 forces a floor gap ≤ 1 — the true
    // argmin is inside the probed 3×3 block). If ε is so small against the
    // coordinate magnitude that the slack consumes it, the threshold goes
    // ≤ 0 and every row takes the exact fallback: ε tunes cost, never
    // correctness, in every regime.
    val maxAbsRow = r.agg(max(greatest(abs(col("__nrx")), abs(col("__nry"))))).head()
    val maxAbs = if (maxAbsRow.isNullAt(0)) 0.0 else maxAbsRow.getDouble(0)
    val threshold = eps * (1.0 - 1e-9) - 4.0 * (maxAbs + eps) * math.ulp(1.0)
    val resolved = gridMin.filter(col("min_dist") <= threshold)
    val fallback = lProbe
      .join(resolved.select("__nid"), Seq("__nid"), "left_anti")
      .join(r, keyCols)
      .groupBy("__nid")
      .agg(min(dist2d(col("__nlx"), col("__nly"), col("__nrx"), col("__nry")))
        .as("min_dist"))
    lid.join(resolved.unionByName(fallback), Seq("__nid"))
      .join(counts, keyCols)
      .select(left.columns.map(col) :+ col("n_group") :+ col("min_dist"): _*)
  }

  /** The join+min form. `right` must already be filtered to non-null
    * values. Routes the underlying equi-join through [[Joins.routed]].
    * Values compare as doubles (same cast the sorted form makes — the two
    * routes must return identical bits). */
  private[operators] def pairwise(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftVal: String, rightVal: String): DataFrame = {
    // a synthetic unique id keys "one output row per left ROW" without
    // assuming the caller's columns form a key (duplicate left rows stay
    // distinct); per-partition monotonic ids never collide
    val lid = left.withColumn("__nid", monotonically_increasing_id())
    // rename every right column so nothing collides with a left name
    val renamedKeys = rightKeys.indices.map(i => s"__nrk$i")
    val rBase = rightKeys.zip(renamedKeys).foldLeft(
      right.select((rightKeys :+ rightVal).distinct.map(col): _*)) {
        case (df, (k, n)) => df.withColumnRenamed(k, n)
      }
    val (rr, rvName) =
      if (rightKeys.contains(rightVal))
        (rBase, s"__nrk${rightKeys.indexOf(rightVal)}")
      else (rBase.withColumnRenamed(rightVal, "__nrv"), "__nrv")
    val routed = Joins.routed(lid, rr, leftKeys, renamedKeys)
    val aggs = left.columns.map(c => first(col(c)).as(c)).toSeq :+
      count(lit(1)).as("n_group") :+
      min(abs(col(leftVal).cast("double") - col(rvName).cast("double")))
        .as("min_gap")
    routed.df
      .groupBy("__nid")
      .agg(aggs.head, aggs.tail: _*)
      .drop("__nid")
      .select(left.columns.map(col) :+ col("n_group") :+ col("min_gap"): _*)
  }

  /** The union+window form. `right` must already be filtered to non-null
    * values. BOTH window frames are GROWING (unboundedPreceding..current):
    * Spark evaluates growing frames incrementally at O(1)/row but recomputes
    * a shrinking `1..unboundedFollowing` frame from scratch per row —
    * measured at 2165 cpu_s at 100×, worse than the pairwise join it
    * replaces (r15 NOTES §3). The forward neighbor is therefore a growing
    * frame over the REVERSED sort. Right rows sort before left rows at
    * equal value in both orders, so a zero-gap match is caught either way. */
  private[operators] def sortedNeighbor(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftVal: String, rightVal: String): DataFrame = {
    val keyCols = leftKeys.zipWithIndex.map { case (_, i) => s"__nk$i" }
    // ALL left columns ride the union — there is no synthetic row id and no
    // rejoin. An earlier form tagged the left with
    // monotonically_increasing_id and re-attached the full row afterwards,
    // which evaluates the left subtree TWICE; over an order-unstable source
    // (sample, round-robin repartition) the two evaluations can assign
    // different ids and silently drop or misattach rows. Carrying the row
    // through is also cheaper: one full-width exchange replaces a narrow
    // exchange plus a two-sided join shuffle of the same full-width rows.
    val lTagged = leftKeys.zip(keyCols).foldLeft(left) {
        case (df, (k, kc)) => df.withColumn(kc, col(k))
      }
      .withColumn("__nv", col(leftVal).cast("double"))
      .withColumn("__nis_r", lit(0))
    val rTagged = rightKeys.zip(keyCols).foldLeft(
        right.select(rightKeys.map(col) :+ col(rightVal): _*)) {
        case (df, (k, kc)) => df.withColumnRenamed(k, kc)
      }
      .select(keyCols.map(col) :+
        col(rightVal).cast("double").as("__nv") :+
        lit(1).as("__nis_r"): _*)
    // null-keyed left rows can never match (inner contract) — drop before
    // the exchange so the classic one-reducer null hotspot never forms
    val lNonNull = lTagged.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
    val rNonNull = rTagged.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
    // right rows take typed nulls for the carried left columns
    val union = lNonNull.unionByName(rNonNull, allowMissingColumns = true)
    val rvWhenRight = when(col("__nis_r") === 1, col("__nv"))
    // no explicit tiebreak beyond (__nv, __nis_r): rows tied on value see
    // the same below/above regardless of their relative order (right rows
    // sort first among ties, and every tied right row contributes the same
    // __nv), so the window values are order-invariant — bit-equality with
    // pairwise holds under any tie permutation (spec-pinned)
    val below = last(rvWhenRight, ignoreNulls = true).over(
      Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col("__nv").asc_nulls_last, col("__nis_r").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val above = last(rvWhenRight, ignoreNulls = true).over(
      Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col("__nv").desc_nulls_last, col("__nis_r").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val counts = rNonNull.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_group"))
    union
      .withColumn("__nbelow", below)
      .withColumn("__nabove", above)
      .filter(col("__nis_r") === 0)
      .join(counts, keyCols) // inner: drops left rows with no right match
      .withColumn("min_gap", least(
        when(col("__nbelow").isNotNull, col("__nv") - col("__nbelow")),
        when(col("__nabove").isNotNull, col("__nabove") - col("__nv"))))
      .select(left.columns.map(col) :+ col("n_group") :+ col("min_gap"): _*)
  }
}
