package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Checkpoints.{pin, release, scoped}

/** Distributed connected components — the clustering step of a near-dup
  * pipeline: LSH/SimHash emit candidate PAIRS, but "keep one doc per
  * duplicate group" needs the transitive closure of those pairs (doc A≈B,
  * B≈C ⇒ {A,B,C} is one group even if A,C never collided in a band).
  *
  * Algorithm: iterative min-label propagation. Every node starts labeled
  * with its own id; each round, every node takes the min of its own label
  * and its neighbors' labels; converged when no label changes. Each round
  * is one shuffle join (labels ⋈ edges on the neighbor id) + one hash agg —
  * both on the node-id key, so AQE coalesces/splits partitions freely.
  * Rounds needed = graph diameter, and near-dup graphs are unions of small
  * dense clusters (stars/cliques from band collisions), so 2-4 rounds in
  * practice. For adversarial long-path graphs switch to alternating
  * large-star/small-star contraction (Kiveris et al., "Connected Components
  * in MapReduce and Beyond"), which converges in O(log² n) rounds — not
  * needed for the dedup workload this serves.
  *
  * Scale notes: `localCheckpoint` truncates lineage each round (otherwise
  * the plan doubles per iteration and planning time dominates); the edge
  * list is symmetrized once and reused; labels are (long, long) pairs —
  * ~16 bytes/node — so even 10^11 nodes spill gracefully under the usual
  * shuffle configuration.
  */
object ConnectedComponents {

  /** Components of the undirected graph given by `edges` (columns `src`,
    * `dst`). Returns one row per node appearing in any edge: (id, component)
    * where component = min node id reachable.
    */
  def run(edges: DataFrame, src: String = "src", dst: String = "dst",
      maxIter: Int = 50): DataFrame = scoped {
    // leaving the scope frees `sym`: the returned labels are materialized
    val sym = pin(edges
      .select(col(src).cast("long").as("id"), col(dst).cast("long").as("nb"))
      .union(edges.select(col(dst).cast("long").as("id"), col(src).cast("long").as("nb")))
      .filter(col("id") =!= col("nb"))
      .distinct())

    var labels = pin(sym.select("id").distinct()
      .withColumn("comp", col("id")))

    // Convergence test: labels only ever DECREASE, so the label sum is
    // strictly monotone and "sum unchanged ⇔ no label changed" — one tiny
    // aggregate over the checkpointed labels instead of a join + count per
    // round. decimal(38,0) so the sum can't overflow at 10^11 × 10^11-sized
    // ids.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0)

    var prevSum = labelSum(labels)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val viaNeighbor = sym
        .join(labels.withColumnRenamed("id", "nb"), Seq("nb"))
        .select("id", "comp")
      val next = pin(labels.union(viaNeighbor)
        .groupBy("id").agg(min("comp").as("comp")))
      val s = labelSum(next)
      // the new checkpoint is materialized — the previous round's blocks are
      // dead; released per round, not left to driver-GC timing
      release(labels)
      labels = next
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      it += 1
    }
    require(converged, s"did not converge in $maxIter rounds (diameter too " +
      "large for label propagation — use runStarContraction instead)")
    labels
  }

  /** Greedy keep-first over a similar-pair graph: process nodes in
    * ascending id order; a node is DROPPED iff it is similar to a
    * previously **kept** node, else kept. Returns the dropped ids (one
    * column `id`). This is the lexicographically-first maximal independent
    * set — the dedup contract where every dropped doc has a *kept* similar
    * representative: for a chain A~B, B~C, A≁C it keeps A and C and drops
    * only B (cluster-style keep-one-per-component would drop C too, leaving
    * it with no similar doc in the corpus).
    *
    * Greedy-by-id is inherently sequential along similarity chains, so it
    * cannot be a single relational pass. The distributed shape: label the
    * pair graph with [[run]] (components are independent), then scan each
    * component sequentially inside one `flatMapGroups` task. Near-dup
    * components are small dense clusters (band collisions), so per-group
    * memory is cluster-sized; a pathological mega-component is the same
    * skew case the CC scaladoc flags and surfaces in
    * [[Skew.hotKeys]]-style diagnostics upstream.
    */
  def greedyKeepFirstDrops(pairs: DataFrame, src: String = "d1",
      dst: String = "d2"): DataFrame = scoped {
    val spark = pairs.sparkSession
    import spark.implicits._
    // leaving the scope frees the edge and label checkpoints, so the result
    // never reads them: the no-pairs case is the common one on a stream, and
    // a per-batch leak here is exactly the wave-3 accumulation class
    val edges = pin(pairs
      .select(least(col(src), col(dst)).cast("long").as("lo"),
        greatest(col(src), col(dst)).cast("long").as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct())
    if (edges.isEmpty) spark.range(0).toDF("id")
    else {
      val labels = run(edges, "lo", "hi")
      pin(edges.join(labels.withColumnRenamed("id", "lo"), Seq("lo"))
        .select(col("comp"), col("lo"), col("hi"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (_, it) =>
          val es = it.map(t => (t._2, t._3)).toArray
          val smaller = collection.mutable.Map
            .empty[Long, collection.mutable.ArrayBuffer[Long]]
          es.foreach { case (lo, hi) =>
            smaller.getOrElseUpdate(hi, collection.mutable.ArrayBuffer.empty) += lo
          }
          val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2))
            .toArray.distinct.sorted
          val kept = collection.mutable.Set.empty[Long]
          val dropped = collection.mutable.ArrayBuffer.empty[Long]
          nodes.foreach { n =>
            if (smaller.get(n).exists(_.exists(kept.contains))) dropped += n
            else kept += n
          }
          dropped.iterator
        }
        // materialized (small: dropped ids) so the edge and label
        // checkpoints it reads can be released before returning
        .toDF("id"))
    }
  }

  /** Components via alternating large-star / small-star contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond") — O(log² n)
    * rounds regardless of graph DIAMETER, where [[run]]'s label propagation
    * needs diameter-many rounds. Use this for path-heavy graphs (linked
    * record chains, long temporal threads); [[run]] stays the cheaper choice
    * for the dense star/clique clusters LSH dedup produces.
    *
    * Each round is two half-steps, each one groupBy(node) + join — the same
    * per-round shuffle budget as label propagation, just fewer rounds:
    *  - large-star(u): hook every neighbor v > u onto m = min(Γ(u) ∪ u);
    *  - small-star(u): hook every neighbor v ≤ u (and u) onto
    *    m = min(Γ≤(u) ∪ u).
    * The edge list converges to a forest of stars rooted at component
    * minima; convergence is detected by a deterministic star-forest fixpoint
    * test on the high→low-canonicalized edge set: no edge target is itself a
    * source, and every source has out-degree exactly 1 (see isStarForest
    * below — a count/checksum heuristic would accept non-star fixpoints).
    */
  def runStarContraction(edges: DataFrame, src: String = "src",
      dst: String = "dst", maxRounds: Int = 40): DataFrame = scoped {
    // Canonicalize BEFORE the initial convergence test: orient every edge
    // high→low. The input is an arbitrary directed pair list (LSH emits
    // d1 < d2, i.e. low→high), and the star-forest test below is only
    // meaningful on a high→low-oriented set — a root-written star like
    // (1,2),(1,3) would otherwise pass the test untouched and come back as
    // two components.
    var e = pin(edges
      .select(col(src).cast("long").as("a"), col(dst).cast("long").as("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())

    def both(d: DataFrame): DataFrame =
      d.union(d.select(col("v").as("u"), col("u").as("v")))

    def largeStar(d: DataFrame): DataFrame = {
      val b = both(d)
      val m = b.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"))
      b.join(m, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(d: DataFrame): DataFrame = {
      val b = both(d).filter(col("v") <= col("u"))
      val m = b.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"))
      b.join(m, Seq("u"))
        .select(col("v").as("n"), col("u").as("self"), col("m"))
        // hook each small neighbor AND u itself onto m
        .select(explode(array(
          struct(col("n").as("u"), col("m").as("v")),
          struct(col("self").as("u"), col("m").as("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // Deterministic fixpoint test: the edge list is converged exactly when
    // it is a forest of stars — (a) no edge's TARGET is itself a SOURCE
    // (every non-root points directly at its root) AND (b) every source has
    // exactly ONE outgoing edge (a node pointing at two "roots" — e.g. the
    // canonicalized input (3,1),(3,2) — is a star-merge still to happen, not
    // a forest). large∘small leaves a true forest unchanged. A checksum
    // comparison would be probabilistic; these are a self-semi-join and a
    // hash agg on the same key the rounds already hash by.
    def isStarForest(d: DataFrame): Boolean = {
      val targetAlsoSource = d.select(col("v").as("id"))
        .join(d.select(col("u").as("id")), Seq("id"), "left_semi")
      val multiOut = d.groupBy("u").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1)
      targetAlsoSource.isEmpty && multiOut.isEmpty
    }

    var converged = isStarForest(e)
    var round = 0
    while (!converged && round < maxRounds) {
      val next = pin(smallStar(largeStar(e)))
      release(e) // next is materialized; last round is dead
      e = next
      converged = isStarForest(e)
      round += 1
    }
    require(converged, s"star contraction did not converge in $maxRounds rounds")
    // stationary edge set is (node → component min) for every non-root node;
    // add the roots mapping to themselves
    val roots = e.select(col("v").as("id")).distinct()
      .join(e.select(col("u").as("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("comp"))
    e.select(col("u").as("id"), col("v").as("comp")).union(roots)
  }
}
