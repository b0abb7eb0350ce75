package graft.queries

import graft.{Checkpoints, SparkSpec}

/** Running a query again in one driver must not pile up cached blocks: each
  * run of a headline query, or of a query whose builder pins or caches,
  * inside one `Checkpoints.scoped` block that also consumes its output,
  * leaves the persistent-RDD set exactly as it found it. Three runs per
  * query, in one session, at sf0.001. */
class PinLeakSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Registry queries outside the headline set whose builders pin or cache
    * (found by running every registry query once and watching for RDDs
    * persisted and unpersisted during the run). All of them are here: with
    * every k-means fit one job, the whole spec runs in 57 s on 4 vCPUs. */
  private val pinning = Seq("a12_having_global", "a_percentiles",
    "a_approx_quantiles", "p_winsorize", "e_pagerank_converged",
    "t_bpe_retokenize", "t_bpe_tokenize", "d_cc_labels", "d_cc_keep_best",
    "l_upsert_merge", "l_incr_agg_retract", "s_pq_knn", "s_ivfpq_recall",
    "d_semantic_ivfpq", "s_ivfpq_knn", "s_ivfpq_knn_exact", "d_semantic_ivfpq_exact",
    "d_semantic_subset_audit", "s_pq_knn_exact")

  /** m_lstm_infer needs the reference LSTM weights, which its default model
    * path does not provide yet (ROADMAP item B1); it fails before building
    * anything. */
  private val skipped = Set("m_lstm_infer")

  test("three runs of each headline or pinning query leave no cached blocks") {
    // drain the ContextCleaner of earlier suites' garbage first, so the
    // only releases during a run are the run's own
    System.gc()
    Thread.sleep(1000)
    val sc = spark.sparkContext
    val queries = (Registry.headline ++ pinning.map(n =>
      Registry.all.find(_.name == n).getOrElse(fail(s"$n is not in the registry"))))
      .filterNot(q => skipped(q.name))
    val leaks = for (q <- queries; run <- 1 to 3) yield {
      val before = sc.getPersistentRDDs.keySet.toSet
      Checkpoints.scoped(q.run(spark, dir).collect())
      val after = sc.getPersistentRDDs.keySet.toSet
      Option.when(after != before)(s"${q.name} run $run: left ${(after -- before).size}, " +
        s"freed ${(before -- after).size} it did not pin")
    }
    assert(leaks.flatten.isEmpty, leaks.flatten.mkString("\n"))
  }
}
