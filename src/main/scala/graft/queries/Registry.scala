package graft.queries

/** Single source of truth for every verifiable query. SparkEntry / Verify / Bench
  * all derive from this list. Names must be unique.
  */
object Registry {
  val all: Seq[QueryDef] =
    RelationalQueries.defs ++
      JoinQueries.defs ++
      AggQueries.defs ++
      WindowQueries.defs ++
      SetOpQueries.defs ++
      EventQueries.defs ++
      TextQueries.defs ++
      BpeQueries.defs ++
      DedupQueries.defs ++
      SimilarityQueries.defs ++
      SketchQueries.defs ++
      ModelQueries.defs

  require(all.map(_.name).distinct.size == all.size,
    s"duplicate query names: ${all.map(_.name).diff(all.map(_.name).distinct)}")

  /** Queries timed by Bench (representative of each operator family's cost). */
  def headline: Seq[QueryDef] = {
    val picks = Set("q1_pricing_summary", "j_star_chain", "j7_nearest_in_group",
      "a2_residual_stats", "a_rollup", "w10_ordered_collect", "w_range_rolling",
      "e_sessionize", "t_fingerprint", "d_minhash_sig", "d_minhash_lsh_pairs",
      "s_knn_brute", "t_pack", "e_interval_join",
      // round-4 scale-path operators: timing trend, not just correctness rows
      "d_simhash_banded", "d_contamination", "s_lsh_knn_multiprobe",
      // round-5 operators. s_pq_knn is deliberately NOT benched: most of its
      // cost is the codebook fit (index build), which would swamp the engine
      // signal the bench exists to trend.
      "e_asof_join", "d_fuzzy_verify", "a_hll_mergeable", "t_chunk",
      // round-7: new operator families from round 6 with no timing trend yet,
      // plus the CMS mergeable-sketch path (round-6 VERDICT #4/#7)
      "e_pagerank_types", "t_bigram_lm", "a_cms_topk",
      // round-7 second wave: bloom-pruned join (shuffle-reduction trend) and
      // duplicated-span coverage (gram-explode + islands — data-bound)
      "j_bloom_join", "d_dup_spans")
    val known = all.map(_.name).toSet
    val missing = picks.diff(known)
    require(missing.isEmpty, s"headline picks not in registry: $missing")
    all.filter(q => q.headline || picks(q.name))
  }
}
