package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Module attribution: the traced run charges a query's Spark jobs to the
  * module whose registry owns it, so every query must resolve to exactly
  * one module, and to the one the workload lists it under. */
class AttributionSpec extends AnyFunSuite {

  test("each workload query belongs to exactly one module") {
    for (name <- Workloads.catalog) assert(Workloads.modulesOf(name).size == 1, name)
  }

  test("each workload query is in SparkEntry.queries") {
    val entry = graft.SparkEntry.queries
    for (name <- Workloads.catalog) assert(entry.contains(name), name)
  }

  test("the workload exercises every module") {
    assert(Workloads.catalog.map(Workloads.moduleOf).distinct.sorted ==
      Workloads.moduleNames.sorted)
  }

  test("module registries are disjoint") {
    val names = Workloads.modules.flatMap(_._2.keys)
    assert(names.size == names.distinct.size,
      names.diff(names.distinct).distinct.mkString(", "))
  }

  test("the catalog and its wider query families resolve to their modules") {
    val expected = Map(
      "relational" -> Seq("q01_agg", "q07_window_rank", "q02_topk_revenue",
        "q03_join_brand", "q11_cube", "q19_selfjoin_deps", "q23_session_window",
        "q54_approx_distinct", "q153_hopping_window", "q162_path_mining",
        "q180_markov_transitions", "q158_column_stats", "q171_percentile_disc",
        "q97_try_ops", "q149_pit_lookup", "q154_cdc_apply", "q174_range_join",
        "q175_interval_overlap", "q140_pagerank", "q155_triangles"),
      "plans" -> Seq("q183_asof_nearest", "q113_asof_attribution",
        "q106_quality_topk", "q127_topk_sql"),
      "queue" -> Seq("q42_scheduler_pick", "q43_status_overview",
        "q44_lifecycle_replay", "q45_pulse"),
      "rounds" -> Seq("q40_round_strata", "q41_round_summary"),
      "llm.Dedup" -> Seq("q150_substring_dedup", "q46_minhash_pairs",
        "q47_simhash_pairs", "q109_simhash_md5", "q246_cc_twostar",
        "q260_cc_salted_live"),
      "llm.Similarity" -> Seq("q267_ann_nprobe_sweep", "q36_cosine_topk",
        "q39_ann_lsh", "q133_lsh_cosine_dups", "q233_semdedup_increment",
        "q273_pq_rerank_sweep", "q277_ann_ivfpq"),
      "llm.TextOps" -> Seq("q259_bpe_train16", "q34_jaccard_pairs",
        "q182_bpe_merges", "q189_split_leakage", "q193_bpe_encode",
        "q245_memorization_scan"),
      "llm.Corpus" -> Seq("q186_compaction_plan", "q157_bm25",
        "q238_quality_probe", "q242_probe_eval"),
      "llm.Pipeline" -> Seq("q276_pipeline_funnel", "q87_curation_pipeline"),
      "llm.Multimodal" -> Seq("q129_png_roundtrip", "q241_phash_dups"))
    for ((module, names) <- expected; name <- names)
      assert(Workloads.moduleOf(name) == module, name)
  }
}
