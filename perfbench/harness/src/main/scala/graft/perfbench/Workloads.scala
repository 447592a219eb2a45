package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{llm, plans, queue, relational, rounds}

/** The catalog workloads and the module ("layer") each query belongs to.
  *
  * A query's module is the module whose public `queries` registry holds
  * it; `SparkEntry.queries` is the union of these registries. The traced
  * run charges every Spark job a query launches to that module. */
object Workloads {
  type Query = (SparkSession, String) => DataFrame

  /** Per-module registries, in the layer order the report uses. */
  val modules: Seq[(String, Map[String, Query])] = Seq(
    "relational" -> (relational.Core.queries ++ relational.Breadth.queries ++
      relational.Events.queries ++ relational.Extra.queries ++
      relational.Extra2.queries ++ relational.Analytics.queries ++
      relational.Stats.queries ++ relational.Extra3.queries ++
      relational.Layout.queries ++ relational.Graph.queries ++
      relational.Ranges.queries),
    "plans" -> (plans.TopK.queries ++ plans.AsOf.queries),
    "queue" -> (queue.Derived.queries ++ queue.TranscriptEtl.queries),
    "rounds" -> rounds.Stratify.queries,
    "llm.Dedup" -> llm.Dedup.queries,
    "llm.Similarity" -> llm.Similarity.queries,
    "llm.TextOps" -> llm.TextOps.queries,
    "llm.Corpus" -> llm.Corpus.queries,
    "llm.Pipeline" -> llm.Pipeline.queries,
    "llm.Multimodal" -> llm.Multimodal.queries)

  val moduleNames: Seq[String] = modules.map(_._1)

  /** Every module whose registry holds `name` (exactly one when the
    * catalog is well-formed). */
  def modulesOf(name: String): Seq[String] =
    modules.collect { case (m, reg) if reg.contains(name) => m }

  def moduleOf(name: String): String = modulesOf(name) match {
    case Seq(m) => m
    case ms => sys.error(s"$name belongs to ${ms.size} module registries")
  }

  /** The catalog workload's queries in the order of the cold pass, at
    * least one per module. The set is small so that a run fits the
    * benchmark's time budget on a 4-core box, and it keeps the queries
    * that build the big memos: q40 `strata`, q267 `ann_shortlists`, q259
    * `bpe_merges16` and q276 `funnel_stages`. */
  val catalog: Seq[String] = Seq(
    "q01_agg", "q07_window_rank", "q183_asof_nearest", "q44_lifecycle_replay",
    "q40_round_strata", "q41_round_summary", "q150_substring_dedup",
    "q267_ann_nprobe_sweep", "q259_bpe_train16", "q186_compaction_plan",
    "q276_pipeline_funnel", "q129_png_roundtrip")
}
