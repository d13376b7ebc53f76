package graft

import graft.core.Session

/** Plan inspector: prints the formatted physical plan for the named
  * queries (default: scale-critical headliners) so broadcast choices,
  * parquet pushdown (`PushedFilters`/`ReadSchema`) and whole-stage-codegen
  * spans can be reviewed per change.
  *
  *   runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  val headliners = Seq("join_star_revenue", "agg_pricing_summary",
    "taxi_bucket_segmentation", "win_topk_per_group", "llm_cosine_topk",
    "join_asof", "llm_ngram_jaccard", "llm_minhash_pairs", "llm_ann_lsh",
    "sub_correlated", "tpch_q3_shipping", "llm_embedding_neardup",
    "evt_stream_join", "llm_langid",
    "llm_neardup_gate", "llm_embed_gate", "llm_ann_pq", "llm_dedup_quality",
    "evt_pattern_match", "evt_session_dynamic",
    "win_streaks", "join_salted_skew", "agg_hll_union", "sub_recursive_cte",
    "graph_pagerank", "evt_attribution", "etl_incremental_agg", "evt_ewma",
    "join_spatial_grid", "agg_ks_test", "ml_target_encode", "ml_scale",
    "llm_pmi_collocations", "evt_cusum")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else headliners
    val spark = Session.builder("graft-explain").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
