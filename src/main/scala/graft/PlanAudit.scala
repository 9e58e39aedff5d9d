package graft

/** explain("formatted") audit of representative plans — run after
  * changing an operator to confirm the plan is the one you'd want at
  * scale: pushed filters, pruned schemas, broadcast joins where a side
  * is small, no unexpected shuffles. Pass query names as args to
  * audit specific plans.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession("4")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val names = if (args.nonEmpty) args.toSeq
      else Seq("agg_pricing", "join_revenue", "etl_partitioned_scan", "sim_topk",
               "join_asof", "join_range", "dedup_jaccard", "dedup_cluster_reps",
               "sim_lsh_recall_lossy", "events_lake_scan", "etl_snapshot_diff",
               "text_pack", "text_bm25", "join_overlap", "dedup_containment",
               "agg_nation_volume",
               // round-5 closing surface: the plans worth re-reading
               // after any change to their operators
               "sim_knn_graph", "graph_kcore", "graph_assoc_rules",
               "events_rfm", "join_latest_order", "sample_neyman",
               "text_bpe_train", "events_absorption",
               // round-5 continuation surface
               "events_cuped", "profile_gaps", "emb_jl_project",
               "sample_bootstrap", "join_bucketed", "graph_degree_dist",
               "mm_dedup_binary",
               // round-5 final-session surface
               "mm_shard_manifest", "mm_interleaved_pack", "text_kn_lm",
               "sim_binary_topk", "events_mann_whitney", "graph_closeness",
               "cluster_spherical", "events_cem", "text_c4_filters",
               // round-10 surface
               "odata_agg_pushdown", "join_spatial_overlap",
               "join_spatial_knn", "etl_packed_roundtrip",
               "profile_roc_stream",
               // the MinHash family: one shingling pass per corpus, one
               // band-key kernel, posting-list candidates
               "dedup_minhash", "dedup_cross", "dedup_lsh_calibration",
               // the CSV sink's parallel final stage and the OData
               // scan's per-task metrics
               "etl_csv_roundtrip", "odata_scan")
    for (name <- names) {
      println(s"================ $name ================")
      println(SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
