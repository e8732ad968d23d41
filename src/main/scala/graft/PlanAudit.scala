package graft

/** Plan-hygiene sweep over every declared query, planned in Verify's
  * session (the plans the correctness check runs).
  *
  * Notes on what is NOT flagged:
  *  - the final global sort every query carries is the oracle-determinism
  *    contract (hash-compare needs a total row order) and is bounded by
  *    the query's own output size;
  *  - BroadcastNestedLoopJoin is fine when one side is tiny by
  *    construction (band tables, single-row count/query-vector
  *    broadcasts) or the operator is a documented bounded-quadratic exact
  *    baseline — those appear in `expectedNlj`.
  * Anything else printed here is a regression to investigate.
  */
object PlanAudit {
  private val expectedNlj = Set(
    "join_cross",            // cartesian by definition
    "join_range_theta",      // 3-row band table
    "knn_query", "ann_ivf_knn", "ann_pq_knn",
    "ann_ivfpq_knn",           // 1-row query-vector broadcast (same kernel)
    "ann_delete_ivf",          // same composed serve under a tombstone mask
    "ann_txlog_serve",         // same 1-row query-vector broadcast, log-backed
    "embedding_truncate_recall", // 5-row query-sample broadcast (eval op)
    "graph_label_propagation", // 1-row doc-count broadcast (edges CTE)
    // text_tokenize_tf/tfidf: formerly exempt for a 1-row corpus-count
    // broadcast; round-11 folded the count as a plan-time literal, so a
    // BNLJ reappearing in those plans is now a REGRESSION the audit flags.
    "bm25_topk",         // 1-row (N, avgdl) stats broadcast
    "bm25_topk_indexed", // same 1-row stats broadcast, index-backed arm
    "bm25_topk_delta",   // same 1-row stats broadcast, delta-upserted arm
    "search_hybrid_batch", // same 1-row stats broadcast in the lexical arm
    "search_query_elevation", "search_field_collapse", // same bm25 kernel
    "search_cursor_page", // + a 1-row cursor-anchor broadcast
    // (elevation additionally full-outer-joins a 2-row editorial map;
    // full outer cannot broadcast-hash, so the tiny side rides the NLJ)
    "rank_fusion_rrf",   // 1-row query-vector + 1-row bm25-stats broadcasts
    "relevance_ndcg", "relevance_prk", // 3-row query-terms broadcast
    "corpus_mixture_stats", // 1-row token-total broadcast
    "corpus_temperature_resample", // 1-row token-total + 1-row Z broadcasts
    "token_pmi_pairs",   // 1-row corpus-size broadcast
    "events_funnel",     // cross of three 1-row stage counts
    "q22_sales_opportunity", // 1-row avg-acctbal threshold broadcast
    "q11_important_stock",   // 1-row total-value threshold broadcast
    "dedup_embedding_cosine", "dedup_ngram_jaccard", // exact quadratic baselines
    "decontaminate_embedding", // bounded eval-set broadcast ANTI join
    "relevance_map", "search_query_expansion", // 1-row bm25-stats broadcast
    "search_wand_topk",   // 1-row stats + 1-row θ-threshold broadcasts
    "mine_hard_negatives", // 5-row anchor broadcast (label<>label join)
    "graph_triangle_count", "graph_degree_stats", // 1-row doc-count broadcast
    "search_hybrid_blend", // 1-row query-vector + 1-row min/max broadcasts
    "search_tfidf_cosine", // 1-row N + 1-row query-norm broadcasts
    "search_ltr_features", // 3-row terms + 1-row stats broadcasts
    "eval_auc_roc",        // 16-row bucket-offset triangular self-join
    "eval_ks_stat",        // same 16-row offsets + 1-row totals broadcast
    "eval_confusion_threshold", // 3-row threshold-dim broadcast
    "geo_radius_grid",     // 5-center × 9-offset probe-cell cross (45 rows)
    "ts_autocorr",         // 3-row lag-dim broadcast over the daily frame
    "click_position_curve", // 1-row global-CTR broadcast
    "data_expectations_check", // 1-row count × 1-row orphan-count cross
    "dedup_recall_report", // sample-bounded exact pass + 3 1-row counts
    "events_rfm_segments", // 1-row max-date broadcast
    "events_stickiness_wau", // ≤366-row day-frame range self-join
    "events_funnel_windowed", // cross of three 1-row stage counts
    "join_interval_overlap", // 5-row promo-window dim broadcast
    "corpus_dsir_weights")   // 1-row corpus-totals broadcast into ratio

  def main(args: Array[String]): Unit = {
    val spark = Verify.session()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    var flagged = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val p = fn(spark, dir).queryExecution.executedPlan.toString
        val flags = Seq(
          "CartesianProduct" -> p.contains("CartesianProduct"),
          "BroadcastNestedLoopJoin" ->
            (p.contains("BroadcastNestedLoopJoin") && !expectedNlj(name))
        ).collect { case (f, true) => f }
        if (flags.nonEmpty) { flagged += 1; println(s"$name: ${flags.mkString(", ")}") }
      } catch { case e: Throwable =>
        flagged += 1; println(s"$name: ERROR ${e.getMessage.take(80)}")
      }
    }
    println(s"flagged: $flagged")
    spark.stop()
  }
}
