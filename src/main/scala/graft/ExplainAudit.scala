package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Plan-audit main: dumps the FORMATTED physical plan of every headline
  * query (plus the round-2 additions) to docs/PLANS.md together with a
  * scale checklist — broadcast joins present, parquet filter pushdown,
  * whole-stage-codegen span count, shuffle (Exchange) count. This is
  * the artifact the ".explain and iterate" loop leaves behind: re-run
  * after any operator change and diff. Each plan is EXECUTED first so
  * AQE's final plan (codegen ids, runtime join strategies, coalesced
  * exchanges) is what gets audited.
  *
  * Usage: runMain graft.ExplainAudit [sfDir] [outFile] [query,query...]
  * — with a query list, only those queries are audited (same table,
  * lint list and formatted plans), e.g. for a before/after plan pair.
  */
object ExplainAudit {
  val audited: Seq[String] = Bench.headline ++ Seq(
    "q_valid_entities_sql", "q_range_join", "q_grouping_sets",
    "q_argminmax", "dedup_clusters", "sim_rp_lsh", "sim_centroid_classify",
    "text_tfidf", "q_stats_agg", "q_asof_native", "q_topk_agg",
    "text_gopher", "text_scrub", "text_domain_mix", "text_subsample",
    "sim_knn_graph", "dedup_span", "q_snapshot_diff",
    "q_fusion_etl", "dedup_report", "text_repetition", "text_contamination",
    "text_rarity", "q_heavy_hitters", "mm_embed_topk",
    "q_range_join_native", "q_sequence_agg", "q_mode_per_key",
    "q_exists_sql", "sim_sq_topk", "src_catalog_columns",
    "q_merge", "q_bloom_prune", "q_session_window", "q_incr_agg",
    "sim_pq_topk", "sim_recall_report", "dedup_apply", "q_cms_topk",
    "q_approx_quantile", "text_batch_pack",
    "q_asof_forward", "q_gap_fill", "q_funnel", "sim_sql_topk",
    "mm_resize_stats", "src_file_stats",
    // round 3
    "q_retention_cohort", "q_skyline", "q_throttle", "q_array_funcs",
    "q_entropy", "text_weighted_sample", "text_curriculum",
    "sim_range_search", "sim_mrl_topk", "mm_modality_route",
    "src_docgen", "q_hll_rollup", "dedup_containment",
    "q_cogroup_profile",
    // round-3 session-4
    "q_yoy", "q_event_pattern", "q_map_funcs", "q_cooccurrence",
    "text_readability", "text_zipf", "src_table_checksum",
    "q_weighted_median", "q_percentile_cont",
    "q_pagerank", "q_ab_test", "q_decile_lift", "text_ngram_novelty",
    "q_gini", "q_autocorr", "q_changepoint", "q_ewma", "q_benford",
    "q_backtest", "q_fuzzy_join", "q_market_basket", "q_survival",
    "q_dau_wau", "q_elasticity",
    // round-3 session-5
    "q_seasonality_dow", "text_mixture_sample", "q_entity_resolution",
    "q_shortest_path", "q_bollinger", "q_rolling_median", "q_except_all",
    "mm_audio_energy", "mm_scene_cuts", "q_mwu_test", "q_period_detect",
    "q_itemset3", "dedup_minhash_oph", "text_sentence_dedup",
    "q_delta_encode", "q_time_to_convert", "sim_knn_classify",
    "q_hll_intersect", "q_rank_dense", "src_docgen_count",
    "dedup_semantic_sweep", "q_new_returning", "q_typed_agg",
    "text_bigram_lm", "sim_nprobe_sweep", "q_heat_grid",
    "q_rollup_cascade", "q_psi", "q_holt", "src_rowgroup_stats",
    "text_bm25", "q_intersect_all", "text_lang_confusion",
    "sim_centroid_drift", "text_doc_embedding", "q_overlap_join",
    "q_constraint_audit", "text_contamination_pairs",
    // round 11: the returned plan is the small-key percentile plus a
    // literal hot-median table — the narrowing passes run eagerly and
    // are audited by their own soak, not this plan
    "q_median_narrow", "q_quantile_narrow", "q_quantiles_multi",
    // round 12: the weighted narrowing twins (same lazy-plan shape)
    "q_weighted_median_narrow", "q_weighted_quantiles_multi",
    // round 13
    "q_weighted_median_auto", "q_approx_weighted_quantile",
    "sim_ivfpq_topk", "text_bpe_merges", "text_bpe_encode",
    "src_ts_normalize", "src_jdbc_incremental", "dedup_incremental",
    "dedup_substring", "dedup_substring_apply",
    "dedup_substring_incremental", "text_dsir", "text_dsir_resample",
    "q_theil_sen", "text_bpe_tokenize", "src_csv_roundtrip",
    "src_orc_roundtrip", "q_winsor", "q_cohort_ltv",
    // round 14: trained PQ's returned plan (ADC ranking over the
    // trained codebook — the k-means fits run eagerly at build time)
    // and the two compaction gates (the returned plan is the landed
    // probe / compacted index read; the rewrite runs eagerly and is
    // audited by `Soak index`)
    "sim_pq_trained", "dedup_compact_probe", "dedup_compact_grams",
    "src_zorder_roundtrip",
    // round 15: the composed LLM-corpus pipeline (the engine's largest
    // single plan — seven chained stages, one DAG), the trained IVF×PQ
    // verdict (both k-means fits run eagerly at build time; the plan is
    // the shared-candidate ADC ranking + hit totals), and the URL
    // canonicalization pass (codegen'd regex chain + two windows)
    "pipe_llm_corpus", "sim_ivfpq_trained", "text_url_canon",
    "pipe_report",
    // round 16: the materialized-stage report (the returned plan is
    // the seven single-row aggregates over LANDED frames — the stage
    // landing runs eagerly and is measured by `Soak pipe`)
    "pipe_report_mat")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("docs/PLANS.md")
    val names = args.lift(2).fold(audited) { list =>
      val qs = list.split(",").toSeq
      require(qs.forall(SparkEntry.queries.contains), s"unknown query in $list")
      qs
    }
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sb = new StringBuilder
    sb ++= "# Physical-plan audit (auto-generated by graft.ExplainAudit)\n\n"
    sb ++= s"Source: `$sfDir`. Regenerate: `sbt \"runMain graft.ExplainAudit\"`.\n\n"
    sb ++= "| query | broadcast joins | pushed filters | codegen spans | shuffles | sorts | lint e/w/i |\n"
    sb ++= "|---|---|---|---|---|---|---|\n"
    val lintLog = new StringBuilder
    val conf = spark.sessionState.conf
    val plans = names.distinct.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        val df = fn(spark, sfDir)
        // Execute THIS QueryExecution instance (a write would plan a
        // fresh one): AQE only annotates codegen ids and final stage
        // shapes on the plan that actually ran.
        df.queryExecution.executedPlan.executeCollect()
        // lint the FINAL (post-AQE, codegen-collapsed) plan
        val findings = graft.plans.PlanLint.lintPlan(
          df.queryExecution.executedPlan, conf.autoBroadcastJoinThreshold,
          conf.adaptiveExecutionEnabled, conf.parquetFilterPushDown)
        val bySev = findings.groupBy(_.severity).view.mapValues(_.size)
        val lintCell = s"${bySev.getOrElse("error", 0)}/" +
          s"${bySev.getOrElse("warn", 0)}/${bySev.getOrElse("info", 0)}"
        findings.filter(f => f.severity != "info").foreach { f =>
          lintLog ++= s"- `$name` [${f.severity}] ${f.rule} @ ${f.node}: ${f.detail}\n"
        }
        val plan = df.queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        // The executed AQE explain holds the final-plan tree, then the
        // initial-plan tree, then one detail block per node id (both
        // plans). Count ONLY the nodes reachable from the final tree.
        val finalTree = plan.split("== Initial Plan ==").head
        val finalIds = "\\((\\d+)\\)".r.findAllMatchIn(finalTree)
          .map(_.group(1)).toSet
        val blocks = plan.split("\n\n").filter { b =>
          "^\\((\\d+)\\)".r.findFirstMatchIn(b.trim).exists(m => finalIds(m.group(1)))
        }
        def nodes(op: String): Int =
          blocks.count(_.trim.matches("(?s)^\\(\\d+\\) " + op + "\\b.*"))
        val nBroadcast = nodes("BroadcastHashJoin") + nodes("BroadcastNestedLoopJoin")
        val pushed = blocks.count(b =>
          b.contains("PushedFilters: [") && !b.contains("PushedFilters: []"))
        val nCodegen = blocks.flatMap(b =>
          "codegen id : (\\d+)".r.findFirstMatchIn(b).map(_.group(1))).toSet.size
        val nShuffle = nodes("Exchange")
        val nSort = nodes("Sort")
        sb ++= s"| `$name` | $nBroadcast | $pushed | $nCodegen | $nShuffle | $nSort | $lintCell |\n"
        name -> plan
      }
    }
    sb ++= "\nShuffles = non-broadcast Exchange nodes (the count AQE starts\n"
    sb ++= "from; final ORDER BY contributes one range exchange). Broadcast\n"
    sb ++= "exchanges are excluded — they ship the small side, not the fact\n"
    sb ++= "table. Lint = graft.plans.PlanLint findings on the final plan\n"
    sb ++= "(errors/warns/infos); every warn or error is itemized below.\n"
    sb ++= "\n## Plan-lint findings (warn and above)\n\n"
    sb ++= (if (lintLog.isEmpty) "None.\n" else lintLog.toString)
    plans.foreach { case (name, plan) =>
      sb ++= s"\n## $name\n\n```\n$plan```\n"
    }
    Files.createDirectories(Paths.get(out).toAbsolutePath.getParent)
    Files.write(Paths.get(out), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[explain-audit] wrote ${plans.size} plans to $out")
    spark.stop()
  }
}
