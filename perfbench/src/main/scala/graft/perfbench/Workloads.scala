package graft.perfbench

/** One benchmark workload: the queries of a pass, the fixture scale they
  * read, whether a pass executes them or stops at the physical plan, and
  * how many warm passes follow the cold one. Why each workload exists, and
  * why it holds these queries, is recorded in perfbench/README.md. */
final case class Workload(name: String, scale: String, queries: Seq[String],
                          planOnly: Boolean, warmPasses: Int)

object Workloads {

  /** Bench headline queries executed to full results: SQL-surface queries
    * (a TPC-H aggregate, a scan with pushdown, a five-way join, an
    * event-window sessionization, a correlated subquery), the suffix-array
    * fixpoint loop (many SQL executions per query, staged through
    * checkpoints, with per-round probes) and two single-pass LLM-data
    * queries. */
  val ExecQueries: Seq[String] = Seq(
    "q01_agg_tpch_q1", "q02_scan_pushdown", "q05_join_tpch_q5",
    "q66_events_sessionize", "q116_sub_tpch_q21",
    "q381_sa_lcp_stats", "q90_text_tokens", "q92_mm_decode_pipeline")

  /** Registry statements with SQL text: every sixth of the 253 such specs
    * in registry order when the benchmark was defined, a systematic sample
    * that kept each module's share. The names are pinned so that specs
    * added to or removed from the registry later do not change the
    * workload; a pinned name missing from the registry fails the run. */
  val PlanStatements: Seq[String] = Seq(
    "q238_market_basket", "q98_agg_tpch_q4", "q197_fk_orphan_audit",
    "q110_join_tpch_q13", "q116_sub_tpch_q21", "q256_dss_returns_above_avg",
    "q262_dss_channel_compare", "q268_dss_year_over_year",
    "q349_dss_channel_quantity_flow", "q358_dss_price_above_avg",
    "q371_dss_frequent_tickets", "q388_dss_multi_supplier_clean",
    "q394_dss_channel_census", "q42_sub_in", "q21_union_all", "q27_limit_offset",
    "q29_agg_having", "q132_agg_percentiles", "q37_win_ntile_pct",
    "q50_expr_case_decode", "q56_expr_pattern", "q182_oracle_probe",
    "q64_nested_collect", "q333_granger_lite", "q297_events_mad_outliers",
    "q280_chi2_independence", "q226_benford_audit", "q240_conversion_latency",
    "q68_events_daily_rollup", "q195_events_funnel_steps", "q135_text_source_mix",
    "q168_embed_pool_normalize", "q213_feature_hashing", "q94_text_quality_prune",
    "q125_text_pack_batches", "q175_dedup_substring_remove", "q184_bigram_lm",
    "q303_lognormal_lengths", "q229_subsample_ci", "q279_classifier_kappa",
    "q345_decile_lift", "q311_encoding_qc", "q335_l_diversity")

  def all: Seq[Workload] = Seq(
    Workload("exec_mix", "sf0.01", ExecQueries, planOnly = false, warmPasses = 2),
    Workload("sql_plan", "sf0.01", PlanStatements, planOnly = true, warmPasses = 3))

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
