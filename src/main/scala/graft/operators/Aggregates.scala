package graft.operators

import graft.QuerySpec

/** Aggregate surface — catalog/BuiltinsDb.java:679-950: count/min/max/sum/
  * avg, stddev/variance families, DISTINCT via two-phase rewrite
  * (AggregateInfo.java:143-262), group_concat, ndv/appx_median/sample/
  * histogram/distinctpc sketches; HAVING; aggregation over empty inputs.
  * Catalyst plans the same partial→shuffle→final split the reference's
  * DistributedPlanner emits (DistributedPlanner.java:747-948).
  */
object Aggregates {

  /** COUNT(DISTINCT …) incl. the multi-argument form
    * (SelectStmt.analyzeAggregation allows count(distinct a,b)); Spark's
    * RewriteDistinctAggregates handles several distinct groups at once —
    * a superset of the reference's one-group restriction. DuckDB spells
    * multi-arg distinct as a row value. */
  val q28CountDistinct: QuerySpec = QuerySpec.sql2(
    "q28_agg_count_distinct",
    """SELECT c_mktsegment AS segment,
      |       COUNT(*) AS n_rows,
      |       COUNT(DISTINCT c_nationkey) AS n_nations,
      |       COUNT(DISTINCT c_nationkey, c_acctbal > 0) AS n_nation_sign
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY segment""".stripMargin,
    """SELECT c_mktsegment AS segment,
      |       COUNT(*) AS n_rows,
      |       COUNT(DISTINCT c_nationkey) AS n_nations,
      |       COUNT(DISTINCT (c_nationkey, c_acctbal > 0)) AS n_nation_sign
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY segment""".stripMargin)

  /** HAVING — conjunct on the agg output (reference folds it into a
    * SelectNode above the AggregationNode). */
  val q29Having: QuerySpec = QuerySpec.sql(
    "q29_agg_having",
    """SELECT l_orderkey, COUNT(*) AS n_items,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      |FROM lineitem
      |GROUP BY l_orderkey
      |HAVING COUNT(*) = 7 AND SUM(CAST(l_quantity AS DECIMAL(12,2))) > 200
      |ORDER BY l_orderkey""".stripMargin)

  /** stddev/variance family (BuiltinsDb.java:793-857). One-pass merged
    * moments drift in the last ulps vs a serial oracle, so results are
    * rounded to 4 decimals — still plenty to catch a wrong formula. */
  val q30StatsFamily: QuerySpec = QuerySpec.sql(
    "q30_agg_stats_family",
    """SELECT c_nationkey AS nationkey,
      |       COUNT(*) AS n,
      |       ROUND(STDDEV_SAMP(c_acctbal), 4) AS sd_samp,
      |       ROUND(STDDEV_POP(c_acctbal), 4) AS sd_pop,
      |       ROUND(VAR_SAMP(c_acctbal), 4) AS v_samp,
      |       ROUND(VAR_POP(c_acctbal), 4) AS v_pop
      |FROM customer
      |GROUP BY c_nationkey
      |ORDER BY nationkey""".stripMargin)

  /** group_concat with pinned (sorted) element order — the reference's is
    * order-undefined (BuiltinsDb.java:928-950); we define the sorted
    * variant so results are identical under any partitioning (SURVEY §7
    * hard part b). Oracle: DuckDB string_agg with ORDER BY. */
  val q31GroupConcat: QuerySpec = QuerySpec.sql2(
    "q31_agg_group_concat",
    """SELECT r_name, group_concat(n_name, ', ') AS nations,
      |  group_concat(DISTINCT substr(n_name, 1, 1), '') AS initials
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin,
    """SELECT r_name, STRING_AGG(n_name, ', ' ORDER BY n_name) AS nations,
      |  STRING_AGG(DISTINCT substr(n_name, 1, 1), '' ORDER BY substr(n_name, 1, 1)) AS initials
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin)

  /** Aggregation over zero rows: global agg returns one row of
    * count=0 / NULL sums (EmptySetNode under an AggregationNode —
    * SingleNodePlanner.createEmptyNode:204-246). */
  val q32EmptyInput: QuerySpec = QuerySpec.sql(
    "q32_agg_empty_input",
    """SELECT COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
      |       MAX(o_orderpriority) AS max_pri
      |FROM orders
      |WHERE o_orderkey < 0""".stripMargin)

  /** Global (no GROUP BY) aggregate with mixed types — min/max over
    * strings and timestamps, exact decimal sum. */
  val q33GlobalAgg: QuerySpec = QuerySpec.sql(
    "q33_agg_global",
    """SELECT COUNT(*) AS n_orders,
      |       MIN(o_orderpriority) AS min_pri,
      |       MAX(o_orderpriority) AS max_pri,
      |       MIN(o_orderdate) AS first_date,
      |       MAX(o_orderdate) AS last_date,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      |FROM orders""".stripMargin)

  /** The sketch aggregates (ndv / appx_median / distinctpc / distinctpcsa
    * / sample — BuiltinsDb.java:721-790). All seeded/deterministic
    * (HLL max-merge, bitmap OR, bottom-k sample — verified invariant
    * across 3/8/32-way parallelism), so the oracle pins the exact sf0.01
    * outputs as literals: a golden differential that catches sketch
    * drift, which a rows-only check would not. Edge/merge behavior is
    * property-tested in SketchesSpec. */
  val q34Sketches: QuerySpec = QuerySpec(
    "q34_agg_sketches",
    """SELECT segment, CAST(ndv_cust AS BIGINT) AS ndv_cust,
      |  CAST(pc_nations AS BIGINT) AS pc_nations,
      |  CAST(pcsa_cust AS BIGINT) AS pcsa_cust,
      |  CAST(med_bal AS DOUBLE) AS med_bal, sample_nations
      |FROM (VALUES
      |  ('AUTOMOBILE', 304, 21, 353, 4754.0,
      |   '1, 10, 11, 12, 13, 14, 16, 17, 18, 19, 2, 20, 21, 22, 24, 3, 4, 5, 6, 9'),
      |  ('BUILDING',   295, 21, 310, 4277.78,
      |   '1, 10, 11, 12, 13, 14, 16, 17, 18, 19, 2, 20, 21, 22, 24, 3, 4, 5, 6, 9'),
      |  ('FURNITURE',  313, 21, 346, 4020.44,
      |   '1, 10, 11, 12, 13, 14, 16, 17, 18, 19, 2, 20, 21, 22, 24, 3, 4, 5, 6, 9'),
      |  ('HOUSEHOLD',  286, 21, 303, 4072.09,
      |   '1, 10, 11, 12, 13, 14, 16, 17, 18, 19, 2, 20, 21, 22, 24, 3, 4, 5, 6, 9'),
      |  ('MACHINERY',  295, 21, 342, 4388.07,
      |   '1, 10, 11, 12, 13, 14, 16, 17, 18, 19, 2, 20, 21, 22, 24, 3, 4, 5, 6, 9'))
      |  t(segment, ndv_cust, pc_nations, pcsa_cust, med_bal, sample_nations)
      |ORDER BY segment""".stripMargin) { (s, dir) =>
    QuerySpec.prepared(s, dir).sql(
      """SELECT c_mktsegment AS segment,
        |       ndv(c_custkey) AS ndv_cust,
        |       distinctpc(c_nationkey) AS pc_nations,
        |       distinctpcsa(c_custkey) AS pcsa_cust,
        |       CAST(appx_median(c_acctbal) AS DOUBLE) AS med_bal,
        |       sample(c_nationkey) AS sample_nations
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY segment""".stripMargin)
  }

  /** min/max/sum/avg/count as plain column aggregates per group with
    * grouping by an expression (year(o_orderdate)) — GROUP BY expr is in
    * the grammar (sql-parser.cup:6669-6684). */
  val q35GroupByExpr: QuerySpec = QuerySpec.sql(
    "q35_agg_group_by_expr",
    """SELECT YEAR(o_orderdate) AS order_year,
      |       COUNT(*) AS n,
      |       CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS min_price,
      |       CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY YEAR(o_orderdate)
      |ORDER BY order_year""".stripMargin)

  /** Exact inverse-distribution aggregates — percentile_disc picks an
    * actual input value (no interpolation), so DOUBLE results are
    * bit-identical across engines; percentile_cont is pinned through the
    * same WITHIN GROUP surface (the exact twin of the reference's
    * appx_median, BuiltinsDb.java:721-750). Exact percentiles need the
    * full group sorted — fine per-group here; at 100 TB per-key use the
    * approx sketch (q34) or a two-pass histogram refinement instead. */
  val q132Percentiles: QuerySpec = QuerySpec.sql(
    "q132_agg_percentiles",
    """SELECT l_returnflag,
      |  percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS p25,
      |  percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
      |  percentile_disc(0.75) WITHIN GROUP (ORDER BY l_extendedprice) AS p75,
      |  percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_quantity DESC) AS p50_desc,
      |  ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 2) AS median_cont
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin)

  /** ROLLUP with GROUPING() disambiguation — beyond the reference's
    * grammar (group_by_clause is plain expr_list, sql-parser.cup:6669-6684;
    * Impala users emulate this with UNION ALL of re-aggregations, i.e.
    * N fact scans). Spark plans it as ONE scan + Expand(levels), so the
    * hierarchy costs one extra shuffle row per level, not one extra pass
    * per level — the shape that matters at 100 TB. GROUPING() separates
    * subtotal NULLs from data NULLs. */
  val q140Rollup: QuerySpec = QuerySpec.sql(
    "q140_agg_rollup",
    """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
      |  COALESCE(l_linestatus, 'ALL') AS status,
      |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY g_flag, g_status, flag, status""".stripMargin)

  /** CUBE — the full 2^k subtotal lattice (here 4 grouping levels) in
    * ONE scan + Expand, like [[q140Rollup]]. The reference's grammar has
    * no CUBE (sql-parser.cup:6669-6684); the Impala-era emulation is a
    * UNION ALL of 4 re-aggregations = 4 fact scans. At 100 TB the Expand
    * plan reads the fact table once and pays one extra shuffle row per
    * level instead. */
  val q143Cube: QuerySpec = QuerySpec.sql(
    "q143_agg_cube",
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY g_status, g_priority, status, priority""".stripMargin)

  /** Explicit GROUPING SETS with NON-hierarchical sets — two independent
    * one-dimension aggregations from a single scan (ROLLUP/CUBE can't
    * express this lattice). Same Expand machinery as q140/q143. */
  val q144GroupingSets: QuerySpec = QuerySpec.sql(
    "q144_agg_grouping_sets",
    """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
      |  COALESCE(l_linestatus, 'ALL') AS status,
      |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY g_flag, g_status, flag, status""".stripMargin)

  /** Modern aggregate sugar — the FILTER clause plus the
    * any_value/mode/count_if/bool_and/bool_or/median family (beyond the
    * reference's BuiltinsDb surface; the conditional-aggregation
    * semantics its users write as SUM(CASE WHEN ...)). Determinism
    * notes: any_value is pinned to a per-group-constant argument, mode's
    * argument has a wide majority class in every group (no tie to
    * resolve), and median runs over exact integer cents then rounds —
    * so a plain hash compare is sound. Plan: one ordinary two-phase
    * hash aggregate; every function here is partial-aggregable. */
  val q188ModernAggregates: QuerySpec = QuerySpec.sql(
    "q188_agg_modern_sugar",
    """SELECT c_mktsegment AS seg,
      |  COUNT(*) AS n,
      |  COUNT(*) FILTER (WHERE c_acctbal > 5000) AS n_rich,
      |  CAST(COUNT_IF(c_acctbal < 0) AS BIGINT) AS n_neg,
      |  BOOL_AND(c_acctbal > -1000) AS all_above,
      |  BOOL_OR(c_acctbal > 9000) AS any_high,
      |  ANY_VALUE(c_mktsegment) AS seg_again,
      |  MODE(CASE WHEN c_acctbal > 0 THEN 'pos' ELSE 'neg' END) AS majority_sign,
      |  ROUND(CAST(MEDIAN(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE), 4) AS median_cents
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY seg""".stripMargin)

  /** Heavy hitters — approx_top_k (Spark 4's DataSketches frequent-items
    * aggregate), the modern sibling of the reference's sketch family
    * (BuiltinsDb.java:721-790). Run in its EXACT regime: the fixture's
    * distinct-item count is far below maxItemsTracked, so every tracked
    * count is exact and the oracle is a plain GROUP BY topN; the
    * re-sort by (cnt DESC, word) pins tie order on both sides (the
    * fixture's counts are distinct anyway). At corpus scale the sketch
    * is the point: fixed memory per partition, merged partially — the
    * same two-phase shape as ndv/appx_median. */
  val q190ApproxTopK: QuerySpec = QuerySpec.sql2(
    "q190_agg_approx_topk",
    """WITH t AS (SELECT explode(split('a a a a a b b b b c c c d d e', ' ')) AS w)
      |SELECT s.item AS word, CAST(s.count AS BIGINT) AS cnt
      |FROM (SELECT approx_top_k(w, 3, 100) AS tk FROM t) x
      |LATERAL VIEW explode(tk) e AS s
      |ORDER BY cnt DESC, word""".stripMargin,
    """WITH t AS (SELECT unnest(string_split('a a a a a b b b b c c c d d e', ' ')) AS w)
      |SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM t GROUP BY w ORDER BY cnt DESC, word LIMIT 3""".stripMargin)

  val all: Seq[QuerySpec] = Seq(
    q28CountDistinct, q29Having, q30StatsFamily, q31GroupConcat,
    q32EmptyInput, q33GlobalAgg, q34Sketches, q35GroupByExpr.benched,
    q132Percentiles, q140Rollup, q143Cube, q144GroupingSets,
    q188ModernAggregates, q190ApproxTopK)
}
