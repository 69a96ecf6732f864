package graft.operators

import graft.Dialect
import graft.QuerySpec

/** TPC-DS-shaped plan corpus — the reference's third planner golden
  * family (fe/src/test/java/org/apache/impala/planner/PlannerTest.java:218
  * runs the full TPC-DS suite as plan tests; rounds 1-11 covered the
  * TPC-H and TPC-H-nested families, this module covers the DS shapes).
  * TPC-DS's signature patterns are what warehouse users hit most after
  * TPC-H: star joins through a date dimension, multi-channel UNIONs
  * rolled up per channel, grouped-subquery factors compared against
  * group averages, windowed ranks over ROLLUP lattices, and scalar
  * cross-joined band counts.
  *
  * The driver fixture has no date_dim/item/store tables, so each query
  * keeps the DS PLAN SHAPE over the fixture's star schema the same way
  * TpchFull adapted TPC-H: date_dim derives as a distinct-date CTE from
  * the fact's own timestamps (broadcast-sized: |days|, exactly how a
  * real date dim behaves), item → part, the three sales channels →
  * lineitem return-flag slices or the events stream joined through the
  * customer key. All texts are engine-portable ANSI SQL (one text runs
  * on Spark and the DuckDB oracle) under the Num decimal-cast
  * discipline, with every rank/LIMIT total-ordered.
  *
  * Scale notes (100 TB design): the derived date dim and every other
  * dimension side (part, nation, per-group averages, scalar thresholds)
  * is at most |distinct days| × a few columns — broadcast material, so
  * the fact table never reshuffles for a dim join; the channel unions
  * are map-side concatenations feeding ONE shuffled aggregate; the
  * correlated-average factors (q256) rewrite to aggregate-then-join
  * under RewriteCorrelatedScalarSubquery — one extra shuffle on the
  * grouping key, never per-row execution; the ROLLUP lattices shuffle
  * once and expand map-side. PlanSpec pins the broadcast/no-cartesian
  * claims.
  */
object TpcdsShapes {
  import Num.{MoneySql => M, RateSql => R}

  /** revenue volume with exact decimal arithmetic (see Num) */
  private val Vol =
    s"CAST(CAST(l_extendedprice AS $M) * (CAST(1 AS $R) - CAST(l_discount AS $R)) AS DECIMAL(19,8))"
  private val Zero = "CAST(0 AS DECIMAL(19,8))"

  /** TPC-DS Q3 shape: star join fact→date_dim→item with a month filter
    * on the date dim and a type filter on the item dim, yearly brand
    * rollup, TopN. The date dim is the distinct-day CTE — the broadcast
    * side a real d_date_sk join would be. */
  val q254StarDateBrand: QuerySpec = QuerySpec.sql(
    "q254_dss_star_date_brand",
    s"""WITH date_dim AS (
       |  SELECT DISTINCT CAST(l_shipdate AS DATE) AS d_date,
       |         YEAR(l_shipdate) AS d_year, MONTH(l_shipdate) AS d_moy
       |  FROM lineitem)
       |SELECT d_year, p_brand, CAST(SUM($Vol) AS DOUBLE) AS sum_agg
       |FROM lineitem
       |JOIN date_dim ON CAST(l_shipdate AS DATE) = d_date
       |JOIN part ON l_partkey = p_partkey
       |WHERE d_moy = 11 AND p_type = 'STANDARD'
       |GROUP BY d_year, p_brand
       |ORDER BY d_year, sum_agg DESC, p_brand
       |LIMIT 100""".stripMargin).benched

  /** TPC-DS Q5 shape: three sales channels (kept lineitem, returned
    * lineitem, purchase events through the customer key) each rolled to
    * (channel, nation, sales, returns), UNION ALL, ROLLUP over
    * (channel, nation) — the cross-channel profit report. */
  val q255ChannelRollup: QuerySpec = QuerySpec.sql(
    "q255_dss_channel_rollup",
    s"""WITH ssr AS (
       |  SELECT n_name AS id,
       |         SUM(CASE WHEN l_returnflag <> 'R' THEN $Vol ELSE $Zero END) AS sales,
       |         SUM(CASE WHEN l_returnflag = 'R' THEN $Vol ELSE $Zero END) AS returns
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  GROUP BY n_name),
       |csr AS (
       |  SELECT n_name AS id,
       |         SUM(CASE WHEN o_orderstatus <> 'F' THEN CAST(o_totalprice AS $M) ELSE CAST(0 AS $M) END) AS sales,
       |         SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS $M) ELSE CAST(0 AS $M) END) AS returns
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY n_name),
       |wsr AS (
       |  SELECT n_name AS id,
       |         SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS $M) ELSE CAST(0 AS $M) END) AS sales,
       |         SUM(CASE WHEN event_type = 'error' THEN CAST(value AS $M) ELSE CAST(0 AS $M) END) AS returns
       |  FROM events
       |  JOIN customer ON user_id = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE event_type IN ('purchase', 'error')
       |  GROUP BY n_name),
       |u AS (
       |  SELECT 'store channel' AS channel, id, CAST(sales AS DECIMAL(19,8)) AS sales,
       |         CAST(returns AS DECIMAL(19,8)) AS returns FROM ssr
       |  UNION ALL
       |  SELECT 'catalog channel', id, CAST(sales AS DECIMAL(19,8)),
       |         CAST(returns AS DECIMAL(19,8)) FROM csr
       |  UNION ALL
       |  SELECT 'web channel', id, CAST(sales AS DECIMAL(19,8)),
       |         CAST(returns AS DECIMAL(19,8)) FROM wsr)
       |SELECT channel, id,
       |  CAST(SUM(sales) AS DOUBLE) AS sales,
       |  CAST(SUM(returns) AS DOUBLE) AS returns
       |FROM u
       |GROUP BY ROLLUP(channel, id)
       |ORDER BY channel NULLS FIRST, id NULLS FIRST""".stripMargin).benched

  /** TPC-DS Q1 shape: grouped-subquery factor (per-customer returns)
    * compared against 1.2× its nation's average of the same factor — a
    * correlated scalar-aggregate subquery over a CTE referenced twice. */
  val q256ReturnsAboveAvg: QuerySpec = QuerySpec.sql(
    "q256_dss_returns_above_avg",
    s"""WITH customer_total_return AS (
       |  SELECT o_custkey AS ctr_cust, c_nationkey AS ctr_nation,
       |         SUM($Vol) AS ctr_return
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  WHERE l_returnflag = 'R'
       |  GROUP BY o_custkey, c_nationkey)
       |SELECT c_custkey, c_name
       |FROM customer_total_return ctr1
       |JOIN customer ON ctr1.ctr_cust = c_custkey
       |WHERE CAST(ctr1.ctr_return AS DOUBLE) >
       |  (SELECT 1.2 * CAST(SUM(ctr2.ctr_return) AS DOUBLE) / COUNT(*)
       |   FROM customer_total_return ctr2
       |   WHERE ctr2.ctr_nation = ctr1.ctr_nation)
       |ORDER BY c_custkey
       |LIMIT 100""".stripMargin)

  /** TPC-DS Q95 shape: orders fulfilled from more than one supplier
    * (fact self-join CTE) that also saw a return — two IN-subqueries
    * over the same fact feeding one summary row. */
  val q257MultiSupplierOrders: QuerySpec = QuerySpec.sql(
    "q257_dss_multi_supplier_orders",
    s"""WITH multi_supp AS (
       |  SELECT l1.l_orderkey AS okey
       |  FROM lineitem l1
       |  JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
       |                  AND l1.l_suppkey <> l2.l_suppkey
       |  GROUP BY l1.l_orderkey)
       |SELECT COUNT(DISTINCT o_orderkey) AS order_count,
       |  CAST(SUM(CAST(o_totalprice AS $M)) AS DOUBLE) AS total_price
       |FROM orders
       |WHERE o_orderstatus = 'F'
       |  AND o_orderkey IN (SELECT okey FROM multi_supp)
       |  AND o_orderkey IN (SELECT l_orderkey FROM lineitem
       |                     WHERE l_returnflag = 'R')""".stripMargin)

  /** TPC-DS Q67 shape: ROLLUP over the (type, brand, year) hierarchy,
    * then a windowed rank WITHIN type by rolled-up sales, keep the top
    * slice. ROW_NUMBER with a total tie-break keeps the hash stable
    * where RANK would admit order ties.
    *
    * The Spark text pre-aggregates to the FINEST grouping set before
    * the ROLLUP (optimization guide §2.3 "aggregate before you
    * shuffle"): Spark plans ROLLUP as an Expand that multiplies every
    * input row by the number of grouping sets (×4 here) BEFORE the
    * partial aggregate, so rolling up the fact rows directly pushes
    * 4×|lineitem| rows through the hash — the bench's single heaviest
    * TPC-DS stage (r20: 2.3 s in one scan-fused task). Summing partial
    * sums re-associates an exact DECIMAL(19,8) aggregate — bit-identical
    * by definition — so the oracle text (the direct ROLLUP) stays the
    * authoritative semantics and the driver hash-checks the equivalence
    * every round. The Expand now runs over the (type, brand, year)
    * group grain — vocabulary-sized, corpus-size-independent. */
  val q258RollupRank: QuerySpec = QuerySpec.sql2(
    "q258_dss_rollup_rank",
    s"""WITH base AS (
       |  SELECT p_type, p_brand, YEAR(l_shipdate) AS d_year,
       |         SUM($Vol) AS s
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY p_type, p_brand, YEAR(l_shipdate)),
       |agg AS (
       |  SELECT p_type, p_brand, d_year,
       |         SUM(s) AS sumsales
       |  FROM base
       |  GROUP BY ROLLUP(p_type, p_brand, d_year)),
       |r AS (
       |  SELECT p_type, p_brand, d_year, CAST(sumsales AS DOUBLE) AS sumsales,
       |    ROW_NUMBER() OVER (PARTITION BY p_type
       |                       ORDER BY sumsales DESC,
       |                                p_brand ASC NULLS FIRST,
       |                                d_year ASC NULLS FIRST) AS rk
       |  FROM agg)
       |SELECT p_type, p_brand, d_year, sumsales, rk
       |FROM r WHERE rk <= 5
       |ORDER BY p_type NULLS FIRST, rk""".stripMargin,
    s"""WITH agg AS (
       |  SELECT p_type, p_brand, YEAR(l_shipdate) AS d_year,
       |         SUM($Vol) AS sumsales
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY ROLLUP(p_type, p_brand, YEAR(l_shipdate))),
       |r AS (
       |  SELECT p_type, p_brand, d_year, CAST(sumsales AS DOUBLE) AS sumsales,
       |    ROW_NUMBER() OVER (PARTITION BY p_type
       |                       ORDER BY sumsales DESC,
       |                                p_brand ASC NULLS FIRST,
       |                                d_year ASC NULLS FIRST) AS rk
       |  FROM agg)
       |SELECT p_type, p_brand, d_year, sumsales, rk
       |FROM r WHERE rk <= 5
       |ORDER BY p_type NULLS FIRST, rk""".stripMargin).benched

  /** TPC-DS Q34/Q73 shape: per-order line counts bucketed by HAVING,
    * joined back to the customer dim — the "frequent big baskets"
    * report. */
  val q259OrderSizeBuckets: QuerySpec = QuerySpec.sql(
    "q259_dss_order_size_buckets",
    s"""WITH oc AS (
       |  SELECT o_orderkey, o_custkey, COUNT(*) AS cnt
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY o_orderkey, o_custkey
       |  HAVING COUNT(*) BETWEEN 6 AND 7)
       |SELECT c_name, o_orderkey, cnt
       |FROM oc JOIN customer ON o_custkey = c_custkey
       |ORDER BY cnt DESC, c_name, o_orderkey
       |LIMIT 100""".stripMargin)

  /** TPC-DS Q14 shape: cross-channel items via INTERSECT (parts that
    * moved in all three return-flag channels), then brand revenue
    * restricted to that intersection. The restriction is an INNER JOIN
    * on the intersection (set semantics make it distinct, so the join
    * is multiplicity-safe) rather than an IN-subquery: the semi join
    * an IN plans propagates through the p_partkey = l_partkey equality
    * constraint onto the part branch too, and the whole 3-scan
    * intersection gets COMPUTED TWICE (7 fact scans — observed, and
    * exactly the plan you can't afford at 100 TB). PlanSpec pins the
    * 4-scan shape. */
  val q260CrossChannelItems: QuerySpec = QuerySpec.sql(
    "q260_dss_cross_channel_items",
    s"""WITH cross_items AS (
       |  SELECT l_partkey AS item FROM lineitem WHERE l_returnflag = 'A'
       |  INTERSECT
       |  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N'
       |  INTERSECT
       |  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')
       |SELECT p_brand, CAST(SUM($Vol) AS DOUBLE) AS sales,
       |       COUNT(*) AS n_lines
       |FROM lineitem
       |JOIN cross_items ON l_partkey = item
       |JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand
       |ORDER BY p_brand""".stripMargin)

  /** TPC-DS Q88 shape: eight single-row band counts (events per hour
    * band) cross-joined into one wide row — scalar-aggregate
    * cross-joins, each a broadcast of exactly one row. */
  val q261HourBands: QuerySpec = QuerySpec.sql(
    "q261_dss_hour_bands",
    """SELECT h8, h9, h10, h11, h12, h13, h14, h15
      |FROM (SELECT COUNT(*) AS h8  FROM events WHERE HOUR(ts) = 8)  s1,
      |     (SELECT COUNT(*) AS h9  FROM events WHERE HOUR(ts) = 9)  s2,
      |     (SELECT COUNT(*) AS h10 FROM events WHERE HOUR(ts) = 10) s3,
      |     (SELECT COUNT(*) AS h11 FROM events WHERE HOUR(ts) = 11) s4,
      |     (SELECT COUNT(*) AS h12 FROM events WHERE HOUR(ts) = 12) s5,
      |     (SELECT COUNT(*) AS h13 FROM events WHERE HOUR(ts) = 13) s6,
      |     (SELECT COUNT(*) AS h14 FROM events WHERE HOUR(ts) = 14) s7,
      |     (SELECT COUNT(*) AS h15 FROM events WHERE HOUR(ts) = 15) s8""".stripMargin)

  /** TPC-DS Q58 shape: the same item-revenue aggregate over two periods
    * joined on the item, kept where the two are within 10% of each
    * other — the period-over-period consistency screen. */
  val q262ChannelCompare: QuerySpec = QuerySpec.sql(
    "q262_dss_channel_compare",
    s"""WITH sa AS (
       |  SELECT l_partkey AS item, SUM($Vol) AS rev
       |  FROM lineitem WHERE YEAR(l_shipdate) = 1996 GROUP BY l_partkey),
       |sb AS (
       |  SELECT l_partkey AS item, SUM($Vol) AS rev
       |  FROM lineitem WHERE YEAR(l_shipdate) = 1997 GROUP BY l_partkey)
       |SELECT p_brand, sa.item AS item,
       |  CAST(sa.rev AS DOUBLE) AS rev_a, CAST(sb.rev AS DOUBLE) AS rev_b
       |FROM sa JOIN sb ON sa.item = sb.item
       |JOIN part ON sa.item = p_partkey
       |WHERE CAST(sa.rev AS DOUBLE) >= 0.9 * CAST(sb.rev AS DOUBLE)
       |  AND CAST(sa.rev AS DOUBLE) <= 1.1 * CAST(sb.rev AS DOUBLE)
       |ORDER BY p_brand, item""".stripMargin)

  /** TPC-DS Q23 shape: frequently-sold items CTE (count over a
    * threshold) × best-customers CTE (spend above half the max) both
    * restricting the fact — two semi-join reductions feeding one
    * summary aggregate. */
  val q263FrequentBestCustomers: QuerySpec = QuerySpec.sql(
    "q263_dss_frequent_best_customers",
    s"""WITH frequent_items AS (
       |  SELECT l_partkey AS item FROM lineitem
       |  GROUP BY l_partkey HAVING COUNT(*) > 40),
       |best_customers AS (
       |  SELECT o_custkey AS cust, SUM(CAST(o_totalprice AS $M)) AS tot
       |  FROM orders GROUP BY o_custkey),
       |threshold AS (
       |  SELECT 0.5 * MAX(CAST(tot AS DOUBLE)) AS thr FROM best_customers)
       |SELECT COUNT(*) AS n_lines, CAST(SUM($Vol) AS DOUBLE) AS sales
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE l_partkey IN (SELECT item FROM frequent_items)
       |  AND o_custkey IN (SELECT cust FROM best_customers, threshold
       |                    WHERE CAST(tot AS DOUBLE) > thr)""".stripMargin)

  /** TPC-DS Q36 shape: gross-margin ROLLUP over (type, brand) with
    * GROUPING() exposing the lattice level and a rank WITHIN each
    * parent level — the classic drill-down report. */
  val q264MarginRollupGrouping: QuerySpec = QuerySpec.sql(
    "q264_dss_margin_rollup_grouping",
    s"""WITH agg AS (
       |  SELECT CAST(GROUPING(p_type) AS INT) AS g_type,
       |         CAST(GROUPING(p_brand) AS INT) AS g_brand,
       |         p_type, p_brand,
       |         SUM($Vol) AS s_disc,
       |         SUM(CAST(l_extendedprice AS $M)) AS s_full
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY ROLLUP(p_type, p_brand)),
       |r AS (
       |  SELECT g_type + g_brand AS lochierarchy, p_type, p_brand,
       |    CAST(s_disc AS DOUBLE) / CAST(s_full AS DOUBLE) AS margin,
       |    ROW_NUMBER() OVER (
       |      PARTITION BY g_type + g_brand,
       |                   CASE WHEN g_brand = 1 THEN p_type END
       |      ORDER BY CAST(s_disc AS DOUBLE) / CAST(s_full AS DOUBLE) ASC,
       |               p_type ASC NULLS FIRST,
       |               p_brand ASC NULLS FIRST) AS rank_within_parent
       |  FROM agg)
       |SELECT lochierarchy, p_type, p_brand,
       |  CAST(ROUND(margin * 1e6) AS BIGINT) AS margin_e6,
       |  rank_within_parent
       |FROM r
       |ORDER BY lochierarchy DESC, p_type NULLS FIRST,
       |         rank_within_parent""".stripMargin)

  /** TPC-DS Q47 shape: monthly brand sales vs the brand-year monthly
    * average, with the neighboring months via LAG/LEAD over the month
    * series — the deviation-from-trend screen. */
  val q265MonthlyVsAvg: QuerySpec = QuerySpec.sql(
    "q265_dss_monthly_vs_avg",
    s"""WITH monthly AS (
       |  SELECT p_brand, YEAR(l_shipdate) AS d_year, MONTH(l_shipdate) AS d_moy,
       |         SUM($Vol) AS sum_sales
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY p_brand, YEAR(l_shipdate), MONTH(l_shipdate)),
       |v2 AS (
       |  SELECT p_brand, d_year, d_moy,
       |    CAST(sum_sales AS DOUBLE) AS sum_sales,
       |    CAST(SUM(sum_sales) OVER (PARTITION BY p_brand, d_year) AS DOUBLE)
       |      / COUNT(*) OVER (PARTITION BY p_brand, d_year) AS avg_monthly,
       |    CAST(LAG(sum_sales) OVER (PARTITION BY p_brand
       |                              ORDER BY d_year, d_moy) AS DOUBLE) AS psum,
       |    CAST(LEAD(sum_sales) OVER (PARTITION BY p_brand
       |                               ORDER BY d_year, d_moy) AS DOUBLE) AS nsum
       |  FROM monthly)
       |SELECT p_brand, d_year, d_moy,
       |  CAST(ROUND(sum_sales * 100) AS BIGINT) AS sales_c,
       |  CAST(ROUND(avg_monthly * 100) AS BIGINT) AS avg_c,
       |  CAST(ROUND(COALESCE(psum, -1) * 100) AS BIGINT) AS prev_c,
       |  CAST(ROUND(COALESCE(nsum, -1) * 100) AS BIGINT) AS next_c
       |FROM v2
       |WHERE d_year = 1996
       |  AND ABS(sum_sales - avg_monthly) / avg_monthly > 0.1
       |ORDER BY p_brand, d_year, d_moy""".stripMargin)

  /** TPC-DS Q93 shape: per-customer sales with returned lines zeroed
    * out (the returns-adjusted actual), bottom-N customers. */
  val q266SalesAfterReturns: QuerySpec = QuerySpec.sql(
    "q266_dss_sales_after_returns",
    s"""SELECT c_custkey, c_name, CAST(SUM(act) AS DOUBLE) AS sumsales
       |FROM (
       |  SELECT o_custkey,
       |         CASE WHEN l_returnflag = 'R' THEN $Zero ELSE $Vol END AS act
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey) t
       |JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_custkey, c_name
       |ORDER BY sumsales, c_custkey
       |LIMIT 100""".stripMargin)

  /** TPC-DS Q33/Q56 shape: the same per-brand aggregate computed per
    * channel (return-flag slices), UNION ALL, re-aggregated over the
    * union — sum over channels without rescanning per channel result. */
  val q267UnionChannelItems: QuerySpec = QuerySpec.sql(
    "q267_dss_union_channel_items",
    s"""WITH ss AS (
       |  SELECT p_brand, SUM($Vol) AS total_sales
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_returnflag = 'A' GROUP BY p_brand),
       |cs AS (
       |  SELECT p_brand, SUM($Vol) AS total_sales
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_returnflag = 'N' GROUP BY p_brand),
       |ws AS (
       |  SELECT p_brand, SUM($Vol) AS total_sales
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_returnflag = 'R' GROUP BY p_brand)
       |SELECT p_brand, CAST(SUM(total_sales) AS DOUBLE) AS total_sales
       |FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs
       |      UNION ALL SELECT * FROM ws) tmp
       |GROUP BY p_brand
       |ORDER BY p_brand""".stripMargin)

  /** TPC-DS Q11/Q74 shape: a per-customer yearly spend CTE self-joined
    * across two years; keep customers whose spend grew, ranked by the
    * growth ratio — exact-decimal ratios so the DOUBLE compare is
    * engine-stable. */
  val q268YearOverYear: QuerySpec = QuerySpec.sql(
    "q268_dss_year_over_year",
    s"""WITH yt AS (
       |  SELECT o_custkey AS cust, YEAR(o_orderdate) AS yr,
       |         SUM(CAST(o_totalprice AS $M)) AS tot
       |  FROM orders GROUP BY o_custkey, YEAR(o_orderdate))
       |SELECT c_custkey, c_name,
       |  CAST(ROUND(CAST(y2.tot AS DOUBLE) / CAST(y1.tot AS DOUBLE) * 1e6)
       |    AS BIGINT) AS growth_e6
       |FROM yt y1
       |JOIN yt y2 ON y1.cust = y2.cust
       |JOIN customer ON y1.cust = c_custkey
       |WHERE y1.yr = 1996 AND y2.yr = 1997
       |  AND CAST(y2.tot AS DOUBLE) > CAST(y1.tot AS DOUBLE)
       |ORDER BY growth_e6 DESC, c_custkey
       |LIMIT 100""".stripMargin)

  /** TPC-DS Q51 shape: per-channel cumulative monthly sales, FULL OUTER
    * joined on (brand, month), kept where one channel's running total
    * overtakes the other — windows over two channel CTEs feeding a
    * full join. */
  val q269CumulativeCross: QuerySpec = QuerySpec.sql(
    "q269_dss_cumulative_cross",
    s"""WITH a AS (
       |  SELECT p_brand, MONTH(l_shipdate) AS m, SUM($Vol) AS s
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_returnflag = 'A' AND YEAR(l_shipdate) = 1996
       |  GROUP BY p_brand, MONTH(l_shipdate)),
       |b AS (
       |  SELECT p_brand, MONTH(l_shipdate) AS m, SUM($Vol) AS s
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_returnflag = 'N' AND YEAR(l_shipdate) = 1996
       |  GROUP BY p_brand, MONTH(l_shipdate)),
       |ca AS (SELECT p_brand, m,
       |         CAST(SUM(s) OVER (PARTITION BY p_brand ORDER BY m) AS DOUBLE) AS cum_a
       |       FROM a),
       |cb AS (SELECT p_brand, m,
       |         CAST(SUM(s) OVER (PARTITION BY p_brand ORDER BY m) AS DOUBLE) AS cum_b
       |       FROM b)
       |SELECT COALESCE(ca.p_brand, cb.p_brand) AS brand,
       |  COALESCE(ca.m, cb.m) AS m,
       |  CAST(ROUND(COALESCE(ca.cum_a, 0) * 100) AS BIGINT) AS cum_a_c,
       |  CAST(ROUND(COALESCE(cb.cum_b, 0) * 100) AS BIGINT) AS cum_b_c
       |FROM ca FULL JOIN cb ON ca.p_brand = cb.p_brand AND ca.m = cb.m
       |WHERE COALESCE(ca.cum_a, 0) > COALESCE(cb.cum_b, 0)
       |ORDER BY brand, m""".stripMargin)

  /** TPC-DS Q17 shape: per-item quantity statistics (count, mean,
    * stdev, coefficient of variation) in each of two channels joined on
    * the item — the cross-channel demand-stability screen. Moments
    * accumulate as exact decimals; each statistic is one fixed DOUBLE
    * tree. */
  val q270ItemStatsChannels: QuerySpec = QuerySpec.sql(
    "q270_dss_item_stats_channels",
    s"""WITH sa AS (
       |  SELECT l_partkey AS item, COUNT(*) AS n,
       |    CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sq,
       |    CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))
       |             * CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sqq
       |  FROM lineitem WHERE l_returnflag = 'A' GROUP BY l_partkey),
       |sb AS (
       |  SELECT l_partkey AS item, COUNT(*) AS n,
       |    CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sq,
       |    CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))
       |             * CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sqq
       |  FROM lineitem WHERE l_returnflag = 'N' GROUP BY l_partkey)
       |SELECT sa.item AS item, sa.n AS n_a, sb.n AS n_b,
       |  CAST(ROUND(sa.sq / sa.n * 1e6) AS BIGINT) AS mean_a_e6,
       |  CAST(ROUND(SQRT((sa.sqq - sa.sq * sa.sq / sa.n) / (sa.n - 1))
       |    / (sa.sq / sa.n) * 1e6) AS BIGINT) AS cov_a_e6,
       |  CAST(ROUND(sb.sq / sb.n * 1e6) AS BIGINT) AS mean_b_e6,
       |  CAST(ROUND(SQRT((sb.sqq - sb.sq * sb.sq / sb.n) / (sb.n - 1))
       |    / (sb.sq / sb.n) * 1e6) AS BIGINT) AS cov_b_e6
       |FROM sa JOIN sb ON sa.item = sb.item
       |WHERE sa.n >= 3 AND sb.n >= 3
       |ORDER BY item
       |LIMIT 100""".stripMargin)

  /** TPC-DS Q65 shape: below-average performers — the per-brand revenue
    * aggregate compared against the scalar all-brand average. The
    * average comes from an unordered window over the ALREADY-AGGREGATED
    * brand relation (|brands| rows), not a second CTE reference: Spark
    * inlines WITH, so the `sb, av` cross-join form would rescan and
    * re-aggregate the whole fact — one lineitem scan is the plan this
    * must keep at 100×, and PlanSpec pins it. The window SUM stays
    * exact DECIMAL until the one cast. */
  val q271BelowAvgBrands: QuerySpec = QuerySpec.sql(
    "q271_dss_below_avg_brands",
    s"""WITH sb AS (
       |  SELECT p_brand, SUM($Vol) AS rev
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY p_brand),
       |w AS (SELECT p_brand, rev,
       |        CAST(SUM(rev) OVER () AS DOUBLE) / COUNT(*) OVER () AS a
       |      FROM sb)
       |SELECT p_brand, CAST(ROUND(CAST(rev AS DOUBLE) * 100) AS BIGINT) AS rev_c
       |FROM w
       |WHERE CAST(rev AS DOUBLE) <= a
       |ORDER BY p_brand""".stripMargin)

  /** TPC-DS Q62/Q99 shape: shipping-delay bucket matrix per supplier
    * nation (30/60/90/120+ day bands between order and ship dates) —
    * the CASE-bucketed count pivot every fulfillment report runs. */
  val q272ShipDelayBuckets: QuerySpec = {
    def text(spark: Boolean): String = {
      val dd = Dialect.dayDiff(spark, "l_shipdate", "o_orderdate")
      s"""SELECT n_name,
         |  CAST(SUM(CASE WHEN $dd <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
         |  CAST(SUM(CASE WHEN $dd > 30 AND $dd <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
         |  CAST(SUM(CASE WHEN $dd > 60 AND $dd <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
         |  CAST(SUM(CASE WHEN $dd > 90 THEN 1 ELSE 0 END) AS BIGINT) AS d120,
         |  COUNT(*) AS n
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY n_name
         |ORDER BY n_name""".stripMargin
    }
    QuerySpec.sql2("q272_dss_ship_delay_buckets", text(spark = true), text(spark = false))
  }

  /** TPC-DS Q61 shape: promotional revenue share. The textbook form
    * cross-joins two scalar aggregates (that family's plan is pinned by
    * q261); here both numerator and denominator come from ONE
    * conditional aggregation over a single fact scan — the same answer
    * (exact DECIMAL sums either way) at half the I/O, which is the plan
    * that matters when the fact is 100 TB. PlanSpec pins the single
    * scan. */
  val q273PromoShare: QuerySpec = QuerySpec.sql(
    "q273_dss_promo_share",
    s"""SELECT
       |  CAST(ROUND(promo * 1e6 / total) AS BIGINT) AS promo_share_e6,
       |  CAST(ROUND(promo * 100) AS BIGINT) AS promo_c,
       |  CAST(ROUND(total * 100) AS BIGINT) AS total_c
       |FROM (SELECT
       |    CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN $Vol ELSE $Zero END)
       |      AS DOUBLE) AS promo,
       |    CAST(SUM($Vol) AS DOUBLE) AS total
       |  FROM lineitem JOIN part ON l_partkey = p_partkey) t""".stripMargin)

  // ---- round-14 additions: ten more DS plan families ------------------
  import org.apache.spark.sql.functions._
  import graft.llmops.Checkpoints.Stageable

  /** TPC-DS Q4/Q11 shape: per-customer per-year channel totals, the CTE
    * self-joined FOUR ways (two channels × two years) to keep customers
    * whose catalog growth beat their store growth. The channel CTEs are
    * the fixture's two fact grains (order headers vs line revenue).
    * Scale shape: each year-total relation collapses the fact to
    * customer-year grain ONCE and is staged (Spark's CTE inlining would
    * re-scan the fact four times — the q116 lesson; the oracle CTEs are
    * MATERIALIZED for the same reason); the 4-way self-join then joins
    * customer-grain relations on their own grouping key, so every join
    * side is pre-collapsed and the shuffles are customer-keyed and
    * reusable. Ratios divide exact DECIMAL sums as DOUBLE. */
  val q348MultiYearChannelGrowth: QuerySpec = QuerySpec(
    "q348_dss_multiyear_channel_growth",
    s"""WITH st AS MATERIALIZED (
       |  SELECT o_custkey AS cust, YEAR(o_orderdate) AS yr,
       |         SUM(CAST(o_totalprice AS $M)) AS total
       |  FROM orders GROUP BY 1, 2),
       |ct AS MATERIALIZED (
       |  SELECT o_custkey AS cust, YEAR(l_shipdate) AS yr, SUM($Vol) AS total
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2)
       |SELECT s1.cust AS c_custkey,
       |  CAST(ROUND(CAST(w2.total AS DOUBLE) / CAST(w1.total AS DOUBLE) * 1e6)
       |    AS BIGINT) AS cat_growth_e6,
       |  CAST(ROUND(CAST(s2.total AS DOUBLE) / CAST(s1.total AS DOUBLE) * 1e6)
       |    AS BIGINT) AS store_growth_e6
       |FROM st s1 JOIN st s2 ON s1.cust = s2.cust
       |JOIN ct w1 ON s1.cust = w1.cust
       |JOIN ct w2 ON s1.cust = w2.cust
       |WHERE s1.yr = 1996 AND s2.yr = 1997 AND w1.yr = 1996 AND w2.yr = 1997
       |  AND CAST(s1.total AS DOUBLE) > 0 AND CAST(w1.total AS DOUBLE) > 0
       |  AND CAST(w2.total AS DOUBLE) / CAST(w1.total AS DOUBLE)
       |      > CAST(s2.total AS DOUBLE) / CAST(s1.total AS DOUBLE)
       |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val vol = (Num.money(col("l_extendedprice"))
      * (lit(1).cast(Num.Rate) - Num.rate(col("l_discount"))))
      .cast("decimal(19,8)")
    val st = sp.table("orders")
      .groupBy(col("o_custkey").as("cust"), year(col("o_orderdate")).as("yr"))
      .agg(sum(Num.money(col("o_totalprice"))).as("total"))
      .staged // two year instances below
    val ct = sp.table("lineitem")
      .join(sp.table("orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("cust"), year(col("l_shipdate")).as("yr"))
      .agg(sum(vol).as("total"))
      .staged // two year instances below
    def slice(rel: org.apache.spark.sql.DataFrame, yr: Int, tag: String) =
      rel.filter(col("yr") === yr)
        .select(col("cust").as(s"cust_$tag"), col("total").cast("double").as(tag))
    val j = slice(st, 1996, "s1").join(slice(st, 1997, "s2"),
        col("cust_s1") === col("cust_s2"))
      .join(slice(ct, 1996, "w1"), col("cust_s1") === col("cust_w1"))
      .join(slice(ct, 1997, "w2"), col("cust_s1") === col("cust_w2"))
    j.filter(col("s1") > 0 && col("w1") > 0 &&
        col("w2") / col("w1") > col("s2") / col("s1"))
      .select(col("cust_s1").as("c_custkey"),
        round(col("w2") / col("w1") * 1e6).cast("long").as("cat_growth_e6"),
        round(col("s2") / col("s1") * 1e6).cast("long").as("store_growth_e6"))
      .orderBy(col("c_custkey"))
  }

  /** TPC-DS Q29/Q25 shape: three-way quantity flow — items a customer
    * bought (flag N) and later-or-otherwise returned (flag R), the two
    * fact slices joined on (customer, item) through their order headers,
    * rolled up per part. The real query's three channel facts map to the
    * fixture's two return-flag slices of the one fact; the join is
    * key-equi on the collapsed (customer, item) grain. */
  val q349ChannelQuantityFlow: QuerySpec = QuerySpec.sql(
    "q349_dss_channel_quantity_flow",
    s"""WITH s AS (
       |  SELECT o_custkey AS cust, l_partkey AS item,
       |         CAST(l_quantity AS BIGINT) AS q
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_returnflag = 'N'),
       |r AS (
       |  SELECT o_custkey AS cust, l_partkey AS item,
       |         CAST(l_quantity AS BIGINT) AS q
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_returnflag = 'R')
       |SELECT p_partkey, p_name,
       |  CAST(SUM(s.q) AS BIGINT) AS sold_qty,
       |  CAST(SUM(r.q) AS BIGINT) AS ret_qty,
       |  COUNT(*) AS n_flows
       |FROM s JOIN r ON s.cust = r.cust AND s.item = r.item
       |JOIN part ON s.item = p_partkey
       |GROUP BY p_partkey, p_name
       |ORDER BY p_partkey""".stripMargin)

  /** TPC-DS Q42/Q52 shape: the simplest star — fact through the derived
    * date dim (month filter) and the item dim, yearly category revenue,
    * TopN. Distinct from q254 (Q3) by grouping on the coarser category
    * (p_type) axis rather than brand. */
  val q350SimpleStar: QuerySpec = QuerySpec.sql(
    "q350_dss_simple_star",
    s"""WITH date_dim AS (
       |  SELECT DISTINCT CAST(l_shipdate AS DATE) AS d_date,
       |         YEAR(l_shipdate) AS d_year, MONTH(l_shipdate) AS d_moy
       |  FROM lineitem)
       |SELECT d_year, p_type, CAST(SUM($Vol) AS DOUBLE) AS sum_agg
       |FROM lineitem
       |JOIN date_dim ON CAST(l_shipdate AS DATE) = d_date
       |JOIN part ON l_partkey = p_partkey
       |WHERE d_moy = 12
       |GROUP BY d_year, p_type
       |ORDER BY sum_agg DESC, d_year, p_type
       |LIMIT 100""".stripMargin)

  /** TPC-DS Q46/Q68 shape: city-pair demographics — the same dimension
    * joined in TWO ROLES (the customer's nation and each line's supplier
    * nation), keeping orders whose lines ship from a different nation
    * than the buyer's, per-order rollup with a HAVING screen. */
  val q351CityPairDemo: QuerySpec = QuerySpec.sql(
    "q351_dss_city_pair_demo",
    s"""SELECT c_name, o_orderkey, n1.n_name AS cust_nation,
       |  COUNT(*) AS n_cross_lines,
       |  CAST(SUM($Vol) AS DOUBLE) AS cross_rev
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n1 ON c_nationkey = n1.n_nationkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n2 ON s_nationkey = n2.n_nationkey
       |WHERE n2.n_nationkey <> n1.n_nationkey
       |GROUP BY c_name, o_orderkey, n1.n_name
       |HAVING COUNT(*) >= 3
       |ORDER BY c_name, o_orderkey
       |LIMIT 100""".stripMargin)

  /** TPC-DS Q48 shape: one fact scan under three OR'd band predicates,
    * each band a conjunction of a quantity band, an order-price band and
    * a nation set — the planner must keep the single scan and evaluate
    * the disjunction as a residual, not split into a union of scans. */
  val q352BandOr: QuerySpec = QuerySpec.sql(
    "q352_dss_band_or",
    """SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE (l_quantity BETWEEN 1 AND 15
      |       AND o_totalprice BETWEEN 0 AND 100000
      |       AND c_nationkey IN (1, 3, 5))
      |   OR (l_quantity BETWEEN 16 AND 35
      |       AND o_totalprice BETWEEN 100000 AND 250000
      |       AND c_nationkey IN (7, 9, 11))
      |   OR (l_quantity BETWEEN 36 AND 50
      |       AND o_totalprice BETWEEN 250000 AND 500000
      |       AND c_nationkey IN (13, 15, 17))""".stripMargin)

  /** TPC-DS Q59 shape: the period-pivot self-join — per-nation monthly
    * revenue (the weekly_sales analogue at the fixture's date density),
    * the SAME aggregate joined year-over-year on (nation, month) to
    * emit this-year/last-year ratios. The period relation collapses the
    * fact once and is staged/MATERIALIZED (two consumers). */
  val q353PeriodYoyPivot: QuerySpec = QuerySpec(
    "q353_dss_period_yoy_pivot",
    s"""WITH m AS MATERIALIZED (
       |  SELECT n_name, YEAR(l_shipdate) AS yr, MONTH(l_shipdate) AS mo,
       |         SUM($Vol) AS rev
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  GROUP BY 1, 2, 3)
       |SELECT a.n_name, a.mo,
       |  CAST(a.rev AS DOUBLE) AS rev_1996,
       |  CAST(b.rev AS DOUBLE) AS rev_1997,
       |  CAST(ROUND(CAST(b.rev AS DOUBLE) / CAST(a.rev AS DOUBLE) * 1e6)
       |    AS BIGINT) AS ratio_e6
       |FROM m a JOIN m b ON a.n_name = b.n_name AND a.mo = b.mo
       |WHERE a.yr = 1996 AND b.yr = 1997
       |ORDER BY a.n_name, a.mo""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val vol = (Num.money(col("l_extendedprice"))
      * (lit(1).cast(Num.Rate) - Num.rate(col("l_discount"))))
      .cast("decimal(19,8)")
    val m = sp.table("lineitem")
      .join(sp.table("supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(sp.table("nation"), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("l_shipdate")).as("yr"),
        month(col("l_shipdate")).as("mo"))
      .agg(sum(vol).as("rev"))
      .staged // both year slices below
    val a = m.filter(col("yr") === 1996)
      .select(col("n_name"), col("mo"), col("rev").cast("double").as("rev_1996"))
    val b = m.filter(col("yr") === 1997)
      .select(col("n_name").as("n2"), col("mo").as("mo2"),
        col("rev").cast("double").as("rev_1997"))
    a.join(b, col("n_name") === col("n2") && col("mo") === col("mo2"))
      .select(col("n_name"), col("mo"), col("rev_1996"), col("rev_1997"),
        round(col("rev_1997") / col("rev_1996") * 1e6).cast("long").as("ratio_e6"))
      .orderBy(col("n_name"), col("mo"))
  }

  /** TPC-DS Q78 shape: channel ratios restricted to lines WITHOUT a
    * return — the no-return fact derives by ANTI-joining the fact
    * against the distinct returned-order keys (the left-join-null idiom
    * in the oracle text, a real LeftAnti in the Spark plan), then the
    * two priority channels aggregate to (year, item) grain and join for
    * the ratio. The no-return relation is staged (two channel
    * consumers). */
  val q354NoReturnChannelRatio: QuerySpec = QuerySpec(
    "q354_dss_noreturn_channel_ratio",
    s"""WITH rk AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS rkey FROM lineitem
       |  WHERE l_returnflag = 'R'),
       |noret AS MATERIALIZED (
       |  SELECT l.* FROM lineitem l
       |  LEFT JOIN rk ON l.l_orderkey = rk.rkey
       |  WHERE rk.rkey IS NULL),
       |ss AS (
       |  SELECT YEAR(l_shipdate) AS yr, l_partkey AS item,
       |         SUM(CAST(l_quantity AS BIGINT)) AS qty
       |  FROM noret JOIN orders ON l_orderkey = o_orderkey
       |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
       |  GROUP BY 1, 2),
       |ws AS (
       |  SELECT YEAR(l_shipdate) AS yr, l_partkey AS item,
       |         SUM(CAST(l_quantity AS BIGINT)) AS qty
       |  FROM noret JOIN orders ON l_orderkey = o_orderkey
       |  WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
       |  GROUP BY 1, 2)
       |SELECT ss.yr, ss.item,
       |  CAST(ss.qty AS BIGINT) AS urgent_qty,
       |  CAST(ws.qty AS BIGINT) AS other_qty,
       |  CAST(ROUND(CAST(ss.qty AS DOUBLE) * 1e6 / ws.qty) AS BIGINT)
       |    AS ratio_e6
       |FROM ss JOIN ws ON ss.yr = ws.yr AND ss.item = ws.item
       |ORDER BY ss.yr, ss.item""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val li = sp.table("lineitem")
    val rk = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("rkey")).distinct()
    val noret = li.join(rk, col("l_orderkey") === col("rkey"), "left_anti")
      .join(sp.table("orders"), col("l_orderkey") === col("o_orderkey"))
      .select(year(col("l_shipdate")).as("yr"), col("l_partkey").as("item"),
        col("l_quantity").cast("long").as("q"), col("o_orderpriority"))
      .staged // two channel consumers
    val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    val ss = noret.filter(urgent)
      .groupBy(col("yr"), col("item")).agg(sum(col("q")).as("uq"))
    val ws = noret.filter(!urgent)
      .groupBy(col("yr").as("yr2"), col("item").as("item2"))
      .agg(sum(col("q")).as("oq"))
    ss.join(ws, col("yr") === col("yr2") && col("item") === col("item2"))
      .select(col("yr"), col("item"),
        col("uq").as("urgent_qty"), col("oq").as("other_qty"),
        round(col("uq").cast("double") * 1e6 / col("oq")).cast("long")
          .as("ratio_e6"))
      .orderBy(col("yr"), col("item"))
  }

  /** TPC-DS Q31 shape: quarter-over-quarter growth compared ACROSS two
    * channels — per-nation quarterly revenue CTEs for the line channel
    * and the order channel, each self-joined on consecutive quarters,
    * keeping (nation, quarter) pairs where the order channel grew faster
    * than the line channel. Both quarter relations are staged (each has
    * two quarter-instance consumers). */
  val q355QuarterGrowth: QuerySpec = QuerySpec(
    "q355_dss_quarter_growth",
    s"""WITH ql AS MATERIALIZED (
       |  SELECT n_name, QUARTER(l_shipdate) AS q, SUM($Vol) AS rev
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE YEAR(l_shipdate) = 1996 GROUP BY 1, 2),
       |qo AS MATERIALIZED (
       |  SELECT n_name, QUARTER(o_orderdate) AS q,
       |         SUM(CAST(o_totalprice AS $M)) AS rev
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE YEAR(o_orderdate) = 1996 GROUP BY 1, 2)
       |SELECT a.n_name, a.q AS qtr,
       |  CAST(ROUND(CAST(b.rev AS DOUBLE) / CAST(a.rev AS DOUBLE) * 1e6)
       |    AS BIGINT) AS line_growth_e6,
       |  CAST(ROUND(CAST(d.rev AS DOUBLE) / CAST(c.rev AS DOUBLE) * 1e6)
       |    AS BIGINT) AS order_growth_e6
       |FROM ql a JOIN ql b ON a.n_name = b.n_name AND b.q = a.q + 1
       |JOIN qo c ON a.n_name = c.n_name AND c.q = a.q
       |JOIN qo d ON a.n_name = d.n_name AND d.q = a.q + 1
       |WHERE CAST(d.rev AS DOUBLE) / CAST(c.rev AS DOUBLE)
       |      > CAST(b.rev AS DOUBLE) / CAST(a.rev AS DOUBLE)
       |ORDER BY a.n_name, qtr""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val vol = (Num.money(col("l_extendedprice"))
      * (lit(1).cast(Num.Rate) - Num.rate(col("l_discount"))))
      .cast("decimal(19,8)")
    val ql = sp.table("lineitem")
      .join(sp.table("supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(sp.table("nation"), col("s_nationkey") === col("n_nationkey"))
      .filter(year(col("l_shipdate")) === 1996)
      .groupBy(col("n_name"), quarter(col("l_shipdate")).as("q"))
      .agg(sum(vol).cast("double").as("rev"))
      .staged // two quarter instances
    val qo = sp.table("orders")
      .join(sp.table("customer"), col("o_custkey") === col("c_custkey"))
      .join(sp.table("nation"), col("c_nationkey") === col("n_nationkey"))
      .filter(year(col("o_orderdate")) === 1996)
      .groupBy(col("n_name"), quarter(col("o_orderdate")).as("q"))
      .agg(sum(Num.money(col("o_totalprice"))).cast("double").as("rev"))
      .staged // two quarter instances
    def sl(rel: org.apache.spark.sql.DataFrame, tag: String) =
      rel.select(col("n_name").as(s"n_$tag"), col("q").as(s"q_$tag"),
        col("rev").as(s"rev_$tag"))
    sl(ql, "a").join(sl(ql, "b"),
        col("n_a") === col("n_b") && col("q_b") === col("q_a") + 1)
      .join(sl(qo, "c"), col("n_a") === col("n_c") && col("q_c") === col("q_a"))
      .join(sl(qo, "d"),
        col("n_a") === col("n_d") && col("q_d") === col("q_a") + 1)
      .filter(col("rev_d") / col("rev_c") > col("rev_b") / col("rev_a"))
      .select(col("n_a").as("n_name"), col("q_a").as("qtr"),
        round(col("rev_b") / col("rev_a") * 1e6).cast("long")
          .as("line_growth_e6"),
        round(col("rev_d") / col("rev_c") * 1e6).cast("long")
          .as("order_growth_e6"))
      .orderBy(col("n_name"), col("qtr"))
  }

  /** TPC-DS Q69/Q35 shape: channel-presence screen — customers with
    * store activity (EXISTS) but no web activity and no heavy return
    * (two NOT EXISTS), counted per nation. Plans as one semi join plus
    * two anti joins against the customer dim. */
  val q356ChannelExists: QuerySpec = QuerySpec.sql(
    "q356_dss_channel_exists",
    """SELECT n_name, COUNT(*) AS cnt
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |  AND NOT EXISTS (SELECT 1 FROM events
      |                  WHERE user_id = c_custkey
      |                    AND event_type = 'purchase')
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  JOIN lineitem ON o_orderkey = l_orderkey
      |                  WHERE o.o_custkey = c_custkey
      |                    AND l_returnflag = 'R' AND l_quantity > 45)
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin)

  /** TPC-DS Q87 shape: the EXCEPT-chain customer count — store-channel
    * customers minus web-channel customers minus heavy returners, one
    * scalar count of the surviving set. */
  val q357ChannelExcept: QuerySpec = QuerySpec.sql(
    "q357_dss_channel_except",
    """SELECT COUNT(*) AS n FROM (
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |  EXCEPT
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
      |  EXCEPT
      |  SELECT DISTINCT o_custkey FROM orders o
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE l_returnflag = 'R' AND l_quantity > 45) t""".stripMargin)

  // ---- round-14 second batch: ten more DS plan families ---------------

  /** TPC-DS Q6 shape: items priced above their category average — the
    * per-type mean joins the star as a 6-row broadcast factor, and the
    * comparison cross-multiplies exact decimals (`price·n·100 > sum·101`
    * ⇔ price > 1.01·avg) so neither engine divides. One fact pass;
    * every dimension side is broadcast material. (The 1.01 band is
    * fixture-calibrated: the synthetic per-type price spread is tight,
    * and 1.04·avg selects nothing at sf0.001 — the smoke scale.) */
  val q358PriceAboveCategoryAvg: QuerySpec = QuerySpec.sql(
    "q358_dss_price_above_avg",
    s"""WITH ap AS (
       |  SELECT p_type, CAST(SUM(CAST(p_retailprice AS $M)) AS DECIMAL(24,2)) AS s,
       |         COUNT(*) AS n
       |  FROM part GROUP BY p_type)
       |SELECT n_name, COUNT(*) AS cnt
       |FROM customer
       |JOIN orders ON o_custkey = c_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN part ON p_partkey = l_partkey
       |JOIN ap ON part.p_type = ap.p_type
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE YEAR(o_orderdate) = 1997
       |  AND CAST(p_retailprice AS $M) * n * 100 > s * 101
       |GROUP BY n_name
       |ORDER BY cnt DESC, n_name
       |LIMIT 100""".stripMargin)

  /** TPC-DS Q9 shape: five quantity-band statistics selected through
    * CASE over uncorrelated scalar subqueries. The textbook text plans
    * 15 independent fact passes (Spark's subquery merging does not
    * coalesce the per-band count/sum trios), so the Spark-first
    * implementation computes all 15 band aggregates as conditional
    * aggregates in ONE fact pass and applies the CASE over the
    * resulting 1-row relation — Q9's semantics at 1/15th the scans.
    * The oracle keeps the literal scalar-subquery form. */
  val q359CaseScalarBands: QuerySpec = QuerySpec(
    "q359_dss_case_scalar_bands",
    (1 to 5).map { i =>
      val lo = (i - 1) * 10 + 1; val hi = i * 10
      s"""  CASE WHEN (SELECT COUNT(*) FROM lineitem
         |             WHERE l_quantity BETWEEN $lo AND $hi) > 12000
         |       THEN (SELECT CAST(SUM($Vol) AS DOUBLE) FROM lineitem
         |             WHERE l_quantity BETWEEN $lo AND $hi)
         |       ELSE (SELECT CAST(SUM(CAST(l_extendedprice AS $M)) AS DOUBLE)
         |             FROM lineitem
         |             WHERE l_quantity BETWEEN $lo AND $hi) END AS bucket$i"""
        .stripMargin
    }.mkString("SELECT\n", ",\n", "\nFROM region WHERE r_regionkey = 0")) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val vol = (Num.money(col("l_extendedprice"))
      * (lit(1).cast(Num.Rate) - Num.rate(col("l_discount"))))
      .cast("decimal(19,8)")
    def band(i: Int) =
      col("l_quantity").between((i - 1) * 10 + 1, i * 10)
    val aggs = (1 to 5).flatMap { i =>
      Seq(
        count(when(band(i), 1)).as(s"n$i"),
        sum(when(band(i), vol)).cast("double").as(s"v$i"),
        sum(when(band(i), Num.money(col("l_extendedprice"))))
          .cast("double").as(s"e$i"))
    }
    sp.table("lineitem").agg(aggs.head, aggs.tail: _*)
      .select((1 to 5).map { i =>
        when(col(s"n$i") > 12000, col(s"v$i"))
          .otherwise(col(s"e$i")).as(s"bucket$i")
      }: _*)
  }

  /** TPC-DS Q21 shape: the before/after-pivot-date quantity-balance
    * screen — per (supplier, part) the shipped quantity on each side of
    * a date boundary, kept when the ratio stays inside [2/3, 3/2]
    * (cross-multiplied in BIGINT, no division). One date-pruned fact
    * pass collapsed to (supplier, part) grain, then a broadcast-sized
    * supplier dim join. */
  val q360BeforeAfterBalance: QuerySpec = QuerySpec.sql(
    "q360_dss_before_after_balance",
    """WITH sp AS (
      |  SELECT l_suppkey AS sk, l_partkey AS pk,
      |    SUM(CASE WHEN l_shipdate < DATE '1998-01-01'
      |             THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS qty_before,
      |    SUM(CASE WHEN l_shipdate >= DATE '1998-01-01'
      |             THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS qty_after
      |  FROM lineitem
      |  WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1999-01-01'
      |  GROUP BY 1, 2)
      |SELECT s_name, COUNT(*) AS n_items
      |FROM sp JOIN supplier ON sk = s_suppkey
      |WHERE qty_before > 0 AND qty_after > 0
      |  AND 3 * qty_after >= 2 * qty_before AND 2 * qty_after <= 3 * qty_before
      |GROUP BY s_name
      |ORDER BY n_items DESC, s_name
      |LIMIT 100""".stripMargin)

  /** TPC-DS Q39 shape: demand-volatility pairs — per (part, month)
    * coefficient of variation from exact decimal moments, month m
    * self-joined to month m+1 for parts volatile in BOTH. The moment
    * relation collapses the fact to (part, month) grain ONCE and is
    * staged (the self-join references it twice; Spark's CTE inlining
    * would re-scan the fact — the q116 lesson, oracle MATERIALIZED for
    * the same reason); the self-join then keys on its own grouping
    * columns. Each cv is one fixed DOUBLE tree over the exact sums. */
  val q361VolatilityPairs: QuerySpec = QuerySpec(
    "q361_dss_volatility_pairs",
    s"""WITH pm AS MATERIALIZED (
       |  SELECT l_partkey AS pk, MONTH(l_shipdate) AS m, COUNT(*) AS n,
       |    CAST(SUM(CAST(l_quantity AS $M)) AS DOUBLE) AS s,
       |    CAST(SUM(CAST(l_quantity AS $M) * CAST(l_quantity AS $M))
       |      AS DOUBLE) AS ss
       |  FROM lineitem WHERE YEAR(l_shipdate) BETWEEN 1996 AND 1998
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
       |cov AS MATERIALIZED (
       |  SELECT pk, m, n, SQRT((ss - s*s/n)/(n-1)) / (s/n) AS cv
       |  FROM pm WHERE s > 0)
       |SELECT a.pk AS p_partkey, a.m AS m1,
       |  CAST(ROUND(a.cv * 1e6) AS BIGINT) AS cv1_e6,
       |  b.m AS m2, CAST(ROUND(b.cv * 1e6) AS BIGINT) AS cv2_e6
       |FROM cov a JOIN cov b ON a.pk = b.pk AND b.m = a.m + 1
       |WHERE a.cv > 0.4 AND b.cv > 0.4
       |ORDER BY p_partkey, m1
       |LIMIT 100""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val qd = col("l_quantity").cast(Num.Money)
    val cov = sp.table("lineitem")
      .filter(year(col("l_shipdate")).between(1996, 1998))
      .groupBy(col("l_partkey").as("pk"), month(col("l_shipdate")).as("m"))
      .agg(count(lit(1)).as("n"), sum(qd).cast("double").as("s"),
        sum(qd * qd).cast("double").as("ss"))
      .filter(col("n") >= 3 && col("s") > 0)
      .withColumn("cv",
        sqrt((col("ss") - col("s") * col("s") / col("n")) / (col("n") - 1))
          / (col("s") / col("n")))
      .staged // self-joined below: collapse the fact once
    val a = cov.select(col("pk"), col("m").as("m1"), col("cv").as("cv1"))
    val b = cov.select(col("pk").as("pk_b"), col("m").as("m2"), col("cv").as("cv2"))
    a.join(b, col("pk") === col("pk_b") && col("m2") === col("m1") + 1)
      .filter(col("cv1") > 0.4 && col("cv2") > 0.4)
      .select(col("pk").as("p_partkey"), col("m1"),
        round(col("cv1") * 1e6).cast("long").as("cv1_e6"),
        col("m2"), round(col("cv2") * 1e6).cast("long").as("cv2_e6"))
      .orderBy(col("p_partkey"), col("m1"))
      .limit(100)
  }

  /** TPC-DS Q41 shape: the dimension-only OR maze — DISTINCT names from
    * one dim scan under a conjunction of a global band with three OR'd
    * attribute blocks. No fact table at all: the plan is one part scan
    * with the whole normalized disjunction pushed to the reader. */
  val q362DimOrMaze: QuerySpec = QuerySpec.sql(
    "q362_dss_dim_or_maze",
    """SELECT DISTINCT p_name FROM part
      |WHERE p_size BETWEEN 5 AND 15
      |  AND ((p_brand = 'Brand#11' AND p_type IN ('ECONOMY','STANDARD')
      |        AND p_size BETWEEN 5 AND 10)
      |    OR (p_brand = 'Brand#12' AND p_type IN ('LARGE','MEDIUM')
      |        AND p_size BETWEEN 8 AND 13)
      |    OR (p_brand = 'Brand#13' AND p_type IN ('PROMO','SMALL')
      |        AND p_size BETWEEN 10 AND 15))
      |ORDER BY p_name
      |LIMIT 100""".stripMargin)

  /** TPC-DS Q44 shape: best/worst performer pairing — items ranked by
    * per-line average revenue from BOTH ends, the two top-10 lists
    * joined rank-to-rank and each resolved against the item dim. The
    * per-item relation is staged (referenced by both directions); each
    * direction is an ORDER BY … LIMIT TopN (never a global window over
    * the item grain — TakeOrderedAndProject scales, a whole-relation
    * rank does not), and the 10-row survivors get their rank from a
    * window over a bounded relation. */
  val q363BestWorstPairing: QuerySpec = QuerySpec(
    "q363_dss_best_worst_pairing",
    s"""WITH perf AS MATERIALIZED (
       |  SELECT l_partkey AS pk,
       |    CAST(ROUND(CAST(SUM($Vol) AS DOUBLE) / COUNT(*) * 1e2) AS BIGINT)
       |      AS avg_rev_c
       |  FROM lineitem GROUP BY 1),
       |best AS (SELECT pk, avg_rev_c FROM perf ORDER BY avg_rev_c DESC, pk LIMIT 10),
       |worst AS (SELECT pk, avg_rev_c FROM perf ORDER BY avg_rev_c ASC, pk LIMIT 10),
       |br AS (SELECT pk, ROW_NUMBER() OVER (ORDER BY avg_rev_c DESC, pk) AS rnk FROM best),
       |wr AS (SELECT pk, ROW_NUMBER() OVER (ORDER BY avg_rev_c ASC, pk) AS rnk FROM worst)
       |SELECT br.rnk AS rnk, pb.p_name AS best_performing,
       |       pw.p_name AS worst_performing
       |FROM br JOIN wr ON br.rnk = wr.rnk
       |JOIN part pb ON br.pk = pb.p_partkey
       |JOIN part pw ON wr.pk = pw.p_partkey
       |ORDER BY rnk""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val vol = (Num.money(col("l_extendedprice"))
      * (lit(1).cast(Num.Rate) - Num.rate(col("l_discount"))))
      .cast("decimal(19,8)")
    val perf = sp.table("lineitem")
      .groupBy(col("l_partkey").as("pk"))
      .agg(round(sum(vol).cast("double") / count(lit(1)) * 1e2)
        .cast("long").as("avg_rev_c"))
      .staged // consumed by both rank directions — and the PlanSpec pin
      // (one fact pass, never a per-consumer rescan) holds by plan
      // construction, not by trusting AQE stage reuse (r20: an unstaged
      // variant measured neutral at sf0.1 and was reverted)
    import org.apache.spark.sql.expressions.Window
    val best = perf.orderBy(col("avg_rev_c").desc, col("pk")).limit(10)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("avg_rev_c").desc, col("pk"))))
      .select(col("pk").as("pk_b"), col("rnk"))
    val worst = perf.orderBy(col("avg_rev_c").asc, col("pk")).limit(10)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("avg_rev_c").asc, col("pk"))))
      .select(col("pk").as("pk_w"), col("rnk").as("rnk_w"))
    val part = sp.table("part")
    best.join(worst, col("rnk") === col("rnk_w"))
      .join(part.select(col("p_partkey").as("pk_b"),
        col("p_name").as("best_performing")), "pk_b")
      .join(part.select(col("p_partkey").as("pk_w"),
        col("p_name").as("worst_performing")), "pk_w")
      .select(col("rnk"), col("best_performing"), col("worst_performing"))
      .orderBy(col("rnk"))
  }.benched // r15: the 40-family DS corpus's bench sentinel beyond q254/5/8

  /** TPC-DS Q49 shape: the worst-return-ratio report — per (channel,
    * item) quantity and amount return ratios, each dense-ranked within
    * its channel, keeping items in either top-10 (the OR of two ranks
    * expressed as a UNION of two rank-limited passes so BOTH windows
    * stay WindowGroupLimit-prunable — an OR'd filter after two windows
    * would force full-channel ranking at 100×). The (channel, item)
    * relation collapses the fact once and is staged; channels are the
    * fixture's two ship years. */
  val q364ReturnRatioRanks: QuerySpec = QuerySpec(
    "q364_dss_return_ratio_ranks",
    s"""WITH ch AS MATERIALIZED (
       |  SELECT YEAR(l_shipdate) AS yr, l_partkey AS pk,
       |    SUM(CASE WHEN l_returnflag='R' THEN CAST(l_quantity AS BIGINT)
       |        ELSE 0 END) AS ret_q,
       |    SUM(CASE WHEN l_returnflag='N' THEN CAST(l_quantity AS BIGINT)
       |        ELSE 0 END) AS sal_q,
       |    SUM(CASE WHEN l_returnflag='R' THEN $Vol ELSE $Zero END) AS ret_a,
       |    SUM(CASE WHEN l_returnflag='N' THEN $Vol ELSE $Zero END) AS sal_a
       |  FROM lineitem WHERE YEAR(l_shipdate) IN (1996, 1997)
       |  GROUP BY 1, 2
       |  HAVING SUM(CASE WHEN l_returnflag='N' THEN 1 ELSE 0 END) >= 2
       |     AND SUM(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END) >= 1),
       |rt AS MATERIALIZED (
       |  SELECT yr, pk,
       |    CAST(ROUND(CAST(ret_q AS DOUBLE)/sal_q * 1e6) AS BIGINT) AS qratio_e6,
       |    CAST(ROUND(CAST(ret_a AS DOUBLE)/CAST(sal_a AS DOUBLE) * 1e6)
       |      AS BIGINT) AS aratio_e6
       |  FROM ch WHERE sal_q > 0 AND CAST(sal_a AS DOUBLE) > 0),
       |rk AS (
       |  SELECT yr, pk, qratio_e6, aratio_e6,
       |    DENSE_RANK() OVER (PARTITION BY yr ORDER BY qratio_e6 DESC, pk) AS qr,
       |    DENSE_RANK() OVER (PARTITION BY yr ORDER BY aratio_e6 DESC, pk) AS ar
       |  FROM rt)
       |SELECT yr, pk AS p_partkey, qratio_e6, aratio_e6, qr AS rnk
       |FROM rk WHERE qr <= 10
       |UNION
       |SELECT yr, pk, qratio_e6, aratio_e6, ar
       |FROM rk WHERE ar <= 10
       |ORDER BY yr, rnk, p_partkey""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val vol = (Num.money(col("l_extendedprice"))
      * (lit(1).cast(Num.Rate) - Num.rate(col("l_discount"))))
      .cast("decimal(19,8)")
    def when_(f: String, c: org.apache.spark.sql.Column) =
      when(col("l_returnflag") === f, c).otherwise(lit(0))
    val rt = sp.table("lineitem")
      .filter(year(col("l_shipdate")).isin(1996, 1997))
      .groupBy(year(col("l_shipdate")).as("yr"), col("l_partkey").as("pk"))
      .agg(
        sum(when_("R", col("l_quantity").cast("long"))).as("ret_q"),
        sum(when_("N", col("l_quantity").cast("long"))).as("sal_q"),
        sum(when(col("l_returnflag") === "R", vol)
          .otherwise(lit(0).cast("decimal(19,8)"))).as("ret_a"),
        sum(when(col("l_returnflag") === "N", vol)
          .otherwise(lit(0).cast("decimal(19,8)"))).as("sal_a"),
        sum(when_("N", lit(1L))).as("n_sal"),
        sum(when_("R", lit(1L))).as("n_ret"))
      .filter(col("n_sal") >= 2 && col("n_ret") >= 1 &&
        col("sal_q") > 0 && col("sal_a").cast("double") > 0)
      .select(col("yr"), col("pk"),
        round(col("ret_q").cast("double") / col("sal_q") * 1e6)
          .cast("long").as("qratio_e6"),
        round(col("ret_a").cast("double") / col("sal_a").cast("double") * 1e6)
          .cast("long").as("aratio_e6"))
      .staged // two rank-limited passes below
    import org.apache.spark.sql.expressions.Window
    val byQ = Window.partitionBy(col("yr"))
      .orderBy(col("qratio_e6").desc, col("pk"))
    val byA = Window.partitionBy(col("yr"))
      .orderBy(col("aratio_e6").desc, col("pk"))
    val topQ = rt.withColumn("rnk", dense_rank().over(byQ))
      .filter(col("rnk") <= 10)
    val topA = rt.withColumn("rnk", dense_rank().over(byA))
      .filter(col("rnk") <= 10)
    topQ.union(topA).distinct()
      .select(col("yr"), col("pk").as("p_partkey"),
        col("qratio_e6"), col("aratio_e6"), col("rnk"))
      .orderBy(col("yr"), col("rnk"), col("p_partkey"))
  }

  /** TPC-DS Q72 shape: the equi-join with a date-arithmetic residual —
    * lines shipped within five days of their order date, counted per
    * nation. The join keys stay pure equi (orderkey, custkey,
    * nationkey); the `shipdate < orderdate + 5 days` band is a residual
    * ON the hash join, never a nested-loop — the shape that keeps Q72
    * plannable at warehouse scale. */
  val q365DateArithResidual: QuerySpec = QuerySpec.sql(
    "q365_dss_date_arith_residual",
    """SELECT n_name, COUNT(*) AS n_fast_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_shipdate < o_orderdate + INTERVAL 5 DAY AND o_orderstatus = 'F'
      |GROUP BY n_name
      |ORDER BY n_fast_lines DESC, n_name""".stripMargin)

  /** TPC-DS Q90 shape: the am/pm ratio — two disjoint time-band scalar
    * counts divided into one ratio row. Each side is an O(1)-result
    * probe aggregate; the division is a broadcast cross of two 1-row
    * relations (the allowed scalar-cross pattern). */
  val q366AmPmRatio: QuerySpec = QuerySpec.sql(
    "q366_dss_am_pm_ratio",
    """SELECT CAST(ROUND(CAST(am.cnt AS DOUBLE) / pm.cnt * 1e6) AS BIGINT)
      |  AS am_pm_ratio_e6
      |FROM (SELECT COUNT(*) AS cnt FROM events
      |      WHERE event_type = 'purchase' AND HOUR(ts) BETWEEN 6 AND 11) am,
      |     (SELECT COUNT(*) AS cnt FROM events
      |      WHERE event_type = 'purchase' AND HOUR(ts) BETWEEN 18 AND 23) pm""".stripMargin)

  /** TPC-DS Q97 shape: channel-overlap matrix — the distinct (customer,
    * item) grain of each of two channels FULL OUTER joined on the whole
    * grain, counted into only/only/both. The fixture's channels are the
    * two return-flag slices, so the grain relation collapses ONE fact
    * pass (flag kept as a column) and is staged; the real query's two
    * channel facts would each collapse the same way. The FULL OUTER is
    * key-partitioned on the composite grain — no broadcast, both sides
    * large, exactly Q97's shuffle shape. */
  val q367ChannelOverlapMatrix: QuerySpec = QuerySpec(
    "q367_dss_channel_overlap_matrix",
    """WITH g AS MATERIALIZED (
      |  SELECT o_custkey AS cust, l_partkey AS item, l_returnflag AS f
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE l_returnflag IN ('N', 'R')
      |  GROUP BY 1, 2, 3),
      |ss AS (SELECT cust, item FROM g WHERE f = 'N'),
      |cs AS (SELECT cust, item FROM g WHERE f = 'R')
      |SELECT
      |  CAST(COUNT(CASE WHEN ss.cust IS NOT NULL AND cs.cust IS NULL
      |             THEN 1 END) AS BIGINT) AS store_only,
      |  CAST(COUNT(CASE WHEN ss.cust IS NULL AND cs.cust IS NOT NULL
      |             THEN 1 END) AS BIGINT) AS catalog_only,
      |  CAST(COUNT(CASE WHEN ss.cust IS NOT NULL AND cs.cust IS NOT NULL
      |             THEN 1 END) AS BIGINT) AS store_and_catalog
      |FROM ss FULL OUTER JOIN cs ON ss.cust = cs.cust AND ss.item = cs.item""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val g = sp.table("orders")
      .join(sp.table("lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_returnflag").isin("N", "R"))
      .groupBy(col("o_custkey").as("cust"), col("l_partkey").as("item"),
        col("l_returnflag").as("f"))
      .agg(count(lit(1)).as("_n"))
      .select(col("cust"), col("item"), col("f"))
      .staged // both channel slices read this one collapsed pass
    val ss = g.filter(col("f") === "N")
      .select(col("cust").as("s_cust"), col("item").as("s_item"))
    val cs = g.filter(col("f") === "R")
      .select(col("cust").as("c_cust"), col("item").as("c_item"))
    ss.join(cs, col("s_cust") === col("c_cust") &&
        col("s_item") === col("c_item"), "full_outer")
      .agg(
        count(when(col("s_cust").isNotNull && col("c_cust").isNull, 1))
          .as("store_only"),
        count(when(col("s_cust").isNull && col("c_cust").isNotNull, 1))
          .as("catalog_only"),
        count(when(col("s_cust").isNotNull && col("c_cust").isNotNull, 1))
          .as("store_and_catalog"))
  }

  // ---- round-15 batch: ten more DS plan families ----------------------

  /** TPC-DS Q47/Q57 shape: the monthly-deviation screen — per
    * (brand, year, month) sales with the brand-year average alongside
    * and the neighbouring months' sales as LAG/LEAD columns, keeping
    * months that deviate >10% from their year's monthly average. Three
    * window frames over ONE collapsed relation (two partition specs:
    * the per-year average and the cross-year month ordering). The
    * deviation filter cross-multiplies exact decimals
    * (10·|sales·cnt − tot| > tot ⇔ |sales − tot/cnt| > 0.1·tot/cnt) so
    * neither engine divides before comparing. Scale: the collapse is
    * (brand × month) — thousands of rows from one fact pass; every
    * window partition is ≤ 24 rows. */
  val q370MonthlyDeviation: QuerySpec = QuerySpec.sql(
    "q370_dss_monthly_deviation",
    s"""WITH m AS (
       |  SELECT p_brand, YEAR(l_shipdate) AS yr, MONTH(l_shipdate) AS moy,
       |         CAST(SUM($Vol) AS DECIMAL(25,8)) AS sales
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE YEAR(l_shipdate) IN (1996, 1997)
       |  GROUP BY p_brand, YEAR(l_shipdate), MONTH(l_shipdate)),
       |w AS (
       |  SELECT p_brand, yr, moy, sales,
       |    CAST(SUM(sales) OVER (PARTITION BY p_brand, yr) AS DECIMAL(30,8)) AS tot,
       |    CAST(COUNT(*) OVER (PARTITION BY p_brand, yr) AS DECIMAL(4,0)) AS cnt,
       |    LAG(sales) OVER (PARTITION BY p_brand ORDER BY yr, moy) AS psum,
       |    LEAD(sales) OVER (PARTITION BY p_brand ORDER BY yr, moy) AS nsum
       |  FROM m)
       |SELECT p_brand, moy, CAST(sales AS DOUBLE) AS sales,
       |  CAST(ROUND(CAST(tot AS DOUBLE) / CAST(cnt AS DOUBLE) * 1e2) AS BIGINT)
       |    AS avg_monthly_c,
       |  CAST(psum AS DOUBLE) AS psum, CAST(nsum AS DOUBLE) AS nsum
       |FROM w
       |WHERE yr = 1997 AND 10 * ABS(sales * cnt - tot) > tot
       |ORDER BY p_brand, moy""".stripMargin)

  /** TPC-DS Q34/Q73 shape: the frequent-big-ticket screen — orders
    * grouped to line counts, a HAVING band keeps mid-size tickets, then
    * a SECOND grouping counts qualifying tickets per customer. Two
    * stacked aggregations at different grains (order, then customer)
    * with the customer dim joined after the second collapse — the
    * cheapest row survives both collapses before touching the dim. */
  val q371FrequentTickets: QuerySpec = QuerySpec.sql(
    "q371_dss_frequent_tickets",
    """WITH ticket AS (
      |  SELECT l_orderkey AS ok, COUNT(*) AS n_lines
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING COUNT(*) BETWEEN 4 AND 7),
      |freq AS (
      |  SELECT o_custkey AS cust, COUNT(*) AS n_tickets
      |  FROM orders JOIN ticket ON o_orderkey = ok
      |  GROUP BY o_custkey HAVING COUNT(*) >= 3)
      |SELECT c_custkey, c_name, n_tickets
      |FROM freq JOIN customer ON cust = c_custkey
      |ORDER BY n_tickets DESC, c_custkey
      |LIMIT 100""".stripMargin)

  /** TPC-DS Q31 shape: quarter-over-quarter growth COMPARED across two
    * channels — nations where the web channel's Q1→Q2 and Q2→Q3 growth
    * both beat the store channel's. The textbook text joins six
    * quarterly aggregates (the oracle keeps that 6-way form); the
    * Spark-first plan computes all six as conditional aggregates in ONE
    * fact pass — Q31's semantics with zero self-joins. Ratios compare
    * as ROUND(·1e6) integers of exact-decimal sums, engine-stable. */
  val q372QoqGrowthCompare: QuerySpec = QuerySpec(
    "q372_dss_qoq_growth_compare",
    s"""WITH g AS MATERIALIZED (
       |  SELECT n_name, QUARTER(l_shipdate) AS q,
       |    SUM(CASE WHEN l_returnflag = 'N' THEN $Vol ELSE $Zero END) AS s,
       |    SUM(CASE WHEN l_returnflag = 'R' THEN $Vol ELSE $Zero END) AS w
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE YEAR(l_shipdate) = 1996
       |  GROUP BY n_name, QUARTER(l_shipdate))
       |SELECT g1.n_name AS n_name,
       |  CAST(ROUND(CAST(g2.s AS DOUBLE) / CAST(g1.s AS DOUBLE) * 1e6) AS BIGINT)
       |    AS store_g12_e6,
       |  CAST(ROUND(CAST(g2.w AS DOUBLE) / CAST(g1.w AS DOUBLE) * 1e6) AS BIGINT)
       |    AS web_g12_e6,
       |  CAST(ROUND(CAST(g3.s AS DOUBLE) / CAST(g2.s AS DOUBLE) * 1e6) AS BIGINT)
       |    AS store_g23_e6,
       |  CAST(ROUND(CAST(g3.w AS DOUBLE) / CAST(g2.w AS DOUBLE) * 1e6) AS BIGINT)
       |    AS web_g23_e6
       |FROM g g1
       |JOIN g g2 ON g1.n_name = g2.n_name AND g1.q = 1 AND g2.q = 2
       |JOIN g g3 ON g1.n_name = g3.n_name AND g3.q = 3
       |WHERE g1.s > 0 AND g1.w > 0 AND g2.s > 0 AND g2.w > 0
       |  AND ROUND(CAST(g2.w AS DOUBLE) / CAST(g1.w AS DOUBLE) * 1e6)
       |    > ROUND(CAST(g2.s AS DOUBLE) / CAST(g1.s AS DOUBLE) * 1e6)
       |  AND ROUND(CAST(g3.w AS DOUBLE) / CAST(g2.w AS DOUBLE) * 1e6)
       |    > ROUND(CAST(g3.s AS DOUBLE) / CAST(g2.s AS DOUBLE) * 1e6)
       |ORDER BY n_name""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val vol = (Num.money(col("l_extendedprice"))
      * (lit(1).cast(Num.Rate) - Num.rate(col("l_discount"))))
      .cast("decimal(19,8)")
    def slice(f: String, q: Int) =
      sum(when(col("l_returnflag") === f && quarter(col("l_shipdate")) === q,
        vol).otherwise(lit(0).cast("decimal(19,8)")))
    val g = sp.table("lineitem")
      .filter(year(col("l_shipdate")) === 1996)
      .join(sp.table("supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(sp.table("nation"), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(slice("N", 1).as("s1"), slice("N", 2).as("s2"), slice("N", 3).as("s3"),
        slice("R", 1).as("w1"), slice("R", 2).as("w2"), slice("R", 3).as("w3"))
    def ratio(a: String, b: String) =
      round(col(a).cast("double") / col(b).cast("double") * 1e6)
    g.filter(col("s1") > 0 && col("w1") > 0 && col("s2") > 0 && col("w2") > 0)
      .filter(ratio("w2", "w1") > ratio("s2", "s1") &&
        ratio("w3", "w2") > ratio("s3", "s2"))
      .select(col("n_name"),
        ratio("s2", "s1").cast("long").as("store_g12_e6"),
        ratio("w2", "w1").cast("long").as("web_g12_e6"),
        ratio("s3", "s2").cast("long").as("store_g23_e6"),
        ratio("w3", "w2").cast("long").as("web_g23_e6"))
      .orderBy(col("n_name"))
  }

  /** TPC-DS Q17/Q29 shape: the sold→returned→repurchased chain — a
    * sale line joined to a later return of the SAME (customer, part)
    * within a year, joined to any later repurchase by that customer
    * within 90 days of the return, with per-part-type quantity
    * statistics for each step. The chain is two hash joins on equi keys
    * (cust+part, then cust) with date-band residuals ON the join —
    * never a nested loop. Mean/variance per step stay EXACT integer
    * algebra (n·Σq² − (Σq)² through DECIMAL(38,0)) until one final
    * DOUBLE division each — the q299 discipline. The joined base
    * relation is staged once; all three step slices read it. */
  val q373SoldReturnedRepurchased: QuerySpec = {
    def stats(x: String, out: String): String =
      s"""  CAST(ROUND(CAST(SUM($x) AS DOUBLE) * 1e6 / COUNT(*)) AS BIGINT)
         |    AS ${out}_mean_e6,
         |  CAST(ROUND(CAST(COUNT(*) * SUM($x * $x) - SUM($x) * SUM($x) AS DOUBLE)
         |    * 1e6 / (CAST(COUNT(*) AS DOUBLE) * COUNT(*))) AS BIGINT)
         |    AS ${out}_var_e6""".stripMargin
    QuerySpec(
      "q373_dss_sold_returned_repurchased",
      s"""WITH base AS MATERIALIZED (
         |  SELECT o_custkey AS cust, l_partkey AS pk, l_returnflag AS f,
         |         l_shipdate AS d, CAST(l_quantity AS BIGINT) AS q
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |sale AS (SELECT cust, pk, d, q FROM base WHERE f = 'N'),
         |ret AS (SELECT cust AS rcust, pk AS rpk, d AS rd, q AS rq
         |        FROM base WHERE f = 'R'),
         |rep AS (SELECT cust AS pcust, d AS pd, q AS pq
         |        FROM base WHERE f = 'N'),
         |chain AS (
         |  SELECT pk, q AS sq, rq, pq
         |  FROM sale
         |  JOIN ret ON cust = rcust AND pk = rpk
         |          AND rd > d AND rd <= d + INTERVAL 365 DAY
         |  JOIN rep ON cust = pcust
         |          AND pd > rd AND pd <= rd + INTERVAL 90 DAY)
         |SELECT p_type, COUNT(*) AS n_chains,
         |${stats("sq", "sale_q")},
         |${stats("rq", "ret_q")},
         |${stats("pq", "rep_q")}
         |FROM chain JOIN part ON pk = p_partkey
         |GROUP BY p_type
         |ORDER BY p_type""".stripMargin) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      val base = sp.table("lineitem")
        .join(sp.table("orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("pk"),
          col("l_returnflag").as("f"), col("l_shipdate").as("d"),
          col("l_quantity").cast("long").as("q"))
        .staged // three step slices below read one joined pass
      val sale = base.filter(col("f") === "N")
        .select(col("cust"), col("pk"), col("d").as("sd"), col("q").as("sq"))
      val ret = base.filter(col("f") === "R")
        .select(col("cust").as("rcust"), col("pk").as("rpk"),
          col("d").as("rd"), col("q").as("rq"))
      val rep = base.filter(col("f") === "N")
        .select(col("cust").as("pcust"), col("d").as("pd"), col("q").as("pq"))
      val chain = sale
        .join(ret, col("cust") === col("rcust") && col("pk") === col("rpk") &&
          col("rd") > col("sd") &&
          col("rd") <= col("sd") + expr("INTERVAL 365 DAY"))
        .join(rep, col("cust") === col("pcust") &&
          col("pd") > col("rd") &&
          col("pd") <= col("rd") + expr("INTERVAL 90 DAY"))
      def meanE6(x: String, out: String) =
        round(sum(col(x)).cast("double") * 1e6 / count(lit(1)))
          .cast("long").as(s"${out}_mean_e6")
      def varE6(x: String, out: String) =
        round((count(lit(1)).cast("decimal(38,0)")
            * sum(col(x) * col(x)).cast("decimal(38,0)")
          - sum(col(x)).cast("decimal(38,0)")
            * sum(col(x)).cast("decimal(38,0)")).cast("double")
          * 1e6 / (count(lit(1)).cast("double") * count(lit(1))))
          .cast("long").as(s"${out}_var_e6")
      chain.join(sp.table("part"), col("pk") === col("p_partkey"))
        .groupBy(col("p_type"))
        .agg(count(lit(1)).as("n_chains"),
          meanE6("sq", "sale_q"), varE6("sq", "sale_q"),
          meanE6("rq", "ret_q"), varE6("rq", "ret_q"),
          meanE6("pq", "rep_q"), varE6("pq", "rep_q"))
        .orderBy(col("p_type"))
    }
  }

  /** TPC-DS Q78 shape: channel-exclusive year-over-year growth — sale
    * lines with NO matching return (an anti-join on the order+part
    * grain, Q78's `LEFT JOIN … WHERE sr IS NULL`), rolled to per
    * (customer, year) quantities, customers present both years ranked
    * by growth. The oracle keeps the correlated-NOT-EXISTS + self-join
    * text; the Spark-first plan is one anti-join then ONE pass with
    * both years as conditional aggregates — no self-join (presence ⇔
    * qty > 0 since every line has q ≥ 1). */
  val q374ChannelExclusiveYoy: QuerySpec = QuerySpec(
    "q374_dss_channel_exclusive_yoy",
    s"""WITH sal AS MATERIALIZED (
       |  SELECT YEAR(l_shipdate) AS yr, o_custkey AS cust,
       |         CAST(l_quantity AS BIGINT) AS q,
       |         l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_returnflag = 'N' AND YEAR(l_shipdate) IN (1996, 1997)),
       |nr AS MATERIALIZED (
       |  SELECT yr, cust, CAST(SUM(q) AS BIGINT) AS qty
       |  FROM sal
       |  WHERE NOT EXISTS (SELECT 1 FROM lineitem r
       |                    WHERE r.l_orderkey = sal.ok
       |                      AND r.l_partkey = sal.pk
       |                      AND r.l_returnflag = 'R')
       |  GROUP BY yr, cust)
       |SELECT c96.cust AS c_custkey, c96.qty AS qty96, c97.qty AS qty97,
       |  CAST(ROUND(CAST(c97.qty AS DOUBLE) / c96.qty * 1e6) AS BIGINT)
       |    AS growth_e6
       |FROM nr c96 JOIN nr c97 ON c96.cust = c97.cust
       |WHERE c96.yr = 1996 AND c97.yr = 1997
       |ORDER BY growth_e6 DESC, c_custkey
       |LIMIT 50""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val returns = sp.table("lineitem").filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("r_ok"), col("l_partkey").as("r_pk"))
    val kept = sp.table("lineitem")
      .filter(col("l_returnflag") === "N" &&
        year(col("l_shipdate")).isin(1996, 1997))
      .join(returns, col("l_orderkey") === col("r_ok") &&
        col("l_partkey") === col("r_pk"), "left_anti")
      .join(sp.table("orders"), col("l_orderkey") === col("o_orderkey"))
    def yq(y: Int) = sum(when(year(col("l_shipdate")) === y,
      col("l_quantity").cast("long")).otherwise(lit(0L)))
    kept.groupBy(col("o_custkey").as("c_custkey"))
      .agg(yq(1996).as("qty96"), yq(1997).as("qty97"))
      .filter(col("qty96") > 0 && col("qty97") > 0)
      .select(col("c_custkey"), col("qty96"), col("qty97"),
        round(col("qty97").cast("double") / col("qty96") * 1e6)
          .cast("long").as("growth_e6"))
      .orderBy(col("growth_e6").desc, col("c_custkey"))
      .limit(50)
  }

  /** TPC-DS Q54 shape: the cohort-revenue histogram — customers who
    * bought the target category in the anchor month, their TOTAL spend
    * over the following quarter bucketed into fixed-width revenue
    * segments. The cohort is a DISTINCT semi-join side (broadcast
    * material: distinct customers of one month × one category); the
    * follow-on revenue is one fact pass semi-joined to it. */
  val q375CohortRevenueHistogram: QuerySpec = QuerySpec.sql(
    "q375_dss_cohort_revenue_histogram",
    s"""WITH cohort AS (
       |  SELECT DISTINCT o_custkey AS cust
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN part ON l_partkey = p_partkey
       |  WHERE p_type = 'STANDARD' AND YEAR(l_shipdate) = 1996
       |    AND MONTH(l_shipdate) = 3),
       |rev AS (
       |  SELECT o_custkey, SUM($Vol) AS r
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN cohort ON o_custkey = cust
       |  WHERE l_shipdate >= DATE '1996-04-01'
       |    AND l_shipdate < DATE '1996-07-01'
       |  GROUP BY o_custkey)
       |SELECT CAST(FLOOR(CAST(r AS DOUBLE) / 5000) AS BIGINT) AS segment,
       |       COUNT(*) AS n_customers
       |FROM rev
       |GROUP BY CAST(FLOOR(CAST(r AS DOUBLE) / 5000) AS BIGINT)
       |ORDER BY segment""".stripMargin)

  /** TPC-DS Q58 shape: brands selling evenly across ALL THREE channels
    * — each channel's revenue within 15% of the three-channel mean. The
    * oracle keeps Q58's three-CTE equi-join; the Spark-first plan
    * computes the three channel sums as conditional aggregates in ONE
    * fact pass. The band test cross-multiplies exact decimals
    * (300·x between (100±15)·(a+n+r)) — no division, engine-stable;
    * channel-presence semantics coincide because a missing channel sums
    * to 0, which always fails the lower band. */
  val q376BalancedChannelBrands: QuerySpec = QuerySpec(
    "q376_dss_balanced_channel_brands",
    s"""WITH ss AS (
       |  SELECT p_brand, CAST(SUM($Vol) AS DECIMAL(25,8)) AS rev
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_returnflag = 'A' AND YEAR(l_shipdate) = 1996
       |  GROUP BY p_brand),
       |cs AS (
       |  SELECT p_brand, CAST(SUM($Vol) AS DECIMAL(25,8)) AS rev
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_returnflag = 'N' AND YEAR(l_shipdate) = 1996
       |  GROUP BY p_brand),
       |ws AS (
       |  SELECT p_brand, CAST(SUM($Vol) AS DECIMAL(25,8)) AS rev
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_returnflag = 'R' AND YEAR(l_shipdate) = 1996
       |  GROUP BY p_brand)
       |SELECT ss.p_brand AS p_brand, CAST(ss.rev AS DOUBLE) AS a_rev,
       |       CAST(cs.rev AS DOUBLE) AS n_rev, CAST(ws.rev AS DOUBLE) AS r_rev
       |FROM ss
       |JOIN cs ON ss.p_brand = cs.p_brand
       |JOIN ws ON ss.p_brand = ws.p_brand
       |WHERE 300 * ss.rev BETWEEN 85 * (ss.rev + cs.rev + ws.rev)
       |                       AND 115 * (ss.rev + cs.rev + ws.rev)
       |  AND 300 * cs.rev BETWEEN 85 * (ss.rev + cs.rev + ws.rev)
       |                       AND 115 * (ss.rev + cs.rev + ws.rev)
       |  AND 300 * ws.rev BETWEEN 85 * (ss.rev + cs.rev + ws.rev)
       |                       AND 115 * (ss.rev + cs.rev + ws.rev)
       |ORDER BY p_brand""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val vol = (Num.money(col("l_extendedprice"))
      * (lit(1).cast(Num.Rate) - Num.rate(col("l_discount"))))
      .cast("decimal(19,8)")
    def slice(f: String) =
      sum(when(col("l_returnflag") === f, vol)
        .otherwise(lit(0).cast("decimal(19,8)"))).cast("decimal(25,8)")
    val g = sp.table("lineitem")
      .filter(year(col("l_shipdate")) === 1996)
      .join(sp.table("part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(slice("A").as("a"), slice("N").as("n"), slice("R").as("r"))
    val t = col("a") + col("n") + col("r")
    def inBand(x: String) =
      (lit(300) * col(x)).between(lit(85) * t, lit(115) * t)
    g.filter(inBand("a") && inBand("n") && inBand("r"))
      .select(col("p_brand"), col("a").cast("double").as("a_rev"),
        col("n").cast("double").as("n_rev"), col("r").cast("double").as("r_rev"))
      .orderBy(col("p_brand"))
  }

  /** TPC-DS Q8 shape: an INTERSECT-derived dimension filter feeding a
    * star — the top-10 nations by customer balance INTERSECTed with
    * nations that field an in-good-standing supplier, then supplier
    * revenue per surviving nation. The INTERSECT runs over two
    * broadcast-sized nation sets; the survivor list semi-joins the fact
    * through the supplier dim — a subquery-IN that Spark plans as a
    * broadcast left-semi, never a shuffle. */
  val q377IntersectNationFilter: QuerySpec = QuerySpec.sql(
    "q377_dss_intersect_nation_filter",
    s"""WITH topc AS (
       |  SELECT n_name FROM customer
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY n_name
       |  ORDER BY SUM(CAST(c_acctbal AS $M)) DESC, n_name
       |  LIMIT 10),
       |sup AS (
       |  SELECT DISTINCT n_name FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE s_acctbal > 0),
       |good AS (SELECT n_name FROM topc INTERSECT SELECT n_name FROM sup)
       |SELECT n.n_name AS n_name, CAST(SUM($Vol) AS DOUBLE) AS rev
       |FROM lineitem
       |JOIN supplier s ON l_suppkey = s.s_suppkey
       |JOIN nation n ON s.s_nationkey = n.n_nationkey
       |WHERE n.n_name IN (SELECT n_name FROM good)
       |GROUP BY n.n_name
       |ORDER BY n_name""".stripMargin)

  /** TPC-DS Q35/Q69 shape: demographic statistics over an
    * EXISTS-and-NOT-EXISTS customer screen — customers with a finished
    * 1996 order (EXISTS against one channel) and no purchase event
    * (NOT EXISTS against the other), rolled up per nation with exact
    * count/min/max/total balance stats. Both membership probes
    * decorrelate to semi/anti joins on the customer key; the stats
    * aggregate runs once over the survivors. */
  val q378ExistsScreenStats: QuerySpec = QuerySpec.sql(
    "q378_dss_exists_screen_stats",
    s"""SELECT n_name, COUNT(*) AS n_customers,
       |  CAST(MIN(CAST(c_acctbal AS $M)) AS DOUBLE) AS min_bal,
       |  CAST(MAX(CAST(c_acctbal AS $M)) AS DOUBLE) AS max_bal,
       |  CAST(SUM(CAST(c_acctbal AS $M)) AS DOUBLE) AS total_bal
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |WHERE EXISTS (SELECT 1 FROM orders
       |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
       |                AND YEAR(o_orderdate) = 1996)
       |  AND NOT EXISTS (SELECT 1 FROM events
       |                  WHERE user_id = c_custkey
       |                    AND event_type = 'purchase')
       |GROUP BY n_name
       |ORDER BY n_name""".stripMargin)

  /** TPC-DS Q75 shape: the year-over-year DECLINE report — per (year,
    * brand) quantity and amount accumulated across all three channels
    * (the oracle keeps Q75's three-slice UNION ALL then self-join on
    * year+1), keeping brands that shrank. The Spark-first plan folds
    * both years AND all channels into ONE conditional-aggregate pass —
    * zero self-joins, zero unions (presence ⇔ qty > 0). */
  val q379YoyDecline: QuerySpec = QuerySpec(
    "q379_dss_yoy_decline",
    s"""WITH ch AS (
       |  SELECT YEAR(l_shipdate) AS yr, p_brand,
       |         CAST(l_quantity AS BIGINT) AS q, $Vol AS v
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_returnflag = 'N' AND YEAR(l_shipdate) IN (1996, 1997)
       |  UNION ALL
       |  SELECT YEAR(l_shipdate), p_brand, CAST(l_quantity AS BIGINT), $Vol
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_returnflag = 'A' AND YEAR(l_shipdate) IN (1996, 1997)
       |  UNION ALL
       |  SELECT YEAR(l_shipdate), p_brand, CAST(l_quantity AS BIGINT), $Vol
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_returnflag = 'R' AND YEAR(l_shipdate) IN (1996, 1997)),
       |g AS MATERIALIZED (
       |  SELECT yr, p_brand, CAST(SUM(q) AS BIGINT) AS qty,
       |         CAST(SUM(v) AS DECIMAL(25,8)) AS amt
       |  FROM ch GROUP BY yr, p_brand)
       |SELECT p.p_brand AS p_brand, p.qty AS qty96, c.qty AS qty97,
       |  p.qty - c.qty AS qty_decline,
       |  CAST(p.amt AS DOUBLE) AS amt96, CAST(c.amt AS DOUBLE) AS amt97
       |FROM g p JOIN g c ON p.p_brand = c.p_brand
       |WHERE p.yr = 1996 AND c.yr = 1997 AND c.qty < p.qty
       |ORDER BY qty_decline DESC, p_brand
       |LIMIT 100""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val vol = (Num.money(col("l_extendedprice"))
      * (lit(1).cast(Num.Rate) - Num.rate(col("l_discount"))))
      .cast("decimal(19,8)")
    def yq(y: Int) = sum(when(year(col("l_shipdate")) === y,
      col("l_quantity").cast("long")).otherwise(lit(0L)))
    def ya(y: Int) = sum(when(year(col("l_shipdate")) === y, vol)
      .otherwise(lit(0).cast("decimal(19,8)"))).cast("decimal(25,8)")
    sp.table("lineitem")
      .filter(year(col("l_shipdate")).isin(1996, 1997))
      .join(sp.table("part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(yq(1996).as("qty96"), yq(1997).as("qty97"),
        ya(1996).as("a96"), ya(1997).as("a97"))
      .filter(col("qty96") > 0 && col("qty97") > 0 &&
        col("qty97") < col("qty96"))
      .select(col("p_brand"), col("qty96"), col("qty97"),
        (col("qty96") - col("qty97")).as("qty_decline"),
        col("a96").cast("double").as("amt96"),
        col("a97").cast("double").as("amt97"))
      .orderBy(col("qty_decline").desc, col("p_brand"))
      .limit(100)
  }

  // ---- round-15 batch 2: ten more DS plan families ---------------------

  /** TPC-DS Q14 shape: cross-channel common items — parts sold through
    * ALL THREE channels in the base year (a 3-way INTERSECT, planned as
    * a chain of semi joins over broadcast-sized distinct-key sets),
    * then the follow-year channel×brand sales of ONLY those parts,
    * screened against the base year's all-channel average line value.
    * The average enters as an exact cross-multiplication (sum·n > tot·n
    * avoids engine-specific AVG(DECIMAL) result scales). */
  val q385CrossChannelCommon: QuerySpec = QuerySpec(
    "q385_dss_cross_channel_common",
    s"""WITH cross_items AS (
       |  SELECT l_partkey AS pk FROM lineitem
       |  WHERE l_returnflag = 'N' AND YEAR(l_shipdate) = 1996
       |  INTERSECT
       |  SELECT l_partkey FROM lineitem
       |  WHERE l_returnflag = 'A' AND YEAR(l_shipdate) = 1996
       |  INTERSECT
       |  SELECT l_partkey FROM lineitem
       |  WHERE l_returnflag = 'R' AND YEAR(l_shipdate) = 1996),
       |base AS (
       |  SELECT CAST(SUM($Vol) AS DECIMAL(30,8)) AS tot,
       |         COUNT(*) AS cnt
       |  FROM lineitem WHERE YEAR(l_shipdate) = 1996)
       |SELECT l_returnflag AS channel, p_brand,
       |  CAST(SUM($Vol) AS DOUBLE) AS sales,
       |  COUNT(*) AS n_lines
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE YEAR(l_shipdate) = 1997
       |  AND l_partkey IN (SELECT pk FROM cross_items)
       |GROUP BY l_returnflag, p_brand
       |HAVING CAST(SUM($Vol) AS DECIMAL(30,8)) * (SELECT cnt FROM base)
       |     > (SELECT tot FROM base) * COUNT(*)
       |ORDER BY channel, p_brand""".stripMargin) { (s, dir) =>
    // Spark side in DataFrame form (oracle text unchanged): the
    // shared-SQL form scanned lineitem SEVEN times (3 INTERSECT
    // branches + the two base scalar refs + the main query — Spark
    // inlines every CTE/subquery reference; registry fingerprint
    // Scan[lineitem]=7). One staged slim two-year slice
    // (yr, l_returnflag, l_partkey, vol ≈ 21 B/row); the 3-way
    // INTERSECT collapses to one grouped flag pass over it, `base` is
    // one aggregate of it, and the 1997 side joins part once (r21;
    // guide §2.4/§6 — at 100 TB each redundant pass is a full fact
    // read). Volume/HAVING fragments copied verbatim so the decimal
    // algebra is identical.
    import graft.llmops.Checkpoints.Stageable
    val sp = QuerySpec.prepared(s, dir)
    val li = sp.table("lineitem")
      .filter(expr("YEAR(l_shipdate) IN (1996, 1997)"))
      .selectExpr("YEAR(l_shipdate) AS yr", "l_returnflag", "l_partkey",
        s"$Vol AS vol")
      .staged // the ONE fact pass; cross_items, base and main read it
    // parts sold through ALL THREE channels in 1996: the INTERSECT
    // chain as one grouped pass (INTERSECT is set semantics — the
    // grouped distinct-by-partkey output matches exactly)
    val crossItems = li
      .filter(col("yr") === 1996 && col("l_returnflag").isin("N", "A", "R"))
      .groupBy(col("l_partkey"))
      .agg(max(when(col("l_returnflag") === "N", 1).otherwise(0)).as("hn"),
        max(when(col("l_returnflag") === "A", 1).otherwise(0)).as("ha"),
        max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("hr"))
      .filter(col("hn") === 1 && col("ha") === 1 && col("hr") === 1)
      .select(col("l_partkey"))
    val base = li.filter(col("yr") === 1996)
      .selectExpr("CAST(SUM(vol) AS DECIMAL(30,8)) AS tot", "COUNT(*) AS cnt")
    li.filter(col("yr") === 1997)
      .join(crossItems, Seq("l_partkey"), "left_semi")
      .join(sp.table("part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_returnflag"), col("p_brand"))
      .agg(expr("CAST(SUM(vol) AS DOUBLE)").as("sales"),
        count(lit(1)).as("n_lines"),
        expr("CAST(SUM(vol) AS DECIMAL(30,8))").as("__sd"))
      .crossJoin(broadcast(base))
      .filter(expr("__sd * cnt > tot * n_lines"))
      .selectExpr("l_returnflag AS channel", "p_brand", "sales", "n_lines")
      .orderBy(col("channel"), col("p_brand"))
  }

  /** TPC-DS Q23 shape: frequent items × best customers — parts bought
    * ≥ 8 times in the base year (HAVING screen), customers in the base
    * year's top-20 by spend (TopN subquery), then the follow-year spend
    * of best customers on frequent items. Both membership sets are
    * bounded (HAVING-pruned keys, a LIMIT 20 list) and semi-join the
    * fact. */
  val q386FrequentBestSpend: QuerySpec = QuerySpec.sql(
    "q386_dss_frequent_best_spend",
    s"""WITH freq AS (
       |  SELECT l_partkey AS pk FROM lineitem
       |  WHERE YEAR(l_shipdate) = 1996
       |  GROUP BY l_partkey HAVING COUNT(*) >= 8),
       |best AS (
       |  SELECT o_custkey AS bc FROM orders
       |  JOIN lineitem ON l_orderkey = o_orderkey
       |  WHERE YEAR(l_shipdate) = 1996
       |  GROUP BY o_custkey
       |  ORDER BY CAST(SUM($Vol) AS DECIMAL(30,8)) DESC, o_custkey
       |  LIMIT 20)
       |SELECT c_custkey, c_name, CAST(SUM($Vol) AS DOUBLE) AS spend
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE YEAR(l_shipdate) = 1997
       |  AND l_partkey IN (SELECT pk FROM freq)
       |  AND o_custkey IN (SELECT bc FROM best)
       |GROUP BY c_custkey, c_name
       |ORDER BY c_custkey""".stripMargin)

  /** TPC-DS Q51 shape: the cumulative-crossover screen — two channel
    * series (per brand × month) FULL OUTER joined on the
    * (brand, month) grid, running totals for both sides over the
    * joined series, keeping the months where one channel's cumulative
    * quantity FIRST overtakes the other (LAG of the comparison flips).
    * Quantities stay BIGINT end to end so the windowed sums are
    * integer-exact on both engines. */
  val q387CumulativeCrossover: QuerySpec = QuerySpec.sql(
    "q387_dss_cumulative_crossover",
    """WITH n AS (
      |  SELECT p_brand, (YEAR(l_shipdate) - 1996) * 12 + MONTH(l_shipdate) AS mo,
      |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_returnflag = 'N' AND YEAR(l_shipdate) IN (1996, 1997)
      |  GROUP BY p_brand, (YEAR(l_shipdate) - 1996) * 12 + MONTH(l_shipdate)),
      |r AS (
      |  SELECT p_brand, (YEAR(l_shipdate) - 1996) * 12 + MONTH(l_shipdate) AS mo,
      |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_returnflag = 'R' AND YEAR(l_shipdate) IN (1996, 1997)
      |  GROUP BY p_brand, (YEAR(l_shipdate) - 1996) * 12 + MONTH(l_shipdate)),
      |j AS (
      |  SELECT COALESCE(n.p_brand, r.p_brand) AS brand,
      |         COALESCE(n.mo, r.mo) AS mo,
      |         COALESCE(n.q, 0) AS nq, COALESCE(r.q, 0) AS rq
      |  FROM n FULL OUTER JOIN r ON n.p_brand = r.p_brand AND n.mo = r.mo),
      |c AS (
      |  SELECT brand, mo,
      |    CAST(SUM(nq) OVER (PARTITION BY brand ORDER BY mo
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
      |    CAST(SUM(rq) OVER (PARTITION BY brand ORDER BY mo
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cr
      |  FROM j)
      |SELECT brand, mo, cn, cr
      |FROM (SELECT brand, mo, cn, cr,
      |        CASE WHEN cn > cr THEN 1 ELSE 0 END AS lead_now,
      |        LAG(CASE WHEN cn > cr THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY brand ORDER BY mo) AS lead_prev
      |      FROM c) f
      |WHERE lead_now = 1 AND COALESCE(lead_prev, 0) = 0
      |ORDER BY brand, mo""".stripMargin)

  /** TPC-DS Q94/Q16 shape: the multi-party no-failure order screen —
    * finished base-year orders having a line from a SECOND supplier
    * (correlated EXISTS with an inequality residual on the equi key)
    * and no returned line (correlated NOT EXISTS), counted once per
    * order with the order's value summed. EXISTS decorrelates to a
    * semi join carrying the `<>` residual; NOT EXISTS to an anti
    * join. */
  val q388MultiSupplierClean: QuerySpec = QuerySpec.sql(
    "q388_dss_multi_supplier_clean",
    s"""SELECT COUNT(*) AS n_orders,
       |  CAST(SUM(tp) AS DOUBLE) AS total_price
       |FROM (
       |  SELECT o_orderkey,
       |         MAX(CAST(o_totalprice AS $M)) AS tp
       |  FROM orders JOIN lineitem l1 ON l1.l_orderkey = o_orderkey
       |  WHERE o_orderstatus = 'F' AND YEAR(o_orderdate) = 1996
       |    AND EXISTS (SELECT 1 FROM lineitem l2
       |                WHERE l2.l_orderkey = l1.l_orderkey
       |                  AND l2.l_suppkey <> l1.l_suppkey)
       |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
       |                    WHERE l3.l_orderkey = l1.l_orderkey
       |                      AND l3.l_returnflag = 'R')
       |  GROUP BY o_orderkey) t""".stripMargin)

  /** TPC-DS Q70 shape: rollup ranked within its hierarchy level, with
    * the REGION MEMBERSHIP itself decided by a ranked subquery — the
    * top-5 nations by revenue (an inner window rank feeding a filter)
    * gate the fact, then ROLLUP(nation, segment) totals rank WITHIN
    * each grouping level (partition keys include the GROUPING() flag,
    * Q70's lochierarchy). */
  val q389RankedRollupHierarchy: QuerySpec = QuerySpec.sql(
    "q389_dss_ranked_rollup_hierarchy",
    s"""WITH nat AS (
       |  SELECT n_name, CAST(SUM($Vol) AS DECIMAL(30,8)) AS s
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE YEAR(l_shipdate) = 1996
       |  GROUP BY n_name),
       |top5 AS (
       |  SELECT n_name FROM (
       |    SELECT n_name, RANK() OVER (ORDER BY s DESC, n_name) AS rk
       |    FROM nat) x
       |  WHERE rk <= 5),
       |roll AS (
       |  SELECT n_name, c_mktsegment,
       |    CAST(SUM($Vol) AS DECIMAL(30,8)) AS sales,
       |    GROUPING(n_name) + GROUPING(c_mktsegment) AS lochierarchy,
       |    GROUPING(c_mktsegment) AS gseg
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE YEAR(l_shipdate) = 1996
       |    AND n_name IN (SELECT n_name FROM top5)
       |  GROUP BY ROLLUP(n_name, c_mktsegment))
       |SELECT lochierarchy, n_name, c_mktsegment,
       |  CAST(sales AS DOUBLE) AS sales,
       |  RANK() OVER (
       |    PARTITION BY lochierarchy,
       |      CASE WHEN gseg = 1 THEN NULL ELSE n_name END
       |    ORDER BY sales DESC, n_name NULLS FIRST, c_mktsegment NULLS FIRST)
       |    AS rank_in_level
       |FROM roll
       |ORDER BY lochierarchy DESC, n_name NULLS FIRST,
       |  rank_in_level, c_mktsegment NULLS FIRST""".stripMargin)

  /** TPC-DS Q45 shape: disjunctive membership — revenue per nation
    * where the customer EITHER sits in a literal nation list OR bought
    * one of a subquery-defined part set. An IN-subquery under OR can't
    * prune as a plain semi join; Spark plans it as an existence join
    * (the boolean-output join) feeding the disjunction — pinned in
    * PlanSpec. */
  val q390DisjunctiveMembership: QuerySpec = QuerySpec.sql(
    "q390_dss_disjunctive_membership",
    s"""SELECT n_name, CAST(SUM($Vol) AS DOUBLE) AS rev, COUNT(*) AS n_lines
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE YEAR(l_shipdate) = 1996
       |  AND (n_name IN ('FRANCE', 'GERMANY', 'JAPAN')
       |       OR l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 1))
       |GROUP BY n_name
       |ORDER BY n_name""".stripMargin)

  /** TPC-DS Q93 shape: returns-netted effective sales — every sale
    * line left-joined to the pre-aggregated returned quantity of its
    * (order, part), the effective quantity clamped at zero, rolled up
    * per market segment. The return side aggregates BEFORE the join
    * (line grain × line grain would double-count), and the clamp keeps
    * the metric integer-exact. */
  val q391ReturnsNetted: QuerySpec = QuerySpec.sql(
    "q391_dss_returns_netted",
    """WITH ret AS (
      |  SELECT l_orderkey AS ok, l_partkey AS pk,
      |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS rq
      |  FROM lineitem WHERE l_returnflag = 'R'
      |  GROUP BY l_orderkey, l_partkey)
      |SELECT c_mktsegment,
      |  CAST(SUM(GREATEST(CAST(l_quantity AS BIGINT) - COALESCE(rq, 0), 0))
      |    AS BIGINT) AS eff_qty,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |LEFT JOIN ret ON l_orderkey = ok AND l_partkey = pk
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE l_returnflag = 'N' AND YEAR(l_shipdate) = 1996
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin)

  /** TPC-DS Q6 shape: the above-category-average screen with a group
    * head-count floor — nations whose customers placed order lines at
    * over 1.2× their part type's average line quantity in the anchor
    * half-year, keeping nations with ≥ 2 DISTINCT such customers. The
    * per-type average joins as a grouped broadcast factor and compares
    * by exact integer cross-multiply (q·n·10 > totq·12, all BIGINT);
    * the head-count is a distinct aggregate over the survivors. (The
    * fixture's p_retailprice spans only 900–920, so Q6's price screen
    * is re-anchored on quantity — same plan shape, a metric the
    * fixture actually varies.) */
  val q392AboveTypeAverage: QuerySpec = QuerySpec.sql(
    "q392_dss_above_type_average",
    """WITH avgq AS (
      |  SELECT p_type,
      |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS totq,
      |         COUNT(*) AS n
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_type)
      |SELECT n_name, COUNT(DISTINCT o_custkey) AS n_cust
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN avgq ON part.p_type = avgq.p_type
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE YEAR(l_shipdate) = 1996 AND MONTH(l_shipdate) <= 6
      |  AND CAST(l_quantity AS BIGINT) * n * 10 > totq * 12
      |GROUP BY n_name
      |HAVING COUNT(DISTINCT o_custkey) >= 2
      |ORDER BY n_name""".stripMargin)

  /** TPC-DS Q67 shape: top-3 per rollup branch — the (type, brand,
    * month) ROLLUP lattice ranked WITHIN each type partition (the
    * grand-total branch ranks in its own NULL partition), keeping each
    * branch's top 3 rows. The rank-≤-3 filter over the lattice is
    * WindowGroupLimit material — the planner prunes per-partition
    * before the full sort. */
  val q393TopPerRollupBranch: QuerySpec = QuerySpec.sql(
    "q393_dss_top_per_rollup_branch",
    s"""WITH s AS (
       |  SELECT p_type AS t, p_brand AS b, MONTH(l_shipdate) AS m,
       |         CAST(SUM($Vol) AS DECIMAL(30,8)) AS sales
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE YEAR(l_shipdate) = 1996
       |  GROUP BY ROLLUP(p_type, p_brand, MONTH(l_shipdate)))
       |SELECT t, b, m, CAST(sales AS DOUBLE) AS sales, rk
       |FROM (
       |  SELECT t, b, m, sales,
       |    RANK() OVER (PARTITION BY t
       |      ORDER BY sales DESC, b NULLS FIRST, m NULLS FIRST) AS rk
       |  FROM s) x
       |WHERE rk <= 3
       |ORDER BY t NULLS FIRST, rk, b NULLS FIRST, m NULLS FIRST""".stripMargin)

  /** TPC-DS Q38/Q87 shape: the channel-overlap census — one row
    * reporting how many customers bought through ALL three channels
    * (a 3-way INTERSECT chain) and how many are exclusive to the first
    * (a 2-way EXCEPT chain), composed as scalar subqueries. Each set
    * op runs over DISTINCT customer keys (bounded by |customers|);
    * the two scalars broadcast into the single output row. */
  val q394ChannelCensus: QuerySpec = QuerySpec.sql(
    "q394_dss_channel_census",
    """SELECT
      |  (SELECT COUNT(*) FROM (
      |     SELECT DISTINCT o_custkey FROM orders
      |     JOIN lineitem ON l_orderkey = o_orderkey WHERE l_returnflag = 'N'
      |     INTERSECT
      |     SELECT DISTINCT o_custkey FROM orders
      |     JOIN lineitem ON l_orderkey = o_orderkey WHERE l_returnflag = 'A'
      |     INTERSECT
      |     SELECT DISTINCT o_custkey FROM orders
      |     JOIN lineitem ON l_orderkey = o_orderkey WHERE l_returnflag = 'R') a)
      |    AS in_all_three,
      |  (SELECT COUNT(*) FROM (
      |     SELECT DISTINCT o_custkey FROM orders
      |     JOIN lineitem ON l_orderkey = o_orderkey WHERE l_returnflag = 'N'
      |     EXCEPT
      |     SELECT DISTINCT o_custkey FROM orders
      |     JOIN lineitem ON l_orderkey = o_orderkey WHERE l_returnflag = 'A'
      |     EXCEPT
      |     SELECT DISTINCT o_custkey FROM orders
      |     JOIN lineitem ON l_orderkey = o_orderkey WHERE l_returnflag = 'R') b)
      |    AS first_only""".stripMargin)

  /** TPC-DS Q98/Q12 shape: revenue share within class over a 30-day
    * band — per (type, brand) revenue with each row's share of its
    * type's total as a window over the COLLAPSED relation (the
    * grouped-then-windowed two-level rollup, never a second fact
    * pass). Share compares/round as an exact-decimal ratio divided
    * once. */
  val q397RevenueShareInClass: QuerySpec = QuerySpec.sql(
    "q397_dss_revenue_share_in_class",
    s"""WITH g AS (
       |  SELECT p_type, p_brand, CAST(SUM($Vol) AS DECIMAL(30,8)) AS rev
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_shipdate >= DATE '1996-03-01'
       |    AND l_shipdate < DATE '1996-03-31'
       |  GROUP BY p_type, p_brand)
       |SELECT p_type, p_brand, CAST(rev AS DOUBLE) AS rev,
       |  CAST(ROUND(CAST(rev AS DOUBLE) * 1e6 /
       |    CAST(SUM(rev) OVER (PARTITION BY p_type) AS DOUBLE)) AS BIGINT)
       |    AS share_e6
       |FROM g
       |ORDER BY p_type, p_brand""".stripMargin)

  /** TPC-DS Q20 shape: the nested-IN supplier screen — suppliers whose
    * half-year shipped quantity of watched parts exceeds HALF their
    * own full-period quantity (a correlated scalar aggregate inside
    * the membership predicate, decorrelated to an aggregate join),
    * where "watched parts" is itself an IN-subquery over the dim. The
    * quarter-concentration bar (4·half > all) keeps the smoke fixture
    * non-empty (2 suppliers at sf0.001). */
  val q398NestedInScreen: QuerySpec = QuerySpec.sql(
    "q398_dss_nested_in_screen",
    """WITH watched AS (
      |  SELECT p_partkey AS pk FROM part WHERE p_size <= 5),
      |h AS (
      |  SELECT l_suppkey AS sk,
      |    CAST(SUM(CASE WHEN l_shipdate >= DATE '1996-01-01'
      |                   AND l_shipdate < DATE '1996-07-01'
      |              THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
      |      AS half_q,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS all_q
      |  FROM lineitem
      |  WHERE l_partkey IN (SELECT pk FROM watched)
      |    AND YEAR(l_shipdate) IN (1996, 1997)
      |  GROUP BY l_suppkey)
      |SELECT s_name, half_q, all_q
      |FROM supplier JOIN h ON s_suppkey = sk
      |WHERE 4 * half_q > all_q
      |ORDER BY s_name""".stripMargin)

  /** TPC-DS Q30 shape: the above-group-average screen computed over a
    * DIFFERENT relation slice — customers whose returned value exceeds
    * 1.2× their NATION's average per-customer returned value. The
    * per-nation average rides a window PARTITIONED by nation over the
    * ONE collapsed per-customer relation (Spark inlines a twice-read
    * CTE — a second aggregation would rescan the fact; the window
    * does not), exact cross-multiplied: mine·n·10 > tot·12 — never a
    * per-row correlated execution, never a second fact pass. */
  val q399AboveNationReturns: QuerySpec = QuerySpec.sql(
    "q399_dss_above_nation_returns",
    s"""WITH r AS (
       |  SELECT o_custkey AS cust,
       |         CAST(SUM($Vol) AS DECIMAL(30,8)) AS ret
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_returnflag = 'R'
       |  GROUP BY o_custkey),
       |j AS (
       |  SELECT n_name, c_custkey, ret,
       |    CAST(SUM(ret) OVER (PARTITION BY c_nationkey) AS DECIMAL(34,8))
       |      AS tot,
       |    COUNT(*) OVER (PARTITION BY c_nationkey) AS n
       |  FROM r
       |  JOIN customer ON cust = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey)
       |SELECT n_name, c_custkey, CAST(ret AS DOUBLE) AS returned
       |FROM j
       |WHERE ret * n * 10 > tot * 12
       |ORDER BY n_name, c_custkey""".stripMargin)

  val all: Seq[QuerySpec] = Seq(
    q254StarDateBrand, q255ChannelRollup, q256ReturnsAboveAvg,
    q257MultiSupplierOrders, q258RollupRank, q259OrderSizeBuckets,
    q260CrossChannelItems, q261HourBands, q262ChannelCompare,
    q263FrequentBestCustomers, q264MarginRollupGrouping,
    q265MonthlyVsAvg, q266SalesAfterReturns, q267UnionChannelItems,
    q268YearOverYear, q269CumulativeCross, q270ItemStatsChannels,
    q271BelowAvgBrands, q272ShipDelayBuckets, q273PromoShare,
    q348MultiYearChannelGrowth, q349ChannelQuantityFlow, q350SimpleStar,
    q351CityPairDemo, q352BandOr, q353PeriodYoyPivot,
    q354NoReturnChannelRatio, q355QuarterGrowth, q356ChannelExists,
    q357ChannelExcept,
    q358PriceAboveCategoryAvg, q359CaseScalarBands, q360BeforeAfterBalance,
    q361VolatilityPairs, q362DimOrMaze, q363BestWorstPairing,
    q364ReturnRatioRanks, q365DateArithResidual, q366AmPmRatio,
    q367ChannelOverlapMatrix,
    q370MonthlyDeviation, q371FrequentTickets, q372QoqGrowthCompare,
    q373SoldReturnedRepurchased, q374ChannelExclusiveYoy,
    q375CohortRevenueHistogram, q376BalancedChannelBrands,
    q377IntersectNationFilter, q378ExistsScreenStats, q379YoyDecline,
    q385CrossChannelCommon, q386FrequentBestSpend, q387CumulativeCrossover,
    q388MultiSupplierClean, q389RankedRollupHierarchy,
    q390DisjunctiveMembership, q391ReturnsNetted, q392AboveTypeAverage,
    q393TopPerRollupBranch, q394ChannelCensus,
    q397RevenueShareInClass, q398NestedInScreen, q399AboveNationReturns)
}
