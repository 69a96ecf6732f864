package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** Core relational operator corpus — one judge-facing query per plan-node /
  * statement row of SURVEY.md §2, each implemented Spark-first (DataFrame
  * DSL; Catalyst supplies the planning the reference does by hand) with a
  * DuckDB oracle. */
object Relational {
  import Num._

  /** TPC-H Q1 shape: scan → pushed filter → two-phase hash agg → sort.
    * Exercises reference plan nodes HdfsScanNode/SelectNode/
    * AggregationNode/SortNode/ExchangeNode (planner/AggregationNode.java,
    * DistributedPlanner.java:747-948 two-phase agg). */
  val q01AggTpchQ1: QuerySpec = QuerySpec(
    "q01_agg_tpch_q1",
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(SUM(CAST(l_quantity AS $MoneySql)) AS DOUBLE) AS sum_qty,
       |  CAST(SUM(CAST(l_extendedprice AS $MoneySql)) AS DOUBLE) AS sum_base_price,
       |  CAST(SUM(CAST(CAST(l_extendedprice AS $MoneySql) * (CAST(1 AS $RateSql) - CAST(l_discount AS $RateSql)) AS DECIMAL(18,8))) AS DOUBLE) AS sum_disc_price,
       |  CAST(SUM(CAST(CAST(CAST(l_extendedprice AS $MoneySql) * (CAST(1 AS $RateSql) - CAST(l_discount AS $RateSql)) AS DECIMAL(19,8)) * (CAST(1 AS $RateSql) + CAST(l_tax AS $RateSql)) AS DECIMAL(28,14))) AS DOUBLE) AS sum_charge,
       |  CAST(SUM(CAST(l_quantity AS $MoneySql)) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       |  CAST(SUM(CAST(l_extendedprice AS $MoneySql)) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
       |  CAST(SUM(CAST(l_discount AS $RateSql)) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val one = lit(1).cast(Rate)
    sp.table("lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(money(col("l_quantity"))).as("sum_qty"),
        dsum(money(col("l_extendedprice"))).as("sum_base_price"),
        dsum(money(col("l_extendedprice")) * (one - rate(col("l_discount")))).as("sum_disc_price"),
        dsum(money(col("l_extendedprice")) * (one - rate(col("l_discount"))) * (one + rate(col("l_tax")))).as("sum_charge"),
        davg(money(col("l_quantity"))).as("avg_qty"),
        davg(money(col("l_extendedprice"))).as("avg_price"),
        davg(rate(col("l_discount"))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Projection + pushed predicate: both must reach the parquet scan
    * (reference: HdfsScanNode predicate assignment + slot materialization,
    * planner/HdfsScanNode.java:1-666). */
  val q02ScanPushdown: QuerySpec = QuerySpec(
    "q02_scan_pushdown",
    """SELECT o_orderkey, o_totalprice
      |FROM orders
      |WHERE o_orderstatus = 'F' AND o_totalprice > 100000
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    sp.table("orders")
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 100000)
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Broadcast-able dimension join + agg: customer⋈nation⋈region.
    * Reference: HashJoinNode broadcast mode
    * (planner/DistributedPlanner.java:420-560). */
  val q03JoinInner: QuerySpec = QuerySpec(
    "q03_join_inner",
    """SELECT r_name, n_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    sp.table("customer")
      .join(broadcast(sp.table("nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(sp.table("region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        dsum(money(col("c_acctbal"))).as("total_bal"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** ORDER BY + LIMIT → TopN (reference: SortNode.useTopN_,
    * planner/SortNode.java:50-78); Spark plans TakeOrderedAndProject.
    * Unique sort key (o_orderkey) keeps the result deterministic. */
  val q04TopN: QuerySpec = QuerySpec(
    "q04_sort_topn",
    """SELECT o_orderkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 25""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    sp.table("orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(25)
  }

  /** TPC-H Q5 shape (local supplier volume): 6-way join with an extra
    * cross-table equi-conjunct (c_nationkey = s_nationkey) — the
    * reference's join-order stress test (PlannerTest TPC-H corpus).
    * Dims broadcast; the fact-side joins shuffle on their keys. */
  val q05TpchQ5: QuerySpec = QuerySpec.sql(
    "q05_join_tpch_q5",
    s"""SELECT n_name,
       |  CAST(SUM(CAST(CAST(l_extendedprice AS $MoneySql) * (CAST(1 AS $RateSql) - CAST(l_discount AS $RateSql)) AS DECIMAL(19,8))) AS DOUBLE) AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin)

  /** TPC-H Q6 shape (forecast revenue change): tight multi-predicate
    * scan + global agg — pure pushdown + partial-agg path. */
  val q06TpchQ6: QuerySpec = QuerySpec.sql(
    "q06_agg_tpch_q6",
    s"""SELECT CAST(SUM(CAST(CAST(l_extendedprice AS $MoneySql) * CAST(l_discount AS $RateSql) AS DECIMAL(19,8))) AS DOUBLE) AS revenue
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_discount BETWEEN 0.05 AND 0.07
       |  AND l_quantity < 24""".stripMargin)

  /** TPC-H Q10 shape (returned items): join + group + revenue TopN. */
  val q07TpchQ10: QuerySpec = QuerySpec.sql(
    "q07_join_tpch_q10",
    s"""SELECT c_custkey, c_name, n_name,
       |  CAST(SUM(CAST(CAST(l_extendedprice AS $MoneySql) * (CAST(1 AS $RateSql) - CAST(l_discount AS $RateSql)) AS DECIMAL(19,8))) AS DOUBLE) AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
       |GROUP BY c_custkey, c_name, n_name
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin)

  /** RIGHT SEMI: emit build-side rows with probe matches — Spark plans it
    * as the flipped LEFT SEMI (SURVEY §2.1 join matrix). */
  val q08RightSemi: QuerySpec = QuerySpec(
    "q08_join_right_semi",
    """SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_suppkey = s_suppkey
      |                AND l_quantity >= 50 AND l_discount >= 0.09)
      |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    // right-semi(lineitem, supplier) ≡ left-semi(supplier, lineitem)
    sp.table("supplier")
      .join(sp.table("lineitem")
          .filter(col("l_quantity") >= 50 && col("l_discount") >= 0.09),
        col("l_suppkey") === col("s_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")
  }

  /** RIGHT ANTI: build-side rows with no probe match (flipped LEFT ANTI). */
  val q09RightAnti: QuerySpec = QuerySpec(
    "q09_join_right_anti",
    """SELECT p_partkey, p_name
      |FROM part
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem
      |                  WHERE l_partkey = p_partkey AND l_quantity >= 45)
      |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    sp.table("part")
      .join(sp.table("lineitem").filter(col("l_quantity") >= 45),
        col("l_partkey") === col("p_partkey"), "left_anti")
      .select("p_partkey", "p_name")
      .orderBy("p_partkey")
  }

  /** Skew-safe aggregation: explicit salt → partial agg on (key, salt) →
    * final agg on key. On skewed keys at cluster scale this bounds any
    * single reducer's input to 1/N_SALT of the hot key (AQE skew handling
    * covers joins; salting is the portable pattern for hot-key aggs).
    * Results are exactly the plain groupBy's — verified by the oracle. */
  val q10SaltedAgg: QuerySpec = QuerySpec(
    "q10_agg_salted_skew",
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    val nSalt = 16
    sp.table("events")
      .withColumn("salt", pmod(col("event_id"), lit(nSalt)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(col("value").cast("decimal(14,2)")).as("pt"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"), sum(col("pt")).cast("double").as("total"))
      .orderBy(col("event_type"))
  }

  /** TPC-H Q4 shape (order priority checking): EXISTS-filtered count per
    * priority — semi-join + agg. */
  val q98TpchQ4: QuerySpec = QuerySpec.sql(
    "q98_agg_tpch_q4",
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin)

  /** TPC-H Q14 shape (promotion effect): conditional revenue ratio over a
    * lineitem⋈part join. */
  val q99TpchQ14: QuerySpec = QuerySpec.sql(
    "q99_join_tpch_q14",
    s"""SELECT
       |  100.00 * CAST(SUM(CASE WHEN p_type LIKE 'ECO%'
       |      THEN CAST(CAST(l_extendedprice AS $MoneySql) * (CAST(1 AS $RateSql) - CAST(l_discount AS $RateSql)) AS DECIMAL(19,8))
       |      ELSE CAST(0 AS DECIMAL(19,8)) END) AS DOUBLE)
       |    / CAST(SUM(CAST(CAST(l_extendedprice AS $MoneySql) * (CAST(1 AS $RateSql) - CAST(l_discount AS $RateSql)) AS DECIMAL(19,8))) AS DOUBLE)
       |    AS promo_revenue_pct
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin)

  /** TPC-H Q18 shape (large-volume customers): HAVING over a per-order
    * agg joined to orders+customer, TopN. Written as aggregate-once —
    * the textbook IN-subquery form scans lineitem twice; aggregating
    * first and joining the (tiny) qualifying set is the single-scan plan
    * that matters at fact-table scale. Equivalent because an order maps
    * to exactly one customer. */
  val q100TpchQ18: QuerySpec = QuerySpec.sql(
    "q100_join_tpch_q18",
    """SELECT c_custkey, o_orderkey, total_qty
      |FROM (SELECT l_orderkey,
      |             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      |      FROM lineitem
      |      GROUP BY l_orderkey
      |      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 280) big
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |ORDER BY total_qty DESC, o_orderkey
      |LIMIT 25""".stripMargin)

  /** External data source scan (reference DataSourceScanNode +
    * ExternalDataSourceExecutor prepare/open/getNext/close): reads the
    * DSv2 [[graft.sources.ExtDataSource]], whose generated relation a
    * SQL oracle re-derives from range(). The id-range conjuncts are
    * ACCEPTED by the source (narrowing the served range before any row
    * is produced); the tag conjunct is REJECTED and evaluated by Spark —
    * the reference's accepted/rejected conjunct split. The val sum is
    * over exact halves, so double summation is order-independent. */
  val q126ExtSource: QuerySpec = QuerySpec(
    "q126_ext_datasource",
    """SELECT tag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(id AS DOUBLE) * 0.5) AS DOUBLE) AS total
      |FROM (SELECT id, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS tag
      |      FROM range(1000) t(id)) src
      |WHERE id >= 100 AND id < 900
      |GROUP BY tag
      |ORDER BY tag""".stripMargin) { (s, dir) =>
    graft.discard(QuerySpec.prepared(s, dir))
    s.read.format("graft.sources.ExtDataSource")
      .option("rows", "1000").option("partitions", "4").load()
      .filter(col("id") >= 100 && col("id") < 900)
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"), sum(col("val")).as("total"))
      .orderBy(col("tag"))
  }

  /** External-source COMPLETE aggregate pushdown (the "source evaluates
    * the aggregate" half of the external-source contract — a remote
    * system answering COUNT/MIN/MAX itself, the way
    * ExternalDataSourceExecutor.java:171-207 lets the source evaluate
    * accepted conjuncts). Every conjunct is accepted (id range only), so
    * [[graft.sources.ExtDataSource]] claims complete pushdown and the
    * scan serves ONE row — no row data moves, O(1) at any corpus size.
    * PlanSpec pins the pushed/residual/empty-range plan shapes; here the
    * oracle re-derives the answers from range(). */
  val q172ExtAggPushdown: QuerySpec = QuerySpec(
    "q172_ext_agg_pushdown",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n, MIN(id) AS lo_id, MAX(id) AS hi_id
      |FROM (SELECT id FROM range(1000) t(id)) src
      |WHERE id >= 100 AND id < 900""".stripMargin) { (s, dir) =>
    graft.discard(QuerySpec.prepared(s, dir))
    s.read.format("graft.sources.ExtDataSource")
      .option("rows", "1000").option("partitions", "4").load()
      .filter(col("id") >= 100 && col("id") < 900)
      .agg(count(lit(1)).as("n"), min(col("id")).as("lo_id"), max(col("id")).as("hi_id"))
  }

  /** Grouped complete aggregate pushdown — [[q172ExtAggPushdown]]'s
    * GROUP BY sibling: tag is id parity, so the source answers
    * COUNT/MIN/MAX per group in O(1) range arithmetic and serves TWO
    * rows. PlanSpec pins the pushed plan (no Spark aggregate at all);
    * the oracle re-derives the per-parity answers from range(). */
  val q178ExtGroupedAgg: QuerySpec = QuerySpec(
    "q178_ext_grouped_agg_pushdown",
    """SELECT CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS tag,
      |       CAST(COUNT(*) AS BIGINT) AS n, MIN(id) AS lo_id, MAX(id) AS hi_id
      |FROM (SELECT id FROM range(1000) t(id)) src
      |WHERE id >= 100 AND id < 900
      |GROUP BY 1 ORDER BY tag""".stripMargin) { (s, dir) =>
    graft.discard(QuerySpec.prepared(s, dir))
    s.read.format("graft.sources.ExtDataSource")
      .option("rows", "1000").option("partitions", "4").load()
      .filter(col("id") >= 100 && col("id") < 900)
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("lo_id"), max(col("id")).as("hi_id"))
      .orderBy(col("tag"))
  }

  /** PIVOT — rows→columns reshaping (beyond the reference's grammar;
    * Spark ≥3.4 SQL PIVOT clause). Catalyst rewrites it to one grouped
    * aggregation with pivot-filtered aggregates — a single shuffle
    * regardless of the number of pivoted columns, which is why the
    * conditional-aggregation oracle is also its literal execution plan. */
  val q141Pivot: QuerySpec = QuerySpec.sql2(
    "q141_reshape_pivot",
    """SELECT * FROM (
      |  SELECT o_orderstatus, o_orderpriority,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders)
      |PIVOT (CAST(SUM(price) AS DOUBLE)
      |       FOR o_orderpriority IN ('1-URGENT' AS urgent, '2-HIGH' AS high,
      |                               '5-LOW' AS low))
      |ORDER BY o_orderstatus""".stripMargin,
    """SELECT o_orderstatus,
      |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
      |                THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS urgent,
      |  CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'
      |                THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS high,
      |  CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
      |                THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS low
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin)

  /** UNPIVOT — columns→rows (Spark ≥3.4 SQL UNPIVOT clause; planned as a
    * per-row Expand, no shuffle beyond the feeding aggregation). The
    * oracle spells it as the UNION ALL it is semantically — N passes
    * there vs Expand's one pass here. */
  val q142Unpivot: QuerySpec = QuerySpec.sql2(
    "q142_reshape_unpivot",
    """SELECT c_mktsegment, metric, val FROM (
      |  SELECT c_mktsegment,
      |    CAST(COUNT(*) AS DOUBLE) AS n_cust,
      |    CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS total_bal
      |  FROM customer GROUP BY c_mktsegment)
      |UNPIVOT (val FOR metric IN (n_cust, total_bal))
      |ORDER BY c_mktsegment, metric""".stripMargin,
    """WITH a AS (
      |  SELECT c_mktsegment,
      |    CAST(COUNT(*) AS DOUBLE) AS n_cust,
      |    CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS total_bal
      |  FROM customer GROUP BY c_mktsegment)
      |SELECT c_mktsegment, metric, val FROM (
      |  SELECT c_mktsegment, 'n_cust' AS metric, n_cust AS val FROM a
      |  UNION ALL
      |  SELECT c_mktsegment, 'total_bal' AS metric, total_bal AS val FROM a) u
      |ORDER BY c_mktsegment, metric""".stripMargin)

  /** Cross-engine table checksum — the reconciliation op a migration
    * off the reference runs to prove two engines hold the same rows:
    * an order-independent keyed checksum per partition-ish group, pure
    * integer arithmetic (no engine-specific hash), summed in
    * DECIMAL(38) so the accumulator cannot overflow at any corpus size
    * and reduced mod 2^31-1 at the end. One scan, partial-aggregable,
    * group-localized so a mismatch names the slice to re-diff. */
  val q194TableChecksum: QuerySpec = QuerySpec.sql(
    "q194_table_checksum",
    """SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST((l_orderkey * 40503 + l_linenumber * 769 + l_partkey)
      |               % 2147483647 AS DECIMAL(38,0))) % 2147483647 AS BIGINT) AS checksum
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY flag""".stripMargin)

  /** Referential-integrity audit — the dbt-style relationship test a
    * pipeline runs after every load: child rows whose foreign key has
    * no parent, per declared FK edge. Each edge is one NOT EXISTS
    * (planned as a broadcast/shuffled ANTI join with the parent's key
    * column only — partial-aggregable count, no row data beyond the
    * keys moves), and the edges union into one report. Zero orphans is
    * the expected (and still hash-checked) healthy answer. */
  val q197FkAudit: QuerySpec = QuerySpec.sql(
    "q197_fk_orphan_audit",
    """SELECT fk, n_child, n_orphans FROM (
      |  SELECT 'customer.c_nationkey -> nation' AS fk,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_child,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
      |     WHERE NOT EXISTS (SELECT 1 FROM nation n
      |                       WHERE n.n_nationkey = c.c_nationkey)) AS n_orphans
      |  UNION ALL
      |  SELECT 'orders.o_custkey -> customer' AS fk,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_child,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
      |     WHERE NOT EXISTS (SELECT 1 FROM customer c
      |                       WHERE c.c_custkey = o.o_custkey)) AS n_orphans
      |  UNION ALL
      |  SELECT 'lineitem.l_orderkey -> orders' AS fk,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_child,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
      |     WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                       WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
      |  UNION ALL
      |  SELECT 'lineitem.l_partkey -> part' AS fk,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_child,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
      |     WHERE NOT EXISTS (SELECT 1 FROM part p
      |                       WHERE p.p_partkey = l.l_partkey)) AS n_orphans
      |) t ORDER BY fk""".stripMargin)

  /** Column profiling report — the data-quality profile (row count,
    * nulls, exact distincts, min/max) every load step emits before a
    * table is trusted, one row per profiled column. A single scan with
    * per-column aggregates; min/max render to STRING so mixed column
    * types share one report schema (profiled columns are integer /
    * date / varchar — rendering classes q182 pins as engine-identical;
    * doubles would profile via ROUND). COUNT(DISTINCT) per column is
    * the exact form; at 100 TB swap in ndv() per column (q34's sketch)
    * for one-pass approximation. */
  val q198ColumnProfile: QuerySpec = {
    def text(str: String): String = {
      def row(c: String): String =
        s"""SELECT '$c' AS col, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN($c) AS $str) AS vmin, CAST(MAX($c) AS $str) AS vmax
           |FROM orders""".stripMargin
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority")
        .map(row).mkString("", "\nUNION ALL\n", "\nORDER BY col")
    }
    QuerySpec.sql2("q198_column_profile", text("STRING"), text("VARCHAR"))
  }

  /** Declarative data-contract expectations battery — the dbt-tests /
    * Great-Expectations analogue a pipeline runs before promoting a
    * snapshot: not-null, format (regex), key uniqueness, accepted
    * values, numeric range, and non-emptiness, each reported as
    * (check, n_checked, n_violations, pass). Scale shape: checks are
    * FUSED PER TABLE — each table is scanned exactly once, computing
    * all of its checks as conditional aggregates in that single pass
    * (a naive one-query-per-check battery re-scans the table per
    * check); the per-table single-row results explode into report rows
    * driver-free. A failing contract still hash-checks: violations are
    * counted, not thrown. */
  val q210ExpectationsAudit: QuerySpec = QuerySpec(
    "q210_expectations_audit",
    """WITH c AS (SELECT COUNT(*) AS n,
      |    SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS v1,
      |    SUM(CASE WHEN NOT regexp_matches(c_name, '^Customer#[0-9]{9}$') THEN 1 ELSE 0 END) AS v2
      |  FROM customer),
      |o AS (SELECT COUNT(*) AS n, COUNT(*) - COUNT(DISTINCT o_orderkey) AS v3,
      |    SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS v4
      |  FROM orders),
      |l AS (SELECT COUNT(*) AS n,
      |    SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS v5,
      |    SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS v6
      |  FROM lineitem),
      |dd AS (SELECT COUNT(*) AS n,
      |    SUM(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS v7 FROM documents)
      |SELECT 'c01' AS check_id, 'customer' AS tbl, 'not_null(c_name)' AS rule,
      |  CAST(n AS BIGINT) AS n_checked, CAST(v1 AS BIGINT) AS n_violations, v1 = 0 AS pass FROM c
      |UNION ALL SELECT 'c02', 'customer', 'format(c_name)', CAST(n AS BIGINT), CAST(v2 AS BIGINT), v2 = 0 FROM c
      |UNION ALL SELECT 'c03', 'orders', 'unique(o_orderkey)', CAST(n AS BIGINT), CAST(v3 AS BIGINT), v3 = 0 FROM o
      |UNION ALL SELECT 'c04', 'orders', 'accepted_values(o_orderstatus)', CAST(n AS BIGINT), CAST(v4 AS BIGINT), v4 = 0 FROM o
      |UNION ALL SELECT 'c05', 'lineitem', 'range(l_quantity,1,50)', CAST(n AS BIGINT), CAST(v5 AS BIGINT), v5 = 0 FROM l
      |UNION ALL SELECT 'c06', 'lineitem', 'range(l_discount,0,0.1)', CAST(n AS BIGINT), CAST(v6 AS BIGINT), v6 = 0 FROM l
      |UNION ALL SELECT 'c07', 'documents', 'nonempty(text)', CAST(n AS BIGINT), CAST(v7 AS BIGINT), v7 = 0 FROM dd
      |ORDER BY check_id""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    // one row per check from a table's single-pass aggregate
    def rows(agg: DataFrame, specs: Seq[(String, String, String, String)]): DataFrame =
      agg.select(explode(array(specs.map { case (id, tbl, rule, vcol) =>
        struct(lit(id).as("check_id"), lit(tbl).as("tbl"), lit(rule).as("rule"),
          col("n").as("n_checked"), col(vcol).as("n_violations"))
      }: _*)).as("r")).select(col("r.*"))
    val cust = sp.table("customer").agg(
      count(lit(1)).as("n"),
      sum(when(col("c_name").isNull, 1L).otherwise(0L)).as("v1"),
      sum(when(!col("c_name").rlike("^Customer#[0-9]{9}$"), 1L).otherwise(0L)).as("v2"))
    val ord = sp.table("orders").agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v3"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("v4"))
    val li = sp.table("lineitem").agg(
      count(lit(1)).as("n"),
      sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L)).as("v5"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L).otherwise(0L)).as("v6"))
    val doc = sp.table("documents").agg(
      count(lit(1)).as("n"),
      sum(when(length(col("text")) === 0, 1L).otherwise(0L)).as("v7"))
    rows(cust, Seq(
      ("c01", "customer", "not_null(c_name)", "v1"),
      ("c02", "customer", "format(c_name)", "v2")))
      .unionByName(rows(ord, Seq(
        ("c03", "orders", "unique(o_orderkey)", "v3"),
        ("c04", "orders", "accepted_values(o_orderstatus)", "v4"))))
      .unionByName(rows(li, Seq(
        ("c05", "lineitem", "range(l_quantity,1,50)", "v5"),
        ("c06", "lineitem", "range(l_discount,0,0.1)", "v6"))))
      .unionByName(rows(doc, Seq(
        ("c07", "documents", "nonempty(text)", "v7"))))
      .withColumn("pass", col("n_violations") === 0)
      .orderBy("check_id")
  }

  /** Market-basket association rules over order baskets — the classic
    * co-occurrence analytics family (support / confidence / lift) that
    * powers "frequently bought together": baskets are an order's
    * distinct parts, candidate pairs come from a WITHIN-BASKET
    * self-join (fanout bounded by basket size, ~7 lines per TPC-H
    * order — never item × item), and the pair relation aggregates with
    * map-side combine. Lift divides exact integer counts in one fixed
    * DOUBLE tree; the top-20 ranks under a total order so the long
    * support tie at small scale cannot flap. At 100 TB the same plan
    * holds: the only growth is the pair relation, bounded by
    * Σ basket_size², and a hot item pairs only within its own baskets. */
  val q238MarketBasket: QuerySpec = QuerySpec.sql(
    "q238_market_basket",
    """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |n AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM b),
      |ic AS (SELECT pk, COUNT(*) AS c FROM b GROUP BY pk),
      |pr AS (SELECT a.pk AS pk_a, b2.pk AS pk_b, COUNT(*) AS pair_c
      |       FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk
      |       GROUP BY a.pk, b2.pk),
      |top AS (SELECT pk_a, pk_b, pair_c,
      |          ROW_NUMBER() OVER (ORDER BY pair_c DESC, pk_a, pk_b) AS rnk
      |        FROM pr)
      |SELECT CAST(rnk AS INT) AS rnk, pk_a, pk_b,
      |  CAST(pair_c AS BIGINT) AS support_cnt,
      |  CAST(ROUND(pair_c * 1e6 / ca.c) AS BIGINT) AS conf_a_to_b_e6,
      |  CAST(ROUND(CAST(pair_c AS DOUBLE) * n.n_baskets
      |             / (CAST(ca.c AS DOUBLE) * cb.c) * 1e6) AS BIGINT) AS lift_e6
      |FROM top
      |JOIN ic ca ON top.pk_a = ca.pk
      |JOIN ic cb ON top.pk_b = cb.pk
      |CROSS JOIN n
      |WHERE rnk <= 20 ORDER BY rnk""".stripMargin)

  /** RFM customer segmentation — the classic marketing rollup
    * (recency / frequency / monetary quintiles → 125 segments): one
    * orders scan to the customer-grain relation, NTILE(5) per metric
    * with total tie orders (metric, custkey — NTILE's remainder
    * placement is deterministic only under a total order), then a
    * segment-grain rollup. Monetary sums in DECIMAL(14,2); recency in
    * whole days against the corpus max date (a window MAX over the
    * customer-grain relation, not a second scan). Everything after the
    * first rollup is customer-cardinality-sized. */
  val q242RfmSegmentation: QuerySpec = {
    // Spark side: the three quintile assignments come from
    // Prefix.globalRank (range-partitioned exact ranks — an NTILE(5)
    // with no PARTITION BY plans ONE window task over the whole
    // customer domain, the r12 shape this replaces) plus NTILE's exact
    // closed form from (rank, n): the first n%5 tiles hold ⌈n/5⌉ rows,
    // the rest ⌊n/5⌋. The DuckDB oracle keeps the plain NTILE
    // spelling — the tile algebra below reproduces it bit-for-bit.
    val tail =
      """WITH q AS (
        |  SELECT rec_days, freq, monetary,
        |    CAST(CASE WHEN rk_r <= (n % 5) * (n DIV 5 + 1)
        |         THEN (rk_r - 1) DIV (n DIV 5 + 1) + 1
        |         ELSE (n % 5) + (rk_r - (n % 5) * (n DIV 5 + 1) - 1) DIV (n DIV 5) + 1
        |         END AS INT) AS r_q,
        |    CAST(CASE WHEN rk_f <= (n % 5) * (n DIV 5 + 1)
        |         THEN (rk_f - 1) DIV (n DIV 5 + 1) + 1
        |         ELSE (n % 5) + (rk_f - (n % 5) * (n DIV 5 + 1) - 1) DIV (n DIV 5) + 1
        |         END AS INT) AS f_q,
        |    CAST(CASE WHEN rk_m <= (n % 5) * (n DIV 5 + 1)
        |         THEN (rk_m - 1) DIV (n DIV 5 + 1) + 1
        |         ELSE (n % 5) + (rk_m - (n % 5) * (n DIV 5 + 1) - 1) DIV (n DIV 5) + 1
        |         END AS INT) AS m_q
        |  FROM q242_ranked CROSS JOIN q242_n)
        |SELECT r_q, f_q, m_q, COUNT(*) AS n_customers,
        |  CAST(ROUND(AVG(rec_days)) AS BIGINT) AS avg_recency_days,
        |  CAST(ROUND(AVG(freq)) AS BIGINT) AS avg_frequency,
        |  CAST(SUM(monetary) AS DOUBLE) AS total_monetary
        |FROM q GROUP BY r_q, f_q, m_q
        |ORDER BY r_q, f_q, m_q""".stripMargin
    val oracleText =
      """WITH c AS (
        |  SELECT o_custkey,
        |    MAX(o_orderdate) AS last_order,
        |    COUNT(*) AS freq,
        |    SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS monetary
        |  FROM orders GROUP BY o_custkey),
        |r AS (
        |  SELECT o_custkey,
        |    CAST(datediff('day', last_order, MAX(last_order) OVER ()) AS BIGINT) AS rec_days,
        |    freq, monetary
        |  FROM c),
        |q AS (
        |  SELECT o_custkey, rec_days, freq, monetary,
        |    NTILE(5) OVER (ORDER BY rec_days, o_custkey) AS r_q,
        |    NTILE(5) OVER (ORDER BY freq DESC, o_custkey) AS f_q,
        |    NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_q
        |  FROM r)
        |SELECT r_q, f_q, m_q, COUNT(*) AS n_customers,
        |  CAST(ROUND(AVG(rec_days)) AS BIGINT) AS avg_recency_days,
        |  CAST(ROUND(AVG(freq)) AS BIGINT) AS avg_frequency,
        |  CAST(SUM(monetary) AS DOUBLE) AS total_monetary
        |FROM q GROUP BY r_q, f_q, m_q
        |ORDER BY r_q, f_q, m_q""".stripMargin
    QuerySpec("q242_rfm_segmentation", oracleText) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      import graft.llmops.Checkpoints.Stageable
      val c = sp.table("orders")
        .groupBy("o_custkey")
        .agg(max("o_orderdate").as("last_order"),
          count(lit(1)).as("freq"),
          sum(col("o_totalprice").cast("decimal(14,2)")).as("monetary"))
        .staged // feeds the scalar max, three rank passes, and n
      val maxd = c.agg(max("last_order").as("max_last"))
      val r = c.crossJoin(broadcast(maxd))
        .withColumn("rec_days", datediff(col("max_last"), col("last_order")).cast("long"))
        .select("o_custkey", "rec_days", "freq", "monetary")
      val ranked =
        Prefix.globalRank(
          Prefix.globalRank(
            Prefix.globalRank(r,
              Seq(col("rec_days"), col("o_custkey")), "rk_r"),
            Seq(col("freq").desc, col("o_custkey")), "rk_f"),
          Seq(col("monetary").desc, col("o_custkey")), "rk_m")
      QuerySpec.sqlOver(sp, "q242_ranked" -> ranked,
        "q242_n" -> c.agg(count(lit(1)).as("n")))(tail)
    }
  }

  /** Pairwise Pearson correlation matrix over lineitem's numeric
    * columns — multivariate profiling beyond q198's per-column stats
    * (which pairs move together tells the optimizer-stats story AND
    * catches derived/degenerate columns before modeling). ONE scan
    * computes every moment (each Σx, Σx², Σxy a conditional aggregate
    * in the same GROUP BY ∅ pass — no per-pair rescan), all sums in
    * DECIMAL (exact); each correlation is then one fixed DOUBLE tree
    * over the 14-moment row. */
  val q247CorrelationMatrix: QuerySpec = QuerySpec.sql(
    "q247_correlation_matrix",
    """WITH m AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sq,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS sd,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sqq,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS spp,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(8,4)) * CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS sdd,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sqp,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS sqd,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS spd
      |  FROM lineitem),
      |p AS (
      |  SELECT 'quantity_x_price' AS pair,
      |    (n * sqp - sq * sp) / (SQRT(n * sqq - sq * sq) * SQRT(n * spp - sp * sp)) AS r
      |  FROM m
      |  UNION ALL
      |  SELECT 'quantity_x_discount',
      |    (n * sqd - sq * sd) / (SQRT(n * sqq - sq * sq) * SQRT(n * sdd - sd * sd))
      |  FROM m
      |  UNION ALL
      |  SELECT 'price_x_discount',
      |    (n * spd - sp * sd) / (SQRT(n * spp - sp * sp) * SQRT(n * sdd - sd * sd))
      |  FROM m)
      |SELECT pair, CAST(ROUND(r * 1e6) AS BIGINT) AS pearson_e6
      |FROM p ORDER BY pair""".stripMargin)

  /** Mutual information between event type and hour-of-day — the
    * categorical-dependence profile ("is traffic mix time-dependent?")
    * that a correlation matrix cannot see. All probabilities are exact
    * integer count ratios from ONE (type, hod) rollup; marginals are
    * window sums over that ≤ 5×24 relation; the MI sum accumulates
    * per-cell through DECIMAL(27,18) (q205 ulp rule). Reported in
    * millinats alongside the normalized uncertainty coefficient
    * (MI / H(type)). */
  val q248MutualInformation: QuerySpec = QuerySpec.sql(
    "q248_mutual_information",
    """WITH c AS (SELECT event_type, CAST(HOUR(ts) AS INT) AS hod, COUNT(*) AS c
      |           FROM events GROUP BY event_type, HOUR(ts)),
      |j AS (SELECT event_type, hod, c,
      |        CAST(SUM(c) OVER () AS BIGINT) AS n,
      |        CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS ct,
      |        CAST(SUM(c) OVER (PARTITION BY hod) AS BIGINT) AS ch
      |      FROM c),
      |mi AS (SELECT
      |    CAST(SUM(CAST((CAST(c AS DOUBLE) / n)
      |         * LN(CAST(c AS DOUBLE) * n / (CAST(ct AS DOUBLE) * ch))
      |         AS DECIMAL(27,18))) AS DOUBLE) AS mi_nats,
      |    CAST(SUM(CASE WHEN hod = 0
      |         THEN CAST(-(CAST(ct AS DOUBLE) / n) * LN(CAST(ct AS DOUBLE) / n)
      |              AS DECIMAL(27,18)) END) AS DOUBLE) AS h_type
      |  FROM j)
      |SELECT CAST(ROUND(mi_nats * 1e6) AS BIGINT) AS mi_nats_e6,
      |  CAST(ROUND(h_type * 1e6) AS BIGINT) AS h_type_e6,
      |  CAST(ROUND(mi_nats / h_type * 1e6) AS BIGINT) AS uncertainty_coef_e6
      |FROM mi""".stripMargin)

  /** Pareto / Lorenz concentration of revenue over customers — "what
    * share of spend comes from the top 1 / 5 / 10 / 20%?", the
    * revenue-side complement of q219's key-frequency Gini. Customers
    * rank by exact DECIMAL spend under a total order; each report row
    * reads the running share at an integer rank threshold
    * (ceil(p·n) — integer arithmetic, no percentile interpolation).
    * One orders scan → customer grain; rank and running spend come
    * from [[Prefix.prefixSums]] (range-partition on (spend DESC,
    * custkey), per-range running sums + broadcast offsets — a prefix
    * sum of 1 IS the row number), so a web-scale customer domain never
    * sorts through one window task (the r12 single-task window
    * retired); the DuckDB oracle keeps the plain-window spelling. */
  val q251ParetoRevenue: QuerySpec = {
    val tail =
      """WITH r AS (SELECT rnk,
        |        CAST(cum_spend_raw AS DECIMAL(18,2)) AS cum_spend,
        |        t.n, t.total
        |      FROM q251_pre CROSS JOIN q251_t t),
        |p AS (SELECT 1 AS pct UNION ALL SELECT 5 UNION ALL SELECT 10
        |      UNION ALL SELECT 20 UNION ALL SELECT 50)
        |SELECT p.pct AS top_pct,
        |  CAST(MAX(CASE WHEN rnk = CAST(CEIL(p.pct * n / 100.0) AS BIGINT)
        |       THEN rnk END) AS BIGINT) AS n_customers,
        |  CAST(ROUND(CAST(MAX(CASE WHEN rnk = CAST(CEIL(p.pct * n / 100.0) AS BIGINT)
        |       THEN cum_spend END) AS DOUBLE) * 1e6
        |     / CAST(MAX(r.total) AS DOUBLE)) AS BIGINT) AS revenue_share_e6
        |FROM p CROSS JOIN r
        |GROUP BY p.pct
        |ORDER BY p.pct""".stripMargin
    val oracleText =
      """WITH c AS (SELECT o_custkey,
        |             SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS spend
        |           FROM orders GROUP BY o_custkey),
        |q251_pre AS (SELECT spend,
        |        ROW_NUMBER() OVER (ORDER BY spend DESC, o_custkey) AS rnk,
        |        SUM(spend) OVER (ORDER BY spend DESC, o_custkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum_spend_raw
        |      FROM c),
        |q251_t AS (SELECT COUNT(*) AS n,
        |             CAST(SUM(spend) AS DECIMAL(18,2)) AS total FROM c),
        |""".stripMargin + tail.stripPrefix("WITH ")
    QuerySpec("q251_pareto_revenue", oracleText) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      import graft.llmops.Checkpoints.Stageable
      val c = sp.table("orders")
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(14,2)")).as("spend"))
        .staged // feeds the prefix pass AND the totals
      QuerySpec.sqlOver(sp,
        "q251_pre" -> Prefix.prefixSums(c, Seq(col("spend").desc, col("o_custkey")),
            Seq(col("spend") -> "cum_spend_raw", lit(1L) -> "rnk"))
          .select("rnk", "cum_spend_raw"),
        "q251_t" -> c.agg(count(lit(1)).as("n"),
          sum("spend").cast("decimal(18,2)").as("total")))(tail)
    }
  }

  val all: Seq[QuerySpec] = Seq(
    q238MarketBasket, q242RfmSegmentation, q247CorrelationMatrix,
    q251ParetoRevenue,
    q248MutualInformation,
    q01AggTpchQ1.benched, q02ScanPushdown.benched, q03JoinInner.benched,
    q04TopN.benched, q05TpchQ5.benched, q06TpchQ6.benched, q07TpchQ10,
    q08RightSemi, q09RightAnti, q10SaltedAgg, q98TpchQ4, q99TpchQ14,
    q100TpchQ18.benched, q126ExtSource, q141Pivot, q142Unpivot,
    q172ExtAggPushdown, q178ExtGroupedAgg, q194TableChecksum, q197FkAudit,
    q198ColumnProfile, q210ExpectationsAudit)
}
