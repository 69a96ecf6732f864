package graft

/** Plan-shape assertions: the physical plans carry the optimizations the
  * reference implements by hand (§4.2) — pushdown to the scan, column
  * pruning, broadcast dimension joins, TopN — so a regression in any of
  * them fails loudly rather than just running slower. */
class PlanSpec extends EngineSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q01: filter pushed to parquet scan; unused columns pruned") {
    val p = plan("q01_agg_tpch_q1")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(!p.contains("l_orderkey"), "scan reads a column the query never uses")
  }

  test("q02: projection pruned to exactly the selected columns") {
    val p = plan("q02_scan_pushdown")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_totalprice:double>"), p)
  }

  test("q03: dimension joins broadcast, no sort-merge") {
    val p = plan("q03_join_inner")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "dim join fell back to sort-merge")
  }

  test("q04: ORDER BY + LIMIT plans TopN, not a global sort") {
    val p = plan("q04_sort_topn")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q19: multiway join broadcasts dims and keeps TopN") {
    val p = plan("q19_join_multiway_tpch_q3")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q114 (TPC-H Q19): disjunctive predicate still plans a hash join") {
    // The OR of AND-groups mixes both join sides; the planner must extract
    // the common p_partkey = l_partkey equi-conjunct and keep the
    // disjunction as a residual — not fall back to a nested-loop join
    // (reference: HashJoinNode eq + "other" conjuncts, HashJoinNode.java).
    val p = plan("q114_join_tpch_q19")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "disjunctive join predicate fell back to a nested-loop join")
  }

  test("q116 (TPC-H Q21): single-pass plan scans each table exactly once") {
    // The EXISTS/NOT EXISTS oracle form would scan lineitem three times;
    // the window rewrite must keep one scan per table (5 total).
    val p = plan("q116_sub_tpch_q21")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 5, s"expected 5 parquet scans, got $scans\n$p")
  }

  test("q121 (as-of join): one wide shuffle plus the output sort, no join") {
    // The union+window as-of composition must not plan a range self-join,
    // and the only exchanges are the user_id window shuffle and the final
    // ORDER BY — the shape that keeps as-of O(n log n) per partition.
    val p = plan("q121_join_asof")
    assert(!p.contains("Join"), s"as-of should be join-free\n$p")
    val exchanges = "(?m)^\\s*\\+?- Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected at most 2 exchanges, got $exchanges\n$p")
  }

  test("q67 (top-k per user): rank filter plans a two-phase WindowGroupLimit") {
    // rn <= 3 over row_number must become a group limit evaluated BOTH
    // map-side (before the user_id exchange — each task keeps 3 rows per
    // user) and reduce-side, so the shuffle carries k rows per key, not
    // the whole partition's history. The 100 TB difference between
    // "window then filter" and a real distributed top-k.
    val p = plan("q67_events_topk_per_user")
    val n = "WindowGroupLimit".r.findAllIn(p).size
    assert(n == 2, s"expected partial+final WindowGroupLimit, got $n\n$p")
  }

  test("q71: partition filter prunes to one partition directory") {
    val df = SparkEntry.queries("q71_dml_insert_partitioned")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(o_orderpriority"), p)
  }

  test("partition pruning handles IN and BETWEEN on partition columns") {
    // HdfsPartitionPruner.java:40-472 prunes with =, IN, BETWEEN, IS NULL
    // on partition columns; Spark's catalog file index must do the same —
    // the scan's partition count, not a post-scan filter, is the proof.
    val s = spark
    QuerySpec.prepared(s, sfDir)
    s.sql("DROP TABLE IF EXISTS graft_prune_t")
    s.table("orders")
      .withColumn("o_year", org.apache.spark.sql.functions.year(org.apache.spark.sql.functions.col("o_orderdate")))
      .write.partitionBy("o_year").saveAsTable("graft_prune_t")
    try {
      val years = s.sql("SHOW PARTITIONS graft_prune_t").count()
      assert(years >= 3, s"fixture should span years, got $years")
      def scannedPartitions(sql: String): Long = {
        // sparkPlan (pre-AQE) exposes the FileSourceScanExec directly
        val scan = s.sql(sql).queryExecution.sparkPlan.collectLeaves().collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
        scan.map(f => f.relation.location.listFiles(f.partitionFilters, Nil).size.toLong)
          .getOrElse(-1L)
      }
      val inCount = scannedPartitions(
        "SELECT COUNT(*) FROM graft_prune_t WHERE o_year IN (1996, 1997)")
      assert(inCount == 2, s"IN should prune to 2 partitions, scanned $inCount")
      val betweenCount = scannedPartitions(
        "SELECT COUNT(*) FROM graft_prune_t WHERE o_year BETWEEN 1996 AND 1998")
      assert(betweenCount == 3, s"BETWEEN should prune to 3 partitions, scanned $betweenCount")
    } finally s.sql("DROP TABLE IF EXISTS graft_prune_t")
  }

  test("DSv2 ext source: accepted conjuncts narrow the scan, rejected stay with Spark") {
    // ExternalDataSourceExecutor.prepare() semantics: the source accepts
    // the id-range conjuncts (scan narrows before producing rows) and
    // rejects the tag conjunct (a residual Filter above the scan).
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("graft.sources.ExtDataSource")
      .option("rows", "1000").load()
      .filter(col("id") >= 100 && col("id") < 200 && col("tag") === "even")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("range [100, 200)"), s"id conjuncts not pushed:\n$p")
    assert(p.contains("Filter"), s"tag residual filter missing:\n$p")
    assert(df.count() == 50)
  }

  test("DSv2 ext source: post-pushdown statistics make a narrowed huge table broadcastable") {
    // The catalog-stats half of the reference's join costing
    // (SingleNodePlanner.createCheapestJoinPlan:349-403): the source
    // reports numRows/sizeInBytes on the BUILT scan, so a range-narrowed
    // slice of a huge external table is correctly broadcast while the
    // un-narrowed table correctly is not.
    import org.apache.spark.sql.functions.col
    val s = spark
    def ext = s.read.format("graft.sources.ExtDataSource")
      .option("rows", (100L * 1000 * 1000).toString).load()
    val fullSize = ext.queryExecution.optimizedPlan.stats.sizeInBytes
    val narrowed = ext.filter(col("id") < 1000L)
    val narrowSize = narrowed.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(fullSize > (1L << 31), s"full-range stats should be huge: $fullSize")
    assert(narrowSize < (1L << 20), s"narrowed stats should be tiny: $narrowSize")
    // the join planner acts on them: a huge-ext self-join broadcasts
    // exactly the narrowed slice, and nothing when neither side narrows.
    // AQE off so the static plan shows the exchange choice; constraint
    // propagation off so the slice's predicate is not inferred onto the
    // probe side (which would legitimately shrink it too and let the
    // planner pick either side)
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
    val cpKey = "spark.sql.constraintPropagation.enabled"
    val prevCp = s.conf.get(cpKey)
    try {
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.conf.set(cpKey, "false")
      def broadcastSides(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b.toString
        }
      val jNarrow = ext.as("f").join(narrowed.as("n"), col("f.id") === col("n.id"))
      assert(broadcastSides(jNarrow).exists(_.contains("range [0, 1000)")),
        jNarrow.queryExecution.executedPlan.toString)
      val jFull = ext.as("f").join(ext.as("g"), col("f.id") === col("g.id"))
      assert(broadcastSides(jFull).isEmpty,
        jFull.queryExecution.executedPlan.toString)
    } finally {
      s.conf.set("spark.sql.adaptive.enabled", prevAqe)
      s.conf.set(cpKey, prevCp)
    }
  }

  test("DSv2 ext source: COUNT/MIN/MAX push completely into the scan") {
    // The "source evaluates the aggregate" half of the external-source
    // contract (ExternalDataSourceExecutor.java:171-207): when every
    // conjunct was accepted, the source answers COUNT(*)/MIN(id)/MAX(id)
    // in O(1) from its range and the scan serves ONE row — Spark must
    // run no aggregate of its own. A residual conjunct must disable the
    // pushdown (the range-derived answer would be wrong), and an empty
    // range must give SQL semantics: COUNT 0, NULL min/max.
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    import org.apache.spark.sql.{DataFrame, Row}
    def ext: DataFrame = spark.read.format("graft.sources.ExtDataSource")
      .option("rows", "1000").load()
    def aggs(df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n"), min(col("id")).as("lo_id"), max(col("id")).as("hi_id"))

    // (a) fully-accepted filters → complete pushdown, no Spark aggregate
    val pushed = aggs(ext.filter(col("id") >= 100 && col("id") < 900))
    val pp = pushed.queryExecution.executedPlan.toString
    assert(pp.contains("pushed aggregation"), s"aggregation not pushed:\n$pp")
    assert(!pp.contains("HashAggregate") && !pp.contains("SortAggregate"),
      s"Spark still aggregates above a complete pushdown:\n$pp")
    assert(pushed.collect().toSeq == Seq(Row(800L, 100L, 899L)))

    // (b) residual conjunct (tag) → no pushdown, plain scan + aggregate
    val residual = aggs(ext.filter(col("tag") === "even"))
    val rp = residual.queryExecution.executedPlan.toString
    assert(!rp.contains("pushed aggregation"),
      s"pushed past a residual filter — wrong results at any scale:\n$rp")
    assert(rp.contains("HashAggregate") || rp.contains("SortAggregate"), rp)
    assert(residual.collect().toSeq == Seq(Row(500L, 0L, 998L)))

    // (c) contradictory accepted range → empty: COUNT 0, NULL min/max
    val empty = aggs(ext.filter(col("id") >= 900 && col("id") < 100))
    val ep = empty.queryExecution.executedPlan.toString
    assert(ep.contains("pushed aggregation"), s"empty range not pushed:\n$ep")
    assert(empty.collect().toSeq == Seq(Row(0L, null, null)))

    // GROUP BY tag with computable aggs → grouped complete pushdown:
    // per-parity answers are O(1) range arithmetic, two rows served
    val grouped = ext.filter(col("id") >= 100 && col("id") < 900)
      .groupBy(col("tag")).agg(count(lit(1)).as("n"),
        min(col("id")).as("mn"), max(col("id")).as("mx"))
    val gp = grouped.queryExecution.executedPlan.toString
    assert(gp.contains("pushed aggregation GROUP BY tag"), gp)
    assert(!gp.contains("HashAggregate"), s"Spark re-aggregated a grouped complete pushdown:\n$gp")
    assert(grouped.orderBy("tag").collect().toSeq ==
      Seq(Row("even", 400L, 100L, 898L), Row("odd", 400L, 101L, 899L)))

    // a non-computable aggregate (SUM over val) keeps the whole
    // aggregation in Spark — q126's shape, unchanged
    import org.apache.spark.sql.functions.sum
    val mixed = ext.filter(col("id") >= 100 && col("id") < 900)
      .groupBy(col("tag")).agg(count(lit(1)).as("n"), sum(col("val")).as("t"))
    val mp = mixed.queryExecution.executedPlan.toString
    assert(!mp.contains("pushed aggregation"), mp)
    assert(mp.contains("HashAggregate"), mp)
  }

  test("DSv2 ext source: LIMIT and TopN narrow the served range at the source") {
    import org.apache.spark.sql.functions.col
    def ext = spark.read.format("graft.sources.ExtDataSource")
      .option("rows", "1000").load()
    // LIMIT: any 7 rows satisfy it — the source serves its first 7 ids
    val lim = ext.limit(7)
    val lp = lim.queryExecution.executedPlan.toString
    assert(lp.contains("range [0, 7)"), s"limit not pushed into the range:\n$lp")
    assert(lim.count() == 7)
    // TopN on id DESC: the top 5 ids are the range's suffix
    val top = ext.orderBy(col("id").desc).limit(5)
    val tp = top.queryExecution.executedPlan.toString
    assert(tp.contains("range [995, 1000)"), s"TopN not pushed into the range:\n$tp")
    assert(top.collect().map(_.getLong(0)).toSeq == Seq(999L, 998L, 997L, 996L, 995L))
  }

  test("DSv2 ext source: pushLimit/pushTopN refuse when a residual filter exists") {
    // Spark's V2ScanRelationPushDown currently never offers a limit to a
    // scan that still has a post-scan filter, but that precondition is
    // Spark's, not this API's — the builder must stay correct on its
    // own: serving only the first N ids of a residually-filtered range
    // would under-produce rows if the precondition ever relaxed.
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
    val b = new graft.sources.ExtScanBuilder(1000, 4)
    val residual = b.pushFilters(Array(GreaterThanOrEqual("id", 100L), EqualTo("tag", 1L)))
    assert(residual.length == 1, residual.mkString(","))
    assert(!b.pushLimit(7), "limit must not narrow a residually-filtered range")
    assert(!b.pushTopN(
      Array(Expressions.sort(Expressions.column("id"), SortDirection.ASCENDING)), 5),
      "TopN must not narrow a residually-filtered range")
    assert(b.build().description().contains("range [100, 1000)"), b.build().description())
    // without a residual, both push fine
    val clean = new graft.sources.ExtScanBuilder(1000, 4)
    clean.pushFilters(Array(GreaterThanOrEqual("id", 100L)))
    assert(clean.pushLimit(7))
    assert(clean.build().description().contains("range [100, 107)"), clean.build().description())
  }

  test("DSv2 ext source: runtime join filters narrow the served partitions") {
    // SupportsRuntimeV2Filtering — the DSv2 twin of the reference's
    // runtime filters (planner/RuntimeFilterGenerator.java): a broadcast
    // join's build-side key set reaches the scan BEFORE partition
    // planning and shrinks the served range to the keys' envelope.
    // Serving a superset is the contract (the join discards
    // non-matches), so unknown predicate shapes must leave the range
    // whole rather than guess.
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.connector.expressions.Expression
    def lit(v: Long): Expression = Expressions.literal(v)
    def planned(preds: Predicate*): Seq[(Long, Long)] = {
      val scan = new graft.sources.ExtScanBuilder(1000, 4).build()
      val rf = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]
      assert(rf.filterAttributes().map(_.describe()).toSeq == Seq("id"))
      rf.filter(preds.toArray)
      scan.toBatch.planInputPartitions().toSeq
        .map { case graft.sources.ExtRange(f, u) => (f, u) }
    }
    def span(parts: Seq[(Long, Long)]): (Long, Long) = (parts.map(_._1).min, parts.map(_._2).max)
    val in = new Predicate("IN", Array[Expression](Expressions.column("id"),
      lit(100L), lit(103L), lit(460L)))
    assert(span(planned(in)) == (100L, 461L), s"IN keys must narrow to their envelope")
    val eq = new Predicate("=", Array[Expression](Expressions.column("id"),
      lit(42L)))
    assert(span(planned(eq)) == (42L, 43L))
    // unrecognized predicate: full range, still correct
    val odd = new Predicate("ALWAYS_TRUE", Array.empty[Expression])
    assert(span(planned(odd)) == (0L, 1000L))
  }

  test("join distribution hints steer the planner (TableRef.java:374-390)") {
    QuerySpec.prepared(spark, sfDir)
    val b = spark.sql(
      """SELECT /*+ BROADCAST(nation) */ c_custkey, n_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(b.contains("BroadcastHashJoin"), b)
    val m = spark.sql(
      """SELECT /*+ MERGE(nation) */ c_custkey, n_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(m.contains("SortMergeJoin"), m)
  }

  test("q129 (bucketed join): co-located scans join with no exchange below the join") {
    // Broadcast disabled so the test exercises the case bucketing exists
    // for: both sides too big to broadcast. The bucketed scans expose
    // HashPartitioning(key, 8), so the join needs no shuffle — the only
    // hash exchange left is the final small group-by.
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q129_join_bucketed")
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("Bucketed: true"), s"scan did not use buckets:\n$p")
      val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(hashExchanges == 1,
        s"expected 1 hash exchange (group-by only), got $hashExchanges:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("q136 (bucketed agg): group-by on the bucket key needs no exchange") {
    // Spark keeps the partial/final HashAggregate pair but EnsureRequirements
    // inserts no exchange between them — the scan's bucket partitioning
    // already satisfies the distribution (the FIRST/MERGE phases run
    // pipelined in one stage).
    val p = plan("q136_agg_bucketed")
    assert(p.contains("Bucketed: true"), s"scan did not use buckets:\n$p")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 0, s"bucket-key agg still shuffles:\n$p")
  }

  test("q139 (partitioned+bucketed): partition pruned AND agg shuffle-free") {
    val p = plan("q139_layout_partitioned_bucketed")
    assert(p.contains("PartitionFilters: [isnotnull(l_linestatus"),
      s"partition filter not pushed:\n$p")
    assert(p.contains("Bucketed: true"), s"scan did not use buckets:\n$p")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 0, s"bucket-key agg still shuffles:\n$p")
  }

  test("runtime bloom filter injects on a selective dim join (runtime-filter analogue)") {
    // Impala pushes runtime filters from the join build side into the
    // probe-side scan (§4.3); Spark's analogue is the injected bloom
    // filter. Size thresholds gate it at production scale — force them to
    // zero here so the tiny fixture still demonstrates the rewrite.
    QuerySpec.prepared(spark, sfDir)
    val conf = Map(
      // creation side must be UNDER its threshold, application side must
      // be OVER its — relax both so the tiny fixture qualifies
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val p = spark.sql(
        """SELECT l_orderkey, o_orderpriority
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE o_orderpriority = '1-URGENT'""".stripMargin)
        .queryExecution.optimizedPlan.toString
      assert(p.toLowerCase.contains("bloomfilter"),
        s"no runtime bloom filter injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning fires on a partitioned fact × filtered dim join") {
    // the runtime analogue of HdfsPartitionPruner: partition values to
    // scan are only known after the dim filter runs — Spark injects a
    // dynamicpruning subquery into the fact scan's PartitionFilters
    val s = spark
    QuerySpec.prepared(s, sfDir)
    s.sql("DROP TABLE IF EXISTS graft_dpp_fact")
    s.sql("DROP TABLE IF EXISTS graft_dpp_dim")
    import org.apache.spark.sql.functions.{col, year}
    s.table("orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.partitionBy("o_year").saveAsTable("graft_dpp_fact")
    s.table("orders")
      .select(year(col("o_orderdate")).as("d_year")).distinct()
      .withColumn("tag", (col("d_year") % 2 === 0).cast("string"))
      .write.saveAsTable("graft_dpp_dim")
    try {
      val df = s.sql(
        """SELECT COUNT(*) FROM graft_dpp_fact f
          |JOIN graft_dpp_dim d ON f.o_year = d.d_year
          |WHERE d.tag = 'true'""".stripMargin)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"), "no DPP subquery in fact scan: " + p)
    } finally {
      s.sql("DROP TABLE IF EXISTS graft_dpp_fact")
      s.sql("DROP TABLE IF EXISTS graft_dpp_dim")
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    // one hot key (every document shares it) → one giant shuffle
    // partition; with scaled-down thresholds AQE must mark the join
    // skewed and split the partition — the local[32] stand-in for the
    // 100 TB hot-key scenario (salting covers the planned path, q78)
    val s = spark
    QuerySpec.prepared(s, sfDir)
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> s.conf.getOption(k)).toMap
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100b")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "200b")
    s.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      import org.apache.spark.sql.functions.{col, expr, lit}
      // real (non-foldable) keys with one hot value holding ~80% of the
      // rows, so its shuffle partition dwarfs the median and trips the
      // scaled-down skew thresholds
      val hotKey = expr("CASE WHEN doc_id % 10 < 8 THEN 0L ELSE doc_id % 10 END")
      // skew splits are by upstream MAP ranges: a single-file scan is one
      // mapper and cannot be split, so spread the scan over 8 mappers
      val hot = s.table("documents").repartition(8, col("doc_id"))
        .withColumn("k", hotKey)
      val dim = s.table("documents").limit(200)
        .select(hotKey.as("k"), col("doc_id").as("rhs_id"))
      val joined = hot.join(dim, Seq("k")).groupBy(col("lang"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      joined.collect() // AQE decides skew handling at runtime
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), "AQE did not mark the skewed join: " + p)
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  test("q145 (lateral top-k): decorrelated to WindowGroupLimit, no per-row subplan") {
    val p = plan("q145_sub_lateral_topk")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), "lateral fell back to a cartesian product")
  }

  test("q84 (embedding near-dup): fused blocked scan — kernel expansion, no pair join, no distinct") {
    // the pair space must never plan as a self-join or cartesian; pairs
    // are emitted (already cosine-filtered) by the codegen'd cosine_pairs
    // kernel inside one Generate, and the one-block-per-pair salting
    // means no downstream distinct aggregation over the pair stream
    val p = plan("q84_dedup_embedding_cosine")
    assert(p.contains("cosine_pairs"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "q84 pair space planned as a join: " + p)
  }

  test("q155 (planted near-dup): verify joins on bucket pairs, no all-pairs fallback") {
    // the banding/expansion stages run behind localCheckpoint barriers,
    // so the final plan shows only the verify: it must be hash joins on
    // the (tiny) candidate pair set — never a cartesian/self-join
    val p = plan("q155_dedup_planted_lsh")
    assert(p.contains("vec_cosine"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "LSH fell back to all-pairs: " + p)
  }

  test("hyperplane banding stays inside whole-stage codegen") {
    // the float→double widening must be an array CAST, not a
    // transform(...) lambda — higher-order functions are CodegenFallback
    // and drag the whole projection out of codegen
    QuerySpec.prepared(spark, sfDir)
    val p = spark.sql(
      """SELECT vec_id, hyperplanebands64(CAST(embedding AS ARRAY<DOUBLE>), 256, 16) b
        |FROM embeddings""".stripMargin).queryExecution.executedPlan.toString
    // the "*(n)" prefix marks a whole-stage-codegen'd operator
    assert("""\*\(\d+\) Project .*hyperplanebands64""".r.findFirstIn(p).isDefined,
      "banding fell out of codegen: " + p)
  }

  test("q158 (chunking): zero-shuffle map-side chunks — only the final sort exchanges") {
    val p = plan("q158_text_chunk_overlap")
    assert(p.contains("Generate explode"), p)
    assert("Exchange".r.findAllIn(p).size == 1,
      "chunking should shuffle only for the presentation sort: " + p)
    assert(!p.contains("Join"), "chunking must not join: " + p)
  }

  test("q160/q175 (substring dedup): first-occurrence is a partial aggregate, no gram window") {
    // First-occurrence detection must be the per-gram MIN(STRUCT) partial
    // aggregate (map-side combine → at most one row per (task, gram)
    // crosses the shuffle, so a boilerplate gram cannot concentrate its
    // millions of occurrences into one sort task). A Window keyed on the
    // gram — the previous formulation — totally orders every occurrence
    // of a gram inside a single task: the canonical skew scale-killer.
    for (name <- Seq("q160_dedup_substring", "q175_dedup_substring_remove")) {
      val p = plan(name)
      assert("Window \\[".r.findAllIn(p).isEmpty,
        s"$name plans a Window (per-gram total sort): " + p)
      assert(p.contains("min(struct(doc_id"),
        s"$name lost the per-gram MIN(STRUCT) first-occurrence aggregate: " + p)
      assert(!p.contains("CartesianProduct"),
        s"$name planned a cartesian: " + p)
    }
  }

  test("q161 (SQ8 ANN): top-k via WindowGroupLimit heaps, no cartesian") {
    val p = plan("q161_ann_int8_quant")
    // both top-k stages (approx top-20, exact top-5) must plan as
    // partial+final WindowGroupLimit (per-partition heaps), and the
    // approximate scan must broadcast the query side, never cartesian
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastNestedLoopJoin"),
      "query side not broadcast over the code scan: " + p)
    assert(!p.contains("CartesianProduct"), "SQ8 scan fell back to cartesian: " + p)
  }

  test("appx_count_distinct option rewrites COUNT(DISTINCT) to the HLL sketch (SelectStmt.java:642-666)") {
    QuerySpec.prepared(spark, sfDir)
    val sql = "SELECT COUNT(DISTINCT c_nationkey) AS n FROM customer"
    val multi = "SELECT COUNT(DISTINCT c_nationkey, c_mktsegment) AS n FROM customer"
    def optimized(q: String) = spark.sql(q).queryExecution.optimizedPlan.toString
    // inert by default: exact two-phase distinct, no sketch
    assert(!optimized(sql).contains("approx_count_distinct"), optimized(sql))
    val exact = spark.sql(sql).collect().head.getLong(0)
    spark.conf.set(graft.plans.AppxCountDistinctRewrite.EnabledKey, "true")
    try {
      val p = optimized(sql)
      assert(p.contains("approx_count_distinct") && !p.contains("count(distinct"), p)
      // the estimate must land within the sketch's documented error
      // (rsd 0.05 — same trade the reference's NDV() makes)
      val approx = spark.sql(sql).collect().head.getLong(0)
      assert(math.abs(approx - exact) <= math.max(2L, (exact * 0.05).toLong),
        s"approx $approx vs exact $exact")
      // multi-argument COUNT(DISTINCT a, b) stays exact, as the
      // reference skips getParams().size() != 1
      assert(!optimized(multi).contains("approx_count_distinct"), optimized(multi))
      // multiple distinct GROUPS stay exact too — load-bearing on the
      // extensions path, where the rule runs before
      // RewriteDistinctAggregates and would otherwise see (and
      // approximate) both groups pre-expansion
      val twoGroups =
        "SELECT COUNT(DISTINCT c_nationkey) AS a, COUNT(DISTINCT c_mktsegment) AS b FROM customer"
      val pg = optimized(twoGroups)
      assert(!pg.contains("approx_count_distinct"), pg)
    } finally spark.conf.unset(graft.plans.AppxCountDistinctRewrite.EnabledKey)
  }

  test("appx_count_distinct via the extensions wiring matches the session-attached semantics") {
    // The injectOptimizerRule hook lands the rule in the Operator
    // Optimization batch BEFORE RewriteDistinctAggregates — without the
    // single-group guard, COUNT(DISTINCT a), COUNT(DISTINCT b) would be
    // approximated here but exact on the extraOptimizations path.
    import org.apache.spark.sql.SparkSession
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    // `clean` reuses the suite's SparkContext (getOrCreate ignores the
    // differing master once a context exists), so it cannot be stopped
    // without killing the shared context; the outer finally drops its
    // state instead so nothing leaks into later suites, no matter where
    // in the body a failure lands.
    var clean: SparkSession = null
    try {
      clean = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.engine.GraftExtensions())
        .getOrCreate()
      clean.conf.set(graft.plans.AppxCountDistinctRewrite.EnabledKey, "true")
      clean.range(0, 100)
        .selectExpr("id % 7 AS a", "id % 11 AS b")
        .createOrReplaceTempView("g_appx_ext")
      def opt(q: String) = clean.sql(q).queryExecution.optimizedPlan.toString
      // single group: approximated on this path too
      assert(opt("SELECT COUNT(DISTINCT a) AS n FROM g_appx_ext")
        .contains("approx_count_distinct"))
      // two groups: exact on this path too (the guard), and correct
      val pg = opt("SELECT COUNT(DISTINCT a) AS x, COUNT(DISTINCT b) AS y FROM g_appx_ext")
      assert(!pg.contains("approx_count_distinct"), pg)
      val r = clean.sql("SELECT COUNT(DISTINCT a) AS x, COUNT(DISTINCT b) AS y FROM g_appx_ext")
        .collect().head
      assert(r.getLong(0) == 7L && r.getLong(1) == 11L, r.toString)
    } finally {
      if (clean != null) {
        clean.conf.unset(graft.plans.AppxCountDistinctRewrite.EnabledKey)
        clean.catalog.dropTempView("g_appx_ext")
      }
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
    // the extension session's temp view must be invisible to the suite
    // session (per-session catalog state) — pin that nothing leaked
    assert(!spark.catalog.tableExists("g_appx_ext"),
      "extension-session temp view leaked into the suite session")
  }

  test("q174 (DSIR): ONE staged corpus pass, histogram broadcasts, one doc-keyed shuffle") {
    // r20: the bigram-bucket relation is built once and STAGED — the
    // histogram and the scoring join both read the checkpoint, so the
    // final plan contains NO corpus scan at all (the shared-SQL
    // formulation inlined the `b` CTE into both consumers and re-ran
    // the explode+hash — the q116 trap this pins against regressing
    // to). A SortMergeJoin means the 1024-row ratio table stopped
    // broadcasting.
    val p = plan("q174_dsir_resample")
    assert(!p.contains("documents.parquet"),
      s"a consumer re-scanned the corpus instead of the staged bigram relation:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"), p)
    assert(!p.contains("SortMergeJoin"), s"ratio join must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q163 (BPE): merge rounds read the checkpointed vocab, never re-scan the corpus") {
    // Spark inlines WITH CTEs, so both merge rounds consuming s0 would
    // re-run the corpus word explode; the vocab checkpoint means the
    // final plan must not contain a documents scan at all
    val p = plan("q163_text_bpe_merges")
    assert(!p.contains("documents.parquet"),
      "a merge round re-scanned the corpus: " + p)
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"), p)
  }

  test("q167 (BPE encode): the final plan never re-scans the corpus") {
    // the vocab build is the only documents scan; the encode is a
    // per-row expression over the vocab and the frequency agg reads its
    // output, so nothing after the vocab build touches the corpus
    val p = plan("q167_text_bpe_encode")
    assert("documents.parquet".r.findAllIn(p).size == 1,
      "the corpus is scanned more than once: " + p)
  }

  test("q169 (model quality): classifier inference is map-side — no exchange below the sort") {
    // the scoring pass must not shuffle: one scan, per-row feature
    // arithmetic, filter on the logit; the only exchange allowed is the
    // final presentation ORDER BY
    val p = plan("q169_text_model_quality")
    val body = p.substring(p.indexOf("Sort") max 0)
    assert("Exchange".r.findAllIn(body).size <= 1,
      "classifier inference shuffled before the presentation sort: " + p)
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
  }

  test("q183/q184: totals ride as window sums — corpus scanned exactly three times") {
    // the q174 rule: a totals CTE over a grouped CTE re-inlines into an
    // extra corpus scan. q184 attaches corpus total / context sums as
    // window sums over the vocab-sized grouped relations; q183 derives
    // both per-doc measures from ONE aggregate over the coverage rows
    for (q <- Seq("q183_dup_ngram_coverage", "q184_bigram_lm")) {
      val p = plan(q)
      assert("Scan parquet".r.findAllIn(p).size == 3,
        s"$q should scan documents exactly 3 times: " + p)
    }
  }

  test("q210/q212/q213/q214: report ops scan each input exactly once (checks fused)") {
    // q210 fuses every table's checks into that table's single pass
    assert("Scan parquet".r.findAllIn(plan("q210_expectations_audit")).size == 4,
      "q210 must scan each of its 4 tables exactly once: " + plan("q210_expectations_audit"))
    for (q <- Seq("q212_embedding_drift", "q213_feature_hashing", "q214_context_fit")) {
      val p = plan(q)
      assert("Scan parquet".r.findAllIn(p).size == 1,
        s"$q should make exactly one corpus pass: " + p)
    }
  }

  test("q195 (funnel): single-pass array fold — events scanned exactly once") {
    val p = plan("q195_events_funnel_steps")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      "funnel re-scans events (stage-chained CTE re-inlining came back): " + p)
  }

  test("q147 (interval bucket join): pure hash join, no nested loop") {
    val p = plan("q147_join_interval_bucket")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range join fell back to a nested loop: " + p)
  }

  test("q143 (CUBE): one scan + Expand, not N re-aggregations") {
    val p = plan("q143_agg_cube")
    assert(p.contains("Expand"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1, "CUBE should scan the fact table once")
  }

  test("q148 (auto range join): optimizer rule turns the nested loop into a hash join") {
    val wk = graft.plans.RangeBucketJoinRewrite.WidthKey
    try {
      // rule off: Spark has no better plan than a nested loop. q148's own
      // builder now scopes the conf to itself (set → optimize → restore),
      // so probe the un-rewritten plan by running the same shared SQL text
      // directly with the conf unset.
      spark.conf.unset(wk)
      val text = SparkEntry.oracleSql("q148_join_auto_range")
      val off = QuerySpec.prepared(spark, sfDir).sql(text)
      val offPlan = off.queryExecution.executedPlan.toString
      val offRows = off.collect().map(_.toSeq).toSeq
      assert(offPlan.contains("BroadcastNestedLoopJoin"), offPlan)

      val on = SparkEntry.queries("q148_join_auto_range")(spark, sfDir)
      val onPlan = on.queryExecution.executedPlan.toString
      assert(onPlan.contains("BroadcastHashJoin"), onPlan)
      assert(!onPlan.contains("BroadcastNestedLoopJoin") && !onPlan.contains("CartesianProduct"),
        "rule did not rewrite the range join: " + onPlan)
      assert(on.collect().map(_.toSeq).toSeq == offRows,
        "bucket-blocked rewrite changed the result")
    } finally spark.conf.unset(wk)
  }

  test("q148 rule: reversed interval (lo > hi) yields zero buckets, not a huge descending array") {
    val wk = graft.plans.RangeBucketJoinRewrite.WidthKey
    try {
      spark.conf.set(wk, "900")
      import org.apache.spark.sql.functions.{col, timestamp_seconds}
      val sess = spark
      import sess.implicits._
      val pts = Seq(1000L, 5000L).toDF("v").select(timestamp_seconds(col("v")).as("ts"))
      // one good window and one REVERSED window whose lo is ~12 days after
      // hi — step -1 would enumerate ~1100 buckets downward; the guard must
      // emit none and simply match nothing for that row
      val wins = Seq((1L, 900L, 1100L), (2L, 1000000L, 0L)).toDF("wid", "lo_s", "hi_s")
        .select(col("wid"), timestamp_seconds(col("lo_s")).as("lo"),
          timestamp_seconds(col("hi_s")).as("hi"))
      val joined = pts.join(wins, col("ts") >= col("lo") && col("ts") <= col("hi"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), p)
      assert(joined.select(col("wid")).as[Long].collect().toSeq == Seq(1L))
    } finally spark.conf.unset(wk)
  }

  test("engine session has the reference's runtime optimizations on") {
    val c = spark.conf
    assert(c.get("spark.sql.adaptive.enabled") == "true")
    assert(c.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true")
    assert(c.get("spark.sql.cbo.enabled") == "true")
    assert(c.get("spark.sql.ansi.enabled") == "false")
    assert(c.get("spark.sql.session.timeZone") == "UTC")
  }
  test("q217: blocked fuzzy ER plans hash joins only — no all-pairs fallback") {
    val p = plan("q217_fuzzy_entity_resolution")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate verification fell back to an all-pairs join: " + p)
  }

  test("q219: skew report reads the events scan once") {
    val p = plan("q219_key_skew_report")
    assert(p.sliding("events.parquet".length).count(_ == "events.parquet") <= 1,
      "key-skew report scans events more than once: " + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q216: heavy hitters is a two-phase (partial + final) sketch aggregate") {
    val p = plan("q216_topk_heavy_hitters")
    // the MG buffer must partial-aggregate map-side (ObjectHashAggregate
    // partial_mg_top_k) — a single-phase plan would shuffle raw tokens
    assert(p.contains("partial_mg_top_k"),
      "mg_top_k is not partial-aggregated before the shuffle: " + p)
  }

  test("thresholded levenshtein predicates strength-reduce to the banded kernel") {
    QuerySpec.prepared(spark, sfDir)
    def opt(q: String): String =
      spark.sql(q).queryExecution.optimizedPlan.toString
    // the plain 2-arg spelling a user ports gets the banded kernel...
    val rewritten = opt(
      "SELECT c_name FROM customer WHERE levenshtein(c_name, 'Customer#000000001') <= 1")
    assert(rewritten.contains("levenshtein_bounded"),
      "lev <= k predicate did not strength-reduce: " + rewritten)
    val strict = opt(
      "SELECT c_name FROM customer WHERE levenshtein(c_name, 'Customer#000000001') < 2")
    assert(strict.contains("levenshtein_bounded"),
      "lev < k predicate did not strength-reduce: " + strict)
    // ...but a non-predicate use and an over-cap bound stay untouched
    val projection = opt("SELECT levenshtein(c_name, 'x') FROM customer")
    assert(!projection.contains("levenshtein_bounded"), projection)
    val wide = opt("SELECT c_name FROM customer WHERE levenshtein(c_name, 'x') <= 100")
    assert(!wide.contains("levenshtein_bounded"), wide)
    // and the rewritten predicate returns the same rows as the plain one
    val a = spark.sql(
      "SELECT c_custkey FROM customer WHERE levenshtein(c_name, 'Customer#000000001') <= 1 ORDER BY 1")
      .collect().toSeq
    // restore the shared session's rule list from a snapshot: attach()
    // is a no-op on an already-attached session, so it cannot put the
    // removed rule back for the suites that run later in this JVM
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ == graft.plans.BoundedLevenshteinRewrite)
    try {
      val b = spark.sql(
        "SELECT c_custkey FROM customer WHERE levenshtein(c_name, 'Customer#000000001') <= 1 ORDER BY 1")
        .collect().toSeq
      assert(a == b, "rewrite changed the result set")
      assert(a.nonEmpty, "fixture should contain lev<=1 neighbors")
    } finally spark.experimental.extraOptimizations = saved
    assert(spark.experimental.extraOptimizations
      .contains(graft.plans.BoundedLevenshteinRewrite))
  }

  test("q254 (TPC-DS Q3 shape): derived date dim and part dim broadcast; TopN") {
    val p = plan("q254_dss_star_date_brand")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), "star join fell back to cartesian")
    assert(p.contains("TakeOrderedAndProject"),
      "ORDER BY + LIMIT 100 did not plan TopN: " + p.take(1500))
  }

  test("q255 (TPC-DS Q5 shape): channel union rollup — dims broadcast, one Expand") {
    val p = plan("q255_dss_channel_rollup")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "channel rollup planned a product join: " + p.take(1500))
    assert(p.contains("Expand"), "ROLLUP should plan one Expand: " + p.take(1500))
  }

  test("q256 (TPC-DS Q1 shape): correlated avg factor rewrites to aggregate-then-join") {
    // RewriteCorrelatedScalarSubquery: the per-nation average must become
    // a grouped aggregate joined back on the correlation key — never a
    // per-row subquery (no product join anywhere in the plan)
    val p = plan("q256_dss_returns_above_avg")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "correlated factor executed per-row: " + p.take(1500))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q261 (TPC-DS Q88 shape): scalar band cross-joins stay broadcast-nested-loop") {
    // eight 1-row aggregates composed with BNLJ (each side a broadcast of
    // one row) is the right plan; an un-broadcast CartesianProduct is not
    val p = plan("q261_dss_hour_bands")
    assert(!p.contains("CartesianProduct"),
      "scalar cross join planned an unbroadcast cartesian: " + p.take(1500))
  }

  test("q258/q264 (TPC-DS Q67/Q36 shapes): rollup lattice scans the fact once") {
    for (name <- Seq("q258_dss_rollup_rank", "q264_dss_margin_rollup_grouping")) {
      val p = plan(name)
      def occurrences(t: String): Int = p.sliding(t.length).count(_ == t)
      assert(occurrences("lineitem.parquet") == 1,
        s"$name rescans lineitem: " + p.take(1500))
      assert(p.contains("Expand"), s"$name lost the rollup Expand")
      assert(p.contains("BroadcastHashJoin"), s"$name part dim not broadcast")
    }
  }

  // ---- TPC-DS shape pins, q257–q273 (q254/q255/q256/q258/q261/q264
  // are pinned above): each asserts the physical claim that makes the
  // shape scale — broadcast dims, semi-join reductions instead of
  // products, bounded fact-scan counts, partitioned windows, TopN.

  private def scans(p: String, table: String): Int = {
    val t = s"$table.parquet"
    p.sliding(t.length).count(_ == t)
  }

  test("q257 (TPC-DS Q95 shape): fact self-join hashes, IN subqueries plan semi joins") {
    val p = plan("q257_dss_multi_supplier_orders")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "fact self-join fell back to a product join: " + p.take(1500))
    assert(p.contains("LeftSemi"), "IN subqueries did not plan semi joins: " + p.take(1500))
  }

  test("q259 (TPC-DS Q34 shape): basket report keeps TopN and broadcasts the customer dim") {
    val p = plan("q259_dss_order_size_buckets")
    assert(p.contains("TakeOrderedAndProject"), "ORDER+LIMIT did not plan TopN: " + p.take(1500))
    assert(p.contains("BroadcastHashJoin"), "customer dim not broadcast: " + p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q260 (TPC-DS Q14 shape): INTERSECT plans semi joins; intersection computed once") {
    // the IN-subquery form replicated the whole 3-scan intersection onto
    // the part branch via the join-key equality constraint (7 fact
    // scans); the inner-join form must keep 3 intersect + 1 main
    val p = plan("q260_dss_cross_channel_items")
    assert(p.contains("LeftSemi"), "INTERSECT did not plan semi joins: " + p.take(1500))
    assert(scans(p, "lineitem") == 4,
      s"expected 4 lineitem scans (3 intersect branches + 1 main), got ${scans(p, "lineitem")}")
    assert(p.contains("BroadcastHashJoin"), "part dim not broadcast: " + p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q262 (TPC-DS Q58 shape): period compare broadcasts the part dim, no products") {
    val p = plan("q262_dss_channel_compare")
    assert(p.contains("BroadcastHashJoin"), "part dim not broadcast: " + p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }

  test("q263 (TPC-DS Q23 shape): both CTE restrictions plan semi joins, no cartesian") {
    val p = plan("q263_dss_frequent_best_customers")
    assert("LeftSemi".r.findAllIn(p).size >= 2,
      "expected two semi-join reductions: " + p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q265 (TPC-DS Q47 shape): one fact scan; every window partitioned by brand") {
    val df = SparkEntry.queries("q265_dss_monthly_vs_avg")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(scans(p, "lineitem") == 1, s"expected 1 lineitem scan, got ${scans(p, "lineitem")}")
    assert(p.contains("BroadcastHashJoin"), "part dim not broadcast: " + p.take(1500))
    val global = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty, "trend windows must be brand-partitioned, not global")
  }

  test("q266 (TPC-DS Q93 shape): returns-adjusted bottom-N keeps TopN, no products") {
    val p = plan("q266_dss_sales_after_returns")
    assert(p.contains("TakeOrderedAndProject"), "ORDER+LIMIT did not plan TopN: " + p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }

  test("q267 (TPC-DS Q33 shape): channel slices push the flag filter; 3 bounded fact scans") {
    val p = plan("q267_dss_union_channel_items")
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,A)")
      || p.contains("EqualTo(l_returnflag,A)"),
      "channel filter not pushed to the scan: " + p.take(1500))
    assert(scans(p, "lineitem") == 3,
      s"expected 3 channel-sliced lineitem scans, got ${scans(p, "lineitem")}")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q268 (TPC-DS Q11 shape): year-over-year growth keeps TopN and broadcasts customer") {
    val p = plan("q268_dss_year_over_year")
    assert(p.contains("TakeOrderedAndProject"), "ORDER+LIMIT did not plan TopN: " + p.take(1500))
    assert(p.contains("BroadcastHashJoin"), "customer dim not broadcast: " + p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q269 (TPC-DS Q51 shape): cumulative windows brand-partitioned; full join, no products") {
    val df = SparkEntry.queries("q269_dss_cumulative_cross")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("FullOuter"), "channel compare lost the FULL OUTER join: " + p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
    val global = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty, "cumulative windows must be brand-partitioned, not global")
  }

  test("q270 (TPC-DS Q17 shape): both channel stats push the flag filter and keep TopN") {
    val p = plan("q270_dss_item_stats_channels")
    assert(p.contains("EqualTo(l_returnflag,A)") && p.contains("EqualTo(l_returnflag,N)"),
      "channel filters not pushed to the scans: " + p.take(1500))
    assert(p.contains("TakeOrderedAndProject"), "ORDER+LIMIT did not plan TopN: " + p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q271 (TPC-DS Q65 shape): below-average screen aggregates the fact exactly once") {
    // the `sb, av` cross-join form would inline the CTE twice and rescan
    // the fact; the window form must keep ONE lineitem scan
    val p = plan("q271_dss_below_avg_brands")
    assert(scans(p, "lineitem") == 1,
      s"expected 1 lineitem scan, got ${scans(p, "lineitem")}: " + p.take(1500))
    assert(p.contains("BroadcastHashJoin"), "part dim not broadcast: " + p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q272 (TPC-DS Q62 shape): delay matrix broadcasts supplier+nation, one fact scan") {
    val p = plan("q272_dss_ship_delay_buckets")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "supplier/nation dims not broadcast: " + p.take(1500))
    assert(scans(p, "lineitem") == 1, s"expected 1 lineitem scan, got ${scans(p, "lineitem")}")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q273 (TPC-DS Q61 shape): promo share is one conditional aggregate over one fact scan") {
    val p = plan("q273_dss_promo_share")
    assert(scans(p, "lineitem") == 1,
      s"expected 1 lineitem scan, got ${scans(p, "lineitem")}: " + p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "scalar ratio planned a product join: " + p.take(1500))
  }

  test("q237: staged retrieval eval never scans a base table twice in one job") {
    // the SQL form would re-inline the shared CTEs (two embeddings + two
    // documents scans); the staged DataFrame form materializes each once,
    // so no job's plan reads either parquet more than once
    val p = plan("q237_retrieval_eval")
    def occurrences(t: String): Int =
      p.sliding(t.length).count(_ == t)
    assert(occurrences("embeddings.parquet") <= 1,
      "final job rescans embeddings: " + p.take(2000))
    assert(occurrences("documents.parquet") <= 1,
      "final job rescans documents: " + p.take(2000))
  }

  test("small-query fast path: provably tiny queries plan zero exchanges (exec_single_node_rows_threshold)") {
    // reference: planner/Planner.java:91-108 + MaxRowsProcessedVisitor —
    // under the threshold the plan must run single-node. Here: every leaf
    // coalesced to SinglePartition ⇒ EnsureRequirements inserts nothing.
    val s = spark
    QuerySpec.prepared(s, sfDir)
    s.sql("DROP TABLE IF EXISTS graft_small_t")
    s.table("nation").write.mode("overwrite").saveAsTable("graft_small_t")
    try {
      s.sql("ANALYZE TABLE graft_small_t COMPUTE STATISTICS")
      def shuffles(sql: String): Int =
        "Exchange (hash|range)partitioning|Exchange SinglePartition".r
          .findAllIn(s.sql(sql).queryExecution.executedPlan.toString).size
      val q = "SELECT n_regionkey, COUNT(*) AS c FROM graft_small_t " +
        "GROUP BY n_regionkey ORDER BY n_regionkey"
      // default threshold (100, the reference default) covers the 25-row
      // analyzed table: agg + global sort, zero exchanges
      assert(shuffles(q) == 0,
        "tiny analyzed table still planned exchanges:\n" +
          s.sql(q).queryExecution.executedPlan.toString.take(1500))
      // the proof requirement: the same query over the raw parquet view
      // (no row-count stats) must KEEP the distributed plan
      val qv = "SELECT n_regionkey, COUNT(*) AS c FROM nation " +
        "GROUP BY n_regionkey ORDER BY n_regionkey"
      assert(shuffles(qv) >= 1,
        "fast path fired without a cardinality proof")
      // threshold 0 disables (the reference's opt-out)
      s.conf.set(graft.plans.SmallQueryFastPath.ThresholdKey, "0")
      try assert(shuffles(q) >= 1, "disabled fast path should keep exchanges")
      finally s.conf.unset(graft.plans.SmallQueryFastPath.ThresholdKey)
      // a literal LIMIT over an unfiltered scan is also a proof
      val ql = "SELECT * FROM (SELECT o_orderkey FROM orders LIMIT 7) t " +
        "ORDER BY o_orderkey"
      assert(shuffles(ql) == 0,
        "LIMIT-bounded scan still planned exchanges:\n" +
          s.sql(ql).queryExecution.executedPlan.toString.take(1500))
      // and the fast-path plan returns the same rows as the distributed one
      val fast = s.sql(q).collect().toSeq
      s.conf.set(graft.plans.SmallQueryFastPath.ThresholdKey, "0")
      val dist = try s.sql(q).collect().toSeq
      finally s.conf.unset(graft.plans.SmallQueryFastPath.ThresholdKey)
      assert(fast == dist, "fast path changed the result")
    } finally s.sql("DROP TABLE IF EXISTS graft_small_t")
  }

  // ---- single-task-window sweep (the 100 TB rank discipline) ----------
  // An unpartitioned `ROW_NUMBER()/SUM() OVER (ORDER BY …)` plans ONE
  // window task that sorts the whole input; it is only admissible over a
  // relation an aggregate has already collapsed to bounded cardinality.
  // These pins encode the two legal shapes: (a) the window's ORDER BY key
  // IS the grouping key of the collapse feeding it (value-cardinality
  // running sums, the q278 pattern), or (b) the rank was assigned by
  // Prefix's range-partitioned two-pass scheme and the only global-order
  // window left is the per-range offsets rollup (≤ shuffle.partitions
  // rows, keyed by spark_partition_id).

  private def globalWindows(name: String) =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }

  test("corpus sweep: every global-order window is collapsed, rank-limited, Prefix-ranged, or audited") {
    // Whole-registry version of the per-query pins below: an
    // unpartitioned window is admissible only when (a) its input is an
    // aggregate collapsed ON its own order keys — traced semantically
    // through Project aliases on the optimized logical plan, so
    // value-cardinality running sums pass (q278 pattern) — (b) a
    // WindowGroupLimit or a pushed-down limit bounds the rows reaching
    // it (top-k), or (c) it is the Prefix offsets rollup (__pid).
    // Anything else must carry an explicit audit entry here, with the
    // cardinality argument — so the next single-task window can't land
    // unreviewed.
    import org.apache.spark.sql.catalyst.plans.{logical => L}
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId}

    val audited: Map[String, String] = Map(
      "q26_sort_nulls" -> ("the global row_number IS the feature under test " +
        "(NULLS LAST observability), input filter-bounded to o_orderkey <= 2000"),
      "q228_embed_pca_axis" -> "window over the 64-row embedding-position relation",
      "q250_loso_influence" -> "window over the |sources| relation (≤ tens of rows)",
      "q294_ks_drift_fdr" -> ("BH adjustment windows over the |sources| p-value " +
        "relation and the 50-row KS series grid"),
      "q293_piecewise_trend" -> ("CUSUM windows over the staged ≤|days|-row " +
        "day series (r21 single-pass rewrite: the corpus collapsed BELOW " +
        "the checkpoint, which the collapse tracer cannot see through)"),
      "q314_psi_drift" -> ("decile-CDF windows over the staged " +
        "value-cardinality (source, n_chars) rollup (r21 single-pass " +
        "rewrite: the corpus collapsed below the checkpoint)"),
      "q336_neyman_allocation" -> ("largest-remainder rank over the per-LANG " +
        "aggregate relation (|languages| rows — bounded label-set cardinality), " +
        "ordered by the computed fractional part so the collapse tracer can't " +
        "see the grouping"))

    def groupingOutputIds(a: L.Aggregate): Set[ExprId] =
      a.aggregateExpressions.collect {
        case al: Alias if a.groupingExpressions.exists(_.semanticEquals(al.child)) =>
          al.exprId
        case ar: AttributeReference
            if a.groupingExpressions.exists(_.semanticEquals(ar)) => ar.exprId
      }.toSet

    /** Is every order-key attr (traced through aliases) a grouping
      * output of the first aggregate below the window? */
    def collapsedOn(plan: L.LogicalPlan, ids: Set[ExprId]): Boolean = plan match {
      case a: L.Aggregate => ids.subsetOf(groupingOutputIds(a))
      case p: L.Project =>
        val remapped = ids.flatMap { id =>
          p.projectList.find(_.exprId == id) match {
            case Some(al: Alias) => al.child.references.map(_.exprId).toSet
            case Some(ar: AttributeReference) => Set(ar.exprId)
            case _ => Set(id)
          }
        }
        collapsedOn(p.child, remapped)
      case f: L.Filter => collapsedOn(f.child, ids)
      case s: L.Sort => collapsedOn(s.child, ids)
      case w: L.Window =>
        // stacked windows over the same collapsed relation: pass through
        // UNLESS the order key IS a lower window's output (rank-indexed
        // ordering — not a collapse)
        val produced = w.windowExpressions.map(_.exprId).toSet
        if (ids.exists(produced.contains)) false
        else collapsedOn(w.child, ids)
      case u: L.Union =>
        // a union keeps the collapsed class iff every branch has it
        // (ids remap positionally through the union's output)
        val positions = ids.map(id => u.output.indexWhere(_.exprId == id))
        if (positions.contains(-1)) false
        else u.children.forall { c =>
          c.maxRows.exists(_ <= 128) ||
            collapsedOn(c, positions.map(i => c.output(i).exprId))
        }
      case j: L.Join =>
        // a collapsed relation cross-joined with a provably tiny side
        // (scalar totals, literal grids) keeps its cardinality class
        def tiny(p: L.LogicalPlan): Boolean = p.maxRows.exists(_ <= 128)
        val leftIds = j.left.outputSet.toSeq.map(_.exprId).toSet
        val rightIds = j.right.outputSet.toSeq.map(_.exprId).toSet
        val fromLeft = ids.subsetOf(leftIds)
        val fromRight = ids.subsetOf(rightIds)
        if (fromLeft && tiny(j.right)) collapsedOn(j.left, ids)
        else if (fromRight && tiny(j.left)) collapsedOn(j.right, ids)
        else false
      case _ => false
    }

    def admissible(w: L.Window): Boolean = {
      val orderRefs = w.orderSpec.flatMap(_.child.references.toSeq)
      if (orderRefs.exists(_.name == "__pid")) return true // (c) Prefix offsets
      if (w.child.collectFirst {
            case g: L.WindowGroupLimit => g
            case l: L.GlobalLimit => l
            case l: L.LocalLimit => l
          }.isDefined) return true // (b) bounded input
      if (orderRefs.isEmpty) // unordered total (SUM OVER ()): any collapse below
        return w.child.collectFirst { case a: L.Aggregate => a }.isDefined
      collapsedOn(w.child, orderRefs.map(_.exprId).toSet) // (a)
    }

    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (audited.contains(name)) None
      else {
        val plan =
          try fn(spark, sfDir).queryExecution.optimizedPlan
          catch { case _: Throwable => null } // side-effecting queries covered elsewhere
        Option(plan).flatMap { p =>
          val bad = p.collect {
            case w: L.Window if w.partitionSpec.isEmpty && !admissible(w) => w
          }
          if (bad.isEmpty) None
          else Some(name -> bad.map(_.orderSpec.mkString(",")).mkString("; "))
        }
      }
    }
    assert(offenders.isEmpty,
      "unaudited global-order windows:\n" +
        offenders.map { case (n, o) => s"  $n: $o" }.mkString("\n"))
  }

  test("q281/q282: every global-order window runs over a relation collapsed on its own order key") {
    for (name <- Seq("q281_token_gini", "q282_spearman_corr")) {
      val ws = globalWindows(name)
      assert(ws.nonEmpty, s"$name: expected collapsed running-sum windows")
      ws.foreach { w =>
        val orderAttrs = w.orderSpec.flatMap(_.child.references.toSeq.map(_.name)).toSet
        val agg = w.collectFirst {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }
        assert(agg.isDefined,
          s"$name: global-order window with no aggregate collapse below it")
        val groupAttrs =
          agg.get.groupingExpressions.flatMap(_.references.toSeq.map(_.name)).toSet
        assert(orderAttrs.subsetOf(groupAttrs),
          s"$name: window orders by $orderAttrs but the feeding aggregate groups by " +
            s"$groupAttrs — the window input is not value-collapsed on the order key")
      }
    }
  }

  test("q235/q243: corpus/vocab-grain ranks are range-partitioned; only the offsets rollup is global") {
    for (name <- Seq("q235_zipf_fit", "q243_heaps_fit")) {
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.sparkPlan
      // the heavy rank / running-sum windows are partitioned (one task
      // per range, parallel across the cluster)…
      val partitioned = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.nonEmpty => w
      }
      assert(partitioned.nonEmpty,
        s"$name: expected the Prefix per-range window, found none")
      // …and every remaining global-order window is the tiny offsets
      // rollup over the spark_partition_id aggregate, never the corpus
      val global = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      assert(global.nonEmpty, s"$name: expected the offsets window")
      global.foreach { w =>
        assert(w.toString.contains("__pid"),
          s"$name: global-order window is not the per-range offsets rollup:\n" +
            w.toString.take(1500))
      }
    }
  }

  test("q348-q357 (round-14 TPC-DS families): cartesian-free; stars broadcast + TopN; staged collapses not rescanned") {
    val newFamilies = Seq(
      "q348_dss_multiyear_channel_growth", "q349_dss_channel_quantity_flow",
      "q350_dss_simple_star", "q351_dss_city_pair_demo", "q352_dss_band_or",
      "q353_dss_period_yoy_pivot", "q354_dss_noreturn_channel_ratio",
      "q355_dss_quarter_growth", "q356_dss_channel_exists",
      "q357_dss_channel_except")
    for (n <- newFamilies) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"),
        s"$n planned an unbroadcast cartesian:\n" + p.take(1200))
    }
    // star families: dims broadcast, ORDER BY + LIMIT plans TopN
    for (n <- Seq("q350_dss_simple_star", "q351_dss_city_pair_demo")) {
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin"), s"$n: dims not broadcast\n" + p.take(1200))
      assert(p.contains("TakeOrderedAndProject"), s"$n lost TopN\n" + p.take(1200))
    }
    // q352: the OR of band predicates must stay ONE fact scan with a
    // residual disjunction, never split into a union of scans
    val p352 = plan("q352_dss_band_or")
    val liScans = "Scan parquet[^\\n]*lineitem".r.findAllIn(p352).size
    assert(liScans == 1, s"band-OR split the fact scan ($liScans):\n" + p352.take(1500))
    // q356: channel presence = one semi + two anti joins
    val p356 = plan("q356_dss_channel_exists")
    assert(p356.contains("LeftSemi"), "EXISTS did not plan a semi join:\n" + p356.take(1200))
    assert("LeftAnti".r.findAllIn(p356).size >= 2,
      "the two NOT EXISTS must plan anti joins:\n" + p356.take(1500))
    // the staged-collapse families: the fact is collapsed ONCE behind the
    // stage; the final plan joins staged relations, never rescans parquet
    for (n <- Seq("q348_dss_multiyear_channel_growth",
        "q353_dss_period_yoy_pivot", "q354_dss_noreturn_channel_ratio",
        "q355_dss_quarter_growth")) {
      val p = plan(n)
      assert(!p.contains("Scan parquet"),
        s"$n rescans the fact instead of joining its staged collapse:\n" + p.take(1500))
    }
    // q354: the no-return restriction is a REAL anti join (behind the
    // staged boundary — trace through the Checkpoints provenance map)
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, LeafNode, LogicalPlan}
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    val root = SparkEntry.queries("q354_dss_noreturn_channel_ratio")(spark, sfDir)
      .queryExecution.optimizedPlan
    def hasAnti(p: LogicalPlan): Boolean =
      p.collectFirst { case j: LJoin if j.joinType == LeftAnti => j }.isDefined ||
        p.collect { case l: LeafNode => l }
          .flatMap(l => graft.llmops.Checkpoints.provenanceOf(l).toSeq)
          .exists(hasAnti)
    assert(hasAnti(root), "q354's no-return restriction lost its anti join")
  }

  test("q358-q367 (round-14 DS batch 2): broadcast factors, merged scalars, TopN not windows, staged collapses, shuffled FULL OUTER") {
    val batch = Seq(
      "q358_dss_price_above_avg", "q359_dss_case_scalar_bands",
      "q360_dss_before_after_balance", "q361_dss_volatility_pairs",
      "q362_dss_dim_or_maze", "q363_dss_best_worst_pairing",
      "q364_dss_return_ratio_ranks", "q365_dss_date_arith_residual",
      "q366_dss_am_pm_ratio", "q367_dss_channel_overlap_matrix")
    for (n <- batch) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"),
        s"$n planned an unbroadcast cartesian:\n" + p.take(1200))
    }
    def liScans(p: String): Int =
      "Scan parquet[^\\n]*lineitem".r.findAllIn(p).size
    // q358: the 6-row per-type factor and every dim side broadcast; the
    // fact is scanned once; ORDER+LIMIT is TopN
    val p358 = plan("q358_dss_price_above_avg")
    assert(p358.contains("BroadcastHashJoin"), "q358: dims not broadcast\n" + p358.take(1200))
    assert(liScans(p358) == 1, s"q358: fact scanned ${liScans(p358)}x\n" + p358.take(1500))
    assert(p358.contains("TakeOrderedAndProject"), "q358 lost TopN\n" + p358.take(1200))
    // q359: Q9's 15 scalar-subquery probes must collapse to ONE
    // conditional-aggregation fact pass (the textbook text plans 15)
    val p359 = plan("q359_dss_case_scalar_bands")
    assert(liScans(p359) == 1,
      s"q359: band aggregates not fused into one pass (${liScans(p359)} fact scans)\n" + p359.take(1500))
    // q360: one date-pruned fact pass; the ship-date range reaches the
    // parquet reader as a pushed filter
    val p360 = plan("q360_dss_before_after_balance")
    assert(liScans(p360) == 1, s"q360: fact scanned ${liScans(p360)}x\n" + p360.take(1500))
    assert(p360.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "q360: ship-date band not pushed to the scan\n" + p360.take(1500))
    // q361/q363/q364/q367: the staged collapse is the ONLY fact pass —
    // the final plan joins/windows staged relations, never rescans the
    // fact (q363's part-dim name lookups remain visible scans)
    for (n <- Seq("q361_dss_volatility_pairs", "q363_dss_best_worst_pairing",
        "q364_dss_return_ratio_ranks", "q367_dss_channel_overlap_matrix")) {
      val p = plan(n)
      assert(liScans(p) == 0,
        s"$n rescans the fact instead of joining its staged collapse:\n" + p.take(1500))
      assert(!p.contains("Scan parquet") || n == "q363_dss_best_worst_pairing",
        s"$n rescans parquet below its staged collapse:\n" + p.take(1500))
    }
    // q362: dim-only — exactly one scan, no joins, size band pushed
    val p362 = plan("q362_dss_dim_or_maze")
    assert("Scan parquet".r.findAllIn(p362).size == 1 && !p362.contains("Join"),
      "q362 must be a single dim scan\n" + p362.take(1200))
    assert(p362.contains("GreaterThanOrEqual(p_size,5)"),
      "q362: global size band not pushed\n" + p362.take(1500))
    // q363: each rank direction is a TopN (TakeOrderedAndProject), and
    // every window in the plan sits above a 10-row limit — never a
    // whole-relation rank
    val p363 = plan("q363_dss_best_worst_pairing")
    assert(p363.contains("TakeOrderedAndProject"),
      "q363: rank directions must plan TopN\n" + p363.take(1500))
    // q364: both rank-filtered windows prune via WindowGroupLimit
    val p364 = plan("q364_dss_return_ratio_ranks")
    assert("WindowGroupLimit".r.findAllIn(p364).size >= 2,
      "q364: rank filters must push WindowGroupLimit\n" + p364.take(1500))
    // q365: date-arith residual stays ON the equi joins — no nested loop
    val p365 = plan("q365_dss_date_arith_residual")
    assert(!p365.contains("BroadcastNestedLoopJoin"),
      "q365: residual must ride the equi join\n" + p365.take(1500))
    assert(liScans(p365) == 1, s"q365: fact scanned ${liScans(p365)}x\n" + p365.take(1500))
    // q367: the channel-overlap FULL OUTER is key-partitioned (both
    // sides corpus-sized) — never a broadcast
    val p367 = plan("q367_dss_channel_overlap_matrix")
    assert(p367.contains("FullOuter"), "q367 lost its FULL OUTER\n" + p367.take(1200))
    assert(!p367.contains("BroadcastHashJoin"),
      "q367: corpus-sized FULL OUTER must not broadcast\n" + p367.take(1500))
  }

  test("q370-q379 (round-15 DS batch 3): one-pass conditional aggs, staged chains on equi joins, semi/anti screens, pushed date bands") {
    val batch = Seq(
      "q370_dss_monthly_deviation", "q371_dss_frequent_tickets",
      "q372_dss_qoq_growth_compare", "q373_dss_sold_returned_repurchased",
      "q374_dss_channel_exclusive_yoy", "q375_dss_cohort_revenue_histogram",
      "q376_dss_balanced_channel_brands", "q377_dss_intersect_nation_filter",
      "q378_dss_exists_screen_stats", "q379_dss_yoy_decline")
    for (n <- batch) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"),
        s"$n planned an unbroadcast cartesian:\n" + p.take(1200))
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$n planned a nested loop:\n" + p.take(1200))
    }
    def liScans(p: String): Int =
      "Scan parquet[^\\n]*lineitem".r.findAllIn(p).size
    // one-pass families: the oracle's multi-CTE self-join text (Q31's
    // 6-way, Q58's 3-way, Q75's union+self-join) folds to ONE
    // conditional-aggregate fact pass
    for (n <- Seq("q370_dss_monthly_deviation", "q372_dss_qoq_growth_compare",
        "q376_dss_balanced_channel_brands", "q379_dss_yoy_decline")) {
      val p = plan(n)
      assert(liScans(p) == 1,
        s"$n: fact must collapse in one pass (${liScans(p)} scans)\n" + p.take(1500))
    }
    // q370: both window specs run over the ONE collapsed (brand, month)
    // relation — two Window nodes, zero extra fact passes
    val p370 = plan("q370_dss_monthly_deviation")
    assert("Window ".r.findAllIn(p370).size == 2,
      "q370: expected exactly the two deviation windows\n" + p370.take(1500))
    // q371: stacked aggregations collapse the fact before the customer
    // dim joins; final ORDER+LIMIT is TopN
    val p371 = plan("q371_dss_frequent_tickets")
    assert(liScans(p371) == 1, s"q371: fact scanned ${liScans(p371)}x\n" + p371.take(1500))
    assert(p371.contains("TakeOrderedAndProject"), "q371 lost TopN\n" + p371.take(1200))
    // q373: the staged sold/returned/repurchased base is the only fact
    // source (0 parquet fact scans below the stage) and both date-band
    // chain hops ride their equi joins
    val p373 = plan("q373_dss_sold_returned_repurchased")
    assert(liScans(p373) == 0,
      "q373 rescans the fact instead of slicing its staged base\n" + p373.take(1500))
    // q374: the no-return screen is a REAL anti join; final ranking TopN
    val p374 = plan("q374_dss_channel_exclusive_yoy")
    assert(p374.contains("LeftAnti"), "q374: NOT EXISTS lost its anti join\n" + p374.take(1500))
    assert(p374.contains("TakeOrderedAndProject"), "q374 lost TopN\n" + p374.take(1200))
    // q375: the follow-on revenue pass prunes at the reader — the
    // quarter band reaches parquet as a pushed range filter
    val p375 = plan("q375_dss_cohort_revenue_histogram")
    assert(p375.contains("GreaterThanOrEqual(l_shipdate,1996-04-01"),
      "q375: follow-on date band not pushed to the scan\n" + p375.take(1500))
    // q377: INTERSECT + the IN-subquery both plan semi joins over
    // broadcast-sized nation sets; the top-10 screen is TopN
    val p377 = plan("q377_dss_intersect_nation_filter")
    assert("LeftSemi".r.findAllIn(p377).size >= 2,
      "q377: INTERSECT/IN must plan semi joins\n" + p377.take(1500))
    assert(p377.contains("TakeOrderedAndProject(limit=10"),
      "q377: top-10 nation screen lost TopN\n" + p377.take(1500))
    assert(liScans(p377) == 1, s"q377: fact scanned ${liScans(p377)}x\n" + p377.take(1500))
    // q378: EXISTS → semi, NOT EXISTS → anti, both on the customer key
    val p378 = plan("q378_dss_exists_screen_stats")
    assert(p378.contains("LeftSemi"), "q378: EXISTS lost its semi join\n" + p378.take(1500))
    assert(p378.contains("LeftAnti"), "q378: NOT EXISTS lost its anti join\n" + p378.take(1500))
  }

  test("q380/q381/q382/q384/q396 (suffix-array + SNM family): no cartesians, TopN heads, bounded cross joins") {
    for (n <- Seq("q380_sa_suffix_ranks", "q381_sa_lcp_stats",
        "q382_sa_dup_coverage", "q384_er_sorted_neighborhood",
        "q396_sa_substring_remove")) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"),
        s"$n planned an unbroadcast cartesian:\n" + p.take(1200))
    }
    // q380: the 25-row head is a TopN, and the snippet join broadcasts
    // the TopN side (25 rows), never shuffles the doc relation for it
    val p380 = plan("q380_sa_suffix_ranks")
    assert(p380.contains("TakeOrderedAndProject"), "q380 lost TopN\n" + p380.take(1200))
    // q381: the only nested-loop is the single-row aggregate crossed
    // with the broadcast top-1 pair — both sides provably 1 row
    val p381 = plan("q381_sa_lcp_stats")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p381).size == 1 &&
      p381.contains("TakeOrderedAndProject(limit=1"),
      "q381: expected exactly the 1-row agg × broadcast top-1 compose\n" +
        p381.take(1500))
    // q384: the window pairing is an equi-join fed by a bounded ×3
    // generator — never a window over the corpus order
    val p384 = plan("q384_er_sorted_neighborhood")
    assert(p384.contains("Generate explode"),
      "q384: bounded window fan-out lost its explode\n" + p384.take(1200))
    assert(!p384.contains("BroadcastNestedLoopJoin"),
      "q384: pairing must stay an equi-join\n" + p384.take(1200))
  }

  test("q385-q394 (round-15 DS batch 4): semi/anti/existence screens, full-outer cumulative, hierarchy ranks") {
    val batch = Seq(
      "q385_dss_cross_channel_common", "q386_dss_frequent_best_spend",
      "q387_dss_cumulative_crossover", "q388_dss_multi_supplier_clean",
      "q389_dss_ranked_rollup_hierarchy", "q390_dss_disjunctive_membership",
      "q391_dss_returns_netted", "q392_dss_above_type_average",
      "q393_dss_top_per_rollup_branch", "q394_dss_channel_census")
    for (n <- batch) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"),
        s"$n planned an unbroadcast cartesian:\n" + p.take(1200))
      // q385's r21 single-pass rewrite attaches the ONE-ROW base
      // aggregate with a broadcast cross (the HAVING's two scalar
      // subqueries, fused) — a bounded nested loop, not a blowup
      if (n != "q385_dss_cross_channel_common")
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$n planned a nested loop:\n" + p.take(1200))
    }
    // q385 (r21): ONE staged fact pass replaces the 7-scan shape — the
    // 3-way INTERSECT is one grouped flag pass (no semi chain left to
    // pin), the IN-subquery membership stays a semi join, and the base
    // attach is the broadcast cross of a 1-row aggregate
    val p385 = plan("q385_dss_cross_channel_common")
    assert("LeftSemi".r.findAllIn(p385).size == 1,
      "q385: the cross_items membership must stay ONE semi join\n" +
        p385.take(1500))
    assert(!p385.contains("lineitem"),
      "q385: every fact read must come through the ONE staged slice " +
        "(no direct lineitem scan may survive in the final plan)\n" +
        p385.take(1500))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p385).size <= 1,
      "q385: only the 1-row base attach may nested-loop\n" + p385.take(1500))
    // q386: the best-customer list stays a TopN
    val p386 = plan("q386_dss_frequent_best_spend")
    assert(p386.contains("TakeOrderedAndProject"),
      "q386: LIMIT 20 membership lost TopN\n" + p386.take(1500))
    assert("LeftSemi".r.findAllIn(p386).size >= 2,
      "q386: IN memberships must plan semi joins\n" + p386.take(1500))
    // q387: the grid join is a REAL full outer; both running sums ride
    // brand-partitioned windows (never a global one)
    val p387 = plan("q387_dss_cumulative_crossover")
    assert(p387.contains("FullOuter"), "q387 lost FULL OUTER\n" + p387.take(1500))
    assert("Window ".r.findAllIn(p387).size == 2,
      "q387: expected the cumulative + crossover windows\n" + p387.take(1500))
    // q388: EXISTS(<> supplier) → semi with residual; NOT EXISTS → anti
    val p388 = plan("q388_dss_multi_supplier_clean")
    assert(p388.contains("LeftSemi"), "q388: EXISTS lost semi\n" + p388.take(1500))
    assert(p388.contains("LeftAnti"), "q388: NOT EXISTS lost anti\n" + p388.take(1500))
    // q389/q393: the rollup lattice is ONE Expand; the rank-≤-k filter
    // prunes per partition via WindowGroupLimit
    for (n <- Seq("q389_dss_ranked_rollup_hierarchy",
        "q393_dss_top_per_rollup_branch")) {
      val p = plan(n)
      assert(p.contains("Expand"), s"$n: ROLLUP lost its Expand\n" + p.take(1500))
      assert(p.contains("WindowGroupLimit"),
        s"$n: rank<=k filter not pruned per partition\n" + p.take(1500))
    }
    // q390: IN-subquery under OR must plan the existence join, not a
    // rewrite through cartesians
    val p390 = plan("q390_dss_disjunctive_membership")
    assert(p390.contains("ExistenceJoin"),
      "q390: disjunctive membership lost its existence join\n" + p390.take(1500))
    // q394: both set-op chains plan as semi/anti joins over distinct keys
    val p394 = plan("q394_dss_channel_census")
    assert("LeftSemi".r.findAllIn(p394).size >= 2 &&
      "LeftAnti".r.findAllIn(p394).size >= 2,
      "q394: INTERSECT/EXCEPT chains lost semi/anti joins\n" + p394.take(1500))
  }

  test("q397-q399 (round-15 DS batch 5): windowed share, nested IN, cross-relation group factor") {
    for (n <- Seq("q397_dss_revenue_share_in_class", "q398_dss_nested_in_screen",
        "q399_dss_above_nation_returns")) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$n planned a cartesian/nested loop:\n" + p.take(1200))
    }
    // q397: the share window runs over the COLLAPSED (type, brand)
    // relation, partitioned by type — one fact scan, no global window
    val p397 = plan("q397_dss_revenue_share_in_class")
    assert("Scan parquet[^\\n]*lineitem".r.findAllIn(p397).size == 1,
      "q397: fact must collapse in one pass\n" + p397.take(1500))
    // (the share window's partitioning is enforced by the corpus sweep)
    // q398: the watched-part membership is a semi join; the correlated
    // half/total screen collapses to conditional aggregates (one scan)
    val p398 = plan("q398_dss_nested_in_screen")
    assert(p398.contains("LeftSemi"), "q398: IN lost its semi join\n" + p398.take(1200))
    assert("Scan parquet[^\\n]*lineitem".r.findAllIn(p398).size == 1,
      "q398: fact scanned more than once\n" + p398.take(1500))
    // q399: the nation factor aggregates-then-joins (no per-row
    // correlated execution): returns slice collapses once
    val p399 = plan("q399_dss_above_nation_returns")
    assert("Scan parquet[^\\n]*lineitem".r.findAllIn(p399).size == 1,
      "q399: returns slice scanned more than once\n" + p399.take(1500))
  }

  // ---- forced-broadcast sweep (the 100 TB broadcast discipline) -------
  // A `broadcast(rel)` hint OVERRIDES the size-based planner: at 100 TB
  // the hinted side materializes on EVERY executor no matter how big it
  // grew with the corpus. So every forced broadcast in the registry must
  // be PROVABLY bounded — a cardinality independent of corpus size,
  // established structurally from the plan — or carry an audit entry
  // here with an explicit cardinality argument. The prover recognises:
  // literal relations and limits (maxRows), scalar aggregates, global
  // top-k (WindowGroupLimit + rank filter), literal-key prunes of a
  // grouped relation (word IN ('a','b') over a GROUP BY word), semi-join
  // prunes of a grouped relation against a bounded term set (the q337
  // fix), and compositions of those through project/filter/join/union —
  // tracing THROUGH `.staged` checkpoint boundaries via the provenance
  // map Checkpoints records.

  test("corpus sweep: every forced broadcast is provably bounded or audited") {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftSemi}
    import org.apache.spark.sql.catalyst.expressions._

    // Forced broadcasts the prover cannot bound structurally, each with
    // its explicit cardinality argument. Keep this list SHORT — a new
    // entry means a new corpus-size-dependent broadcast went in on
    // purpose, reviewed.
    val audited: Map[String, String] = Map(
      "q174_dsir_resample" -> ("the DSIR bucket-ratio relation: ≤ 1024 rows " +
        "BY CONSTRUCTION (grouped on pmod(fnv_hash(bg), 1024) — the hash-" +
        "bucketed histogram domain is a config constant independent of " +
        "corpus size); the prover can't trace boundedness through the " +
        "window-sum smoothing totals"),
      "q403_phrase_search" -> ("the STANDING phrase-parameter artifact " +
        "(Retrieval.phraseParams): ≤ 3 rows BY CONSTRUCTION — written once " +
        "from top-2 ∪ top-1 limits; the prover sees only the parquet read. " +
        "In production these are query parameters, never corpus-sized"),
      "q408_multi_phrase_search" -> ("same ≤ 3-row standing parameter " +
        "artifact as q403"),
      "q419_phrase_redaction" -> ("same ≤ 3-row standing parameter artifact " +
        "as q403 (the blocklist relation)"),
      "q20_join_theta_inequality" -> ("theta/inequality join needs a broadcast " +
        "side by construction (no equi-key to shuffle on); the 2-column " +
        "supplier projection is the small side by design — at larger scale " +
        "the RangeBucketJoinRewrite path replaces it"),
      "q87_ann_ivf_probe" -> ("IVF centroid relation: k centroids (fixture " +
        "derives k = n/50 by modulo; production k is a config constant " +
        "independent of corpus size)"),
      "q97_embed_kmeans_balanced" -> ("k-means centroid/mean relations: k " +
        "clusters by construction (fixture seeds by modulo sample)"),
      "q149_ann_pq_adc" -> "PQ codebook centroids: k is a config constant",
      "q164_dedup_semantic" -> "SemDeDup cluster centroids: k is a config constant",
      "q201_tfidf_topk" -> ("DOCUMENTED vocab-sized broadcast (Retrieval.scala " +
        "header): broadcasting the (word, df) relation beats shuffling the " +
        "corpus-grain tf relation; real vocab after min-df pruning is " +
        "~10^6 rows of 16 bytes"),
      "q202_bm25_retrieval" -> "same documented vocab-df tradeoff as q201 (term-pruned)",
      "q211_cluster_silhouette" -> "k cluster centroid/mean relations (see q97)",
      "q230_rrf_hybrid_retrieval" -> "same documented vocab-df tradeoff as q201 (term-pruned)",
      "q237_retrieval_eval" -> ("eval query set: fixture samples 1-in-100; an " +
        "eval/gold set is bounded by construction, never corpus-sized"),
      "q316_kendall_tau" -> ("value-PAIR cardinality collapse: distinct " +
        "(n_chars, n_words) pairs, bounded by the doc-length value grid " +
        "(≤ max_len²), corpus-size-independent"),
      "q320_davies_bouldin" -> "per-class-label mean vectors: |labels| bounded",
      "q322_friedman" -> ("per-treatment-group rank sums: k treatment groups " +
        "— a bounded experimental design, not corpus-sized"),
      "q383_skew_salted_join" -> ("hot-key list: ≤ n/T keys by the " +
        "heavy-hitter bound (threshold T over n probe rows — the " +
        "boundedPairs oversized-block argument); the saltedJoin contract " +
        "(Skew.scala scaladoc) requires the caller to scale T so n/T " +
        "stays broadcast-sized"),
      "q337_rocchio_prf" -> ("pass-2 DF prune: the semi-join right side is the " +
        "top-10 pseudo-relevant docs' OWN vocabulary — bounded by 10 " +
        "document lengths, not the corpus vocab (the pass-1/pass-3 prunes " +
        "are proven structurally; see the dedicated q337 pin)"))

    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }

    // Keys unique BY THE DATA MODEL (TESTDATA.md: vec_id is the
    // embeddings PK, doc_id the documents PK; row grain is preserved by
    // every relation that carries the name) — a literal point/range
    // filter on one bounds rows by the literal count.
    val uniqueKeys = Set("vec_id", "doc_id")
    def smallLit(v: Any): Boolean = v match {
      case n: Number => n.longValue <= 1024L
      case _ => false
    }

    def groupingOutputIds(a: Aggregate): Set[ExprId] =
      a.aggregateExpressions.collect {
        case al: Alias if a.groupingExpressions.exists(_.semanticEquals(al.child)) =>
          al.exprId
        case ar: AttributeReference
            if a.groupingExpressions.exists(_.semanticEquals(ar)) => ar.exprId
      }.toSet

    /** Are the attrs in `ids` (traced through Project aliases and staged
      * checkpoint boundaries) grouping outputs of the first Aggregate
      * below? Then a k-value key prune keeps ≤ k rows. */
    def groupedBelow(plan: LogicalPlan, ids: Set[ExprId]): Boolean = plan match {
      case a: Aggregate => ids.subsetOf(groupingOutputIds(a))
      case p: Project =>
        val remapped = ids.flatMap { id =>
          p.projectList.find(_.exprId == id) match {
            case Some(al: Alias) => al.child.references.map(_.exprId).toSet
            case Some(ar: AttributeReference) => Set(ar.exprId)
            case _ => Set(id)
          }
        }
        groupedBelow(p.child, remapped)
      case f: Filter => groupedBelow(f.child, ids)
      case s: Sort => groupedBelow(s.child, ids)
      case sa: SubqueryAlias => groupedBelow(sa.child, ids)
      case leaf: LeafNode =>
        graft.llmops.Checkpoints.provenanceOf(leaf) match {
          case Some(src) =>
            val pos = ids.map(id => leaf.output.indexWhere(_.exprId == id))
            if (pos.contains(-1)) false
            else groupedBelow(src, pos.map(i => src.output(i).exprId))
          case None => false
        }
      case _ => false
    }

    // Memoized by plan IDENTITY (children are stable object refs inside
    // one query's tree): boundedImpl branches into the same subtrees up
    // to three times per Join (bounded(left) && bounded(right), then the
    // pkAttach arms) — un-memoized that is exponential in join depth,
    // and the r18 retrieval/tokenizer plans made the sweep burn CPU for
    // the better part of an hour. With the cache every node is proven
    // once.
    val boundedMemo = new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]()
    // same identity-keyed memo discipline for the value prover — keyed
    // by REFERENCE identity (an IdentityHashMap of per-node sub-maps),
    // not System.identityHashCode: identity hashes are not unique, and
    // a collision between two distinct nodes carrying the same ids set
    // would silently serve a stale verdict (ADVICE r18)
    val boundedValuesMemo =
      new java.util.IdentityHashMap[LogicalPlan,
        scala.collection.mutable.HashMap[Set[ExprId], Boolean]]()
    def bounded(plan: LogicalPlan): Boolean = {
      val hit = boundedMemo.get(plan)
      if (hit != null) hit.booleanValue()
      else {
        val r = boundedImpl(plan)
        boundedMemo.put(plan, r)
        r
      }
    }

    def boundedImpl(plan: LogicalPlan): Boolean = plan match {
      case p if p.maxRows.exists(_ <= 1000000L) => true // literal grids/limits
      case a: Aggregate =>
        a.groupingExpressions.isEmpty || bounded(a.child) ||
          // grouping keys whose VALUE SET is provably bounded (e.g. the
          // key came from a rank-limited join side, or is a partition id)
          // bound the group count regardless of input size
          boundedValues(a.child,
            a.groupingExpressions.flatMap(_.references.map(_.exprId)).toSet)
      case p: Project => bounded(p.child)
      case f: Filter =>
        bounded(f.child) || conjuncts(f.condition).exists {
          // literal key prune of a grouped relation: ≤ |literals| rows
          case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
            uniqueKeys(a.name) || groupedBelow(f.child, Set(a.exprId))
          case InSet(a: AttributeReference, _) =>
            uniqueKeys(a.name) || groupedBelow(f.child, Set(a.exprId))
          case EqualTo(a: AttributeReference, _: Literal) =>
            uniqueKeys(a.name) || groupedBelow(f.child, Set(a.exprId))
          case EqualTo(_: Literal, a: AttributeReference) =>
            uniqueKeys(a.name) || groupedBelow(f.child, Set(a.exprId))
          // literal range prefix of a PK: vec_id < 5 → ≤ 5 rows
          case LessThan(a: AttributeReference, Literal(v, _)) =>
            uniqueKeys(a.name) && smallLit(v)
          case LessThanOrEqual(a: AttributeReference, Literal(v, _)) =>
            uniqueKeys(a.name) && smallLit(v)
          case _ => false
        }
      case s: Sort => bounded(s.child)
      case w: Window => bounded(w.child)
      // global top-k: the rank filter above the Window keeps ≤ limit rows
      case g: WindowGroupLimit if g.partitionSpec.isEmpty => true
      case g: WindowGroupLimit => bounded(g.child)
      case _: GlobalLimit => true
      case l: LocalLimit => bounded(l.child)
      case d: Distinct => bounded(d.child)
      case e: Expand => bounded(e.child)
      // row-grain fan-out over a bounded row set: signature/sequence
      // arrays of a literal-bounded relation (≤ rows · per-row array)
      case g: Generate => bounded(g.child)
      case u: Union => u.children.forall(bounded)
      case j: Join if j.joinType == LeftSemi || j.joinType == LeftAnti =>
        bounded(j.left) || (j.joinType == LeftSemi && bounded(j.right) && {
          // semi-prune of a grouped relation: ≤ |right| rows survive
          val leftKeys = j.condition.toSeq.flatMap(conjuncts).flatMap {
            case EqualTo(a: AttributeReference, b: AttributeReference) =>
              if (j.left.outputSet.contains(a)) Seq(a.exprId)
              else if (j.left.outputSet.contains(b)) Seq(b.exprId)
              else Nil
            case _ => Nil
          }
          leftKeys.nonEmpty && groupedBelow(j.left, leftKeys.toSet)
        })
      case j: Join => (bounded(j.left) && bounded(j.right)) ||
        (j.joinType == Inner && {
          // PK-attach: a bounded head (e.g. a top-1/top-k cut) joined to
          // an unbounded payload relation on one of the payload's
          // row-grain-unique keys — output ≤ |head| rows (the q381
          // attach-the-phrase-after-the-limit shape)
          val eqPairs = j.condition.toSeq.flatMap(conjuncts).collect {
            case EqualTo(a: AttributeReference, b: AttributeReference) => (a, b)
          }
          def pkAttach(head: LogicalPlan, payload: LogicalPlan): Boolean =
            bounded(head) && eqPairs.exists { case (a, b) =>
              (payload.outputSet.contains(a) && uniqueKeys(a.name)) ||
                (payload.outputSet.contains(b) && uniqueKeys(b.name))
            }
          pkAttach(j.left, j.right) || pkAttach(j.right, j.left)
        })
      case sa: SubqueryAlias => bounded(sa.child)
      case r: RepartitionOperation => bounded(r.child)
      // constant-cardinality catalog dimensions: nation (25 rows) and
      // region (5 rows) are schema-fixed at EVERY scale factor
      case leaf: LeafNode
          if leaf.output.exists(a => a.name == "n_nationkey" || a.name == "r_regionkey") =>
        true
      case leaf: LeafNode =>
        graft.llmops.Checkpoints.provenanceOf(leaf).exists(bounded)
      case _ => false
    }

    /** Is the distinct-VALUE count of attrs `ids` corpus-size-independent?
      * True when the attrs trace (through projects, joins, aggregates,
      * staged boundaries) to a bounded relation — e.g. a grouping key
      * that came from a rank-limited word list bounds any aggregate
      * grouped on it — or to literals / partition ids (value domains
      * bounded by config, not data). */
    def boundedValues(plan: LogicalPlan, ids: Set[ExprId]): Boolean = {
      var sub = boundedValuesMemo.get(plan)
      if (sub == null) {
        sub = scala.collection.mutable.HashMap.empty[Set[ExprId], Boolean]
        boundedValuesMemo.put(plan, sub)
      }
      sub.getOrElseUpdate(ids, boundedValuesImpl(plan, ids))
    }

    def boundedValuesImpl(plan: LogicalPlan, ids: Set[ExprId]): Boolean = {
      if (ids.isEmpty) return true
      plan match {
        case p if bounded(p) => true
        case p: Project =>
          var ok = true
          val remapped = ids.flatMap { id =>
            p.projectList.find(_.exprId == id) match {
              case Some(al: Alias) => al.child match {
                case _: Literal => Set.empty[ExprId]
                case _: SparkPartitionID => Set.empty[ExprId]
                case e if e.references.nonEmpty => e.references.map(_.exprId).toSet
                case _ => ok = false; Set.empty[ExprId] // opaque (rand(), …)
              }
              case Some(ar: AttributeReference) => Set(ar.exprId)
              case _ => Set(id)
            }
          }
          ok && boundedValues(p.child, remapped)
        case f: Filter => boundedValues(f.child, ids)
        case s: Sort => boundedValues(s.child, ids)
        case w: Window => boundedValues(w.child, ids -- w.windowExpressions.map(_.exprId))
        case g: WindowGroupLimit => boundedValues(g.child, ids)
        case _: GlobalLimit => true
        case l: LocalLimit => boundedValues(l.child, ids)
        case r: RepartitionOperation => boundedValues(r.child, ids)
        case sa: SubqueryAlias => boundedValues(sa.child, ids)
        case g: Generate =>
          // generator outputs take per-row array values — unbounded; pass
          // only ids that belong to the child
          if (ids.forall(id => g.child.outputSet.exists(_.exprId == id)))
            boundedValues(g.child, ids)
          else false
        case a: Aggregate =>
          var ok = true
          val remapped = ids.flatMap { id =>
            a.aggregateExpressions.find(_.exprId == id) match {
              case Some(al: Alias)
                  if a.groupingExpressions.exists(_.semanticEquals(al.child)) =>
                al.child.references.map(_.exprId).toSet
              case Some(ar: AttributeReference)
                  if a.groupingExpressions.exists(_.semanticEquals(ar)) =>
                Set(ar.exprId)
              case _ => ok = false; Set.empty[ExprId] // agg-function output
            }
          }
          ok && boundedValues(a.child, remapped)
        case j: Join =>
          // each attr's value set is its own side's
          val leftIds = ids.filter(id => j.left.outputSet.exists(_.exprId == id))
          val rightIds = ids.filter(id => j.right.outputSet.exists(_.exprId == id))
          (leftIds ++ rightIds) == ids &&
            (leftIds.isEmpty || boundedValues(j.left, leftIds)) &&
            (rightIds.isEmpty || boundedValues(j.right, rightIds))
        case u: Union =>
          val positions = ids.map(id => u.output.indexWhere(_.exprId == id))
          !positions.contains(-1) && u.children.forall { c =>
            boundedValues(c, positions.map(i => c.output(i).exprId))
          }
        case leaf: LeafNode =>
          graft.llmops.Checkpoints.provenanceOf(leaf) match {
            case Some(src) =>
              val pos = ids.map(id => leaf.output.indexWhere(_.exprId == id))
              !pos.contains(-1) &&
                boundedValues(src, pos.map(i => src.output(i).exprId))
            case None => false
          }
        case _ => false
      }
    }

    /** All BROADCAST-hinted join sides, recursing into staged subtrees. */
    def hintedSides(plan: LogicalPlan,
        visited: java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean])
        : Seq[LogicalPlan] = {
      if (visited.containsKey(plan)) Nil
      else {
        visited.put(plan, java.lang.Boolean.TRUE)
        val here = plan.collect { case j: Join =>
          (if (j.hint.leftHint.flatMap(_.strategy).contains(BROADCAST)) Seq(j.left)
           else Nil) ++
            (if (j.hint.rightHint.flatMap(_.strategy).contains(BROADCAST)) Seq(j.right)
             else Nil)
        }.flatten
        val nested = plan.collect { case l: LeafNode => l }
          .flatMap(l => graft.llmops.Checkpoints.provenanceOf(l).toSeq)
          .flatMap(p => hintedSides(p, visited))
        here ++ nested
      }
    }

    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (audited.contains(name)) Nil
      else {
        val plan =
          try fn(spark, sfDir).queryExecution.optimizedPlan
          catch { case _: Throwable => null } // side-effecting queries covered elsewhere
        Option(plan).toSeq.flatMap { p =>
          val visited =
            new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]
          hintedSides(p, visited).filterNot(bounded)
            .map(s => name -> s.treeString.linesIterator.take(3).mkString(" | "))
        }
      }
    }
    assert(offenders.isEmpty,
      "unaudited unbounded forced broadcasts:\n" +
        offenders.map { case (n, o) => s"  $n: $o" }.mkString("\n"))
  }

  test("q337: every broadcast of the DF relation is a pruned side, never the full vocab") {
    // The three Rocchio scoring passes each join document frequencies; a
    // bare broadcast(dfr) would ship the whole corpus vocabulary
    // (10⁷–10⁸ words at web scale) to every executor. Pin: every
    // BROADCAST-hinted side that carries the df column is a PRUNED
    // relation — a literal seed filter or a semi-join against the
    // pass's live term set — not the bare staged vocab leaf.
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.expressions.{In, AttributeReference}
    val plan = SparkEntry.queries("q337_rocchio_prf")(spark, sfDir)
      .queryExecution.optimizedPlan
    // passes 1/2 execute eagerly behind `.staged` boundaries — collect
    // hinted sides through the Checkpoints provenance map, like the sweep
    def sides(p: LogicalPlan,
        visited: java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean])
        : Seq[LogicalPlan] =
      if (visited.containsKey(p)) Nil
      else {
        visited.put(p, java.lang.Boolean.TRUE)
        val here = p.collect { case j: Join =>
          (if (j.hint.leftHint.flatMap(_.strategy).contains(BROADCAST)) Seq(j.left)
           else Nil) ++
            (if (j.hint.rightHint.flatMap(_.strategy).contains(BROADCAST)) Seq(j.right)
             else Nil)
        }.flatten
        here ++ p.collect { case l: LeafNode => l }
          .flatMap(l => graft.llmops.Checkpoints.provenanceOf(l).toSeq)
          .flatMap(pp => sides(pp, visited))
      }
    val dfSides = sides(plan,
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean])
      .filter(_.output.exists(_.name == "df"))
    assert(dfSides.size == 3,
      s"expected the 3 pruned df-broadcast sides (seed filter, pass-2 " +
        s"semi-prune, pass-3 semi-prune), got ${dfSides.size}")
    dfSides.foreach { side =>
      val pruned = side.collectFirst {
        case j: Join if j.joinType == LeftSemi => j
        case f: Filter if f.condition.exists {
          case In(_: AttributeReference, vs) => vs.nonEmpty
          case _ => false
        } => f
      }.isDefined
      assert(pruned,
        "df broadcast side is the unpruned vocab relation:\n" +
          side.treeString.take(1000))
    }
  }

  test("predicate propagation: a join-key filter reaches BOTH scans") {
    // PlannerTest.testPredicatePropagation — the reference infers
    // l_orderkey < k onto the other side of the equi-join; Catalyst's
    // InferFiltersFromConstraints must land it in both PushedFilters
    QuerySpec.prepared(spark, sfDir)
    val p = spark.sql(
      """SELECT o_orderstatus, COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_orderkey < 100
        |GROUP BY o_orderstatus""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(p.contains("LessThan(l_orderkey,100)"), p)
    assert(p.contains("LessThan(o_orderkey,100)"),
      s"join-key predicate not propagated to the orders scan:\n$p")
  }

  test("constant folding: arithmetic folds before pushdown") {
    // PlannerTest.testConstantFolding — 10 + 20 must reach the scan as
    // the literal 30, never as a residual arithmetic expression
    QuerySpec.prepared(spark, sfDir)
    val p = spark.sql(
      "SELECT l_orderkey FROM lineitem WHERE l_quantity < 10 + 20")
      .queryExecution.executedPlan.toString
    assert(p.contains("LessThan(l_quantity,30"), p)
    val folded = spark.sql("SELECT 2 + 3 * 4 AS c FROM region LIMIT 1")
      .queryExecution.optimizedPlan.toString
    assert(folded.contains("14") && !folded.contains("3 * 4"), folded)
  }

  test("q368/q369: partition-key scans answer from metadata, zero FileScan") {
    // The reference's optimize_partition_key_scans golden family
    // (PlannerTest.java:178): DISTINCT/MIN/MAX/NDV over partition
    // columns must not scan data files. The opt-in rule swaps the
    // relation for a LocalRelation of partition values — pin that the
    // physical plan has no scan at all, that the rows match the real
    // scan with the rule off, and that the builder's conf scoping does
    // NOT leak into queries planned afterwards on the shared session.
    import org.apache.spark.sql.functions.{col, countDistinct, min => fmin, max => fmax}
    val key = graft.plans.PartitionKeyScans.EnabledKey
    spark.conf.unset(key)
    val results = Seq("q368_partition_key_distinct", "q369_partition_key_minmax")
      .map { name =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("FileScan") && !p.contains("Scan parquet"),
          s"$name still scans data files with the rule enabled:\n$p")
        assert(p.contains("LocalTableScan"),
          s"$name did not plan the partition-listing local relation:\n$p")
        name -> df.collect().toSeq
      }.toMap
    // the builder restores the conf after pinning its own plan
    assert(spark.conf.getOption(key).isEmpty,
      "the partition-key builders leaked their opt-in conf into the session")
    // control runs: same queries built directly over the fixture with
    // the rule at its default (off) — these MUST scan, and must agree
    val src = spark.read.parquet(
      graft.operators.Layout.partitionedDocsDir(sfDir))
    val controls = Map(
      "q368_partition_key_distinct" ->
        src.select(col("lang")).distinct().orderBy("lang"),
      "q369_partition_key_minmax" ->
        src.filter(col("lang") =!= "de")
          .agg(fmin(col("lang")).as("min_lang"), fmax(col("lang")).as("max_lang"),
            countDistinct(col("lang")).as("n_langs")))
    controls.foreach { case (name, bare) =>
      assert(bare.queryExecution.executedPlan.toString.contains("Scan parquet"),
        s"$name control run should scan (rule off)")
      assert(results(name) == bare.collect().toSeq,
        s"$name metadata answer diverges from the scan")
    }
  }

}
