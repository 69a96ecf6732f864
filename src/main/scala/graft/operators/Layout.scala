package graft.operators

import org.apache.spark.sql.functions._
import graft.QuerySpec

/** Physical data layout for scale: bucketing (hash-clustered storage).
  *
  * The reference's planner spends most of its distributed-planning effort
  * deciding between broadcast and partitioned joins and re-using existing
  * data partitionings (DistributedPlanner.java:432-512 — `lhsBytes = 0`
  * when the left side is already compatibly partitioned). Spark's storage
  * analogue is the bucketed table: both join sides written `bucketBy(n,
  * key)` expose `HashPartitioning(key, n)` at scan time, so the fact-fact
  * join plans with ZERO exchanges — the layout is the 100 TB answer to
  * "this join's shuffle is the bottleneck" (shuffle cost paid once at
  * write, amortized over every subsequent join/agg on the key).
  *
  * Plan shapes pinned in PlanSpec (no Exchange before the join / the
  * bucket-key agg).
  */
object Layout {

  /** Drop a managed table AND its warehouse directory: the test metastore
    * is session-scoped, so a fresh session can find a leftover location
    * from a previous run that the catalog no longer knows about
    * (LOCATION_ALREADY_EXISTS on saveAsTable otherwise). */
  private def dropTable(sp: org.apache.spark.sql.SparkSession, name: String): Unit = {
    graft.discard(sp.sql(s"DROP TABLE IF EXISTS $name"))
    val wh = new java.net.URI(sp.conf.get("spark.sql.warehouse.dir"))
    val dir = new java.io.File(
      if (wh.getScheme == null) wh.getPath else new java.io.File(wh).getPath, name)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete(): Unit
    }
    rm(dir)
  }

  /** Write both fact tables bucketed on the join key, then join them.
    * The read-side plan must contain no shuffle on either join input
    * (SortMergeJoin directly over the bucketed scans); the only exchange
    * is the one the final small group-by needs. */
  val q129BucketedJoin: QuerySpec = QuerySpec(
    "q129_join_bucketed",
    """SELECT o_orderpriority,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    dropTable(sp, "g_bucketed_orders")
    dropTable(sp, "g_bucketed_lineitem")
    sp.table("orders").select("o_orderkey", "o_orderpriority")
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("g_bucketed_orders")
    sp.table("lineitem").select("l_orderkey", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("g_bucketed_lineitem")
    sp.table("g_bucketed_orders")
      .join(sp.table("g_bucketed_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(14,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Aggregation on the bucket key over a bucketed table: the scan's
    * HashPartitioning already satisfies the group-by distribution, so the
    * plan has no exchange at all — the map-side/merge-side split
    * (AggregationNode FIRST/MERGE phases, AggregationNode.java:103-119)
    * stays but runs pipelined inside one stage. */
  val q136BucketedAgg: QuerySpec = QuerySpec(
    "q136_agg_bucketed",
    """SELECT l_orderkey, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY l_orderkey
      |HAVING COUNT(*) = 7
      |ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    dropTable(sp, "g_bucketed_lineitem_agg")
    sp.table("lineitem").select("l_orderkey", "l_quantity")
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("g_bucketed_lineitem_agg")
    sp.table("g_bucketed_lineitem_agg")
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(14,2)")).cast("double").as("sum_qty"))
      .filter(col("n_items") === 7)
      .orderBy("l_orderkey")
  }

  /** Partitioned AND bucketed layout — directory partitioning by the
    * coarse filter column plus hash bucketing by the heavy key: the scan
    * prunes to one partition directory (PartitionFilters) and the
    * bucket-key aggregation still needs no exchange. This is the full
    * 100 TB layout recipe: prune what you can at the directory level,
    * pre-cluster what you aggregate/join on. */
  val q139PartitionedBucketed: QuerySpec = QuerySpec(
    "q139_layout_partitioned_bucketed",
    """SELECT l_orderkey, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE l_linestatus = 'F'
      |GROUP BY l_orderkey
      |HAVING COUNT(*) >= 6
      |ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    dropTable(sp, "g_pb_lineitem")
    sp.table("lineitem").select("l_orderkey", "l_extendedprice", "l_linestatus")
      .write.mode("overwrite").format("parquet")
      .partitionBy("l_linestatus")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("g_pb_lineitem")
    sp.table("g_pb_lineitem")
      .filter(col("l_linestatus") === "F")
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .filter(col("n_items") >= 6)
      .orderBy("l_orderkey")
  }

  /** Small-file compaction (the OPTIMIZE/bin-packing maintenance op): a
    * fragmented ingest (64 tiny files — the hourly-streaming-sink
    * pathology; at 100 TB this is millions of files and a dead name
    * node) is rewritten into a few target-sized files with
    * `repartitionByRange` on the primary access key, so post-compaction
    * min/max file statistics stay selective for key-range scans. The
    * query output is the content checksum — compaction must be
    * byte-preserving, so the oracle is the same aggregate over the
    * ORIGINAL table. File-count reduction + range-locality are pinned in
    * BucketedJoinSpec. */
  val q153Compaction: QuerySpec = QuerySpec(
    "q153_layout_compaction",
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    sp.table("documents").repartition(64)
      .write.mode("overwrite").parquet(FragmentedDir)
    sp.read.parquet(FragmentedDir)
      .repartitionByRange(2, col("doc_id"))
      .write.mode("overwrite").parquet(CompactedDir)
    sp.read.parquet(CompactedDir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"),
        sum(col("doc_id")).cast("bigint").as("id_checksum"))
      .orderBy("lang")
  }

  /** Directory [[q368PartitionKeyDistinct]]/[[q369PartitionKeyMinMax]]
    * write (hive-partitioned by lang), keyed PER SOURCE DIR — one JVM
    * runs several scale factors, and a fixture cached across them
    * would answer a different corpus than the freshly registered
    * `documents` view the oracle reads. PlanSpec pins the
    * metadata-only plan over it. Keyed by the SANITIZED FULL PATH, not
    * a 32-bit hash (ADVICE r15: a String.hashCode collision between two
    * source dirs in one JVM would make the _SUCCESS gate silently serve
    * a different corpus than the registered view the oracle reads). */
  def partitionedDocsDir(dir: String): String =
    s"${keyedDir("pks", dir)}/documents"

  /** A scratch location under [[runTmp]] keyed by (artifact family,
    * SOURCE DIR) — the per-(JVM, corpus) artifact-directory scheme
    * shared by every write-once fixture artifact (partitioned docs,
    * the phrase-parameter relation, the persisted suffix array):
    * sanitized full path + an 8-byte SHA so two source dirs can never
    * collide (ADVICE r15: a 32-bit String.hashCode collision would
    * silently serve a different corpus than the registered views). */
  private[graft] def keyedDir(family: String, dir: String): String = {
    val abs = new java.io.File(dir).getAbsolutePath
    val readable = abs.replaceAll("[^A-Za-z0-9._-]", "_")
      .replaceAll("^_+", "").takeRight(64)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(abs.getBytes("UTF-8")).take(8)
      .map(b => f"$b%02x").mkString
    s"$runTmp/$family/$readable-$sha"
  }

  /** Per-path JVM locks for [[locked]]/[[writeOnce]] — `computeIfAbsent`
    * hands every caller of one path the same monitor. The map only ever
    * grows, but its keys are artifact directories (a handful per (JVM,
    * source dir)), not data. */
  private val artifactLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Serialize a block per artifact path, JVM-wide. Two queries
    * materializing the same write-once artifact concurrently (the
    * registry sweep runs queries on one shared session; a spec can race
    * a Verify run inside one test JVM) must not both miss the
    * existence gate and overwrite each other mid-read (ADVICE r19) —
    * under the lock, the first caller builds and every concurrent
    * second caller blocks, re-checks, and shares the finished write. */
  private[graft] def locked[T](path: String)(body: => T): T =
    artifactLocks.computeIfAbsent(path, _ => new Object).synchronized(body)

  /** THE write-once artifact gate (r19 VERDICT item: one definition,
    * Hadoop FS API): run `build` — which must leave a `_SUCCESS` marker
    * under `path`, as every Spark/Hadoop committer does — exactly once
    * per (filesystem, path), serialized per path within the JVM. The
    * marker check goes through the session's Hadoop filesystem, not
    * `java.io.File`, so the gate holds wherever the artifact actually
    * lives (HDFS/object store on a cluster; local FS in this harness). */
  private[graft] def writeOnce(sp: org.apache.spark.sql.SparkSession,
                               path: String)(build: => Unit): Unit =
    locked(path) {
      val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
      val fs = marker.getFileSystem(sp.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker)) build
    }

  private def writePartitionedDocs(
      sp: org.apache.spark.sql.SparkSession, dir: String): Unit =
    // idempotent per (JVM, source dir): the _SUCCESS marker gates the
    // rewrite, so both queries and the plan spec share one write
    writeOnce(sp, partitionedDocsDir(dir)) {
      sp.table("documents").write.mode("overwrite")
        .partitionBy("lang").parquet(partitionedDocsDir(dir))
    }

  /** Build a partition-key query with the opt-in rule enabled ONLY for
    * its own planning: the conf is set, the physical plan is forced
    * (QueryExecution caches it, and AQE's runtime re-optimization
    * starts from the already-rewritten logical plan), then the conf is
    * restored — nothing leaks into later queries planned on the shared
    * session (r15 review finding: the registry sweep runs in sorted
    * order, so a leaked conf would flip every query after q36*). */
  private def withPartitionKeyScans(sp: org.apache.spark.sql.SparkSession)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val key = graft.plans.PartitionKeyScans.EnabledKey
    val prev = sp.conf.getOption(key)
    sp.conf.set(key, "true")
    try {
      val df = build
      graft.discard(df.queryExecution.executedPlan)
      df
    } finally prev match {
      case Some(v) => sp.conf.set(key, v)
      case None => sp.conf.unset(key)
    }
  }

  /** The reference's `optimize_partition_key_scans` fast path
    * (SingleNodePlanner.java:603-613, 762-780): `SELECT DISTINCT
    * part_col` over a partitioned table answers from the partition
    * LISTING — O(partitions) driver metadata, zero data scanned. The
    * [[graft.plans.PartitionKeyScans]] rule (opt-in conf, mirroring the
    * reference's query option) swaps the file relation for a
    * LocalRelation of partition values; PlanSpec pins that no FileScan
    * survives in the plan. The oracle runs the same DISTINCT over the
    * source table — identical rows by construction since every written
    * partition holds data. */
  val q368PartitionKeyDistinct: QuerySpec = QuerySpec(
    "q368_partition_key_distinct",
    "SELECT DISTINCT lang FROM documents ORDER BY lang") { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    writePartitionedDocs(sp, dir)
    withPartitionKeyScans(sp) {
      sp.read.parquet(partitionedDocsDir(dir))
        .select(col("lang")).distinct().orderBy("lang")
    }
  }

  /** MIN/MAX/NDV over the partition column — the other shape the
    * reference answers from metadata (the aggregate functions are
    * duplicate-insensitive, so the partition listing is a sufficient
    * statistic). Also exercises a partition-pruning predicate ON the
    * partition column folding over the listing. */
  val q369PartitionKeyMinMax: QuerySpec = QuerySpec(
    "q369_partition_key_minmax",
    """SELECT MIN(lang) AS min_lang, MAX(lang) AS max_lang,
      |       COUNT(DISTINCT lang) AS n_langs
      |FROM documents WHERE lang <> 'de'""".stripMargin) { (s, dir) =>
    val sp = QuerySpec.prepared(s, dir)
    writePartitionedDocs(sp, dir)
    withPartitionKeyScans(sp) {
      sp.read.parquet(partitionedDocsDir(dir))
        .filter(col("lang") =!= "de")
        .agg(min(col("lang")).as("min_lang"), max(col("lang")).as("max_lang"),
          countDistinct(col("lang")).as("n_langs"))
    }
  }

  /** Per-JVM unique scratch root, so a correctness run racing a test run
    * (or two concurrent harness runs) never stomp each other's files —
    * stable within one JVM because the specs inspect these same vals.
    * A shutdown hook removes the tree, so repeated runs don't
    * permanently leak parquet output under /tmp. */
  private val runTmp: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try {
        Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
          .forEach(p => graft.discard(Files.deleteIfExists(p)))
      } catch { case _: Throwable => () } // best-effort cleanup only
    }))
    dir.toString
  }

  /** Directories [[q153Compaction]] writes; the spec inspects them. */
  val FragmentedDir = s"$runTmp/compact/fragmented"
  val CompactedDir = s"$runTmp/compact/compacted"

  /** Z-order (Morton) clustering: interleave the bits of two access
    * dimensions and range-partition + sort the data by the interleaved
    * value, so files are simultaneously clustered on BOTH columns — the
    * data-skipping layout for two-dimensional scan predicates (each file
    * covers a narrow user_id span AND a narrow time span, so min/max
    * stats prune on either predicate). The interleave is pure integer
    * bit math folded element-in-order, so the DuckDB oracle re-derives
    * the exact z-values and bucket histogram. Per-file span narrowing is
    * pinned in BucketedJoinSpec. */
  val q154ZOrder: QuerySpec = {
    // 16-bit × 16-bit Morton interleave of (user_id, hour-of-epoch)
    def zSpark(u: String, h: String): String =
      s"""aggregate(sequence(0, 15), 0L, (acc, i) ->
         |  acc + shiftleft(($u >> i) & 1L, 2 * i)
         |      + shiftleft(($h >> i) & 1L, 2 * i + 1))""".stripMargin
    def zDuck(u: String, h: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT), range(16)),
         |  (acc, i) -> acc + ((($u >> CAST(i AS INT)) & 1) << CAST(2*i AS INT))
         |            + ((($h >> CAST(i AS INT)) & 1) << CAST(2*i + 1 AS INT)))""".stripMargin
    QuerySpec(
      "q154_layout_zorder",
      s"""WITH z AS (
         |  SELECT user_id,
         |    ${zDuck("user_id", "(CAST(floor(epoch(ts)) AS BIGINT) // 3600) & 65535")} AS zval
         |  FROM events)
         |SELECT zval // 262144 AS z_bucket, COUNT(*) AS n_events,
         |  CAST(MIN(user_id) AS BIGINT) AS min_user,
         |  CAST(MAX(user_id) AS BIGINT) AS max_user
         |FROM z
         |GROUP BY z_bucket
         |ORDER BY z_bucket""".stripMargin) { (s, dir) =>
      val sp = QuerySpec.prepared(s, dir)
      val z = sp.table("events")
        .withColumn("zval", expr(
          zSpark("user_id", "((cast(ts as long) div 3600) & 65535)")))
      z.repartitionByRange(4, col("zval"))
        .sortWithinPartitions(col("zval"))
        .write.mode("overwrite").parquet(ZOrderDir)
      sp.read.parquet(ZOrderDir)
        .groupBy(expr("zval div 262144").as("z_bucket"))
        .agg(count(lit(1)).as("n_events"),
          min(col("user_id")).cast("bigint").as("min_user"),
          max(col("user_id")).cast("bigint").as("max_user"))
        .orderBy("z_bucket")
    }
  }

  /** Directory [[q154ZOrder]] writes; the spec inspects per-file spans. */
  val ZOrderDir = s"$runTmp/zorder/events"

  val all: Seq[QuerySpec] = Seq(
    q129BucketedJoin, q136BucketedAgg, q139PartitionedBucketed,
    q153Compaction, q154ZOrder,
    q368PartitionKeyDistinct, q369PartitionKeyMinMax)
}
