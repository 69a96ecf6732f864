package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory with Impala-compatible semantics.
  *
  * The reference frontend (924060929/impala-frontend) implements its own
  * parser/analyzer/planner (fe/src/main/java/org/apache/impala/service/
  * Frontend.java:1037, planner/Planner.java:84). On Spark all of that is
  * Catalyst; what remains of "the engine" at session level is configuration:
  *
  *  - timezone-less TIMESTAMP semantics (Impala TIMESTAMP has no tz) →
  *    session timezone pinned to UTC.
  *  - Impala's permissive cast/arithmetic (string→int of '1.1' yields NULL,
  *    overflow wraps; CastExpr.java:36-313) → non-ANSI mode.
  *  - the distributed planner's broadcast-vs-partitioned join choice and
  *    join inversion (planner/DistributedPlanner.java:420-560,
  *    Planner.invertJoins:433-488) → AQE + autoBroadcastJoinThreshold.
  *  - runtime bloom/min-max filters pushed to probe-side scans
  *    (planner/RuntimeFilterGenerator.java:46-593) → Spark runtime bloom
  *    filter + dynamic partition pruning.
  *  - cost-based join ordering (SingleNodePlanner.createCheapestJoinPlan:349)
  *    → CBO + join reorder (effective once tables are ANALYZEd).
  */
object GraftSession {

  /** Apply engine configuration to a builder (idempotent). */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    // analyzer-stage hooks (e.g. the STRAIGHT_JOIN statement hint) can
    // only be injected at session build; attach()'s extraOptimizations
    // path covers the optimizer-stage rules for bare sessions
    .config("spark.sql.extensions", "graft.engine.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    .config("spark.sql.cbo.enabled", "true")
    .config("spark.sql.cbo.joinReorder.enabled", "true")
    .config("spark.sql.statistics.histogram.enabled", "true")
    // events.parquet stores TIMESTAMP(NANOS); see sources.TestTables.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Naive fixture timestamps read as UTC instants, not NTZ (see attach).
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.parquet.compression.codec", "snappy")
    .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    // Whole-stage-codegen class cache (static conf, default 100 entries).
    // The iterative operators (suffix-array doubling, BPE rounds, k-core
    // peeling) each compile dozens of distinct codegen units per
    // execution; at 100 entries the suite thrashes the cache and warm
    // runs re-Janino-compile every stage. 4096 entries ≈ a few hundred
    // MB ceiling of generated classes — scale-independent (driver-side
    // only), same knob a production cluster would set.
    .config("spark.sql.codegen.cache.maxEntries", "4096")

  /** Local session sized for this container; on a real cluster use
    * `configure(SparkSession.builder())` with cluster master/conf. */
  def local(cores: Int = 32, shufflePartitions: Int = 32): SparkSession = {
    val s = configure(
      SparkSession.builder()
        .appName("graft")
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "4g")
        // saveAsTable/ANALYZE targets (COMPUTE STATS analogue) — keep the
        // managed-table warehouse out of the repo tree
        .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
    ).getOrCreate()
    attach(s)
  }

  /** Register the engine's function surface onto an existing session.
    * Also applies the runtime-settable engine confs so a session built
    * WITHOUT [[configure]] (e.g. a harness-owned bare session calling
    * SparkEntry.entry) still reads the testdata and matches the verified
    * semantics: nanosAsLong is required to read events.parquet
    * (TIMESTAMP nanos), and UTC/non-ANSI pin the comparison semantics. */
  def attach(s: SparkSession): SparkSession = {
    s.sparkContext.setLogLevel("WARN")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The harness fixture stores naive (isAdjustedToUTC=false) TIMESTAMP
    // micros; Spark 4's default NTZ inference would surface those as
    // TIMESTAMP_NTZ, which breaks epoch arithmetic (cast-to-long) and
    // diverges from the verified TimestampType semantics. With inference
    // off the raw micros read as session-TZ (UTC) instants — bit-identical
    // to the DuckDB oracle's naive reading.
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.ansi.enabled", "false")
    if (installed.get(s) != java.lang.Boolean.TRUE) synchronized {
      if (installed.get(s) != java.lang.Boolean.TRUE) {
        graft.functions.ImpalaFunctions.registerAll(s)
        installOptimizerRules(s)
        graft.discard(installed.put(s, java.lang.Boolean.TRUE))
      }
    }
    s
  }

  /** What each session already carries: absent → nothing, FALSE → the
    * engine's optimizer rules, TRUE → the rules and the function surface
    * (registered by [[attach]]). The GraftExtensions injectOptimizerRule
    * builder re-invokes [[installOptimizerRules]] on EVERY optimizer-
    * batches evaluation, and every query runs [[attach]] — without this
    * flag each query would take the global lock to re-install the rules,
    * and re-register every function with one "replaced a previously
    * registered function" WARN each. Weak keys: a dropped session must
    * not be pinned by the guard; a `newSession()` is a new key. */
  private val installed = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Append the engine's optimizer rules to the session's
    * extraOptimizations ("User Provided Optimizers" — the only logical
    * batch that runs AFTER DSv2 early scan pushdown, which these rules
    * require; see GraftExtensions). Idempotent; lock-free after the
    * first install per session. */
  def installOptimizerRules(s: SparkSession): Unit =
    if (installed.get(s) == null) synchronized {
      if (installed.get(s) == null) {
        Seq(graft.plans.RangeBucketJoinRewrite, graft.plans.AppxCountDistinctRewrite,
          graft.plans.BoundedLevenshteinRewrite, graft.plans.PartitionKeyScans,
          graft.plans.SmallQueryFastPath)
          .foreach { r =>
            if (!s.experimental.extraOptimizations.contains(r))
              s.experimental.extraOptimizations =
                s.experimental.extraOptimizations :+ r
          }
        graft.discard(installed.put(s, java.lang.Boolean.FALSE))
      }
    }
}
