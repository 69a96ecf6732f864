package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.util.Try

/** One build of the whole query registry per test JVM, shared by every
  * whole-registry check: QueriesSpec's per-query tests, ToSqlSpec,
  * BenchPlanSpec's fingerprints and PlanSpec's two corpus sweeps. Each
  * spec is built once, in name order, on the shared session; its plan
  * facts are taken BEFORE it executes (a collect finalizes the AQE plan
  * string), then it executes once. A record keeps strings and counts
  * only — no DataFrame, QueryExecution, plan or RDD outlives its spec's
  * step, so staged checkpoints die with the spec as they would in a
  * per-check loop.
  *
  * A new whole-registry check reads [[records]]; it does not add a loop
  * that runs every spec. */
object RegistryPass {

  /** What the whole-registry checks need from one spec's build: the
    * result's column count, its [[graft.engine.PlanFingerprint.summary]]
    * ledger entry and (bench queries only) [[graft.engine.PlanFingerprint.of]],
    * whether the physical plan holds a CartesianProduct, the offenders of
    * [[PlanSpec]]'s two corpus predicates (empty for a DML spec), the row
    * count, for SQL specs the [[digest]] of the sorted rows, and the
    * temp views the build added to the session beyond the fixture
    * tables (a query builder must leave none behind). */
  final case class Built(width: Int, summary: String, fingerprint: Option[String],
      cartesian: Boolean, windowOffenders: Seq[String], broadcastOffenders: Seq[String],
      rows: Long, rowsDigest: Option[String], leftViews: Seq[String])

  /** One spec's build, or the one failure that stopped it. */
  final case class Record(name: String, outcome: Try[Built]) {
    /** The build; a failed spec throws its failure, naming the query. */
    def built: Built = outcome.fold(
      e => throw new IllegalStateException(s"$name failed in the registry pass: $e", e),
      identity)
  }

  lazy val records: Seq[Record] = {
    val t0 = System.nanoTime()
    val rs = SparkEntry.specs.sortBy(_.name).map(s => Record(s.name, build(s)))
    println(f"[registry-pass] built ${rs.size} specs in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    rs
  }

  private lazy val byName: Map[String, Record] = records.map(r => r.name -> r).toMap

  def apply(name: String): Record = byName(name)

  /** SHA-256 of the rows as given, one per line. */
  def digest(rows: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes(UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def tempViews(): Set[String] =
    EngineSuite.spark.sessionState.catalog.getTempViewNames().toSet

  private def build(s: QuerySpec): Try[Built] = Try {
    val viewsBefore = tempViews()
    val df = s.run(EngineSuite.spark, EngineSuite.sfDir)
    // the Explain surface runs ResourceEstimates on every query — it
    // must never throw on any registry plan shape (QueryExecution
    // caches the physical plan, so this shares the fingerprint's)
    discard(graft.engine.ResourceEstimates.of(df))
    val summary = graft.engine.PlanFingerprint.summary(df)
    val fingerprint = Option.when(s.bench)(graft.engine.PlanFingerprint.of(df))
    val cartesian = df.queryExecution.executedPlan.toString.contains("CartesianProduct")
    val (windows, broadcasts) =
      if (SparkEntry.sideEffecting(s.name)) (Nil, Nil)
      else {
        val p = df.queryExecution.optimizedPlan
        (PlanSpec.globalWindowOffenders(p), PlanSpec.broadcastOffenders(p))
      }
    val (rows, rowsDigest) =
      if (s.sparkSql.isDefined) {
        val sorted = df.collect().map(_.toString).sorted.toSeq
        (sorted.size.toLong, Some(digest(sorted)))
      } else (df.count(), None)
    val leftViews = (tempViews() -- viewsBefore -- sources.TestTables.names).toSeq.sorted
    Built(df.schema.size, summary, fingerprint, cartesian, windows, broadcasts, rows, rowsDigest,
      leftViews)
  }
}
