package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Golden plan fingerprints for the Bench headline set: a bench delta is
  * only attributable to machine noise if the plan DIDN'T change — this
  * spec makes that check one diff instead of a hand audit (the r12
  * 1.13× warm drift took exactly such an audit to clear). Fails when any
  * bench query's normalized physical plan shape (operators, join
  * strategies, exchanges, scan sources — see
  * [[graft.engine.PlanFingerprint]]) differs from the recorded golden.
  *
  * On an INTENDED plan change, regenerate with
  * `REGEN_FINGERPRINTS=1 sbt "testOnly graft.BenchPlanSpec"` and commit
  * the diff — the diff itself documents what the plan change was.
  *
  * The second test maintains `registry_plan_fingerprints.txt`: a COARSE
  * fingerprint (operator multiset + shuffle count, no tree) for EVERY
  * registered query. Like the golden test it only REWRITES the file
  * under REGEN_FINGERPRINTS (an unconditional rewrite dirtied the
  * working tree on every run — r14 ADVICE); without it, the run
  * compares against the committed state so registry-wide plan drift
  * fails visibly instead of silently rewriting the ledger. A query
  * that fails to plan or run records `err:<Exception>` and FAILS the
  * test either way. Both tests read the plans [[RegistryPass]] built.
  *
  * Both files fingerprint only each query's final execution: staged
  * rounds have already run and show as `ScanExistingRDD` leaves, so
  * their work is invisible here (see [[graft.engine.PlanFingerprint]]). */
class BenchPlanSpec extends EngineSuite {

  // Derived from the forked test JVM's working dir (the sbt project
  // base), not a hardcoded absolute path.
  private val resourcesDir =
    Paths.get(sys.props.getOrElse("user.dir", "."), "src", "test", "resources")

  private val goldenPath = resourcesDir.resolve("bench_plan_fingerprints.txt")

  test("bench headline plans match their golden fingerprints") {
    val current = SparkEntry.benchQueries.sorted
      .map(name => name -> RegistryPass(name).built.fingerprint.get)
    if (sys.env.contains("REGEN_FINGERPRINTS")) {
      Files.createDirectories(goldenPath.getParent)
      Files.write(goldenPath,
        current.map { case (n, f) => s"$n $f" }.asJava)
      info(s"regenerated ${current.size} fingerprints at $goldenPath")
    } else {
      assert(Files.exists(goldenPath),
        s"no golden file at $goldenPath — run with REGEN_FINGERPRINTS=1")
      val golden = Files.readAllLines(goldenPath).asScala
        .filter(_.nonEmpty)
        .map { l => val i = l.indexOf(' '); l.take(i) -> l.drop(i + 1) }
        .toMap
      val currentMap = current.toMap
      val missing = currentMap.keySet -- golden.keySet
      assert(missing.isEmpty,
        s"bench queries with no golden fingerprint (regen + commit): $missing")
      val stale = golden.keySet -- currentMap.keySet
      assert(stale.isEmpty,
        s"golden fingerprints for queries no longer benched (regen + commit): $stale")
      for ((name, fp) <- current) {
        assert(golden(name) == fp,
          s"""$name: plan shape changed vs golden —
             |golden : ${golden(name)}
             |current: $fp
             |If intended, REGEN_FINGERPRINTS=1 and commit the diff.""".stripMargin)
      }
    }
  }

  test("registry-wide coarse fingerprints match the committed drift ledger") {
    val registryPath = resourcesDir.resolve("registry_plan_fingerprints.txt")
    val lines = RegistryPass.records.map { r =>
      s"${r.name} ${r.outcome.fold(e => s"err:${e.getClass.getSimpleName}", _.summary)}"
    }
    val broken = lines.filter(_.contains(" err:"))
    assert(broken.isEmpty,
      s"queries that failed to plan:\n${broken.mkString("\n")}")
    if (sys.env.contains("REGEN_FINGERPRINTS")) {
      Files.createDirectories(registryPath.getParent)
      Files.write(registryPath, lines.asJava)
      info(s"regenerated ${lines.size} registry fingerprints at $registryPath")
    } else {
      assert(Files.exists(registryPath),
        s"no registry ledger at $registryPath — run with REGEN_FINGERPRINTS=1")
      val committed = Files.readAllLines(registryPath).asScala.filter(_.nonEmpty)
      val drift = lines.diff(committed) ++ committed.diff(lines)
      assert(drift.isEmpty,
        s"""registry plan drift vs committed ledger (${drift.size} rows) —
           |${drift.take(20).mkString("\n")}
           |If intended, REGEN_FINGERPRINTS=1 and commit the diff.""".stripMargin)
    }
  }
}
