package graft

/** The ToSql golden sweep — analogue of the reference's ToSqlTest.java
  * (1200 LoC of "every statement renders back to SQL that re-parses to
  * the same statement"): for EVERY SQL-expressed QuerySpec in the
  * registry, regenerate the SQL from its parsed plan via
  * [[graft.positions.SqlRender]], re-execute the regenerated text, and
  * assert row-level equality with the original (its sorted rows' count
  * and digest, recorded by [[RegistryPass]]). Catches silent dialect
  * drift three ways: a span misalignment in the position machinery, a
  * skeleton-rendering bug, or a Spark grammar change all surface as a
  * re-parse failure or a result diff.
  *
  * Queries whose plans leave the structural subset (inline VALUES,
  * PIVOT/UNPIVOT, lateral correlated joins) raise
  * [[graft.positions.SqlRender.Unsupported]] and are counted — the
  * coverage floor pins that the structural renderer keeps carrying the
  * corpus (a regression that silently dumps queries into the fallback
  * bucket fails here even though those queries still execute). */
class ToSqlSpec extends EngineSuite {

  test("every SQL spec round-trips: regenerate from parsed plan, re-execute, same rows") {
    QuerySpec.prepared(spark, sfDir)
    var structural = 0
    val fallbacks = Seq.newBuilder[String]
    val broken = Seq.newBuilder[String]
    // a spec whose build failed is reported by name and the sweep goes
    // on, so one broken spec cannot hide the result of the specs after it
    for (s <- SparkEntry.specs; text <- s.sparkSql) RegistryPass(s.name).outcome match {
      case scala.util.Failure(e) => broken += s"${s.name}: build failed: $e"
      case scala.util.Success(a) =>
        try {
          val regenerated = positions.SqlRender.toSql(spark, text)
          val b =
            try spark.sql(regenerated).collect().map(_.toString).sorted.toSeq
            catch {
              case e: Exception =>
                broken += s"${s.name}: regenerated SQL failed: ${e.getMessage.take(120)}"
                Nil
            }
          if (a.rows == b.size && a.rowsDigest.contains(RegistryPass.digest(b))) structural += 1
          else if (b.nonEmpty)
            broken += s"${s.name}: ${a.rows} original rows vs ${b.size} regenerated"
        } catch {
          case u: positions.SqlRender.Unsupported => fallbacks += s"${s.name}: ${u.getMessage}"
        }
    }
    val fb = fallbacks.result()
    val br = broken.result()
    assert(br.isEmpty, s"round-trip diverged:\n${br.mkString("\n")}")
    // full coverage since round 12: every SQL-expressed spec renders
    // structurally — a new query that lands in the fallback bucket means
    // the renderer needs the new shape, not that the floor should drop
    assert(fb.isEmpty, s"queries fell out of the structural subset:\n${fb.mkString("\n")}")
    assert(structural == SparkEntry.specs.count(_.sparkSql.isDefined),
      s"structural=$structural of ${SparkEntry.specs.count(_.sparkSql.isDefined)}")
  }
}
