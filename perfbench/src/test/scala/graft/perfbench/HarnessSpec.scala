package graft.perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The harness's own logic: pass order, tail rule, span self time, result
  * fingerprints, the pinned workloads and the metric rendering. */
class HarnessSpec extends AnyFunSuite {

  private val names = (1 to 20).map(i => s"q$i")

  test("the same seed and pass give the same order") {
    assert(Stats.passOrder(names, 7L, 0) == Stats.passOrder(names, 7L, 0))
    assert(Stats.passOrder(names, 7L, 3) == Stats.passOrder(names, 7L, 3))
  }

  test("another seed or another pass gives another order of the same queries") {
    val base = Stats.passOrder(names, 7L, 0)
    assert(Stats.passOrder(names, 8L, 0) != base)
    assert(Stats.passOrder(names, 7L, 1) != base)
    assert(Stats.passOrder(names, 8L, 0).sorted == names.sorted)
  }

  test("the tail is the highest ladder percentile with ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.tail(hundred) == (90.0 -> 90.0)) // p95 would leave only 5 beyond
    val thousand = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(thousand) == (99.0 -> 990.0))
    val twenty = (1 to 20).map(_.toDouble)
    assert(Stats.tail(twenty) == (50.0 -> 10.0))
    assert(Stats.tail(scala.util.Random.shuffle(hundred)) == (90.0 -> 90.0))
  }

  test("with fewer than twenty samples the tail is the maximum") {
    assert(Stats.tail((1 to 19).map(_.toDouble)) == (100.0 -> 19.0))
    assert(Stats.tail(Seq(3.0)) == (100.0 -> 3.0))
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  private def span(a: Double, b: Double) = Span(0, 0, "child", "", a, b)

  test("self time is the duration minus the union of the children") {
    val parent = Span(0, -1, "query", "q", 0, 100)
    assert(Span.selfTimeMs(parent, Seq.empty) == 100.0)
    // [10,30] and [20,40] overlap: they cover 30, not 40
    assert(Span.selfTimeMs(parent, Seq(span(10, 30), span(20, 40))) == 70.0)
    // a child reaching past the parent counts only inside it
    assert(Span.selfTimeMs(parent, Seq(span(90, 130), span(-5, 5))) == 85.0)
    // a child nested in another adds nothing
    assert(Span.selfTimeMs(parent, Seq(span(10, 60), span(20, 30))) == 50.0)
    assert(Span.selfTimeMs(parent, Seq(span(0, 100))) == 0.0)
  }

  test("fingerprints: every NaN and both zeros render alike") {
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    assert(otherNaN.isNaN)
    assert(Fingerprint.double(Double.NaN) == Fingerprint.double(otherNaN))
    assert(Fingerprint.double(-0.0) == Fingerprint.double(0.0))
    assert(Fingerprint.render(-0.0f) == Fingerprint.render(0.0))
    assert(Fingerprint.double(Double.PositiveInfinity) != Fingerprint.double(Double.NegativeInfinity))
  }

  test("fingerprints: doubles compare at 10 significant digits") {
    assert(Fingerprint.double(0.1 + 0.2) == Fingerprint.double(0.3))
    assert(Fingerprint.double(1.23456789012) == Fingerprint.double(1.23456789049))
    assert(Fingerprint.double(1.2345678901) != Fingerprint.double(1.2345678911))
    assert(Fingerprint.double(123456789012.0) == Fingerprint.double(123456789049.0))
    assert(Fingerprint.double(-2.5e-12) == Fingerprint.double(-2.50000000001e-12))
    assert(Fingerprint.double(2.0) == Fingerprint.double(2.0000000000001))
  }

  test("fingerprints ignore row order but not duplicates or columns") {
    val a = Row(1L, "x", 0.5)
    val b = Row(2L, "y", null)
    assert(Fingerprint.of(Array(a, b)) == Fingerprint.of(Array(b, a)))
    assert(Fingerprint.of(Array(a, a, b)) != Fingerprint.of(Array(a, b, b)))
    assert(Fingerprint.of(Array(a, b)).rows == 2L)
    assert(Fingerprint.of(Array(Row(1L, "x"))) != Fingerprint.of(Array(Row("x", 1L))))
  }

  test("decimals compare by value, nested values render structurally") {
    val d1 = new java.math.BigDecimal("1.50")
    val d2 = new java.math.BigDecimal("1.5")
    assert(Fingerprint.render(d1) == Fingerprint.render(d2))
    assert(Fingerprint.render(new java.math.BigDecimal("0.000")) == "0")
    assert(Fingerprint.render(Row(Seq(1.0, -0.0), Map("b" -> 2, "a" -> 1))) ==
      "{[1,0],<a:1,b:2>}")
  }

  test("expected results: count, digest and the weaker checks") {
    val exp = Map(
      "full" -> Expected.Entry(Some(3L), Some("abc"), ""),
      "rows" -> Expected.Entry(Some(3L), None, "digest varies"),
      "some" -> Expected.Entry(None, None, "count varies"))
    assert(Expected.check(exp, "full", 3L, "abc").isEmpty)
    assert(Expected.check(exp, "full", 3L, "abd").nonEmpty)
    assert(Expected.check(exp, "full", 4L, "abc").nonEmpty)
    assert(Expected.check(exp, "rows", 3L, "zzz").isEmpty)
    assert(Expected.check(exp, "rows", 2L, "zzz").nonEmpty)
    assert(Expected.check(exp, "some", 9L, "zzz").isEmpty)
    assert(Expected.check(exp, "some", 0L, "zzz").nonEmpty)
    assert(Expected.check(exp, "missing", 1L, "abc").nonEmpty)
  }

  test("each workload's pinned queries are distinct and have an expected result each") {
    Workloads.all.foreach { w =>
      assert(w.queries.distinct == w.queries, w.name)
      val recorded = Expected.load(java.nio.file.Paths.get("expected", s"${w.name}.tsv"))
      assert(recorded.keySet == w.queries.toSet, w.name)
    }
  }

  test("metrics render with their units and refuse non-finite values") {
    val j = Main.metricsJson(Seq(("a_s", 1.5, "s"), ("n", 2.0, "count")))
    assert(org.json4s.jackson.JsonMethods.compact(j) ==
      """{"a_s":{"value":1.5,"unit":"s"},"n":{"value":2.0,"unit":"count"}}""")
    assertThrows[IllegalArgumentException](Main.metricsJson(Seq(("x", Double.NaN, "s"))))
  }
}
