package graft.perfbench

/** The committed expected results: one line per query,
  * `name <TAB> count <TAB> digest [<TAB> note]`. For an executed query the
  * count is the row count and the digest the content hash; for a planned
  * statement, the number of syntax blocks and the output schema. A digest
  * of `-` checks the count only, and a count of `-` as well checks only
  * that the query returned rows; the note then says why. */
object Expected {
  final case class Entry(count: Option[Long], digest: Option[String], note: String)

  def load(path: java.nio.file.Path): Map[String, Entry] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(path).asScala.iterator
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t", -1)
        require(f.length >= 3, s"malformed expected line: $l")
        f(0) -> Entry(Some(f(1)).filter(_ != "-").map(_.toLong),
          Some(f(2)).filter(_ != "-"), if (f.length > 3) f(3) else "")
      }.toMap
  }

  /** The mismatch, if any, between a result and its expectation. */
  def check(expected: Map[String, Entry], name: String, count: Long,
            digest: String): Option[String] =
    expected.get(name) match {
      case None => Some("no expected result recorded")
      case Some(Entry(None, _, _)) =>
        if (count > 0) None else Some("expected rows, got none")
      case Some(Entry(Some(c), _, _)) if c != count =>
        Some(s"count $count, expected $c")
      case Some(Entry(_, Some(d), _)) if d != digest =>
        Some(s"digest $digest, expected $d")
      case _ => None
    }
}
