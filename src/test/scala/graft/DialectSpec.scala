package graft

import org.apache.spark.sql.Row

/** The Spark spellings of [[Dialect]]'s shared text constructs over
  * degenerate documents: the empty string, one word, exactly n words
  * and a double space. The registry queries that use these spellings
  * run over the fixture corpus, whose documents are all long, so these
  * edges are pinned here. */
class DialectSpec extends EngineSuite {

  /** A session whose `documents` view is the degenerate table; the shared
    * session's fixture views stay untouched. */
  private lazy val docs = {
    val s = spark.newSession()
    s.sql(
      """SELECT * FROM VALUES
        |  (1, ''), (2, 'a'), (3, 'a b'), (4, 'a b a'), (5, 'x  y')
        |  AS t(doc_id, text)""".stripMargin).createOrReplaceTempView("documents")
    s
  }

  private def rows(sql: String): Seq[Row] =
    docs.sql(sql).collect().toSeq.sortBy(_.toString)

  test("word, distinct-word and regex counts: '' is one (empty) word, a double space adds one") {
    val got = rows(
      s"""SELECT doc_id, ${Dialect.wordCount(true)} AS n_words,
         |  ${Dialect.distinctWordCount(true)} AS n_distinct,
         |  ${Dialect.regexCount(true, "text", "[a-z]+")} AS n_alpha
         |FROM documents""".stripMargin)
    assert(got == Seq(
      Row(1, 1, 1, 0), Row(2, 1, 1, 1), Row(3, 2, 2, 2), Row(4, 3, 2, 3), Row(5, 3, 3, 2)))
  }

  test("word n-grams: none below n words, one per start at n and above") {
    assert(rows(Dialect.wordNgrams(true, 2)) == Seq(
      Row(3, "a b"), Row(4, "a b"), Row(4, "b a"), Row(5, " y"), Row(5, "x ")))
    assert(rows(Dialect.wordNgrams(true, 3)) == Seq(Row(4, "a b a"), Row(5, "x  y")))
  }
}
