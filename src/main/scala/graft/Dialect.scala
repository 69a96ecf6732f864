package graft

/** How Spark SQL and DuckDB SQL each spell a construct that two or more
  * registry queries emit. A two-text query ([[QuerySpec.sql2]]) builds
  * its engine text with `spark = true` and its DuckDB oracle text with
  * `spark = false`; each function here is the one place that choice is
  * made for its construct. A spelling only one query uses stays an
  * inline `if (spark)` at that query. Arguments are SQL fragments
  * spliced verbatim. */
private[graft] object Dialect {

  // Array functions.
  def size(spark: Boolean, a: String): String =
    if (spark) s"size($a)" else s"len($a)"
  def distinct(spark: Boolean, a: String): String =
    if (spark) s"array_distinct($a)" else s"list_distinct($a)"
  def sort(spark: Boolean, a: String): String =
    if (spark) s"array_sort($a)" else s"list_sort($a)"
  def filter(spark: Boolean, a: String, lambda: String): String =
    if (spark) s"filter($a, $lambda)" else s"list_filter($a, $lambda)"
  def transform(spark: Boolean, a: String, lambda: String): String =
    if (spark) s"transform($a, $lambda)" else s"list_transform($a, $lambda)"
  def arrayMax(spark: Boolean, a: String): String =
    if (spark) s"array_max($a)" else s"list_aggregate($a, 'max')"

  /** String `s` split on the literal separator `sep`. */
  def split(spark: Boolean, s: String, sep: String): String =
    if (spark) s"split($s, '$sep')" else s"string_split($s, '$sep')"

  /** The words of `text`: split on single spaces, so `''` is one empty
    * word and a double space yields an empty word between its halves. */
  def words(spark: Boolean): String = split(spark, "text", " ")
  def wordCount(spark: Boolean): String = size(spark, words(spark))
  def distinctWordCount(spark: Boolean): String = size(spark, distinct(spark, words(spark)))

  /** One row per word of `text` (a generator; alias it in the SELECT). */
  def explodeWords(spark: Boolean): String =
    if (spark) "explode(split(text, ' '))" else "unnest(string_split(text, ' '))"

  /** The `(doc_id, word)` relation over `documents`. */
  def docWords(spark: Boolean): String =
    s"SELECT doc_id, ${explodeWords(spark)} AS word FROM documents"

  /** `(doc_id, pos, word)` over a relation `t(doc_id, w)` of word arrays,
    * `pos` 0-based. */
  def positionedWords(spark: Boolean): String =
    if (spark)
      """SELECT doc_id, pos, word FROM t
        |  LATERAL VIEW posexplode(w) p AS pos, word""".stripMargin
    else
      """SELECT doc_id, unnest(range(len(w))) AS pos,
        |         unnest(w) AS word FROM t""".stripMargin

  /** `(doc_id, pos, gram)` over `t(doc_id, w)`: every word n-gram with
    * its 0-based start; a document of fewer than n words has none. */
  def positionedGrams(spark: Boolean, n: Int): String =
    if (spark)
      s"""SELECT doc_id, pos, concat_ws(' ', slice(w, pos + 1, $n)) AS gram
         |  FROM (SELECT doc_id, w,
         |          CASE WHEN size(w) >= $n THEN sequence(0, size(w) - $n)
         |               ELSE array() END AS ps
         |        FROM t) x
         |  LATERAL VIEW explode(ps) p AS pos""".stripMargin
    else
      s"""SELECT doc_id, pos, array_to_string(w[pos + 1 : pos + $n], ' ') AS gram
         |  FROM (SELECT doc_id, w, unnest(range(len(w) - ${n - 1})) AS pos FROM t) x""".stripMargin

  /** `(doc_id, ngram)`: every word n-gram of each document's `text`.
    * The size guard keeps Spark's `sequence` from counting down on a
    * document of fewer than n words, which has no n-gram. */
  def wordNgrams(spark: Boolean, n: Int): String =
    if (spark)
      s"""SELECT doc_id, ngram
         |  FROM (SELECT doc_id,
         |          CASE WHEN size(split(text, ' ')) >= $n
         |               THEN transform(sequence(0, size(split(text, ' ')) - $n),
         |                      i -> concat_ws(' ', slice(split(text, ' '), i + 1, $n)))
         |               ELSE array() END AS ngrams
         |        FROM documents) t
         |  LATERAL VIEW explode(ngrams) x AS ngram""".stripMargin
    else
      s"""SELECT doc_id, unnest(list_transform(range(len(string_split(text, ' ')) - ${n - 1}),
         |         i -> array_to_string(string_split(text, ' ')[i+1:i+$n], ' '))) AS ngram
         |  FROM documents""".stripMargin

  /** Number of non-overlapping matches of `pat` in `s`. `pat` is spliced
    * into a string literal as is: Spark unescapes backslashes in
    * literals and DuckDB does not, so a pattern with one is the
    * caller's to escape. */
  def regexCount(spark: Boolean, s: String, pat: String): String =
    if (spark) s"size(regexp_extract_all($s, '$pat', 0))"
    else s"len(regexp_extract_all($s, '$pat'))"

  /** `s` with every match of `pat` replaced by `rep` (escaping as for
    * [[regexCount]]). */
  def regexReplace(spark: Boolean, s: String, pat: String, rep: String): String =
    if (spark) s"regexp_replace($s, '$pat', '$rep')"
    else s"regexp_replace($s, '$pat', '$rep', 'g')"

  /** Whole days from the DATE `start` to the DATE `end`. */
  def dayDiff(spark: Boolean, end: String, start: String): String =
    if (spark) s"datediff($end, $start)" else s"datediff('day', $start, $end)"

  /** The INT relation `a..b` (inclusive) as column `col`. */
  def intRange(spark: Boolean, a: Int, b: Int, col: String): String =
    if (spark) s"SELECT explode(sequence($a, $b)) AS $col"
    else s"SELECT CAST(unnest(range($a, ${b + 1})) AS INT) AS $col"

  /** `rel` with each row repeated for `col` in `a..b` (inclusive), the
    * generated table aliased `alias`. */
  def lateralRange(spark: Boolean, rel: String, a: Int, b: Int, alias: String,
      col: String): String =
    if (spark) s"$rel LATERAL VIEW explode(sequence($a, $b)) $alias AS $col"
    else s"$rel CROSS JOIN range(${if (a == 0) "" else s"$a, "}${b + 1}) $alias($col)"

  /** Interpolated median aggregate. */
  def median(spark: Boolean, e: String): String =
    if (spark) s"percentile($e, 0.5D)" else s"quantile_cont($e, 0.5)"

  /** Whole seconds since the epoch of the TIMESTAMP `ts`, as BIGINT. */
  def epochSeconds(spark: Boolean, ts: String): String =
    if (spark) s"unix_timestamp($ts)" else s"CAST(FLOOR(epoch($ts)) AS BIGINT)"
}
