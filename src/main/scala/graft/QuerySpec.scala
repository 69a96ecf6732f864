package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One judge-facing query: a Spark-first implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query.
  * Column names/aliases MUST match between the two — the driver's compare
  * sorts columns by name before hashing. */
final case class QuerySpec(
    name: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame,
    bench: Boolean = false,
    /** The Spark-dialect SQL text when the query is SQL-expressed —
      * consumed by the ToSql round-trip sweep (ToSqlSpec). */
    sparkSql: Option[String] = None) {
  /** Mark this query as part of the Bench headline set. */
  def benched: QuerySpec = copy(bench = true)
}

object QuerySpec {
  /** Oracle-checked query. */
  def apply(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, Some(oracle), run)

  /** Rows-only-checked query (semantics not expressible in DuckDB SQL —
    * sketches, hashes, ANN, …). */
  def noOracle(name: String)(run: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, None, run)

  /** Query written in engine-portable ANSI SQL: the same text runs on
    * Spark (via spark.sql over the registered views) and on the DuckDB
    * oracle. The natural form for the reference's SQL-surface rows
    * (SURVEY §2.2) — subqueries, CTEs, VALUES, set ops. */
  def sql(name: String, text: String): QuerySpec =
    QuerySpec(name, Some(text), (s, dir) => prepared(s, dir).sql(text),
      sparkSql = Some(text))

  /** SQL query whose Spark text must differ from the DuckDB oracle text
    * (dialect gaps: TRY_CAST spellings, function names, …). */
  def sql2(name: String, sparkText: String, oracleText: String): QuerySpec =
    QuerySpec(name, Some(oracleText), (s, dir) => prepared(s, dir).sql(sparkText),
      sparkSql = Some(sparkText))

  /** `sp.sql(text)` over `views`, each registered as a session temp view
    * for the parse and analysis only: the views are dropped before this
    * returns, because the returned DataFrame already holds its analyzed
    * plan. A view left behind would keep the relation it names (often a
    * staged checkpoint) reachable after the query is gone. */
  def sqlOver(sp: SparkSession, views: (String, DataFrame)*)(text: String): DataFrame = {
    views.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    try sp.sql(text)
    finally views.foreach { case (name, _) => discard(sp.catalog.dropTempView(name)) }
  }

  /** Prepare a session for a query run: ensure the engine's function
    * surface is registered and the sf-dir tables are visible as views. */
  def prepared(spark: SparkSession, dir: String): SparkSession = {
    discard(graft.engine.GraftSession.attach(spark))
    graft.sources.TestTables.register(spark, dir)
    spark
  }
}
