package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates every judge-facing query from the operator modules. */
object SparkEntry {

  /** Registry of all implemented queries (SURVEY.md §2 inventory). */
  def specs: Seq[QuerySpec] =
    operators.Relational.all ++
      operators.TpchFull.all ++
      operators.TpcdsShapes.all ++
      operators.Joins.all ++
      operators.Skew.all ++
      operators.Subqueries.all ++
      operators.SetOps.all ++
      operators.Aggregates.all ++
      operators.Windows.all ++
      operators.Functions.all ++
      operators.Nested.all ++
      operators.Events.all ++
      operators.Dml.all ++
      operators.Layout.all ++
      llmops.Sharding.all ++
      llmops.Dedup.all ++
      llmops.Similarity.all ++
      llmops.TextAnalysis.all ++
      llmops.SuffixArray.all ++
      llmops.BpeTokenizer.all ++
      llmops.UnigramTokenizer.all ++
      llmops.TokenizerCompare.all ++
      llmops.Multimodal.all ++
      llmops.Clustering.all ++
      llmops.Retrieval.all ++
      llmops.CorpusStats.all ++
      llmops.QualityEval.all ++
      llmops.Reliability.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q01AggTpchQ1.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    specs.flatMap(s => s.oracle.map(o => s.name -> o)).toMap

  /** The registry names selected by a comma-separated list of name
    * prefixes (Bench's SPARK_GRAFT_BENCH_ONLY, Verify's third argument),
    * sorted; None when the list holds no prefix. Blank entries are
    * dropped, because the empty prefix would match every name. A prefix
    * that matches no registry query fails the selection, named in the
    * message, instead of selecting nothing. */
  def selected(prefixList: String): Option[Seq[String]] = {
    val prefixes = prefixList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    Option.when(prefixes.nonEmpty) {
      val names = queries.keys.toSeq.sorted
      val unmatched = prefixes.filterNot(p => names.exists(_.startsWith(p)))
      require(unmatched.isEmpty,
        s"no registry query matches the name prefix(es) ${unmatched.mkString(",")}")
      names.filter(n => prefixes.exists(n.startsWith))
    }
  }

  /** Specs whose run() performs writes while constructing the result:
    * [[Explain]] and the registry-wide plan sweeps build every other
    * query's DataFrame freely, these only when named. */
  val sideEffecting: Set[String] = Set(
    "q70_dml_ctas", "q71_dml_insert_partitioned", "q72_dml_update_merge",
    "q73_dml_delete", "q74_dml_views", "q75_dml_catalog", "q77_dml_formats")

  /** Headline subset timed by [[Bench]] at sf0.1 — one representative per
    * heavy plan shape (scan/agg, join, topn, window, dedup, ANN, …). */
  def benchQueries: Seq[String] =
    specs.filter(_.bench).map(_.name)
}
