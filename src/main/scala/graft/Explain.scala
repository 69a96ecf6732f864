package graft

/** Plan-inspection main: prints the formatted physical plan of each named
  * query. The final job is not executed, but building a DML spec's
  * DataFrame runs its side-effecting setup (CTAS/INSERT write paths), so
  * the DML family is skipped unless named explicitly via a prefix.
  *
  *   runMain graft.Explain /root/testdata/sf0.01 q114,q116
  *
  * The per-operator review loop from the build brief: after a query is
  * correct, read its plan — are filters pushed to the scan, are dimension
  * joins broadcast, do whole-stage-codegen spans cover the hot path, does
  * a shuffle repeat that an earlier stage already produced? */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    // a prefix that matches no query fails here, before a session starts
    val named = if (args.length > 1) SparkEntry.selected(args(1)).map(_.toSet) else None
    val spark = graft.engine.GraftSession.local(cores = 8, shufflePartitions = 8)
    val selected = SparkEntry.specs.filter(s =>
      named.fold(!SparkEntry.sideEffecting(s.name))(_.contains(s.name)))
    selected.foreach { s =>
      println(s"[explain] ========== ${s.name} ==========")
      try {
        val df = s.run(spark, sfDir)
        // the reference's Per-Host Resource Estimates header
        // (Planner.computeResourceReqs) atop the formatted plan
        println(graft.engine.ResourceEstimates.of(df).render)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch {
        case e: Throwable => println(s"[explain] ERROR: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
