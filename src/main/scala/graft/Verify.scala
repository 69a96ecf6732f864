package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // Optional 3rd arg: comma-separated name prefixes — verify only the
    // matching queries (fast local iteration; the driver passes 2 args).
    // A prefix that matches no query fails here, before any work.
    val only = if (args.length > 2) SparkEntry.selected(args(2)).map(_.toSet) else None
    val filter: String => Boolean = n => only.forall(_(n))
    // the one engine session factory, as Bench uses: its warehouse dir
    // keeps the registry's managed DML tables out of the working tree
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.engine.GraftSession.local(cores = cpus, shufflePartitions = cpus)
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.toSeq.filter(kv => filter(kv._1))
    val failed = selected.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // one tail line that a log full of Spark WARNs cannot bury; the exit
    // status stays 0 either way (the oracle compare judges the output)
    System.err.println(
      s"[verify] ${failed.size} of ${selected.size} selected queries failed: ${failed.mkString(", ")}")
    // json4s escapes every control character, so a tab or CR inside an
    // oracle text still yields valid JSON
    val json = org.json4s.jackson.JsonMethods.compact(org.json4s.JObject(
      SparkEntry.oracleSql.filter(kv => filter(kv._1)).toList
        .map { case (k, v) => k -> org.json4s.JString(v) }))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
