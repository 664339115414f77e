package graft

import org.apache.spark.sql.execution.ExplainMode

/** Measurement tool (optimization rounds): dump `.explain("formatted")` for
  * every declared query to `<outDir>/<name>.txt`, so plan-shape claims
  * (Exchange counts, join strategies, PushedFilters/ReadSchema) are checkable
  * without running Spark. Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> [query ...]
  * With no query names, dumps every query in SparkEntry.queries. This tool is
  * read-only over the inputs and never executes the plans (explain only), so
  * it cannot perturb the bench or the correctness gate. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "target/plans"
    val only = args.drop(2).toSet
    val spark = graft.util.LocalSession("graft-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    names.foreach { name =>
      try graft.util.CacheScope.withScope {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] $name ok (${txt.length} chars)")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    spark.stop()
  }
}
