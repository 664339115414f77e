package graft.util

import org.apache.spark.sql.SparkSession

/** The one session factory of the project's mains (Bench, Verify,
  * ScaleProbe, PlanDump, Main, IndexTool): UTC session time zone, no UI,
  * and `local[n]` with `n` shuffle partitions. `n` is `SPARK_GRAFT_CPUS`
  * when set, else the JVM's available processors. `SPARK_MASTER` replaces
  * the local master; a `spark.master` that is already configured (as
  * spark-submit does, through system properties) is left alone. */
object LocalSession {

  /** The settings the session is built with: a pure function of the
    * environment, the already-configured `spark.*` properties and the
    * available processor count. */
  private[graft] def settings(env: Map[String, String], props: Map[String, String],
      processors: Int): Seq[(String, String)] = {
    val n = env.getOrElse("SPARK_GRAFT_CPUS", processors.toString)
    val master =
      if (props.contains("spark.master")) None
      else Some("spark.master" -> env.getOrElse("SPARK_MASTER", s"local[$n]"))
    master.toSeq ++ Seq(
      "spark.sql.shuffle.partitions" -> n,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
  }

  def apply(appName: String): SparkSession =
    settings(sys.env, sys.props.toMap, Runtime.getRuntime.availableProcessors)
      .foldLeft(SparkSession.builder().appName(appName)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
}
