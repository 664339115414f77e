package perfbench

import org.apache.spark.sql.SparkSession

/** Harness entry point for one workload run. Launched by `run.py`, which
  * generates the inputs, builds this package and prints the contract line;
  * this JVM measures and writes one result record (JSON) to `--out`.
  *
  * Timed runs (`--trace 0`) attach no listeners and record no spans. Traced
  * runs (`--trace 1`) attach a SparkListener and a QueryExecutionListener,
  * record spans, and run operations one at a time so every Spark job
  * belongs to exactly one operation. */
object Main {

  final case class Config(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, out: String, smoke: Boolean,
      nproc: Int)

  final case class Check(name: String, ok: Boolean, note: String = "")

  /** What a workload returns. `buildS` holds the workload's set-up step
    * (mount through first answer, or index build), repeated; set-up time is
    * the session start plus their median. The first repetition also pays
    * the JVM's class loading and JIT warm-up, which the median leaves out. */
  final case class Outcome(
      buildS: Seq[Double],
      endToEnd: Seq[(String, Double)],
      perLayer: Seq[(String, Double)],
      attempted: Long,
      failed: Long,
      checks: Seq[Check],
      detail: Seq[(String, Any)])

  /** Shared state handed to a workload. */
  final case class Ctx(spark: SparkSession, cfg: Config, tracer: Tracer,
      stats: Option[SparkStats]) {
    def deadline(): Long = System.nanoTime() + (cfg.seconds * 1e9).toLong
  }

  private def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Config(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("data"), req("work"), req("out"),
      m.get("smoke").contains("1"),
      m.get("nproc").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }

  private val started = System.nanoTime()
  /** Progress line on stderr (kept in the run's JVM log). */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.2f s: $name")

  def loadavg(): String =
    try scala.util.Using.resource(scala.io.Source.fromFile("/proc/loadavg"))(_.mkString.trim)
    catch { case scala.util.control.NonFatal(_) => "" }

  def session(cfg: Config): SparkSession = {
    val local = new java.io.File(cfg.work, "spark-local")
    local.mkdirs()
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${cfg.nproc}]") // pinned: nothing defaults to a wider pool
      .config("spark.sql.shuffle.partitions", cfg.nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(cfg.work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new java.io.File(cfg.work, "hadoop").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val entry = System.nanoTime()
    val cfg = parse(args)
    val loadStart = loadavg()
    val spark = session(cfg)
    val sessionS = (System.nanoTime() - entry) / 1e9
    phase("session ready")
    // what the session alone holds; live_heap_mb minus this is what the
    // workload's set-up and operations left behind
    val heapAfterSession = Memory.liveHeapMb()
    val tracer = new Tracer(cfg.trace)
    val stats = if (cfg.trace) Some(new SparkStats(spark)) else None
    stats.foreach(_.attach())
    val ctx = Ctx(spark, cfg, tracer, stats)
    val outcome = cfg.workload match {
      case "search_serve" => SearchServe.run(ctx)
      case "pipeline_sf01" => Pipeline.run(ctx)
      case "index_churn" => IndexChurn.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupS = sessionS + Stats.median(outcome.buildS)
    phase("workload done")
    val kernels = if (cfg.trace) Kernels.run(spark, cfg) else Seq.empty
    val perLayer =
      if (!cfg.trace) Seq.empty
      else outcome.perLayer ++ Seq(
        "setup.session_s" -> sessionS,
        "setup.build_s" -> Stats.median(outcome.buildS),
        "setup.first_build_s" -> outcome.buildS.head) ++ kernels
    if (cfg.trace) {
      stats.foreach(_.detach())
      tracer.write(java.nio.file.Paths.get(cfg.out + ".spans.jsonl"))
    }
    val metrics = (Seq("setup_s" -> setupS) ++ outcome.endToEnd).toMap
    val record = Json.obj(
      "workload" -> cfg.workload,
      "seed" -> cfg.seed,
      "trace" -> cfg.trace,
      "smoke" -> cfg.smoke,
      "stamp" -> Map(
        "nproc" -> cfg.nproc,
        "spark_master" -> spark.sparkContext.master,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> spark.version,
        "seed" -> cfg.seed,
        "loadavg_start" -> loadStart,
        "loadavg_end" -> loadavg()),
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "checks" -> outcome.checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "note" -> c.note)),
      "end_to_end" -> metrics,
      "per_layer" -> perLayer.toMap,
      "setup_builds_s" -> outcome.buildS,
      "heap_after_session_mb" -> heapAfterSession,
      "span_self_ms" -> tracer.selfMsByName,
      "detail" -> outcome.detail.toMap)
    java.nio.file.Files.write(java.nio.file.Paths.get(cfg.out), record.getBytes("UTF-8"))
    spark.stop()
  }
}
