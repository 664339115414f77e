package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span; `parent` is -1 at top level, `req` -1 outside a
  * request. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, req: Int)

/** In-memory spans: name, start, end, parent and request id. Nothing is
  * recorded when tracing is off, so timed runs pay one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)

  def span[T](name: String, req: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized { spans += Span(id, name, t0, t1, parent, req) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toSeq)

  /** Median self time (duration minus its direct children's) per span
    * name, in ms. */
  def selfMsByName: Map[String, Double] = {
    val s = all
    val childNs = s.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    s.groupBy(_.name).map { case (n, xs) =>
      n -> Stats.median(xs.map(x => (x.endNs - x.startNs - childNs.getOrElse(x.id, 0L)) / 1e6)) }
  }

  /** Spans as JSON lines, written when the run ends. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { x =>
      Json.obj("id" -> x.id, "name" -> x.name, "start_ns" -> x.startNs,
        "end_ns" -> x.endNs, "parent" -> x.parent, "req" -> x.req)
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** One finished Spark job with the task metrics of all its stages. */
final case class JobRecord(jobId: Int, startMs: Long, endMs: Long,
    tasks: Long, taskMs: Long, inputBytes: Long, inputRecords: Long,
    shuffleBytes: Long, spillBytes: Long)

/** Job, stage and task metrics from a SparkListener, plus the SQL planning
  * phases from a QueryExecutionListener. Operations are attributed by
  * wall-clock window, which is exact when one operation runs at a time
  * (the traced runs). */
final class SparkStats(spark: SparkSession) extends SparkListener {
  private final class Acc {
    var tasks, taskMs, inBytes, inRecs, shufBytes, spill = 0L
  }
  private val stageAcc = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
  private val jobStages = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = ArrayBuffer.empty[JobRecord]
  /** (end wall ms, analysis+optimization+planning ms) per SQL action. */
  private val sqlPlans = ArrayBuffer.empty[(Long, Double)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart.put(e.jobId, e.time)
    jobStages.put(e.jobId, e.stageIds)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val a = stageAcc.computeIfAbsent(e.stageId, _ => new Acc)
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecs += m.inputMetrics.recordsRead
        a.shufBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val stages = Option(jobStages.remove(e.jobId)).getOrElse(Seq.empty)
    val accs = stages.flatMap(s => Option(stageAcc.remove(s)))
    val start = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    jobs.synchronized {
      jobs += JobRecord(e.jobId, start, e.time, accs.map(_.tasks).sum,
        accs.map(_.taskMs).sum, accs.map(_.inBytes).sum, accs.map(_.inRecs).sum,
        accs.map(_.shufBytes).sum, accs.map(_.spill).sum)
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(p => p.durationMs.toDouble).sum
      sqlPlans.synchronized { sqlPlans += ((System.currentTimeMillis(), ms)) }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qel)
  }
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qel)
  }
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Jobs whose start falls in [fromMs, toMs]. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[JobRecord] =
    jobs.synchronized(jobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq)
  def sqlPlanMsIn(fromMs: Long, toMs: Long): Double =
    sqlPlans.synchronized(sqlPlans.filter(p => p._1 >= fromMs && p._1 <= toMs).map(_._2).sum)
}

/** Spark layer counters that are read around an operation, not from
  * events: whole-stage codegen compiles and their compile time. */
object Codegen {
  final case class Snap(compiles: Long, compileNs: Long)
  def snap(): Snap = Snap(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}

/** Everything measured about one operation in a traced run. */
final case class OpAnatomy(wallMs: Double, jobs: Seq[JobRecord],
    compiles: Long, compileMs: Double, sqlPlanMs: Double, results: Long) {
  /** Wall time inside the union of the operation's job intervals. */
  def jobWallMs: Double = {
    val iv = jobs.map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}

object Anatomy {
  /** Run `body` as one operation and collect its anatomy. Only meaningful
    * when no other operation runs at the same time. */
  def measure[T](stats: SparkStats)(body: => T)(results: T => Long): (T, OpAnatomy) = {
    val c0 = Codegen.snap()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e6
    val w1 = System.currentTimeMillis()
    val c1 = Codegen.snap()
    stats.drain()
    (out, OpAnatomy(wall, stats.jobsIn(w0, w1), c1.compiles - c0.compiles,
      (c1.compileNs - c0.compileNs) / 1e6, stats.sqlPlanMsIn(w0, w1 + 1), results(out)))
  }

  /** Median-per-operation summary of the Spark layer. */
  def summarize(ops: Seq[OpAnatomy]): Seq[(String, Double)] = {
    def med(f: OpAnatomy => Double) = Stats.median(ops.map(f))
    val mb = 1024.0 * 1024.0
    Seq(
      "spark.jobs_per_op" -> med(_.jobs.size.toDouble),
      "spark.tasks_per_op" -> med(_.jobs.map(_.tasks).sum.toDouble),
      "spark.task_ms_per_op" -> med(_.jobs.map(_.taskMs).sum.toDouble),
      "spark.codegen_compiles_per_op" -> med(_.compiles.toDouble),
      "spark.codegen_ms_per_op" -> med(_.compileMs),
      "spark.sql_plan_ms_per_op" -> med(_.sqlPlanMs),
      "spark.input_mb_per_op" -> med(_.jobs.map(_.inputBytes).sum / mb),
      "spark.shuffle_mb_per_op" -> med(_.jobs.map(_.shuffleBytes).sum / mb),
      "spark.spill_mb_per_op" -> med(_.jobs.map(_.spillBytes).sum / mb),
      "spark.rows_read_per_result" -> med(o =>
        o.jobs.map(_.inputRecords).sum.toDouble / math.max(1L, o.results)),
      "op.job_wall_ms" -> med(_.jobWallMs),
      "op.driver_ms" -> med(o => math.max(0.0, o.wallMs - o.jobWallMs)))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; +Infinity entries (failed operations)
    * sort last. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      if (s(lo).isInfinite || s(hi).isInfinite) s(hi)
      else s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Heap and cache state at the end of a measured phase. */
object Memory {
  /** Heap in use after a full GC. Spark frees the blocks of unreachable
    * broadcasts and RDDs on a cleaner thread after a collection finds them,
    * so readings are repeated, 200 ms apart, until one no longer falls
    * (at least three, at most ten); the least is returned. */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def reading(): Double = {
      System.gc(); Thread.sleep(200)
      mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var least = reading()
    var n = 1
    var falling = true
    while (n < 10 && (n < 3 || falling)) {
      val r = reading()
      falling = r < least - 0.5
      least = math.min(least, r)
      n += 1
    }
    least
  }
  def cached(spark: SparkSession): (Double, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.numCachedPartitions.toDouble).sum,
      infos.map(i => (i.memSize + i.diskSize).toDouble).sum / (1024.0 * 1024.0))
  }
}

/** Tracing overhead on a fixed job: the same sentinel job with the
  * listeners attached and detached, alternating. */
object Overhead {
  def sentinelPct(spark: SparkSession, stats: SparkStats): Double = {
    def job(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 4000000L, 1, spark.sparkContext.defaultParallelism)
        .selectExpr("sum(id % 7)").collect()
      (System.nanoTime() - t0) / 1e6
    }
    val pairs = (1 to 6).map { _ =>
      val on = job()
      stats.detach()
      val off = job()
      stats.attach()
      (on, off)
    }
    100.0 * (Stats.median(pairs.map(_._1)) / Stats.median(pairs.map(_._2)) - 1.0)
  }
}
