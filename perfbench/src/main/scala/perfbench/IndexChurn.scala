package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{AnnIndex, AnnSearch}

/** `index_churn`: writes beside reads on a persisted LSH index. Set-up
  * builds the index over seeded clustered 64-d vectors; the measured phase
  * runs rounds of one `AnnIndex.append(batch, batchId)`, a fixed number of
  * `lshTopK` probes, and a `compact` every few batches. Afterwards batch 0
  * is delivered again (an at-least-once replay), which must leave the probe
  * answers unchanged. Probe answers are checked against an exact scan of
  * the probed buckets, and recall@10 against an exact scan of all live
  * vectors. */
object IndexChurn {

  val Dim = 64
  val NBits = 6
  val Probes = 4
  val K = 10
  val ProbesPerRound = 6
  val CompactEvery = 2

  /** Seeded clustered vectors: cluster centre plus Gaussian noise. Each
    * vector comes from its own generator, keyed by its id, so any vector can
    * be made again without the others and nothing has to hold them. */
  final class Gen(seed: Long, clusters: Int) extends Serializable {
    private val centres = {
      val r = new java.util.Random(seed)
      Array.fill(clusters, Dim)(r.nextGaussian())
    }
    def vector(id: Long): Array[Double] = {
      val r = new java.util.SplittableRandom(seed * 1000003L + id)
      val c = centres(r.nextInt(clusters))
      Array.tabulate(Dim)(j => c(j) + 0.35 * r.nextGaussian())
    }
    def vectors(firstId: Long, n: Int): IndexedSeq[(Long, Array[Double])] =
      (firstId until firstId + n).map(i => (i, vector(i)))
    /** A live vector (ids 0 until `liveN`) plus noise. */
    def query(r: java.util.Random, liveN: Int): Seq[Double] =
      vector(r.nextInt(liveN).toLong).toSeq.map(x => x + 0.2 * r.nextGaussian())
  }

  private def frame(spark: SparkSession, rows: Seq[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    rows.map { case (i, v) => (i, v.toSeq) }.toDF("id", "vec")
  }

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def cosine(a: Array[Double], b: Seq[Double]): Double = {
    var dot, na, nb = 0.0; var i = 0
    while (i < a.length) { val x = a(i); val y = b(i); dot += x * y; na += x * x; nb += y * y; i += 1 }
    na = math.sqrt(na); nb = math.sqrt(nb)
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (na * nb)
  }

  /** Exact top-k by (rounded cosine desc, id asc) over `pool`. */
  private def exactTopK(pool: Iterable[(Long, Array[Double])], q: Seq[Double]): Seq[(Long, Double)] =
    pool.map { case (i, v) => (i, round6(cosine(v, q))) }.toSeq
      .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)).take(K)

  private def listFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Seq.empty
    else scala.util.Using.resource(Files.walk(root)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toSeq
    }
  private def bytes(ps: Seq[Path]): Long = ps.map(p => Files.size(p)).sum

  def run(ctx: Main.Ctx): Main.Outcome = {
    val spark = ctx.spark
    val cfg = ctx.cfg
    val (baseN, batchN, clusters) = if (cfg.smoke) (4000, 200, 16) else (80000, 1000, 64)
    val gen = new Gen(cfg.seed, clusters)
    val maxBatches = 40
    def batch(b: Int) = gen.vectors(baseN + b.toLong * batchN, batchN)
    // the base vectors are made by the executors and cached for the builds
    // only: the driver holds none of them while heap and cache are read
    val baseDf = {
      import spark.implicits._
      spark.range(0, baseN, 1, cfg.nproc).map(i => (i.longValue, gen.vector(i).toSeq))
        .toDF("id", "vec").cache()
    }
    baseDf.count()
    Main.phase("vectors generated")

    // set-up: repeated builds into fresh paths; the last one is churned
    var path = ""
    val builds = (1 to 3).map { r =>
      path = Paths.get(cfg.work, s"lsh-$r").toAbsolutePath.toString
      val t0 = System.nanoTime()
      AnnIndex.buildLsh(baseDf, "id", col("vec"), Dim, path, nBits = NBits, seed = 42L)
      (System.nanoTime() - t0) / 1e9
    }
    baseDf.unpersist(blocking = true)
    val root = Paths.get(path)
    Main.phase("index built")

    val rnd = new java.util.Random(cfg.seed ^ 0x5eedL)
    // ids are dense: the live set is ids 0 until liveN
    var liveN = baseN
    val userBytesPerVec = Dim * 8.0
    var appendedUserBytes = 0.0
    var writtenBytes = 0L
    /** `liveN`: how many vectors the index held (ids 0 until liveN). */
    final case class Probe(q: Seq[Double], got: Seq[(Long, Double)], ms: Double,
        an: Option[OpAnatomy], liveN: Int)
    val probes = scala.collection.mutable.ArrayBuffer.empty[Probe]
    val appends = scala.collection.mutable.ArrayBuffer.empty[(Double, Option[OpAnatomy])]
    val compacts = scala.collection.mutable.ArrayBuffer.empty[Double]
    var filesAfterAppend = 0
    def timedOp[T](name: String)(body: => T)(results: T => Long): (T, Double, Option[OpAnatomy]) =
      ctx.stats match {
        case Some(st) =>
          val (r, an) = Anatomy.measure(st)(ctx.tracer.span(name)(body))(results)
          (r, an.wallMs, Some(an))
        case None =>
          val t0 = System.nanoTime()
          val r = body
          (r, (System.nanoTime() - t0) / 1e6, None)
      }
    def lshTopK(q: Seq[Double]): Seq[(Long, Double)] =
      AnnIndex.lshTopK(spark, path, "id", q, K, probes = Probes).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // traced runs send every other probe with the listeners detached; the
    // latency difference is the tracing overhead
    val plainProbeMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    def probe(q: Seq[Double]): Probe = ctx.stats match {
      case Some(st) if probes.size % 2 == 1 =>
        st.detach()
        val t0 = System.nanoTime()
        val rows = lshTopK(q)
        val ms = (System.nanoTime() - t0) / 1e6
        st.attach()
        plainProbeMs += ms
        Probe(q, rows, ms, None, liveN)
      case _ =>
        val (rows, ms, an) = timedOp("annindex.lshTopK")(lshTopK(q))(_.size.toLong)
        Probe(q, rows, ms, an, liveN)
    }

    val t0 = System.nanoTime()
    val deadline = ctx.deadline()
    var b = 0
    while ((System.nanoTime() < deadline || b == 0) && b < maxBatches) {
      val rows = batch(b)
      val before = listFiles(root).toSet
      val (_, ams, aan) = timedOp("annindex.append")(
        AnnIndex.append(frame(spark, rows), "id", col("vec"), path, Some(b.toLong)))(_ => 0L)
      val after = listFiles(root)
      writtenBytes += bytes(after.filterNot(before))
      filesAfterAppend = after.size
      appendedUserBytes += rows.size * userBytesPerVec
      appends += ((ams, aan))
      liveN += rows.size
      (0 until ProbesPerRound).foreach(_ => probes += probe(gen.query(rnd, liveN)))
      if (b % CompactEvery == CompactEvery - 1) {
        val (_, cms, _) = timedOp("annindex.compact")(AnnIndex.compact(spark, path))(_ => 0L)
        compacts += cms
      }
      b += 1
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    Main.phase("measured")
    // at-least-once replay of batch 0 (untimed): the probe answers before
    // and after must be the same, whether or not a compaction folded it
    val replayQs = probes.takeRight(2).map(_.q)
    val beforeReplay = replayQs.map(lshTopK)
    AnnIndex.append(frame(spark, batch(0)), "id", col("vec"), path, Some(0L))
    val replayOk = replayQs.map(lshTopK) == beforeReplay
    val heap = Memory.liveHeapMb()
    val (blocks, cachedMb) = Memory.cached(spark)
    val files = listFiles(root)
    val diskBytes = bytes(files)

    // checks, outside the timed region: the stored index holds every live
    // vector exactly once, each probe equals an exact scan of its probed
    // buckets, and recall@10 is measured against an exact scan of all
    val stored = spark.read.parquet(path).select(col("id"), col("bucket").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val storedOk = stored.length == liveN && stored.map(_._1).toSet == (0L until liveN).toSet
    val bucketOf = stored.toMap
    val liveSeq = gen.vectors(0L, liveN)
    val wrong = probes.count { p =>
      val buckets = AnnSearch.probeBuckets(p.q, NBits, 42L, Probes).toSet
      val pool = liveSeq.view.take(p.liveN).filter { case (i, _) => bucketOf.get(i).exists(buckets) }
      exactTopK(pool, p.q) != p.got
    }
    val recall = probes.map { p =>
      val truth = exactTopK(liveSeq.take(p.liveN), p.q).map(_._1).toSet
      p.got.count(g => truth(g._1)).toDouble / truth.size
    }
    val lat = probes.map(_.ms).toSeq
    val opMs = appends.map(_._1).sum + probes.map(_.ms).sum + compacts.sum
    // throughput of the steady round mix (one append, the probes, a share
    // of a compaction) from the per-type medians: where the deadline cuts a
    // round does not change it
    val compactShare = if (compacts.isEmpty) 0.0 else 1.0 / CompactEvery
    val roundOps = 1 + ProbesPerRound + compactShare
    val roundMs = Stats.median(appends.map(_._1).toSeq) + ProbesPerRound * Stats.median(lat) +
      (if (compacts.isEmpty) 0.0 else Stats.median(compacts.toSeq) * compactShare)
    val attempted = probes.size + appends.size + compacts.size
    val failed = wrong + (if (replayOk) 0 else 1)
    val anat = probes.flatMap(_.an).toSeq
    Main.Outcome(
      buildS = builds,
      endToEnd = Seq(
        "op_p50_ms" -> Stats.quantile(lat, 0.5),
        "ops_per_s" -> roundOps / (roundMs / 1000.0),
        "live_heap_mb" -> heap),
      perLayer =
        if (ctx.cfg.trace) Anatomy.summarize(anat) ++ Seq(
          "spark.cached_blocks_end" -> blocks,
          "spark.cached_mb_end" -> cachedMb,
          "trace.overhead_pct" -> 100.0 * (Stats.median(anat.map(_.wallMs)) /
            Stats.median(plainProbeMs.toSeq) - 1.0),
          "trace.span_cover" -> opMs / 1000.0 / elapsedS)
        else Seq.empty,
      attempted = attempted,
      failed = failed,
      checks = Seq(
        Main.Check("churn.probes_match_exact_bucket_scan", wrong == 0,
          s"$wrong wrong of ${probes.size}"),
        Main.Check("churn.replay_leaves_answers_unchanged", replayOk),
        Main.Check("churn.index_holds_live_set_once", storedOk,
          s"stored ${stored.length}, live $liveN")),
      detail = Seq(
        "index_build_s" -> Stats.median(builds),
        "append_p50_ms" -> Stats.median(appends.map(_._1).toSeq),
        "probe_p50_ms" -> Stats.quantile(lat, 0.5),
        "probe_p90_ms" -> Stats.quantile(lat, 0.9),
        "ann_recall_at_10" -> (if (recall.isEmpty) 0.0 else recall.sum / recall.size),
        "error_rate" -> failed.toDouble / math.max(1, attempted),
        "batches" -> b,
        "probes" -> probes.size,
        "compactions" -> compacts.size,
        "indexio.files_after_append" -> filesAfterAppend,
        "indexio.bytes_per_user_byte" -> writtenBytes / math.max(1.0, appendedUserBytes),
        "indexio.space_per_live_byte" -> diskBytes / (liveN * userBytesPerVec),
        "indexio.compact_s" -> (if (compacts.isEmpty) 0.0 else Stats.median(compacts.toSeq) / 1000),
        "probe.rows_read_per_result" -> Stats.median(anat.map(a =>
          a.jobs.map(_.inputRecords).sum.toDouble / math.max(1L, a.results))),
        "probe.jobs" -> Stats.median(anat.map(_.jobs.size.toDouble)),
        "append.jobs" -> Stats.median(appends.flatMap(_._2).map(_.jobs.size.toDouble).toSeq)))
  }
}
