package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** `pipeline_sf01`: the batch half of the system. A fixed cross-section of
  * the declared `SparkEntry.queries`, with every operator family in it, runs
  * over the generated tables in a fixed order into the noop sink, pass
  * after pass until the measuring time is used (at least one pass). The
  * persisted-index builds of the queries in the set run during set-up.
  * After measuring, each query's output is written once to parquet for
  * `run.py` to compare with its DuckDB oracle. */
object Pipeline {

  /** query -> family, by the module of the query's main operator, in the
    * order a pass runs them. */
  val Families: Seq[(String, String)] = Seq(
    "q_num_topk" -> "topk", "q_spatial_knn" -> "topk", "q_cat_topk" -> "topk",
    "q_sim_matrix" -> "topk",
    "q_dedup_exact" -> "dedup", "q_dedup_lines" -> "dedup",
    "q_fingerprint" -> "dedup", "q_dedup_incr" -> "dedup",
    "q_ann_lsh" -> "ann", "q_ann_cosine" -> "ann", "q_ann_lsh_mp" -> "ann",
    "q_scrub_pii" -> "text", "q_token_count" -> "text", "q_gopher" -> "text",
    "q_tfidf" -> "text",
    "q_image_phash" -> "multimodal", "q_audio_fp" -> "multimodal",
    "q_video_frames" -> "multimodal", "q_webp_anim_neardup" -> "multimodal",
    "q_window_agg" -> "other", "q_sessionize" -> "other",
    "q_sample_stratified" -> "other", "q_quantize" -> "other")

  /** The queries of the inventory that build a persisted index on first
    * call; their first call is set-up, later calls probe. */
  val IndexQueries: Seq[String] = Seq("q_ann_idx", "q_ann_ivf_idx", "q_pq_ivf_idx",
    "q_ann_incr", "q_dedup_incr", "q_dedup_incr_exact", "q_lm_model",
    "q_image_incr", "q_video_incr")

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  final case class QueryRun(name: String, planMs: Double, wallMs: Double,
      an: Option[OpAnatomy], ok: Boolean, error: String)

  def run(ctx: Main.Ctx): Main.Outcome = {
    val spark = ctx.spark
    val cfg = ctx.cfg
    val dir = Paths.get(cfg.data).toAbsolutePath.toString
    val family = Families.toMap.withDefaultValue("other")
    val names = Families.map(_._1)
    val indexQs = names.filter(IndexQueries.contains)

    // set-up: the index builds, repeated into fresh temp roots (the index
    // queries place their index under java.io.tmpdir); the last root serves
    val reps = (1 to 3).map { r =>
      val tmp = Paths.get(cfg.work, s"idx-$r").toAbsolutePath
      Files.createDirectories(tmp)
      System.setProperty("java.io.tmpdir", tmp.toString)
      indexQs.map { q =>
        val t0 = System.nanoTime()
        graft.util.CacheScope.withScope(noop(SparkEntry.queries(q)(spark, dir)))
        spark.catalog.clearCache()
        q -> (System.nanoTime() - t0) / 1e9
      }
    }
    val builds = reps.map(_.map(_._2).sum)
    Main.phase("indexes built")

    val runs = scala.collection.mutable.ArrayBuffer.empty[QueryRun]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val deadline = ctx.deadline()
    while (passes.isEmpty || System.nanoTime() < deadline) {
      val p0 = System.nanoTime()
      // a fixed order: one-time costs that queries share (a tokenizer's lazy
      // set-up, the first compile of a shared expression) land on the same
      // query in every run; a seed-permuted order moved them from query to
      // query and the median with them, by up to a quarter
      names.foreach { q =>
        val fn = SparkEntry.queries(q)
        var planMs = 0.0
        def body(): Unit = graft.util.CacheScope.withScope {
          val s = System.nanoTime()
          val df = ctx.tracer.span("operators.plan")(fn(spark, dir))
          planMs = (System.nanoTime() - s) / 1e6
          ctx.tracer.span("spark.execute")(noop(df))
        }
        val r = ctx.stats match {
          case Some(st) =>
            try {
              val (_, an) = Anatomy.measure(st)(ctx.tracer.span(s"query.$q")(body()))(_ => 1L)
              QueryRun(q, planMs, an.wallMs, Some(an), ok = true, "")
            } catch { case scala.util.control.NonFatal(e) =>
              QueryRun(q, planMs, Double.PositiveInfinity, None, ok = false, e.toString) }
          case None =>
            val s = System.nanoTime()
            try { body(); QueryRun(q, planMs, (System.nanoTime() - s) / 1e6, None, ok = true, "") }
            catch { case scala.util.control.NonFatal(e) =>
              QueryRun(q, planMs, Double.PositiveInfinity, None, ok = false, e.toString) }
        }
        spark.catalog.clearCache()
        runs += r
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    Main.phase("measured")
    val heap = Memory.liveHeapMb()
    val (blocks, cachedMb) = Memory.cached(spark)
    val overhead = ctx.stats.map(st => Overhead.sentinelPct(spark, st))

    // answer dump for the DuckDB oracle comparison in run.py
    val verify = Paths.get(cfg.work, "verify")
    Files.createDirectories(verify)
    // the dump is not timed, so the queries go `nproc` at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cfg.nproc)
    val dumpErrors = try names.map { q =>
      pool.submit(() => try {
        graft.util.CacheScope.withScope(SparkEntry.queries(q)(spark, dir)
          .coalesce(1).write.mode("overwrite").parquet(verify.resolve(q).toString))
        None
      } catch { case scala.util.control.NonFatal(e) => Some(q -> e.toString) })
    }.flatMap(_.get()) finally pool.shutdown()
    Main.phase("answers dumped")
    val oracle = names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    Files.writeString(verify.resolve("oracle_sql.json"), Json.render(oracle))

    val failedRuns = runs.filterNot(_.ok)
    val lat = runs.map(_.wallMs).toSeq
    val anat = runs.flatMap(_.an).toSeq
    val mb = 1024.0 * 1024.0
    val firstPass = runs.take(names.size)
    val familyDetail = Families.map(_._2).distinct.flatMap { f =>
      val rs = firstPass.filter(r => family(r.name) == f)
      Seq(s"pipeline.$f.wall_s" -> rs.map(_.wallMs).filterNot(_.isInfinite).sum / 1000,
        s"pipeline.$f.task_s" -> rs.flatMap(_.an).flatMap(_.jobs).map(_.taskMs).sum / 1000.0)
    }
    val buildDetail = indexQs.map(q =>
      s"index.$q.build_s" -> Stats.median(reps.map(_.toMap.apply(q))))
    Main.Outcome(
      buildS = builds,
      endToEnd = Seq(
        "op_p50_ms" -> Stats.quantile(lat, 0.5),
        "ops_per_s" -> runs.count(_.ok) / elapsedS,
        "live_heap_mb" -> heap),
      perLayer =
        if (!cfg.trace) Seq.empty
        else Anatomy.summarize(anat) ++ Seq(
          "spark.cached_blocks_end" -> blocks,
          "spark.cached_mb_end" -> cachedMb,
          "trace.overhead_pct" -> overhead.getOrElse(0.0),
          "trace.span_cover" -> lat.filterNot(_.isInfinite).sum / 1000.0 / elapsedS),
      attempted = runs.size,
      failed = failedRuns.size + dumpErrors.size,
      checks = Seq(
        Main.Check("pipeline.queries_ran", failedRuns.isEmpty,
          failedRuns.take(3).map(r => s"${r.name}: ${r.error.take(200)}").mkString(" | ")),
        Main.Check("pipeline.answers_dumped", dumpErrors.isEmpty,
          dumpErrors.take(3).map { case (q, e) => s"$q: ${e.take(200)}" }.mkString(" | "))),
      detail = Seq(
        "pipeline_total_s" -> Stats.median(passes.toSeq),
        "passes" -> passes.size,
        "queries" -> names.size,
        "error_rate" -> failedRuns.size.toDouble / math.max(1, runs.size),
        "families" -> Families.toMap,
        "operators.plan_s" -> firstPass.map(_.planMs).sum / 1000,
        "spark.jobs" -> firstPass.flatMap(_.an).map(_.jobs.size).sum,
        "spark.tasks" -> firstPass.flatMap(_.an).flatMap(_.jobs).map(_.tasks).sum,
        "spark.task_s" -> firstPass.flatMap(_.an).flatMap(_.jobs).map(_.taskMs).sum / 1000.0,
        "spark.shuffle_mb" -> firstPass.flatMap(_.an).flatMap(_.jobs).map(_.shuffleBytes).sum / mb,
        "spark.spill_mb" -> firstPass.flatMap(_.an).flatMap(_.jobs).map(_.spillBytes).sum / mb,
        "spark.codegen_s" -> firstPass.flatMap(_.an).map(_.compileMs).sum / 1000) ++
        familyDetail ++ buildDetail ++ Seq(
        "per_query" -> firstPass.map(r => Map("query" -> r.name, "family" -> family(r.name),
          "wall_ms" -> r.wallMs, "plan_ms" -> r.planMs,
          "jobs" -> r.an.map(_.jobs.size), "tasks" -> r.an.map(_.jobs.map(_.tasks).sum),
          "task_ms" -> r.an.map(_.jobs.map(_.taskMs).sum),
          "shuffle_bytes" -> r.an.map(_.jobs.map(_.shuffleBytes).sum),
          "spill_bytes" -> r.an.map(_.jobs.map(_.spillBytes).sum),
          "codegen_compiles" -> r.an.map(_.compiles), "ok" -> r.ok)).toSeq))
  }
}
