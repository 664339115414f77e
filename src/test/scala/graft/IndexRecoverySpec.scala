package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Dedup, IndexIO}
import graft.streaming.StreamOps

/** Crash-window hardening of the persisted-index swap/append contract:
  *
  *  - a compaction swap interrupted between its two renames leaves the
  *    index only at `<path>__old`; every bootstrap/append/compact entry
  *    point must REPAIR that state instead of reading "no index yet" and
  *    silently restarting the accepted corpus from one batch;
  *  - an empty micro-batch (or an all-rejected first curation batch) must
  *    not commit a file-less parquet directory that wedges every later
  *    read on schema inference;
  *  - a served ANN probe racing a concurrent compaction's atomic swap must
  *    retry its stale listing and answer, never surface a FileNotFound.
  */
class IndexRecoverySpec extends SparkTestBase {
  import spark.implicits._

  private def tmpDir(tag: String) =
    Files.createTempDirectory(s"graft-$tag").toString

  private def mv(a: String, b: String): Unit =
    Files.move(Paths.get(a), Paths.get(b))

  // ------------------------------------------------------------- recoverSwap

  test("recoverSwap: index stranded at __old with a complete __compacting " +
    "finishes the swap; without one it rolls back") {
    // forward case: complete the swap to the rewritten twin
    val p1 = tmpDir("rsf") + "/idx"
    Dedup.writeFingerprintIndex(Seq((1L, "a b c")).toDF("id", "text"),
      "id", col("text"), p1)
    Dedup.compactFingerprintIndex(spark, p1) // leaves a well-formed layout
    // craft the mid-swap crash: path at __old, rewritten tmp complete
    mv(p1, p1 + "__compacting__stage")
    Dedup.writeFingerprintIndex(Seq((1L, "a b c")).toDF("id", "text"),
      "id", col("text"), p1)
    mv(p1, p1 + "__old")
    mv(p1 + "__compacting__stage", p1 + "__compacting")
    IndexIO.recoverSwap(spark, p1)
    assert(new java.io.File(p1).isDirectory)
    assert(!new java.io.File(p1 + "__old").exists)
    assert(!new java.io.File(p1 + "__compacting").exists)
    assert(spark.read.parquet(p1).select("id").head.getLong(0) == 1L)

    // rollback case: no complete tmp -> restore __old
    val p2 = tmpDir("rsb") + "/idx"
    Dedup.writeFingerprintIndex(Seq((2L, "d e f")).toDF("id", "text"),
      "id", col("text"), p2)
    mv(p2, p2 + "__old")
    IndexIO.recoverSwap(spark, p2)
    assert(new java.io.File(p2).isDirectory && !new java.io.File(p2 + "__old").exists)
    assert(spark.read.parquet(p2).select("id").head.getLong(0) == 2L)
  }

  test("exactBatch after a mid-swap crash dedups against the RESTORED " +
    "corpus instead of silently rebuilding from the replayed batch") {
    val path = tmpDir("rse") + "/idx"
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    def run(batch: Seq[(Long, String)], id: Long): Unit =
      StreamOps.exactBatch(batch.toDF("doc_id", "text"), id, "doc_id", "text",
        path, (dups, _) => emitted += dups.select("id").collect()
          .map(_.getLong(0)).toSet)
    run(Seq((1L, "alpha beta"), (2L, "gamma delta")), 0L)
    assert(emitted.last == Set.empty[Long])
    // crash window: the index is stranded at __old
    mv(path, path + "__old")
    // batch 1 re-sends doc 1's text under a new id: with the bare exists()
    // bootstrap this was admitted as novel (corpus lost); with recovery it
    // is flagged as a duplicate of the restored corpus
    run(Seq((10L, "alpha beta")), 1L)
    assert(emitted.last == Set(10L),
      s"duplicate of the pre-crash corpus not detected: ${emitted.last}")
  }

  test("every append entry point repairs a table stranded at __old before " +
    "it commits: no earlier row is lost and no __old is left") {
    val dim = 4
    def vecs(ids: Seq[Long]) =
      ids.map(i => (i, Seq.tabulate(dim)(j => math.sin(i * 7.0 + j)))).toDF("id", "v")
    def docs(ids: Seq[Long]) = ids.map(i =>
      (i, (1 to 12).map(w => s"w${i}x$w").mkString(" "))).toDF("id", "text")
    def sigs(ids: Seq[Long]) = ids.map(i => (i, i * 0x9E3779B97F4A7C15L)).toDF("id", "sig")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id").cast("long")).collect().map(_.getLong(0)).toSet
    def read(p: String) = ids(spark.read.parquet(p))
    val shingles = graft.functions.NativeKernels.wordShingles2(col("text"))
    val cents = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(-1.0, 0.0, 0.0, 0.0))
    type Commit = (String, Seq[Long]) => Unit
    // (entry point, the first commit, one more batch through the entry
    // point, the ids the table holds — for two tables, the ids both hold)
    val cases: Seq[(String, Commit, Commit, String => Set[Long])] = Seq(
      ("appendLsh",
        (p, i) => AnnIndex.buildLsh(vecs(i), "id", col("v"), dim, p, nBits = 2),
        (p, i) => AnnIndex.appendLsh(vecs(i), "id", col("v"), p, Some(1L)), read),
      ("appendIvf",
        (p, i) => AnnIndex.buildIvf(vecs(i), "id", col("v"), cents, p),
        (p, i) => AnnIndex.appendIvf(vecs(i), "id", col("v"), p, Some(1L)), read),
      ("writeBandIndex",
        (p, i) => Dedup.writeBandIndex(docs(i), "id", shingles, p),
        (p, i) => Dedup.writeBandIndex(docs(i), "id", shingles, p, batchId = Some(1L)),
        p => read(s"$p/shingles") & read(s"$p/bands")),
      ("writeHammingIndex",
        (p, i) => Dedup.writeHammingIndex(sigs(i), "id", "sig", p),
        (p, i) => Dedup.writeHammingIndex(sigs(i), "id", "sig", p, batchId = Some(1L)),
        p => read(s"$p/bands")),
      ("writeFingerprintIndex",
        (p, i) => Dedup.writeFingerprintIndex(docs(i), "id", col("text"), p),
        (p, i) => Dedup.writeFingerprintIndex(docs(i), "id", col("text"), p,
          batchId = Some(1L)), read),
      ("parquetSink",
        (p, i) => StreamOps.parquetSink(p)(docs(i), 0L),
        (p, i) => StreamOps.parquetSink(p)(docs(i), 1L),
        p => ids(StreamOps.readSink(spark, p))))
    for ((name, create, append, held) <- cases) {
      val path = tmpDir(s"strand-$name") + "/t"
      create(path, Seq(1L, 2L, 3L))
      mv(path, path + "__old") // crash window: the table is stranded at __old
      append(path, Seq(4L, 5L))
      assert(held(path) == Set(1L, 2L, 3L, 4L, 5L), name)
      assert(!new java.io.File(path + "__old").exists, name)
    }
  }

  test("compactFingerprintIndex keeps the bloom of an index stranded at __old") {
    val path = tmpDir("strand-bloom") + "/fp"
    Dedup.writeFingerprintIndex(Seq((1L, "a b c"), (2L, "d e f")).toDF("id", "text"),
      "id", col("text"), path)
    Dedup.writeFingerprintBloom(spark, path)
    mv(path, path + "__old") // crash window: the index is stranded at __old
    Dedup.compactFingerprintIndex(spark, path)
    assert(Dedup.readFingerprintBloom(spark, path).isDefined,
      "the compaction folded the restored index without its bloom")
    assert(!new java.io.File(path + "__old").exists)
  }

  test("compactHammingIndex's maxDf cap leaves batches newer than through as " +
    "they were") {
    val path = tmpDir("hamming-cap") + "/h"
    // every signature is carried by four ids in each batch: over the whole
    // table far more than the cap, within the folded batches as well; only
    // id 999's signature is its own
    def sigs(batch: Long) = (0L until 8L).map(i =>
      (batch * 100 + i, (i % 2 + 1) * 0x9E3779B97F4A7C15L)).toDF("id", "sig")
    Dedup.writeHammingIndex(sigs(9).union(Seq((999L, 0x0123456789ABCDEFL)).toDF("id", "sig")),
      "id", "sig", path)
    (0L to 3L).foreach(b => Dedup.writeHammingIndex(sigs(b), "id", "sig", path, batchId = Some(b)))
    def idsPerBatch = spark.read.parquet(s"$path/bands").select(IndexIO.BatchCol, "id").collect()
      .groupBy(_.get(0).toString.toLong).map { case (b, rs) => b -> rs.map(_.getLong(1)).toSet }
    val before = idsPerBatch
    Dedup.compactHammingIndex(spark, path, through = Some(1L), maxDf = Some(3L))
    val after = idsPerBatch
    assert(after.get(2L) == before.get(2L) && after.get(3L) == before.get(3L),
      s"before $before, after $after")
    assert(after.get(-1L).contains(Set(999L)), s"the capped fold: $after")
  }

  test("a maxDf cap that drops every row leaves a Hamming index that reads " +
    "and compacts as empty") {
    val path = tmpDir("hamming-empty") + "/h"
    val sigs = (0L until 6L).map(i => (i, 0x9E3779B97F4A7C15L)).toDF("id", "sig")
    Dedup.writeHammingIndex(sigs, "id", "sig", path)
    Dedup.compactHammingIndex(spark, path, maxDf = Some(2L))
    assert(IndexIO.hasData(spark, s"$path/bands"))
    assert(spark.read.parquet(s"$path/bands").count() == 0)
    Dedup.compactHammingIndex(spark, path, maxDf = Some(2L)) // threw UNABLE_TO_INFER_SCHEMA
    assert(Dedup.incrementalHammingPairs(sigs, "id", "sig", path).count() == 0)
  }

  test("the index commit protocol has one copy under src/main: the replay " +
    "guard and the swap in IndexIO, one ingestion-loop driver in StreamOps") {
    import scala.jdk.CollectionConverters._
    val sources = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    // code lines only: scaladoc and line comments may name the calls
    val code = sources.map(p => p.getFileName.toString ->
      Files.readAllLines(p).asScala.map(_.trim).filterNot(l =>
        l.startsWith("//") || l.startsWith("*") || l.startsWith("/*")).toSeq)
    def hits(pattern: String): Map[String, Int] = code
      .map { case (f, lines) => f -> lines.count(_.contains(pattern)) }
      .filter(_._2 > 0).toMap
    // the def and the replay guard's one call
    assert(hits("alreadyCompacted(").keySet == Set("IndexIO.scala"),
      hits("alreadyCompacted(").toString)
    // the def, the compaction's swap, and at most AnnIndex.rebuild's
    val swaps = hits("swapDirs(")
    assert(swaps.keySet.subsetOf(Set("IndexIO.scala", "AnnIndex.scala")) &&
      swaps("IndexIO.scala") == 2 && swaps.getOrElse("AnnIndex.scala", 0) <= 1,
      swaps.toString)
    // the driver, annStream and profileStream
    assert(hits("foreachBatch").getOrElse("StreamOps.scala", 0) == 3,
      hits("foreachBatch").toString)
  }

  // --------------------------------------------------- empty-batch robustness

  test("curationStream survives a first batch with zero survivors (all " +
    "quality-rejected) — later batches still dedup and index") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val words = (1 to 16).map(i => s"w$i").mkString(" ")
    val root = tmpDir("curempty") + "/idx"
    val input = MemoryStream[(Long, String)]
    val perBatch = scala.collection.mutable.Map.empty[Long, Set[Long]]
    val q = StreamOps.curationStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", root, 0.8,
      length(col("text")) >= 20) { (accepted, batchId) =>
      perBatch(batchId) = accepted.select("doc_id").collect()
        .map(_.getLong(0)).toSet
    }
    try {
      input.addData((1L, "short"), (2L, "tiny")) // batch 0: all rejected
      q.processAllAvailable()
      input.addData((3L, words), (4L, words))    // batch 1: 4 = dup of 3
      q.processAllAvailable()
      input.addData((5L, words))                 // batch 2: dup vs index
      q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception.toString)
    } finally q.stop()
    assert(perBatch(0L) == Set.empty[Long])
    assert(perBatch(1L) == Set(3L), perBatch.toString)
    assert(perBatch(2L) == Set.empty[Long], perBatch.toString)
  }

  test("incremental dedup/exact streams ignore empty micro-batches without " +
    "committing file-less index directories") {
    val path = tmpDir("empt") + "/idx"
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    var calls = 0
    StreamOps.exactBatch(empty, 0L, "doc_id", "text", path,
      (_, _) => calls += 1)
    // the emission still fires (contract) but no index dir was committed
    assert(calls == 1)
    assert(!IndexIO.hasData(spark, path))
    // a later real batch bootstraps cleanly
    StreamOps.exactBatch(Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text"),
      1L, "doc_id", "text", path, (_, _) => ())
    assert(IndexIO.hasData(spark, path))

    val band = tmpDir("emptb") + "/idx"
    StreamOps.dedupBatch(empty, 0L, "doc_id", "text", band, 0.8, (_, _) => ())
    assert(!IndexIO.hasData(spark, s"$band/bands"))
  }

  test("the annindex.compactEvery session knob drives in-loop compaction " +
    "when the stream's argument is left at default") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val path = tmpDir("knob") + "/idx"
    val input = MemoryStream[(Long, String)]
    spark.conf.set(graft.api.Knobs.AnnIndexCompactEvery, "1")
    val q = try StreamOps.incrementalExactStream(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", path)((_, _) => ())
      finally ()
    try {
      input.addData((1L, "aa bb")); q.processAllAvailable()
      input.addData((2L, "cc dd")); q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception.toString)
    } finally { q.stop(); spark.conf.unset(graft.api.Knobs.AnnIndexCompactEvery) }
    // the fold ran at batch 1 (through = 0): batch 0 is folded into the base
    val dirs = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq.sorted
    assert(dirs == Seq("batch=-1", "batch=1"), dirs.toString)
  }

  // ------------------------------------------------------- probe resilience

  test("retryStale retries stale listings with a bound, passes other " +
    "failures through") {
    var n = 0
    val got = IndexIO.retryStale() {
      n += 1
      if (n < 3) throw new RuntimeException("wrap",
        new java.io.FileNotFoundException("part-0000 does not exist"))
      42
    }
    assert(got == 42 && n == 3)
    intercept[IllegalArgumentException] {
      IndexIO.retryStale() { throw new IllegalArgumentException("real bug") }
    }
    val e = intercept[RuntimeException] {
      IndexIO.retryStale(attempts = 2, backoffMs = 1) {
        throw new RuntimeException("x",
          new java.io.FileNotFoundException("gone"))
      }
    }
    assert(e.getMessage == "x") // bounded: the stale failure surfaces
  }

  test("lshTopK rides through the index briefly vanishing mid-probe (the " +
    "swap window) and answers identically") {
    val dim = 8
    val rnd = new scala.util.Random(31)
    val emb = (0 until 300).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextDouble() * 2 - 1))).toDF("vid", "v")
    val path = tmpDir("probe") + "/idx"
    AnnIndex.buildLsh(emb, "vid", col("v"), dim, path)
    val q = Seq.fill(dim)(rnd.nextDouble() * 2 - 1)
    val expect = AnnIndex.lshTopK(spark, path, "vid", q, 10, probes = 8)
      .collect().map(_.toSeq).toSeq
    // take the index away, probe from another thread (it must retry), put
    // the index back inside the retry horizon
    mv(path, path + "__swapping")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val probe = Future(
      AnnIndex.lshTopK(spark, path, "vid", q, 10, probes = 8)
        .collect().map(_.toSeq).toSeq)
    Thread.sleep(60)
    mv(path + "__swapping", path)
    assert(Await.result(probe, 30.seconds) == expect)
  }

  test("probe loop racing repeated compactions: zero failed probes, " +
    "identical answers throughout") {
    val dim = 8
    val rnd = new scala.util.Random(37)
    val emb = (0 until 300).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextDouble() * 2 - 1))).toDF("vid", "v")
    val path = tmpDir("race") + "/idx"
    AnnIndex.buildLsh(emb, "vid", col("v"), dim, path)
    val extra = (300 until 340).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextDouble() * 2 - 1))).toDF("vid", "v")
    AnnIndex.append(extra, "vid", col("v"), path, batchId = Some(0L))
    val q = Seq.fill(dim)(rnd.nextDouble() * 2 - 1)
    def answer() = AnnIndex.lshTopK(spark, path, "vid", q, 10, probes = 16)
      .collect().map(_.toSeq).toSeq
    val expect = answer()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    @volatile var stop = false
    val started = new java.util.concurrent.CountDownLatch(1)
    val probes = Future {
      var n = 0
      while (!stop) {
        assert(answer() == expect, s"probe $n diverged")
        n += 1; started.countDown()
      }
      n
    }
    // under a loaded host the Future can sit queued while the compactions
    // finish — wait for the first probe so the loop provably overlaps them
    assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "the probe loop never started")
    try (1 to 3).foreach(_ => AnnIndex.compact(spark, path))
    finally stop = true
    val ran = Await.result(probes, 60.seconds)
    assert(ran > 0, "the probe loop never ran during the compactions")
    assert(answer() == expect)
  }

  test("IVF-PQ probes ride through racing compactions too: zero failures, " +
    "identical ADC answers") {
    val dim = 8
    val rnd = new scala.util.Random(41)
    val emb = (0 until 300).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextDouble() * 2 - 1))).toDF("vid", "v")
    val cents = (0 until 4).map(_ => Seq.fill(dim)(rnd.nextDouble() * 2 - 1))
    val books = graft.operators.Quantize.pqTrain(emb, col("vid"), col("v"),
      m = 2, nCodes = 4, iters = 1)
    val path = tmpDir("race-pq") + "/idx"
    AnnIndex.buildIvfPq(emb, "vid", col("v"), cents, books, path)
    AnnIndex.append((300 until 330).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextDouble() * 2 - 1))).toDF("vid", "v"),
      "vid", col("v"), path, batchId = Some(0L))
    val q = Seq.fill(dim)(rnd.nextDouble() * 2 - 1)
    def answer() = AnnIndex.ivfPqTopK(spark, path, "vid", q, 10, nProbe = 4)
      .collect().map(_.toSeq).toSeq
    val expect = answer()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    @volatile var stop = false
    val started = new java.util.concurrent.CountDownLatch(1)
    val probes = Future {
      var n = 0
      while (!stop) {
        assert(answer() == expect, s"probe $n diverged")
        n += 1; started.countDown()
      }
      n
    }
    assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "the probe loop never started")
    try (1 to 3).foreach(_ => AnnIndex.compact(spark, path))
    finally stop = true
    val ran = Await.result(probes, 60.seconds)
    assert(ran > 0, "the probe loop never ran during the compactions")
    assert(answer() == expect)
  }
}
