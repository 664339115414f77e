package graft

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{NativeKernels, SimKernels, TextKernels}
import graft.operators._

/** Scalability probe: replicates the sf0.1 corpus 1x/4x/16x in memory and
  * times the flagship operators, to verify the scaling behavior the plans
  * promise (linear scans, candidate-bounded aggregation, bucketed dedup).
  * Replica texts get disjoint vocabularies (every word prefixed by the
  * replica tag) so near-duplicate structure does not change with scale.
  * Prints one JSON line per (operator, multiplier). Results recorded in
  * SCALING.md. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.LocalSession("graft-scale-probe")
    val cpus = spark.conf.get("spark.sql.shuffle.partitions").toInt
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("md5(cast(id as string))").count() // warmup

    if (sys.env.get("SPARK_GRAFT_PROBE").contains("skew")) {
      runSkew(spark)
      spark.stop()
      return
    }

    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val qv = emb0.where(col("vec_id") === 0).select(col("v")).head.getSeq[Double](0)

    def timeIt(f: => Long): Double = {
      val t0 = System.nanoTime(); val n = f; val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(s"  rows=$n"); dt
    }

    // Template payloads for the codec-boundary probes: a handful of REAL
    // encoded media ship once as a plan literal; every doc row still pays
    // full per-row decode cost, which is the thing being timed.
    val imageTemplates: Seq[Array[Byte]] = (0 until 8).map { s =>
      val img = new java.awt.image.BufferedImage(128, 96,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 96; x <- 0 until 128) {
        val g = (x * 2 + y * 3 + ((x / 8 + y / 8 + s) * 37) % 64) & 0xff
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val o = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", o); o.toByteArray
    }
    val audioTemplates: Seq[Array[Byte]] = (0 until 8).map { s =>
      import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
      val samples = Array.tabulate(8000)(t =>
        (((t / 64) * 2654435761L + s) >>> 56).toInt % 89 * 70 + t % 13)
      val pcm = new Array[Byte](samples.length * 2)
      for (i <- samples.indices) {
        pcm(i * 2) = (samples(i) & 0xff).toByte
        pcm(i * 2 + 1) = ((samples(i) >> 8) & 0xff).toByte
      }
      val o = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm),
        new AudioFormat(16000f, 16, 1, true, false), samples.length.toLong),
        AudioFileFormat.Type.WAVE, o)
      o.toByteArray
    }
    // MJPEG/AVI clips hand-built per the RIFF layout (no JDK AVI writer):
    // 8 JPEG frames each, so a video probe row pays 8 container-walked
    // JPEG extractions + the sampled decodes — the real per-clip shape
    val videoTemplates: Seq[Array[Byte]] = (0 until 4).map { s =>
      def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
      def le32(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      def cc(x: String) = x.getBytes("US-ASCII")
      def chunk(f: String, pl: Array[Byte]) = cc(f) ++ le32(pl.length) ++ pl ++
        (if (pl.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)
      def list(t: String, pl: Array[Byte]) = chunk("LIST", cc(t) ++ pl)
      val frames = (0 until 8).map { t =>
        val img = new java.awt.image.BufferedImage(64, 48,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until 48; x <- 0 until 64) {
          val g = (x * 3 + y * 2 + ((x / 8 + y / 8 + s + t) * 41) % 64) & 0xff
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
        }
        val o = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", o); o.toByteArray
      }
      val avih = chunk("avih", le32(100000L) ++ le32(0) ++ le32(0) ++
        le32(0x10) ++ le32(frames.length) ++ le32(0) ++ le32(1) ++ le32(0) ++
        le32(64) ++ le32(48) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
      val strh = chunk("strh", cc("vids") ++ cc("MJPG") ++ le32(0) ++
        le16(0) ++ le16(0) ++ le32(0) ++ le32(100000L) ++ le32(1000000L) ++
        le32(0) ++ le32(frames.length) ++ le32(0) ++ le32(0xffffffffL) ++
        le32(0) ++ le16(0) ++ le16(0) ++ le16(64) ++ le16(48))
      val strf = chunk("strf", le32(40) ++ le32(64) ++ le32(48) ++ le16(1) ++
        le16(24) ++ cc("MJPG") ++ le32(64L * 48 * 3) ++ le32(0) ++ le32(0) ++
        le32(0) ++ le32(0))
      val body = cc("AVI ") ++ list("hdrl", avih ++ list("strl", strh ++ strf)) ++
        list("movi", frames.toArray.flatMap(f => chunk("00dc", f)))
      cc("RIFF") ++ le32(body.length) ++ body
    }

    // Optimizer-proof sink for scalar-aggregate probes: `.count()` on a
    // global aggregate lets Catalyst PRUNE the aggregate expressions (the
    // row count is 1 regardless of what they compute), silently timing
    // only the scan — collect the 1-row result so the probed expression
    // actually executes.
    def force(df: org.apache.spark.sql.DataFrame): Long =
      df.collect().length.toLong

    // -1 = untimed warmup pass (codegen + JIT compilation dominate the first
    // execution of each operator; timing starts after they are compiled)
    Seq(-1, 1, 4, 16).foreach { mult0 =>
      val mult = math.abs(mult0)
      val docs = (0 until mult).map { i =>
        docs0.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "([a-z]+)", s"r$i$$1").as("text"))
      }.reduce(_ union _).repartition(cpus).cache()
      docs.count() // materialize outside the timer

      val emb = (0 until mult).map { i =>
        emb0.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"), col("v"))
      }.reduce(_ union _).repartition(cpus).cache()
      emb.count()

      val tMinhash = timeIt {
        val sh = graft.functions.NativeKernels.wordShingles2(col("text"))
        Dedup.minhashPairs(docs, "doc_id", sh, 0.8).count()
      }
      val tAnn = timeIt {
        AnnSearch.bruteCosineTopK(emb, "vec_id", col("v"), qv, 10).count()
      }
      val tRankAgg = timeIt {
        val f0 = emb.select(col("vec_id").as("id"), NativeKernels.l2Dist(col("v"),
          array(qv.map(lit): _*)).as("d"))
        val f1 = emb.select(col("vec_id").as("id"), NativeKernels.l1Dist(col("v"),
          array(qv.map(lit): _*)).as("d"))
        RankAggregate.topK(spark,
          Seq(BoundFacet("l2", f0, Seq(0.6)), BoundFacet("l1", f1, Seq(0.4))),
          10, 10000).count()
      }
      // round-4 pipeline ops: clustering over a materialized pair list
      // (pair generation is the minhash probe above), packing's two-phase
      // prefix sum, and tf-idf's two keyed shuffles
      val pairs = Dedup.minhashPairs(docs, "doc_id",
        SimKernels.qgrams(substring(col("text"), 1, 200), 10), 0.8).cache()
      pairs.count()
      val tCluster = timeIt { Dedup.clusters(pairs).count() }
      pairs.unpersist()
      val tPack = timeIt {
        Packing.packOffsets(docs, col("doc_id"),
          size(graft.functions.NativeKernels.wordTokens(col("text"))), 2048L).count()
      }
      val tTfidf = timeIt {
        TfIdf.topTerms(docs, col("doc_id"), graft.functions.NativeKernels.wordTokens(col("text")), 3).count()
      }
      // late-round-4 ops: SimHash banded near-dup (native fingerprint),
      // int8 quantization (broadcast dim-stats), contamination (broadcast
      // eval shingle set)
      val tSimhash = timeIt {
        Dedup.simhashPairs(docs, "doc_id", graft.functions.NativeKernels.wordTokens(col("text"))).count()
      }
      val tQuantize = timeIt {
        Quantize.int8(emb, col("vec_id"), col("v")).count()
      }
      val tContam = timeIt {
        Contamination.sharedShingleCounts(docs, col("doc_id"),
          graft.functions.NativeKernels.wordShingles2(col("text")),
          col("doc_id") < Queries.ContamEvalMax).count()
      }
      // round-8 ops: per-doc chunking + repetition signals (narrow maps —
      // must scale linearly), and the persisted-index cycle (build cost
      // amortizes over queries; probe cost must stay ~flat since the read
      // is bucket-pruned and bucket size grows with the corpus)
      val tChunk = timeIt {
        Packing.chunkTokens(
          docs.select(col("doc_id"),
            graft.functions.NativeKernels.wordTokens(col("text")).as("w")),
          col("doc_id"), col("w"), 32, 8).count()
      }
      val tRepet = timeIt {
        val w = graft.functions.NativeKernels.wordTokens(col("text"))
        docs.select(col("doc_id"),
          TextKernels.topBigramFraction(w).as("tb"),
          TextKernels.dupNgramFraction(w, 5).as("d5"))
          .agg(sum("tb"), sum("d5")).pipe(force)
      }
      val idxPath = s"/tmp/graft-scaleprobe-idx-$mult"
      val tIdxBuild = timeIt {
        AnnIndex.buildLsh(emb, "vec_id", col("v"), 64, idxPath, nBits = 6)
        mult.toLong
      }
      val tIdxProbe = timeIt {
        AnnIndex.lshTopK(spark, idxPath, "vec_id", qv, 10, probes = 4).count()
      }
      // round-9: incremental dedup — a FIXED 500-doc batch against the
      // GROWING persisted band index. Batch hashing is O(batch); the
      // stored index contributes one linear columnar scan (never
      // re-hashed, never shuffled — the batch side broadcasts), so the
      // probe must grow far slower than corpus hashing would
      val sh2 = graft.functions.NativeKernels.wordShingles2(col("text"))
      val bandPath = s"/tmp/graft-scaleprobe-band-$mult"
      val tBandBuild = timeIt {
        Dedup.writeBandIndex(docs, "doc_id", sh2, bandPath); mult.toLong
      }
      // replica-0 transform re-applied => the batch holds exact duplicates
      // of indexed corpus docs, so the probe does real verify work
      val batch = docs0.where(col("doc_id") < 500)
        .select((col("doc_id") + 90000000L).as("doc_id"),
          regexp_replace(col("text"), "([a-z]+)", "r0$1").as("text")).cache()
      batch.count()
      val tIncrProbe = timeIt {
        Dedup.incrementalPairs(batch, "doc_id", sh2, bandPath, 0.8).count()
      }
      // round-10: one CURATION micro-batch (the same fixed 500 docs)
      // against accepted-corpus indexes over the whole corpus — the full
      // admit path (quality gate -> exact dedup -> near-dup drop ->
      // accept) must track the batch, not the corpus, like the pair probe
      val curRoot = s"/tmp/graft-scaleprobe-cur-$mult"
      Dedup.writeFingerprintIndex(docs, "doc_id", col("text"), s"$curRoot/exact")
      Dedup.writeBandIndex(docs, "doc_id", sh2, s"$curRoot/near")
      val tCuration = timeIt {
        var n = 0L
        graft.streaming.StreamOps.curationBatch(batch, 0L, "doc_id", "text",
          curRoot, 0.8, length(col("text")) >= 0,
          (acc, _) => n = acc.count())
        n
      }
      batch.unpersist()
      // round-11: Bloom-prefiltered exact dedup — the novel-batch fast
      // path. The plain join scans the whole stored (fp, id) table per
      // batch (grows with the corpus); the bloom path's cost on an
      // all-novel batch is batch-bounded (broadcast membership test + an
      // emptiness probe), so it must stay FLAT while the corpus grows.
      // The bloom build itself is one linear scan, amortized over every
      // batch until the next compaction.
      val novel = docs0.where(col("doc_id") < 500)
        .select((col("doc_id") + 95000000L).as("doc_id"),
          concat(lit(s"entirely novel probe text $mult "), col("text")).as("text"))
        .cache()
      novel.count()
      val tExactJoinNovel = timeIt {
        Dedup.incrementalExact(novel, "doc_id", col("text"), s"$curRoot/exact").count()
      }
      val tBloomBuild = timeIt {
        Dedup.writeFingerprintBloom(spark, s"$curRoot/exact"); mult.toLong
      }
      val tExactBloomNovel = timeIt {
        Dedup.incrementalExactBloom(novel, "doc_id", col("text"),
          s"$curRoot/exact").count()
      }
      novel.unpersist()
      // round-9: winnowing partial-overlap pairs — per-row hashing is the
      // dominant linear term; the fingerprint equi-join is df-capped
      val tWinnow = timeIt {
        Dedup.winnowPairs(docs, "doc_id", col("text")).count()
      }
      // round-10: span recovery — same hashing term plus the positional
      // join and the (pair, diagonal)-partitioned run window, whose
      // shuffle carries only joined matches (df-capped), never the corpus
      val tWinnowSpans = timeIt {
        Dedup.winnowSpans(docs, "doc_id", col("text")).count()
      }
      // round-10: token-budget selection — two narrow passes + one
      // broadcast join; must scale with the scan, not the sort (there is
      // no global sort). Budget scales with the corpus so the kept
      // prefix stays a constant fraction
      val tBudget = timeIt {
        Packing.budgetSelect(docs, col("doc_id"),
          size(graft.functions.NativeKernels.wordTokens(col("text"))), length(col("text")),
          50000L * mult).count()
      }
      // round-10: line-level dedup over synthesized multi-paragraph pages
      // (page count fixed, pages grow with the corpus). The planted
      // header/footer boilerplate is the heavy-hitter case the
      // aggregate-not-window design exists for: every page carries it,
      // and it must leave each map partition once, not shuffle 5,000
      // copies to one reducer
      val tLineDedup = timeIt {
        val pages = docs.groupBy((col("doc_id") % 5000).as("page_id"))
          .agg(concat_ws("\n", lit("shared header boilerplate"),
            concat_ws("\n", collect_list(col("text"))),
            lit("shared footer boilerplate")).as("text"))
        Dedup.lineDedup(pages, "page_id", col("text")).count()
      }
      // round-11: the pathological quality distribution — 90% of rows share
      // one quality level. Uniform-width quantization collapsed this into a
      // single bucket-sized window (the shape that degrades at scale); the
      // equi-depth (q, id)-pair boundaries must keep it tracking the
      // healthy-distribution probe above
      val tBudgetConst = timeIt {
        Packing.budgetSelect(docs, col("doc_id"),
          size(graft.functions.NativeKernels.wordTokens(col("text"))),
          when(col("doc_id") % 10 === 0, length(col("text")).cast("double"))
            .otherwise(lit(500.0)),
          50000L * mult).count()
      }
      // round-11: IVF recall maintenance — recallProbe is one corpus scan
      // (broadcast sample ground truth) plus sampleN pruned probes, so it
      // must track the scan; rebuild is the k-means re-train (iters x one
      // cached projection scan) plus one bucketed rewrite — linear in the
      // corpus, the cost ceiling of the drift-recovery story
      val ivfPath = s"/tmp/graft-scaleprobe-ivf-$mult"
      val tIvfBuild = timeIt {
        val cents = AnnSearch.kmeans(emb, "vec_id", col("v"), 16, iters = 5)
        AnnIndex.buildIvf(emb, "vec_id", col("v"), cents, ivfPath); mult.toLong
      }
      val tRecall = timeIt {
        (AnnIndex.recallProbe(spark, ivfPath, "vec_id", 10, 2,
          sampleN = 16) * 1000).toLong
      }
      val tRebuild = timeIt {
        AnnIndex.rebuild(spark, ivfPath, "vec_id", iters = 5); mult.toLong
      }
      // round-11 (late): SemDeDup — the scale contract is that k GROWS
      // with the corpus so per-cluster size (and the quadratic
      // within-cluster term) stays constant: assignment is N·k·dim inside
      // one codegen kernel, the join is k blocks of bounded size. Replicas
      // are shifted along dim 0 so the near-dup structure does not change
      // with scale (mirroring the disjoint-vocabulary trick for text).
      val embShift = (0 until mult).map { i =>
        emb0.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          org.apache.spark.sql.functions.transform(col("v"),
            (x, j) => when(j === 0, x + lit(i * 8.0)).otherwise(x)).as("v"))
      }.reduce(_ union _).repartition(cpus).cache()
      embShift.count()
      // centroids sampled HASH-UNIFORMLY across the whole (shifted) corpus:
      // taking the k smallest ids would draw every centroid from replica 0,
      // leaving the other replicas' shifted vectors to collapse into a few
      // mega-clusters — the documented skew hazard (measured: 597 s at 16x
      // vs ~3 s with spread centroids; same corpus, same k)
      val semK = 16 * mult
      val semCents = embShift
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(semK)
        .collect().map(_.getSeq[Double](1).toSeq).toSeq
      val tSemDedup = timeIt {
        SemDedup.dedup(embShift, col("vec_id"), col("v"), semCents, 0.9).count()
      }
      // the ADVERSARIAL control, now with the auto-split: centroids drawn
      // from replica 0 only (the k-smallest-ids mistake above) collapse
      // the other replicas into mega-clusters — dedupSplit must detect
      // them via the size gauge and re-cluster, keeping this row within
      // ~2x of the uniform-centroid row instead of the measured 45x
      val semCentsBad = embShift
        .orderBy(col("vec_id")).limit(semK)
        .collect().map(_.getSeq[Double](1).toSeq).toSeq
      val tSemDedupSplit = timeIt {
        SemDedup.dedupSplit(embShift, col("vec_id"), col("v"), semCentsBad,
          0.9).count()
      }
      embShift.unpersist()
      // round-11 (late): PQ — encode is a narrow per-row kernel (must be
      // linear); the IVF-PQ probe reads nProbe/16 of the stored CODES
      // (m bytes/vector), so its slope is the pruning ratio times a
      // byte-scan, the flattest curve on this chart
      val pqBooks = {
        val cw = Seq(Seq.fill(8)(0.25), Seq.fill(8)(-0.25),
          (0 until 8).map(j => if (j % 2 == 0) 0.5 else -0.5).toSeq,
          Seq.fill(8)(0.0))
        Seq.fill(8)(cw)
      }
      val tPqEncode = timeIt {
        Quantize.pqEncode(emb, col("vec_id"), col("v"), pqBooks).count()
      }
      val pqPath = s"/tmp/graft-scaleprobe-pq-$mult"
      val tPqBuild = timeIt {
        val cents = AnnSearch.kmeans(emb, "vec_id", col("v"), 16, iters = 3)
        AnnIndex.buildIvfPq(emb, "vec_id", col("v"), cents, pqBooks, pqPath)
        mult.toLong
      }
      val tPqProbe = timeIt {
        AnnIndex.ivfPqTopK(spark, pqPath, "vec_id", qv, 10, nProbe = 2).count()
      }
      // round-11 (late): decontamination removal — one corpus scan against
      // the broadcast eval union plus a flag-bounded anti-join; linear
      val tDecontam = timeIt {
        Contamination.decontaminate(docs, col("doc_id"),
          graft.functions.NativeKernels.wordShingles2(col("text")),
          col("doc_id") % 10000000L < Queries.ContamEvalMax, 0.7).count()
      }
      // round-11 (late): BPE — training reads ONE word-count aggregate
      // (vocabulary-bounded, here growing with the replica prefixes) and
      // loops driver-side; encoding is a narrow kernel map over the corpus
      var bpeMerges: Seq[(String, String)] = Seq.empty
      val tBpeTrain = timeIt {
        bpeMerges = Bpe.train(docs,
          graft.functions.NativeKernels.wordTokens(col("text")), 200,
          maxWords = 20000)
        bpeMerges.size.toLong
      }
      val tBpeEncode = timeIt {
        docs.select(Bpe.tokenCount(
            graft.functions.NativeKernels.wordTokens(col("text")), bpeMerges)
          .as("n")).agg(sum("n")).pipe(force)
      }
      // round-13: the sharded-sink calibration CONTROL — the fixed shape
      // (filter directly on the input, render projected above it) must
      // stay per-partition-bounded while the pre-fix shape (render below
      // the nondeterministic filter, which cannot push past it) pays a
      // full-corpus JSON render: its curve is the bug the fix removed.
      // Rows are widened 20x so the render dominates the (cached) scan —
      // at this corpus size both shapes are otherwise overhead-bound and
      // the contrast would be invisible
      val wideDocs = docs.withColumn("text", repeat(col("text"), 20))
      val tCalibFixed = timeIt {
        graft.engine.OutputWriter.calibrationFrame(wideDocs, 32L)
          .agg(sum("sz")).pipe(force)
      }
      val tCalibPreFix = timeIt {
        wideDocs.withColumn("__row_sz", octet_length(to_json(struct(
            wideDocs.columns.map(col).toSeq: _*))))
          .where(monotonically_increasing_id()
            .bitwiseAND(lit((1L << 33) - 1)) < 32L)
          .agg(sum("__row_sz")).pipe(force)
      }
      // round-13: the narrow curation passes (PII mask, NFC clean, Gopher
      // battery, split labeling) must all be plain linear scans, and NB
      // train's driver work is vocabulary-bounded regardless of mult
      val tScrubPii = timeIt {
        docs.select(TextKernels.scrubPii(col("text")).as("t"))
          .agg(sum(length(col("t")))).pipe(force)
      }
      val tClean = timeIt {
        docs.select(TextKernels.cleanText(col("text")).as("t"))
          .agg(sum(length(col("t")))).pipe(force)
      }
      val tGopher = timeIt {
        QualityRules.gopher(docs, col("doc_id"), col("text"))
          .agg(sum(when(col("pass"), 1L).otherwise(0L))).pipe(force)
      }
      val tSplit = timeIt {
        Sampling.splitByHash(docs, col("doc_id"),
          Seq(("train", 0.98), ("val", 0.01), ("test", 0.01)))
          .groupBy("split").count().count()
      }
      val tNbTrain = timeIt {
        QualityClassifier.train(docs,
          graft.functions.NativeKernels.wordTokens(col("text")),
          col("doc_id") % 2 === 0, maxVocab = 1024).weights.size.toLong
      }
      // round-13: DSIR importance weighting (two corpus passes, a
      // 10k-bucket broadcast model) and corpus-global duplicate-span
      // removal (the groupBy(gram) shuffle is the scaling risk to watch)
      val tDsir = timeIt {
        Dsir.weights(docs, col("doc_id"),
            graft.functions.NativeKernels.wordTokens(col("text")),
            col("doc_id") % 2 === 0, buckets = 10000)
          .agg(sum("weight")).pipe(force)
      }
      val tSpanDedup = timeIt {
        SpanDedup.removeSpans(docs, col("doc_id"),
            graft.functions.NativeKernels.wordTokens(col("text")),
            n = 8, minCount = 2L)
          .agg(sum("n_removed")).pipe(force)
      }
      // round-13 late: the persisted bigram LM — fit's distinct-bigram
      // groupBy shuffle is the scaling risk (the per-occurrence stream is
      // map-side combined before log-probabilities attach); score is two
      // threshold-governed equi-joins that must track corpus size
      // linearly, never quadratically
      val lmPath = s"/tmp/graft-scaleprobe-lm-$mult"
      val tLmFit = timeIt {
        BigramLm.fit(spark, docs,
          graft.functions.NativeKernels.wordTokens(col("text")), lmPath)
        1L
      }
      val tLmScore = timeIt {
        BigramLm.score(spark, docs, col("doc_id"),
            graft.functions.NativeKernels.wordTokens(col("text")), lmPath)
          .agg(sum("logq")).pipe(force)
      }
      // round-13 late: JL random projection is a narrow codegen map — a
      // 64->16 shrink must scale exactly with the vector count
      val tRandProj = timeIt {
        emb.select(Embeddings.randomProjection(col("v"), 64, 16).as("y"))
          .agg(sum(element_at(col("y"), 1))).pipe(force)
      }
      // round-13 late: the codec-boundary decodes (perceptual image hash,
      // audio fingerprint) are narrow mapPartitions passes — per-row cost
      // is the decode itself, so wall time must track row count exactly.
      // A small template pool ships as one array<binary> literal; each doc
      // row decodes a REAL payload (the per-row work is not memoized
      // anywhere, so identical templates still decode once per row).
      val tImageHash = timeIt {
        val payload = element_at(typedlit(imageTemplates),
          (pmod(col("doc_id"), lit(imageTemplates.size)) + 1).cast("int"))
        // bit_count keeps the forcing aggregate inside Long under ANSI
        // mode (summing raw 2^63-scale hashes overflows)
        graft.multimodal.Multimodal.imageHash(
            docs.select(col("doc_id").as("id"), lit("image").as("kind"),
              payload.as("data"))).toDF()
          .agg(sum(bit_count(col("dhash")))).pipe(force)
      }
      val tAudioFp = timeIt {
        val payload = element_at(typedlit(audioTemplates),
          (pmod(col("doc_id"), lit(audioTemplates.size)) + 1).cast("int"))
        graft.multimodal.Multimodal.audioFingerprint(
            docs.select(col("doc_id").as("id"), lit("audio").as("kind"),
              payload.as("data"))).toDF()
          .agg(sum(bit_count(col("afp")))).pipe(force)
      }
      // round-14: AVI/MJPEG frame decode — container walk + 3 sampled
      // JPEG decodes per clip (800 ms at 500 ms cadence), one narrow
      // mapPartitions; wall time must track the clip count exactly
      val tVideoFrames = timeIt {
        val payload = element_at(typedlit(videoTemplates),
          (pmod(col("doc_id"), lit(videoTemplates.size)) + 1).cast("int"))
        graft.multimodal.Multimodal.videoFrameHashes(
            docs.select(col("doc_id").as("id"), lit("video").as("kind"),
              payload.as("data")), everyMs = 500L).toDF()
          .agg(sum(bit_count(col("dhash")))).pipe(force)
      }
      // round-13 late: corpus profiling — one groupBy shuffle with
      // map-side sketch partials; overlap is two independent scans and a
      // 1x1 cross of sketch binaries. Both must scale with the scan.
      val tProfile = timeIt {
        Profile.partialProfile(docs, Seq(col("doc_id") % 5),
            col("text"), graft.functions.NativeKernels.wordTokens(col("text")))
          .agg(sum("n_tokens")).pipe(force)
      }
      val tOverlap = timeIt {
        Profile.overlap(docs, col("text"),
            docs.where(col("doc_id") % 2 === 0), col("text"))
          .select(col("est_intersection")).pipe(force)
      }
      if (mult0 > 0)
        println(s"""{"mult":$mult,"docs":${docs.count()},"minhash_sec":$tMinhash,"ann_sec":$tAnn,"rankagg_sec":$tRankAgg,"cluster_sec":$tCluster,"pack_sec":$tPack,"tfidf_sec":$tTfidf,"simhash_sec":$tSimhash,"quantize_sec":$tQuantize,"contam_sec":$tContam,"chunk_sec":$tChunk,"repetition_sec":$tRepet,"idx_build_sec":$tIdxBuild,"idx_probe_sec":$tIdxProbe,"band_build_sec":$tBandBuild,"incr_probe_sec":$tIncrProbe,"winnow_sec":$tWinnow,"winnow_spans_sec":$tWinnowSpans,"line_dedup_sec":$tLineDedup,"curation_batch_sec":$tCuration,"budget_select_sec":$tBudget,"budget_select_const_sec":$tBudgetConst,"ivf_build_sec":$tIvfBuild,"recall_probe_sec":$tRecall,"ivf_rebuild_sec":$tRebuild,"exact_join_novel_sec":$tExactJoinNovel,"bloom_build_sec":$tBloomBuild,"exact_bloom_novel_sec":$tExactBloomNovel,"semdedup_sec":$tSemDedup,"semdedup_split_adversarial_sec":$tSemDedupSplit,"pq_encode_sec":$tPqEncode,"pq_build_sec":$tPqBuild,"pq_probe_sec":$tPqProbe,"decontam_sec":$tDecontam,"bpe_train_sec":$tBpeTrain,"bpe_encode_sec":$tBpeEncode,"shard_calib_sec":$tCalibFixed,"shard_calib_prefix_shape_sec":$tCalibPreFix,"scrub_pii_sec":$tScrubPii,"clean_sec":$tClean,"gopher_sec":$tGopher,"split_sec":$tSplit,"nb_train_sec":$tNbTrain,"dsir_sec":$tDsir,"span_dedup_sec":$tSpanDedup,"lm_fit_sec":$tLmFit,"lm_score_sec":$tLmScore,"rand_proj_sec":$tRandProj,"image_hash_sec":$tImageHash,"audio_fp_sec":$tAudioFp,"video_frames_sec":$tVideoFrames,"profile_sec":$tProfile,"overlap_sec":$tOverlap}""")
      docs.unpersist(); emb.unpersist()
    }

    // ---- clustering branch crossover: size-gated LOCAL union-find vs the
    // DISTRIBUTED min-label-propagation loop over the SAME synthetic edge
    // lists at growing volumes — the measurement that justifies where the
    // `localEdgeLimit` default (2M edges) sits. Graph shape mirrors a
    // near-dup graph's (many small components): stars of 64 nodes plus a
    // within-component chain edge, so propagation converges in a few
    // rounds rather than a degenerate single-chain worst case.
    for (m <- Seq(250000L, 1000000L, 4000000L)) {
      val edges = spark.range(m).select(
          (col("id") - pmod(col("id"), lit(64))).as("a"),
          when(pmod(col("id"), lit(64)) === 0, col("id") + 1)
            .otherwise(col("id")).as("b"))
        .where(col("a") =!= col("b")).cache()
      val nEdges = edges.count()
      def comps(limit: Long): Long =
        graft.operators.Dedup.clusters(edges, localEdgeLimit = limit)
          .select(countDistinct(col("c"))).head.getLong(0)
      val t0 = System.nanoTime()
      val cLocal = comps(Long.MaxValue)
      val tLocal = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val cDist = comps(0L)
      val tDist = (System.nanoTime() - t1) / 1e9
      require(cLocal == cDist, s"branch disagreement: $cLocal vs $cDist")
      println(s"""{"cluster_crossover":{"edges":$nEdges,"components":$cLocal,"local_sec":${math.round(tLocal * 1000.0) / 1000.0},"dist_sec":${math.round(tDist * 1000.0) / 1000.0}}}""")
      edges.unpersist()
    }
    spark.stop()
  }

  /** Adversarial-SKEW probe family (SPARK_GRAFT_PROBE=skew): boilerplate-
    * heavy corpora — a frame shared by EVERY clip, an exact-duplicate
    * signature carried by a growing cohort, a constant document, a
    * corpus-wide license header — at 1x/4x/16x CARRIER multiplicity with
    * the banded verify-pair counts printed alongside the times. The
    * worst case these target is quadratic in carriers per bucket; the
    * exact-signature collapse keeps the banded verify work quadratic only
    * in DISTINCT signatures, and frameSigPairs' df-cap bounds the carrier
    * expansion. Signatures are constructed on the 0x0001000100010001
    * lattice (each 16-bit band = the counter) so distinct signatures
    * never share a band — the printed verify_pairs isolates exactly the
    * skew-induced candidates, not banding's background collision rate.
    * Results recorded in SCALING.md. */
  private def runSkew(spark: SparkSession): Unit = {
    import spark.implicits._
    val Boiler = -1L // all four bands = 0xffff, off the counter lattice
    def sig(c: Int): Long = { require(c >= 1 && c < 65000); c * 0x0001000100010001L }
    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    def r3(x: Double): Double = math.round(x * 1000.0) / 1000.0

    // frame corpus: every clip opens on the SAME boilerplate frame; 20
    // clone pairs (ids 2i/2i+1 < 40 share all 5 content sigs) are the
    // true re-encodes the operator must keep finding
    def frameCorpus(nClips: Int) =
      (0 until nClips).flatMap { id =>
        (0 to 5).map { p =>
          val s = if (p == 0) Boiler
            else if (id < 40) sig(40 + (id / 2) * 8 + p)
            else sig(1000 + id * 8 + p)
          (id.toLong, p.toLong, s)
        }
      }.toDF("id", "pos", "sig").repartition(32)

    for (mult <- Seq(1, 4, 16)) {
      // ---- frameSigPairs: one boilerplate frame in EVERY clip
      val nClips = 400 * mult
      val frames = frameCorpus(nClips).cache(); frames.count()
      val verifyPairs = Dedup.sigBandCandidates(
        frames.select(col("sig")).distinct()).count()
      val (tDef, outDef) = time(Dedup.frameSigPairs(
        frames, "id", "pos", "sig").count())
      val (tCap, outCap) = time(Dedup.frameSigPairs(
        frames, "id", "pos", "sig", maxDf = 64).count())
      println(s"""{"skew_probe":"frame_boilerplate","mult":$mult,"clips":$nClips,"distinct_sigs":${frames.select("sig").distinct().count()},"verify_pairs":$verifyPairs,"out_default":$outDef,"sec_default":${r3(tDef)},"out_capped":$outCap,"sec_capped":${r3(tCap)}}""")

      // ---- hammingPairs: an exact-dup cohort (1% of ids) — the OUTPUT is
      // quadratic in the cohort by contract; verify pairs must not be
      val nIds = 2000 * mult
      val sigs = (0 until nIds).map { id =>
        val s = if (id % 100 == 0) Boiler
          else if (id >= 101 && id <= 110 && id % 2 == 0) sig(1 + id - 1) ^ 1L
          else sig(1 + id)
        (id.toLong, s)
      }.toDF("id", "sig").repartition(32).cache()
      sigs.count()
      val vH = Dedup.sigBandCandidates(sigs.select(col("sig")).distinct()).count()
      val (tH, outH) = time(Dedup.hammingPairs(sigs, "id", "sig").count())
      println(s"""{"skew_probe":"hamming_cohort","mult":$mult,"ids":$nIds,"cohort":${nIds / 100},"verify_pairs":$vH,"out_rows":$outH,"sec":${r3(tH)}}""")

      // ---- simhashPairs: a constant document carried by 2% of the corpus
      val nDocs = 1500 * mult
      val docs = (0 until nDocs).map { id =>
        val text = if (id % 50 == 0)
          "terms of service apply to all content on this mirror page"
        else (0 until 12).map(j => s"w${id}t$j").mkString(" ")
        (id.toLong, text)
      }.toDF("doc_id", "text").repartition(32).cache()
      docs.count()
      val (tS, outS) = time(Dedup.simhashPairs(docs, "doc_id",
        graft.functions.NativeKernels.wordTokens(col("text"))).count())
      println(s"""{"skew_probe":"simhash_constant","mult":$mult,"docs":$nDocs,"constant":${nDocs / 50},"out_rows":$outS,"sec":${r3(tS)}}""")

      // ---- winnowSpans: a license header on EVERY doc (df-cap policy)
      val header = (0 until 40).map(j => s"licensed under clause$j terms")
        .mkString(" ")
      val shared = (0 until 30).map(j => s"copied passage token$j").mkString(" ")
      val wdocs = (0 until 600 * mult).map { id =>
        val body = (0 until 40).map(j => s"b${id}x$j").mkString(" ")
        val text = if (id < 20 && id % 2 == 0) s"$header $shared $body"
          else if (id < 20) s"$header $body $shared"
          else s"$header $body"
        (id.toLong, text)
      }.toDF("id", "text").repartition(32).cache()
      wdocs.count()
      val (tW, outW) = time(Dedup.winnowSpans(wdocs, "id", col("text")).count())
      println(s"""{"skew_probe":"winnow_header","mult":$mult,"docs":${600 * mult},"out_rows":$outW,"sec":${r3(tW)}}""")

      // ---- incrementalFrameSigPairs: boilerplate-heavy INDEX, fixed batch
      val idxPath = java.nio.file.Files.createTempDirectory("graft-skewidx")
        .toString + "/idx"
      Dedup.writeFrameSigIndex(frames, "id", "pos", "sig", idxPath)
      val batch = (0 until 50).flatMap { j =>
        (0 to 5).map { p =>
          val s = if (p == 0) Boiler
            else if (j < 5) sig(1000 + (100 + j) * 8 + p) // clones of indexed
            else sig(60000 + j * 8 + p)
          (10000000L + j, p.toLong, s)
        }
      }.toDF("id", "pos", "sig")
      val (tI, outI) = time(Dedup.incrementalFrameSigPairs(
        batch, "id", "pos", "sig", idxPath).count())
      println(s"""{"skew_probe":"incr_frame_boilerplate","mult":$mult,"index_clips":$nClips,"batch_clips":50,"out_rows":$outI,"sec":${r3(tI)}}""")

      frames.unpersist(); sigs.unpersist(); docs.unpersist(); wdocs.unpersist()
    }
  }
}
