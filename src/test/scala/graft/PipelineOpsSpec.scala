package graft

import org.apache.spark.sql.functions._

import graft.functions.TextKernels
import graft.operators.{Dedup, Packing, Sampling, TfIdf}

/** Round-4 pipeline operators: dedup clustering, deterministic sampling,
  * sequence packing, tf-idf, scrubbing. */
class PipelineOpsSpec extends SparkTestBase {
  import spark.implicits._

  // ---------------------------------------------------------------- clusters

  test("clusters: components of a chain longer than one propagation round") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("a", "b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L)
    // local union-find fast path (default gate) and the distributed
    // propagation loop (gate forced off) must agree exactly
    val local = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    val dist = Dedup.clusters(pairs, localEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(local == expected && dist == expected)
  }

  test("clusters: merging two chains through a bridge node, both paths") {
    // 1-2, 3-4 separate; bridge 2-3 merges them under min id 1
    val pairs = Seq((3L, 4L), (1L, 2L), (2L, 3L)).toDF("a", "b")
    for (limit <- Seq(0L, 2000000L)) {
      val got = Dedup.clusters(pairs, localEdgeLimit = limit)
        .as[(Long, Long)].collect().toMap
      assert(got.values.toSet == Set(1L) && got.keySet == Set(1L, 2L, 3L, 4L))
    }
  }

  test("clusters: empty pair list yields empty labels") {
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.clusters(pairs).count() == 0)
    assert(Dedup.clusters(pairs, localEdgeLimit = 0L).count() == 0)
  }

  test("clusters: checkpointing bounds the distributed loop's plan depth " +
    "on a high-diameter chain; the maxRounds guard terminates") {
    // a 13-node chain needs 12 propagation rounds — far past
    // checkpointEvery, so the loop checkpoints twice on the way
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Dedup.clusters(chain, localEdgeLimit = 0L,
      maxRounds = 20, checkpointEvery = 5)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got == (0L to 12L).map(_ -> 0L).toMap)
    // the final plan must be anchored on a checkpointed RDD scan, nesting
    // at most checkpointEvery joins — NOT one join per round. Count Join
    // NODES via the tree (a cached relation is a leaf; its printed history
    // would overcount)
    def treeJoins(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      p.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.size
    val plan = labels.queryExecution.optimizedPlan
    assert(treeJoins(plan) <= 5,
      s"plan still nests ${treeJoins(plan)} joins — lineage not truncated:\n$plan")
    // and a checkpoint actually happened: the lineage bottoms out in a
    // materialized RDD scan rather than the original pair frame
    assert(plan.toString.contains("LogicalRDD") ||
      plan.toString.contains("ExistingRDD"),
      s"expected a checkpoint-truncated plan:\n$plan")

    // 60-node chain (diameter 59) with a small maxRounds: the guard must
    // terminate the loop after maxRounds rounds with every node labeled
    val long = (0L until 59L).map(i => (i, i + 1)).toDF("a", "b")
    val guarded = Dedup.clusters(long, localEdgeLimit = 0L,
      maxRounds = 6, checkpointEvery = 5)
    assert(guarded.count() == 60)
  }

  test("clusters: non-integral ids map to longs once, propagate with the " +
    "sum convergence test, and keep the min ORIGINAL id as representative") {
    val pairs = Seq(("d1", "d2"), ("d2", "d3"), ("x9", "x8")).toDF("a", "b")
    val expected = Map("d1" -> "d1", "d2" -> "d1", "d3" -> "d1",
      "x9" -> "x8", "x8" -> "x8")
    // via the local fast path (reached through the mapping) and the forced
    // distributed propagation — identical output either way
    for (limit <- Seq(2000000L, 0L)) {
      val got = Dedup.clusters(pairs, localEdgeLimit = limit)
        .as[(String, String)].collect().toMap
      assert(got == expected, s"limit=$limit")
    }
    // a multi-round string chain: the representative is the lexicographic
    // minimum even though the assigned longs have no such order
    val chain = (0 until 6).map(i => (s"n$i", s"n${i + 1}")).toDF("a", "b")
    val got = Dedup.clusters(chain, localEdgeLimit = 0L, checkpointEvery = 3)
      .as[(String, String)].collect().toMap
    assert(got == (0 to 6).map(i => s"n$i" -> "n0").toMap)
  }

  // ---------------------------------------------------------------- sampling

  private val ids = spark.range(0, 1000).toDF("id")

  test("hash sample is deterministic, a filter, and rate-proportional") {
    val s1 = Sampling.sample(ids, col("id"), 37).as[Long].collect().toSet
    val s2 = Sampling.sample(ids, col("id"), 37).as[Long].collect().toSet
    assert(s1 == s2)
    // a 37% hash sample of 1000 uniform ids lands near 370
    assert(s1.size > 250 && s1.size < 500)
    // monotone in the rate: a smaller sample is a subset of a larger one
    val s3 = Sampling.sample(ids, col("id"), 10).as[Long].collect().toSet
    assert(s3.subsetOf(s1) && Sampling.sample(ids, col("id"), 0).count() == 0)
  }

  test("splitByHash: total exhaustive labeling, mass near the weights, " +
    "labels stable under repartitioning AND corpus growth, unnormalized " +
    "weights normalize, bad weights rejected") {
    val splits = Seq(("train", 0.90), ("val", 0.05), ("test", 0.05))
    val lab = Sampling.splitByHash(ids, col("id"), splits)
    val byS = lab.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(byS.keySet == Set("train", "val", "test"), byS.toString)
    assert(byS.values.sum == 1000 && byS("train") > 800 &&
      byS("val") > 10 && byS("test") > 10, byS.toString)
    // stable under repartitioning (the hash keys on content, not placement)
    val re = Sampling.splitByHash(ids.repartition(13), col("id"), splits)
      .as[(Long, String)].collect().toMap
    assert(lab.as[(Long, String)].collect().toMap == re)
    // a row KEEPS its split when the corpus grows — incremental ingestion
    // cannot leak a val row into train
    val grown = Sampling.splitByHash(
      spark.range(0, 5000).toDF("id"), col("id"), splits)
      .as[(Long, String)].collect().toMap
    assert((0L until 1000L).forall(i => grown(i) == re(i)))
    // unnormalized weights behave as ratios (98/1/1 == 0.98/0.01/0.01)
    val a = Sampling.splitByHash(ids, col("id"),
      Seq(("a", 98.0), ("b", 1.0), ("c", 1.0))).as[(Long, String)].collect().toMap
    val b = Sampling.splitByHash(ids, col("id"),
      Seq(("a", 0.98), ("b", 0.01), ("c", 0.01))).as[(Long, String)].collect().toMap
    assert(a == b)
    intercept[IllegalArgumentException] {
      Sampling.splitByHash(ids, col("id"), Seq(("a", 1.0), ("b", -0.1)))
    }
    intercept[IllegalArgumentException] {
      Sampling.splitByHash(ids, col("id"), Seq.empty)
    }
  }

  test("quantileBuckets: distinct scores cut at exact boundary ranks, a " +
    "mass point straddling a cut lands wholly in the lower band, nulls " +
    "label null, placement-independent, bad cuts rejected") {
    // 1000 distinct scores, quartile cuts -> exactly 250 per band
    val uniform = spark.range(0, 1000).toDF("id")
      .withColumn("score", col("id"))
    val quart = Sampling.quantileBuckets(uniform, col("score"),
      Seq(250000L, 500000L, 750000L), Seq("q1", "q2", "q3", "q4"))
    val sizes = quart.groupBy("bucket").count().as[(String, Long)]
      .collect().toMap
    assert(sizes == Map("q1" -> 250L, "q2" -> 250L, "q3" -> 250L, "q4" -> 250L),
      sizes.toString)
    // and each band is the contiguous score range it should be
    assert(quart.where(col("bucket") === "q1").agg(max("score"))
      .first().getLong(0) == 249L)
    // ties: scores [1 x4, 2 x2, 3 x4], tertiles over n=10 -> boundary
    // ranks ceil(3.33)=4 and ceil(6.67)=7: t0=1 (cum 4), t1=3 (cum 6 < 7
    // at score 2, so the cut slides to 3) -> the middle band swallows the
    // whole 3-mass and the top band is EMPTY — deterministic under ties
    val tied = (Seq.fill(4)(1) ++ Seq.fill(2)(2) ++ Seq.fill(4)(3))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "score")
    val t = Sampling.quantileBuckets(tied, col("score"),
      Seq(333333L, 666667L), Seq("tail", "middle", "head"))
    val byBand = t.groupBy("bucket").count().as[(String, Long)].collect().toMap
    assert(byBand == Map("tail" -> 4L, "middle" -> 6L), byBand.toString)
    // same-scored rows never split across bands
    val perScore = t.groupBy("score").agg(countDistinct("bucket").as("nb"))
      .as[(Int, Long)].collect().toMap
    assert(perScore.values.forall(_ == 1L), perScore.toString)
    // null scores: labeled null, excluded from n (bands of the rest move)
    val withNulls = tied.union(Seq((100L, null.asInstanceOf[Integer]))
      .map { case (i, s) => (i, Option(s).map(_.toInt).getOrElse(0)) }
      .toDF("id", "score").withColumn("score",
        when(col("id") === 100L, lit(null)).otherwise(col("score"))))
    val n = Sampling.quantileBuckets(withNulls, col("score"),
      Seq(333333L, 666667L), Seq("tail", "middle", "head"))
    assert(n.where(col("id") === 100L).select("bucket").first().isNullAt(0))
    assert(n.where(col("bucket").isNotNull).count() == 10L)
    // placement-independent: repartitioned input labels identically
    val re = Sampling.quantileBuckets(tied.repartition(7), col("score"),
      Seq(333333L, 666667L), Seq("tail", "middle", "head"))
      .select("id", "bucket").as[(Long, String)].collect().toMap
    assert(t.select("id", "bucket").as[(Long, String)].collect().toMap == re)
    intercept[IllegalArgumentException] { // labels arity
      Sampling.quantileBuckets(tied, col("score"), Seq(500000L), Seq("a"))
    }
    intercept[IllegalArgumentException] { // non-increasing cuts
      Sampling.quantileBuckets(tied, col("score"),
        Seq(600000L, 400000L), Seq("a", "b", "c"))
    }
    intercept[IllegalArgumentException] { // out-of-range ppm
      Sampling.quantileBuckets(tied, col("score"),
        Seq(0L, 500000L), Seq("a", "b", "c"))
    }
  }

  test("stratified sample keeps exactly floor(frac * |stratum|) per stratum") {
    val df = spark.range(0, 300)
      .select(col("id"), (col("id") % 3).cast("string").as("g"))
    val kept = Sampling.stratified(df, col("g"), col("id"), 0.25)
    val byG = kept.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(byG == Map("0" -> 25L, "1" -> 25L, "2" -> 25L))
    // deterministic
    assert(kept.as[(Long, String)].collect().toSet ==
      Sampling.stratified(df, col("g"), col("id"), 0.25).as[(Long, String)].collect().toSet)
  }

  test("stratified sample survives a 90%-skewed stratum: exact quotas, " +
    "same kept set as a naive per-stratum rank, no single-task sort") {
    import org.apache.spark.sql.expressions.Window
    // one stratum holds 90% of the corpus — the shape that melts a
    // per-stratum-only window at 100 TB
    val df = spark.range(0, 2000)
      .select(col("id"), when(col("id") < 1800, "hot").otherwise("cold").as("g"))
    val kept = Sampling.stratified(df, col("g"), col("id"), 0.3)
    val byG = kept.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(byG == Map("hot" -> 540L, "cold" -> 60L))
    // bit-identical to the naive single-window definition
    val naive = df
      .withColumn("__rn", row_number().over(
        Window.partitionBy("g").orderBy(md5(col("id").cast("string")), col("id"))))
      .withColumn("__q", floor(count(lit(1)).over(Window.partitionBy("g")) * 0.3))
      .where(col("__rn") <= col("__q")).select("id", "g")
    assert(kept.as[(Long, String)].collect().toSet ==
      naive.as[(Long, String)].collect().toSet)
    // and the plan never sorts the hot stratum through one task: every
    // window over the data carries the salt in its partition spec
    val plan = kept.queryExecution.executedPlan.toString
    assert("row_number\\(\\) windowspecdefinition\\(__st#\\d+, __salt#\\d+".r
      .findFirstIn(plan).isDefined, s"rank must be salted:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"))

    // a NULL stratum is a stratum too (the offsets join is null-safe):
    // 100 null-stratum rows at frac 0.3 keep exactly 30
    val withNull = spark.range(0, 200)
      .select(col("id"), when(col("id") < 100, "g").otherwise(lit(null)).as("g"))
    val keptNull = Sampling.stratified(withNull, col("g"), col("id"), 0.3)
      .groupBy("g").count().as[(String, Long)].collect().toMap
    assert(keptNull == Map("g" -> 30L, (null: String) -> 30L), keptNull.toString)
  }

  test("stratified salt width is a free parameter: widths 1 and 3 keep the " +
    "identical set and quotas as the default 2") {
    // the salt is an order-preserving md5 prefix at ANY width, so the kept
    // set must be invariant — only window parallelism changes (16^width)
    val df = spark.range(0, 2000)
      .select(col("id"), when(col("id") < 1800, "hot").otherwise("cold").as("g"))
    val ref = Sampling.stratified(df, col("g"), col("id"), 0.3)
      .as[(Long, String)].collect().toSet
    for (w <- Seq(1, 3)) {
      val kept = Sampling.stratified(df, col("g"), col("id"), 0.3, saltWidth = w)
      assert(kept.as[(Long, String)].collect().toSet == ref, s"width $w diverged")
    }
    intercept[IllegalArgumentException] {
      Sampling.stratified(df, col("g"), col("id"), 0.3, saltWidth = 9)
    }
    // 0 = unset resolves the width from the session-conf knob (the
    // /_settings deployment surface); any legal width keeps the same set
    spark.conf.set(graft.api.Knobs.SampleSaltWidth, "3")
    try {
      val viaConf = Sampling.stratified(df, col("g"), col("id"), 0.3)
        .as[(Long, String)].collect().toSet
      assert(viaConf == ref)
      spark.conf.set(graft.api.Knobs.SampleSaltWidth, "11")
      intercept[IllegalArgumentException] {
        Sampling.stratified(df, col("g"), col("id"), 0.3).collect()
      }
    } finally spark.conf.unset(graft.api.Knobs.SampleSaltWidth)
  }

  test("incremental dedup: a new batch checks against the persisted band " +
    "index without re-hashing the corpus; append grows the index") {
    import graft.functions.TextKernels
    def sh = TextKernels.wordShingles2(TextKernels.wordTokens(col("text")))
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "completely different content about spark catalyst plans and shuffles"),
      (3L, "yet another unrelated document mentioning parquet files and buckets")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bend"), // ~dup of 1
      (11L, "a totally novel text that matches nothing in the stored corpus")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-bandidx").toString + "/idx"
    Dedup.writeBandIndex(corpus, "doc_id", sh, path)
    val inc = Dedup.incrementalPairs(batch, "doc_id", sh, path, 0.7)
      .as[(Long, Long, Double)].collect().toSet
    // ground truth: the full-recompute pairs over corpus ∪ batch,
    // restricted to cross (batch, corpus) pairs
    val full = Dedup.minhashPairs(corpus.union(batch), "doc_id", sh, 0.7)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => (a >= 10) != (b >= 10) }
      .map { case (a, b, j) => (math.max(a, b), math.min(a, b), j) }.toSet
    assert(inc == full, s"inc=$inc full=$full")
    assert(inc.map(p => (p._1, p._2)) == Set((10L, 1L)))
    // append the accepted batch: the NEXT batch dedups against it too
    Dedup.writeBandIndex(batch, "doc_id", sh, path, append = true)
    val batch2 = Seq(
      (20L, "the quick brown fox jumps over the lazy dog near the river bend")
    ).toDF("doc_id", "text") // exact dup of 10, near-dup of 1
    val inc2 = Dedup.incrementalPairs(batch2, "doc_id", sh, path, 0.7)
      .as[(Long, Long, Double)].collect().toSet
    assert(inc2.map(p => (p._1, p._2)) == Set((20L, 10L), (20L, 1L)), inc2.toString)
    assert(inc2.find(_._2 == 10L).get._3 == 1.0) // identical shingle sets
  }

  test("incremental exact dedup: batch fingerprints join the persisted " +
    "index; keeper is the minimum indexed id") {
    val corpus = Seq(
      (5L, "Alpha, beta GAMMA!"), (9L, "alpha beta gamma"), // same fingerprint
      (7L, "something else entirely")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-fpidx").toString + "/idx"
    Dedup.writeFingerprintIndex(corpus, "doc_id", col("text"), path)
    val batch = Seq(
      (20L, "ALPHA beta gamma"),   // exact dup (normalized) of 5 and 9
      (21L, "fresh novel content")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalExact(batch, "doc_id", col("text"), path)
      .select("id", "keeper").as[(Long, Long)].collect().toSet
    assert(got == Set((20L, 5L)))
    // append the accepted batch; a later re-submission of 21's text is a dup
    Dedup.writeFingerprintIndex(batch, "doc_id", col("text"), path, append = true)
    val again = Seq((30L, "Fresh  novel content.")).toDF("doc_id", "text")
    val got2 = Dedup.incrementalExact(again, "doc_id", col("text"), path)
      .select("id", "keeper").as[(Long, Long)].collect().toSet
    assert(got2 == Set((30L, 21L)))
  }

  test("capPerKey: at most cap rows per key, deterministic hash order, " +
    "identical to a per-key row_number at any salt width") {
    import graft.operators.Sampling
    val rows = (1L to 300L).map(i => (i, if (i % 10 == 0) "rare" else "hot"))
      .toDF("id", "dom")
    def kept(width: Int) = Sampling.capPerKey(rows, col("dom"), col("id"), 25L,
      saltWidth = width).select("id").as[Long].collect().toSet
    // brute-force reference: rank within key by (md5, id)
    val ref = rows
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("dom")
          .orderBy(md5(col("id").cast("string")), col("id"))))
      .where(col("rn") <= 25).select("id").as[Long].collect().toSet
    assert(kept(1) == ref && kept(3) == ref)
    // the rare key has 30 rows -> capped to 25; hot has 270 -> capped to 25
    val byDom = Sampling.capPerKey(rows, col("dom"), col("id"), 25L)
      .groupBy("dom").count().as[(String, Long)].collect().toMap
    assert(byDom == Map("hot" -> 25L, "rare" -> 25L))
    // cap above the key size keeps everything; cap 0 keeps nothing
    assert(Sampling.capPerKey(rows, col("dom"), col("id"), 1000L).count() == 300)
    assert(Sampling.capPerKey(rows, col("dom"), col("id"), 0L).count() == 0)
  }

  test("urlHost: lowercased host, port and www stripped") {
    import graft.functions.TextKernels
    val got = Seq("HTTPS://WWW.ExAmple.COM:8443/p?q=1", "http://a.b.example/x",
      "https://www.example.org").toDF("u")
      .select(TextKernels.urlHost(col("u"))).as[String].collect().toSeq
    assert(got == Seq("example.com", "a.b.example", "example.org"))
  }

  test("incrementalExactBloom: identical answers to the plain join, with " +
    "and without planted dups; novel batches skip the covered index") {
    import graft.operators.Dedup
    val path = java.nio.file.Files.createTempDirectory("graft-bloom").toString + "/fpidx"
    val corpus = (1L to 200L).map(i => (i, s"stored doc number $i body"))
      .toDF("doc_id", "text")
    Dedup.writeFingerprintIndex(corpus, "doc_id", col("text"), path)
    Dedup.writeFingerprintBloom(spark, path)
    // mixed batch: two dups of stored docs + two novel docs
    val mixed = Seq((501L, "stored doc number 7 body"),
      (502L, "stored doc number 150 body"), (503L, "novel a"), (504L, "novel b"))
      .toDF("doc_id", "text")
    def run(f: (org.apache.spark.sql.DataFrame, String, org.apache.spark.sql.Column,
        String, Option[Long]) => org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame) =
      f(b, "doc_id", col("text"), path, None)
        .select("id", "keeper").as[(Long, Long)].collect().toSet
    assert(run(Dedup.incrementalExactBloom, mixed) ==
      run(Dedup.incrementalExact, mixed))
    assert(run(Dedup.incrementalExactBloom, mixed) == Set((501L, 7L), (502L, 150L)))
    // all-novel batch: bloom kills every row; result empty like the join
    val novel = Seq((601L, "wholly new x"), (602L, "wholly new y"))
      .toDF("doc_id", "text")
    assert(run(Dedup.incrementalExactBloom, novel).isEmpty)
  }

  test("incrementalExactBloom: batches appended AFTER the bloom build are " +
    "matched through the partition-pruned recent read; compaction " +
    "refreshes the high-water mark") {
    import graft.operators.Dedup
    val path = java.nio.file.Files.createTempDirectory("graft-bloom2").toString + "/fpidx"
    val base = (1L to 50L).map(i => (i, s"base doc $i")).toDF("doc_id", "text")
    Dedup.writeFingerprintIndex(base, "doc_id", col("text"), path)
    Dedup.writeFingerprintBloom(spark, path)
    // a streaming-style append lands AFTER the bloom: its rows are above
    // the high-water mark, so the bloom cannot vouch for them
    val appended = Seq((100L, "late arrival alpha"), (101L, "late arrival beta"))
      .toDF("doc_id", "text")
    Dedup.writeFingerprintIndex(appended, "doc_id", col("text"), path,
      append = true, batchId = Some(3L))
    val probe = Seq((200L, "late arrival alpha"), (201L, "base doc 9"))
      .toDF("doc_id", "text")
    def got() = Dedup.incrementalExactBloom(probe, "doc_id", col("text"), path, None)
      .select("id", "keeper").as[(Long, Long)].collect().toSet
    assert(got() == Set((200L, 100L), (201L, 9L)))
    // fold the appended batch into the base: without the bloom refresh the
    // stale mark would hide the folded rows from BOTH paths
    Dedup.compactFingerprintIndex(spark, path)
    assert(got() == Set((200L, 100L), (201L, 9L)))
    val meta = graft.operators.IndexIO.readMeta(spark, path).get
    assert(meta.path("bloomUpTo").asLong(-99L) == -1L) // all folded to base
  }

  test("chunkTokens: overlapping windows, short-doc and empty-doc edges, " +
    "exact spans") {
    import graft.operators.Packing
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i")),  // 10 tokens, size 4 stride 3 -> 4 chunks
      (2L, Seq("a")),                    // shorter than one window -> 1 chunk
      (3L, Seq.empty[String])            // empty -> no rows
    ).toDF("doc_id", "w")
    val got = Packing.chunkTokens(docs, col("doc_id"), col("w"), 4, overlap = 1)
      .orderBy("id", "chunk_idx")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1L, 3L, 7L, "t4 t5 t6 t7"),
      (1L, 2L, 6L, 10L, "t7 t8 t9 t10"),
      (1L, 3L, 9L, 10L, "t10"),          // final short window
      (2L, 0L, 0L, 1L, "a")))
    // no shuffle anywhere: chunking is a pure narrow map
    val plan = Packing.chunkTokens(docs, col("doc_id"), col("w"), 4, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    intercept[IllegalArgumentException](
      Packing.chunkTokens(docs, col("doc_id"), col("w"), 4, overlap = 4))
  }

  test("session-conf knobs: ann.probes and dedup.checkpointEvery resolve " +
    "when the argument is left unset") {
    import graft.api.Knobs
    import graft.operators.AnnSearch
    val rnd = new scala.util.Random(83)
    val corpus = (0 until 200).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextDouble() * 2 - 1))).toDF("vid", "v")
    val q = Seq.fill(16)(rnd.nextDouble() * 2 - 1)
    spark.conf.set(Knobs.AnnProbes, "4")
    try {
      val viaConf = AnnSearch.lshTopK(corpus, "vid", col("v"), 16, q, 5)
        .collect().map(_.toSeq).toSeq
      val explicit = AnnSearch.lshTopK(corpus, "vid", col("v"), 16, q, 5, probes = 4)
        .collect().map(_.toSeq).toSeq
      assert(viaConf == explicit)
    } finally spark.conf.unset(Knobs.AnnProbes)
    // a bad conf value fails loudly, and so does an explicit negative
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    spark.conf.set(Knobs.DedupCheckpointEvery, "-1")
    try {
      intercept[IllegalArgumentException](Dedup.clusters(pairs, localEdgeLimit = 0L))
    } finally spark.conf.unset(Knobs.DedupCheckpointEvery)
    intercept[IllegalArgumentException](
      Dedup.clusters(pairs, checkpointEvery = -3))
  }

  test("mix applies per-group rates with a default") {
    val df = spark.range(0, 600)
      .select(col("id"), concat(lit("s"), (col("id") % 3)).as("src"))
    val kept = Sampling.mix(df, col("src"), col("id"),
      Map("s0" -> 100, "s1" -> 0), 50)
    val byG = kept.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(byG.getOrElse("s0", 0L) == 200L) // rate 100 keeps all
    assert(!byG.contains("s1"))             // rate 0 keeps none
    val s2 = byG.getOrElse("s2", 0L)        // default 50% keeps about half
    assert(s2 > 60 && s2 < 140)
  }

  // ----------------------------------------------------------------- packing

  test("packOffsets matches a sequential prefix sum, across bucket splits") {
    val rows = (0L until 100L).map(i => (i, 1L + (i * 7) % 13))
    val df = rows.toDF("id", "n")
    // tiny buckets force multi-bucket offsets; chunk size forces rollover
    val got = Packing.packOffsets(df, col("id"), col("n"), 16L, buckets = 7)
      .select("id", "start", "chunk").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    var cum = 0L
    rows.zip(got).foreach { case ((id, n), (gid, start, chunk)) =>
      assert(gid == id && start == cum && chunk == cum / 16, s"id $id")
      cum += n
    }
  }

  test("packOffsets on sparse non-dense ids still assigns id-order offsets") {
    val df = Seq((5L, 10L), (100L, 10L), (1000L, 10L), (7L, 5L)).toDF("id", "n")
    val got = Packing.packOffsets(df, col("id"), col("n"), 8L, buckets = 3)
      .select("id", "start").as[(Long, Long)].collect().toMap
    assert(got == Map(5L -> 0L, 7L -> 10L, 100L -> 15L, 1000L -> 25L))
  }

  test("packOffsets and budgetSelect are safe on empty input") {
    val df = Seq.empty[(Long, Long, Double)].toDF("id", "n", "q")
    assert(Packing.packOffsets(df, col("id"), col("n"), 16L).count() == 0)
    assert(Packing.budgetSelect(df, col("id"), col("n"), col("q"), 100L)
      .count() == 0)
  }

  test("budgetSelect excludes null/NaN quality rows without consuming budget") {
    // before the fix, the null bucket's tokens inflated every real
    // bucket's offset (under-selecting the corpus) while the null rows
    // themselves dropped out of the join
    val df = Seq(
      (1L, 10L, Option(0.9)), (2L, 10L, Option(0.8)),
      (3L, 1000L, None), (4L, 10L, Option(Double.NaN)),
      (5L, 10L, Option(0.7))).toDF("id", "n_tok", "q")
    val got = Packing.budgetSelect(df, col("id"), col("n_tok"), col("q"), 30L)
      .select("id", "cum_tok").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 10L, 2L -> 20L, 5L -> 30L), got.toString)
  }

  test("budgetSelect equi-depth bucketing: a constant-heavy quality " +
    "distribution still selects the exact global prefix, balanced buckets") {
    // 90% of rows share quality 0.5 (a dominant default score); the rest
    // spread above and below. Uniform-width quantization collapsed the
    // mass into ONE bucket's window; the (q, id)-pair boundaries sub-split
    // it by id.
    val rows = (0L until 2000L).map { i =>
      val q = if (i % 10 == 0) 1.0 - i / 4000.0 else 0.5
      (i, 3L, q)
    }
    val df = rows.toDF("id", "n_tok", "q")
    val budget = 3000L
    val got = Packing.budgetSelect(df, col("id"), col("n_tok"), col("q"),
        budget, buckets = 16)
      .select("id", "cum_tok").as[(Long, Long)].collect()
    // sequential oracle over (q desc, id asc)
    val order = rows.sortBy { case (id, _, q) => (-q, id) }
    var cum = 0L
    val want = order.takeWhile { case (_, n, _) => { cum += n; cum <= budget } }
      .map(_._1).toSet
    assert(got.map(_._1).toSet == want)
    // the running totals are the true global prefix sums
    var cum2 = 0L
    val cumById = order.map { case (id, n, _) => cum2 += n; id -> cum2 }.toMap
    got.foreach { case (id, c) => assert(c == cumById(id), s"id $id") }
    // balance: with 16 requested buckets over 2000 rows, no bucket's
    // window may hold the 90% mass (the old uniform-width failure mode
    // collapsed all 1800 constant-quality rows into one window)
    val sizes = Packing.budgetBuckets(df, col("id"), col("n_tok"), col("q"), 16)
      .groupBy("__bk").count().as[(Long, Long)].collect().map(_._2)
    assert(sizes.max <= 500,
      s"largest bucket ${sizes.max} of 2000 — mass not sub-split: ${sizes.toSeq}")
  }

  test("lineDedup: blank lines are structure, not content — every " +
    "document keeps its paragraph breaks") {
    val docs = Seq(
      (1L, "alpha one\n\nalpha two"),
      (2L, "beta one\n\nbeta two\n\nbeta three")).toDF("doc_id", "text")
    val got = Dedup.lineDedup(docs, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // before the fix, doc 2's empty lines deduped against doc 1's and its
    // paragraph structure collapsed
    assert(got(1L) == "alpha one\n\nalpha two")
    assert(got(2L) == "beta one\n\nbeta two\n\nbeta three")
  }

  test("minhashPairs excludes empty shingle sets up front — a flood of " +
    "too-short docs yields no candidates, not an all-pairs join") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = ((1 to 200).map(i => (i.toLong, "x")) :+ // 1-token: 0 shingles
      (900L, base) :+ (901L, base)).toDF("doc_id", "text")
    val sh = TextKernels.wordShingles2(TextKernels.wordTokens(col("text")))
    val pairs = Dedup.minhashPairs(docs, "doc_id", sh, 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((900L, 901L)), pairs.toString)
    intercept[IllegalArgumentException](
      Dedup.minhashPairs(docs, "doc_id", sh, 0.0))
  }

  test("budgetSelect matches a sequential single-window oracle on random " +
    "quality distributions (massed levels, discrete levels, NaN, ties)") {
    val rnd = new scala.util.Random(421)
    for (trial <- 1 to 5) {
      val n = 200 + rnd.nextInt(300)
      val rows = (0 until n).map { i =>
        val q = rnd.nextInt(5) match {
          case 0 | 1 => 0.5                   // massed level (40% of rows)
          case 2 => Double.NaN                // excluded from selection
          case 3 => rnd.nextInt(3).toDouble   // few discrete levels -> ties
          case _ => rnd.nextDouble()
        }
        (i.toLong, 1L + rnd.nextInt(20), q)
      }
      val budget = (200 + rnd.nextInt(1800)).toLong
      val got = Packing.budgetSelect(rows.toDF("id", "n_tok", "q"),
          col("id"), col("n_tok"), col("q"), budget, buckets = 8)
        .select("id", "cum_tok").as[(Long, Long)].collect().toMap
      var cum = 0L
      val want = rows.filter(!_._3.isNaN)
        .sortBy { case (id, _, q) => (-q, id) }
        .iterator.map { case (id, t, _) => cum += t; (id, cum) }
        .takeWhile(_._2 <= budget).toMap
      assert(got == want, s"trial $trial (n=$n budget=$budget)")
    }
  }

  // ------------------------------------------------------------------ tf-idf

  test("tf-idf ranks corpus-rare repeated terms highest") {
    val docs = Seq(
      (1L, "apple apple banana shared"),
      (2L, "banana cherry shared"),
      (3L, "shared cherry date date date")).toDF("doc_id", "text")
    val got = TfIdf.topTerms(docs, col("doc_id"), TextKernels.wordTokens(col("text")), 2)
      .select("doc_id", "term", "rank").as[(Long, String, Long)]
      .collect().toSet
    // doc 1: apple tf=2 df=1 -> 6.0; banana tf=1 df=2 -> 1.5
    // doc 3: date tf=3 df=1 -> 9.0; cherry tf=1 df=2 -> 1.5
    assert(got.contains((1L, "apple", 1L)) && got.contains((1L, "banana", 2L)))
    assert(got.contains((3L, "date", 1L)) && got.contains((3L, "cherry", 2L)))
    // every doc got exactly 2 ranked terms
    assert(got.groupBy(_._1).forall(_._2.size == 2))
  }

  test("tf-idf breaks score ties by term, ranks are dense per doc") {
    val docs = Seq((1L, "b a"), (2L, "x y")).toDF("doc_id", "text")
    val got = TfIdf.topTerms(docs, col("doc_id"), TextKernels.wordTokens(col("text")), 2)
      .select("doc_id", "term", "rank").as[(Long, String, Long)].collect().toSet
    // all four terms have tf=1 df=1 -> equal scores; term order decides
    assert(got == Set((1L, "a", 1L), (1L, "b", 2L), (2L, "x", 1L), (2L, "y", 2L)))
  }

  test("corpusFreqQuality: common-token docs score high ppm, rare-token " +
    "docs low, zero-token docs emit no row") {
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "")).toDF("doc_id", "text")
    val got = TfIdf.corpusFreqQuality(docs, col("doc_id"),
        TextKernels.wordTokens(col("text")))
      .as[(Long, Double)].collect().toMap
    // vocab: a=3, b=1, c=1, total=5
    // doc 1: (3+3+1)/3/5 * 1e6 = 466666.666667; doc 2: (3+1)/2/5 * 1e6
    assert(got == Map(1L -> 466666.666667, 2L -> 400000.0), got.toString)
    // the boilerplate direction: an all-common-token doc outranks a
    // rare-token one — the two tails a perplexity filter drops
    assert(got(1L) > got(2L))
  }

  test("bigramQuality: predictable prose outscores shuffled rare words, " +
    "n_bigrams = tokens - 1, sub-bigram docs emit no row, hand value " +
    "exact, placement-independent") {
    // docs 1-2 follow the dominant a->b / b->a alternation; doc 3 uses the
    // SAME vocabulary in the corpus-rare continuations (a->a, b->b); doc 4
    // too short for any bigram; doc 5 empty. Corpus counts: unigrams a=7
    // b=7 one=1 T=15; bigrams (a,b)=5 (b,a)=4 (b,b)=1 (a,a)=1; heads a=6 b=5
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "a b a b"),
      (3L, "b b a a"),
      (4L, "one"),
      (5L, "")).toDF("doc_id", "text")
    val got = TfIdf.bigramQuality(docs, col("doc_id"),
        TextKernels.wordTokens(col("text")))
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set(1L, 2L, 3L), got.toString)
    assert(got(1L)._1 == 5L && got(2L)._1 == 3L && got(3L)._1 == 3L)
    // rare continuations are surprising under the corpus LM
    assert(got(1L)._2 > got(3L)._2 && got(2L)._2 > got(3L)._2, got.toString)
    // hand value, doc 2: bigrams (a,b) (b,a) (a,b) ->
    // p(b|a) = 0.75*(5/6) + 0.25*(7/15), p(a|b) = 0.75*(4/5) + 0.25*(7/15)
    val lpAb = math.log(0.75 * (5.0 / 6.0) + 0.25 * (7.0 / 15.0))
    val lpBa = math.log(0.75 * (4.0 / 5.0) + 0.25 * (7.0 / 15.0))
    val expect2 = BigDecimal((lpAb + lpBa + lpAb) / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(2L)._2 == expect2, s"${got(2L)._2} vs $expect2")
    // identical rounded scores under a different partitioning
    val re = TfIdf.bigramQuality(docs.repartition(7), col("doc_id"),
        TextKernels.wordTokens(col("text")))
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(re == got)
    intercept[IllegalArgumentException] {
      TfIdf.bigramQuality(docs, col("doc_id"),
        TextKernels.wordTokens(col("text")), lambdaPpm = 0L)
    }
  }

  test("BigramLm: persisted model scores another corpus through all three " +
    "probability branches, self-score equals bigramQuality, foreign " +
    "sidecar rejected") {
    import graft.operators.BigramLm
    val root = java.nio.file.Files.createTempDirectory("graft-lmmodel").toString
    // fit corpus: unigrams a=5 b=5 T=10 V=2; bigrams (a,b)=5 (b,a)=3;
    // heads a=5 b=3 -> lp(a,b) = lp(b,a) = ln(0.75*1 + 0.25*0.5)
    val fitDocs = Seq((1L, "a b a b a b"), (2L, "a b a b"))
      .toDF("doc_id", "text")
    BigramLm.fit(spark, fitDocs, TextKernels.wordTokens(col("text")),
      s"$root/m")
    // score corpus: (a,a) = unseen bigram, seen word -> backoff ln(0.25*0.5);
    // (a,b) = hit; (b,c) = unseen word -> floor ln(0.25 * 1/12); "x" alone
    // has no bigram and emits no row
    val scoreDocs = Seq((10L, "a a b"), (11L, "b c"), (12L, "x"))
      .toDF("doc_id", "text")
    val got = BigramLm.score(spark, scoreDocs, col("doc_id"),
        TextKernels.wordTokens(col("text")), s"$root/m")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(10L, 11L), got.toString)
    val hit = math.log(0.75 * 1.0 + 0.25 * 0.5)
    val backoff = math.log(0.25 * 0.5)
    val floor = math.log(0.25 * (1.0 / 12.0))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(10L) == ((2L, 1L, r6((backoff + hit) / 2))), got.toString)
    assert(got(11L) == ((1L, 1L, r6(floor))), got.toString)
    // scoring the fit corpus against its own model = the one-shot form
    val self = BigramLm.score(spark, fitDocs, col("doc_id"),
        TextKernels.wordTokens(col("text")), s"$root/m")
      .select("doc_id", "n_bigrams", "logq")
      .as[(Long, Long, Double)].collect().toSet
    val oneShot = TfIdf.bigramQuality(fitDocs, col("doc_id"),
        TextKernels.wordTokens(col("text")))
      .as[(Long, Long, Double)].collect().toSet
    assert(self == oneShot, s"$self vs $oneShot")
    // no OOV against the own-corpus model
    assert(BigramLm.score(spark, fitDocs, col("doc_id"),
        TextKernels.wordTokens(col("text")), s"$root/m")
      .agg(sum("n_oov")).first().getLong(0) == 0L)
    // a foreign-kind sidecar fails fast
    graft.operators.IndexIO.writeMeta(spark, s"$root/other",
      """{"kind":"dsir"}""")
    intercept[IllegalArgumentException] {
      BigramLm.score(spark, scoreDocs, col("doc_id"),
        TextKernels.wordTokens(col("text")), s"$root/other")
    }
    intercept[IllegalArgumentException] {
      BigramLm.fit(spark, fitDocs, TextKernels.wordTokens(col("text")),
        s"$root/bad", lambdaPpm = 1000000L)
    }
  }

  test("winnowPairs: a passage copied into a different document is caught " +
    "(containment), whole-doc Jaccard would dilute it; common text is capped") {
    import graft.operators.Dedup
    val passage = "the winnowing guarantee selects at least one shared " +
      "fingerprint for every sufficiently long common substring of two texts"
    def filler(seed: Int, n: Int): String = {
      val rnd = new scala.util.Random(seed)
      // high-entropy 6-char words: fillers of different docs share no
      // 8-char substring (a tiny word vocabulary would fabricate overlap)
      (0 until n).map(_ => (0 until 6).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
        .mkString(" ")
    }
    val docs = Seq(
      (1L, filler(1, 60) + " " + passage + " " + filler(2, 60)),
      (2L, filler(3, 60) + " " + passage + " " + filler(4, 60)),
      (3L, filler(5, 120))).toDF("doc_id", "text")
    val got = Dedup.winnowPairs(docs, "doc_id", col("text"))
      .as[(Long, Long, Long)].collect().toMap2
    // docs 1 and 2 share ONLY the passage — whole-doc 10-gram Jaccard of
    // this pair is ~0.2, far below any near-dup threshold, but the
    // winnowed passage fingerprints match directly
    assert(got.keySet == Set((1L, 2L)), got.toString)
    assert(got((1L, 2L)) >= 10)
    // the guarantee is substring-local: the shared count approximates the
    // passage's selected density (2/(w+1) of ~120 gram positions), not
    // the documents' overall similarity
    val justPassage = Dedup.winnowPairs(
      Seq((1L, passage), (2L, passage + " unrelated tail here")).toDF("doc_id", "text"),
      "doc_id", col("text"))
      .as[(Long, Long, Long)].collect()
    assert(justPassage.length == 1 && justPassage.head._3 >= 10)
  }

  test("winnow df-cap inversion: the measured InSet filter (in-scope), the " +
    "forced anti-join fallback, and the unmeasured anti-join path all keep " +
    "exactly the rows the r16 rare-set inner join kept") {
    import graft.operators.Dedup
    val passage = "the winnowing guarantee selects at least one shared " +
      "fingerprint for every sufficiently long common substring of two texts"
    val header = "this license header is boilerplate appearing on every " +
      "single document of the corpus and must be capped out of the join"
    def filler(seed: Int, n: Int): String = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map(_ => (0 until 6).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
        .mkString(" ")
    }
    // the header rides EVERY doc (df = 25 > maxDf = 20 -> hot, capped);
    // only docs 1 and 2 additionally share the passage
    val docs = ((1L to 2L).map(i =>
        (i, header + " " + filler(i.toInt, 40) + " " + passage)) ++
      (3L to 25L).map(i => (i, header + " " + filler(100 + i.toInt, 40))))
      .toDF("doc_id", "text")
    // out-of-scope: unmeasured -> anti-join path (no driver jobs at
    // construction)
    val antiP = Dedup.winnowPairs(docs, "doc_id", col("text"))
      .as[(Long, Long, Long)].collect().toSet
    val antiS = Dedup.winnowSpans(docs, "doc_id", col("text"))
      .collect().map(_.toSeq).toSet
    assert(antiP.map(p => (p._1, p._2)) == Set((1L, 2L)),
      "the capped header must contribute no votes: " + antiP)
    def inScope[T](body: => T): T = graft.util.CacheScope.withScope(body)
    // in-scope measured: small hot set -> InSet filter
    val inP = inScope(Dedup.winnowPairs(docs, "doc_id", col("text"))
      .as[(Long, Long, Long)].collect().toSet)
    val inS = inScope(Dedup.winnowSpans(docs, "doc_id", col("text"))
      .collect().map(_.toSeq).toSet)
    assert(inP == antiP)
    assert(inS == antiS)
    // hot set larger than the inline bound -> measured fallback to the
    // anti-join; inline disabled entirely -> same
    for (bound <- Seq("1", "0")) {
      spark.conf.set(graft.api.Knobs.DedupHotFpInlineMax, bound)
      try assert(inScope(Dedup.winnowPairs(docs, "doc_id", col("text"))
        .as[(Long, Long, Long)].collect().toSet) == antiP)
      finally spark.conf.unset(graft.api.Knobs.DedupHotFpInlineMax)
    }
  }

  test("dropHotFingerprints: null fingerprints are dropped on every path — " +
    "the empty inlined hot set, the inlined InSet filter and the anti-join") {
    import graft.operators.Dedup
    val occ = Seq[(Long, java.lang.Long)]((1L, 10L), (2L, 10L), (3L, 20L),
      (4L, null), (5L, null)).toDF("id", "fp")
    def kept(hot: Seq[java.lang.Long], scoped: Boolean): Set[(Long, Long)] = {
      def body = Dedup.dropHotFingerprints(occ, hot.toDF("fp"))
        .select("id", "fp").as[(Long, Long)].collect().toSet
      if (scoped) graft.util.CacheScope.withScope(body) else body
    }
    def antiJoinInScope(hot: Seq[java.lang.Long]): Set[(Long, Long)] = {
      spark.conf.set(graft.api.Knobs.DedupHotFpInlineMax, "0")
      try kept(hot, scoped = true)
      finally spark.conf.unset(graft.api.Knobs.DedupHotFpInlineMax)
    }
    val all = Set((1L, 10L), (2L, 10L), (3L, 20L))
    // an empty hot set: inlined (scoped) and anti-joined (unscoped, or
    // inlining disabled)
    val none = Seq.empty[java.lang.Long]
    assert(kept(none, scoped = true) == all)
    assert(kept(none, scoped = false) == all)
    assert(antiJoinInScope(none) == all)
    // a hot fingerprint, and a null in the hot set itself
    val hot = Seq[java.lang.Long](20L, null)
    assert(kept(hot, scoped = true) == all - ((3L, 20L)))
    assert(kept(hot, scoped = false) == all - ((3L, 20L)))
    assert(antiJoinInScope(hot) == all - ((3L, 20L)))
  }

  test("winnowSpans: recovers WHERE the copied passage sits in both " +
    "documents, on the correct alignment diagonal") {
    import graft.operators.Dedup
    val passage = "the winnowing guarantee selects at least one shared " +
      "fingerprint for every sufficiently long common substring of two texts"
    def filler(seed: Int, n: Int): String = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map(_ => (0 until 6).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
        .mkString(" ")
    }
    // fillers of DIFFERENT lengths: the passage sits at different offsets
    // in the two documents, so the span must be found on a nonzero
    // diagonal, not just at equal positions
    val f1 = filler(11, 60); val f3 = filler(13, 47)
    val docs = Seq(
      (1L, f1 + " " + passage + " " + filler(12, 60)),
      (2L, f3 + " " + passage + " " + filler(14, 60)),
      (3L, filler(15, 120))).toDF("doc_id", "text")
    val (k, w) = (16, 8)
    val aStart = f1.length + 2; val aEnd = aStart + passage.length - 1
    val bStart = f3.length + 2
    val spans = Dedup.winnowSpans(docs, "doc_id", col("text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getLong(6)))
    assert(spans.length == 1, spans.mkString(", "))
    val (a, b, as_, ae, bs, be, nFp) = spans.head
    assert(a == 1L && b == 2L)
    // boundary grams straddle filler text, so the recovered bounds sit
    // within the winnowing guarantee's k + w slack of the true passage
    assert(as_ >= aStart && as_ <= aStart + k + w, s"a_start $as_ vs planted $aStart")
    assert(ae <= aEnd && ae >= aEnd - (k + w), s"a_end $ae vs planted $aEnd")
    assert(bs - as_ == bStart - aStart, "span must sit on the copy's diagonal")
    assert(be - bs == ae - as_, "verbatim copy spans have equal lengths")
    assert(nFp >= 10)
    // the recovered substrings are the same text, byte for byte
    val byId = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(1L).substring(as_ - 1, ae) == byId(2L).substring(bs - 1, be))
  }

  private implicit class ToMap2(rows: Array[(Long, Long, Long)]) {
    def toMap2: Map[(Long, Long), Long] = rows.map(r => (r._1, r._2) -> r._3).toMap
  }

  // ----------------------------------------------------------- simhash pairs

  test("simhashPairs == brute-force hamming<=3 pairs (pigeonhole capture is exhaustive)") {
    // deterministic corpus: 3 template families with per-doc small edits, so
    // some pairs land within hamming 3 and most do not
    val vocab = Seq("spark", "join", "stream", "window", "shuffle", "batch",
      "column", "schema", "codegen", "plan", "stage", "task", "executor",
      "driver", "cache", "hash", "sort", "merge", "scan", "sink")
    val docs = ((0 until 30).map { i =>
      val fam = i % 3
      val toks = (0 until 12).map(j => vocab((fam * 7 + j * 3) % vocab.size)) :+
        vocab((fam * 7 + i / 3) % vocab.size)
      (i.toLong, toks.mkString(" "))
    } ++ Seq((100L, ""), (101L, "   "), (102L, " "))) // contentless docs
      .toDF("doc_id", "text")

    // brute force over NON-zero fingerprints only: contentless docs map to
    // [0,0,0,0] and are excluded by the operator (empty-doc blowup guard)
    val bands = docs.select(col("doc_id"),
        TextKernels.simhash64Bands(TextKernels.simhash64Sums(
          TextKernels.wordTokens(col("text")))).as("bands"))
      .as[(Long, Seq[Int])].collect().toMap
      .filter { case (_, b) => b.exists(_ != 0) }
    val expected = (for {
      a <- bands.keys; b <- bands.keys if a < b
      h = bands(a).zip(bands(b)).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
      if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(expected.nonEmpty, "fixture must contain at least one near-dup pair")

    val got = Dedup.simhashPairs(docs, "doc_id", TextKernels.wordTokens(col("text")))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("hammingPairs == brute-force hamming<=3 over arbitrary 64-bit " +
    "signatures; all-zero signatures are excluded") {
    // deterministic signatures: a cluster of near-identical codes (1-3 bit
    // flips off a base), far-away codes, and two all-zero rows
    val base = 0x5a5a1234deadbeefL
    val sigs = Seq(
      1L -> base,
      2L -> (base ^ 1L),                 // hamming 1 from base
      3L -> (base ^ (1L << 17) ^ (1L << 63)), // hamming 2
      4L -> (base ^ 0x0fL),              // hamming 4 — beyond threshold
      5L -> ~base,                       // hamming 64
      6L -> 0x123456789abcdef0L,
      7L -> 0L, 8L -> 0L                 // contentless guard
    ).toDF("id", "sig")
    val nz = Seq(1L -> base, 2L -> (base ^ 1L),
      3L -> (base ^ (1L << 17) ^ (1L << 63)), 4L -> (base ^ 0x0fL),
      5L -> ~base, 6L -> 0x123456789abcdef0L).toMap
    val expected = (for {
      a <- nz.keys; b <- nz.keys if a < b
      h = java.lang.Long.bitCount(nz(a) ^ nz(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    // note (2,4): (base^1) xor (base^0x0f) = 0x0e — hamming 3, caught too
    assert(expected ==
      Set((1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 3L), (2L, 4L, 3L)))
    val got = Dedup.hammingPairs(sigs, "id", "sig")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("hot-band skew guard: banded verify work is quadratic in DISTINCT " +
    "signatures, independent of carrier multiplicity; carrier pairs stay exact") {
    // adversarial corpus: one boilerplate signature carried by k ids (a
    // corpus-wide intro card / constant white frame), plus a handful of
    // genuinely distinct codes. Before the collapse the band join put all
    // k carriers in one (band, value) bucket -> k(k-1)/2 * 4 verify pairs;
    // now the band join sees ONE row for the boilerplate signature.
    val boiler = 0x5a5a1234deadbeefL
    val others = Seq(0x123456789abcdef0L, boiler ^ 1L, ~boiler,
      0x0f0f0f0f0f0f0f0fL, 0x7777000011112222L)
    def corpus(k: Int) =
      ((0 until k).map(i => (i.toLong, boiler)) ++
        others.zipWithIndex.map { case (s, i) => ((1000 + i).toLong, s) })
        .toDF("id", "sig")
    def candidateCount(k: Int): Long =
      Dedup.sigBandCandidates(
        corpus(k).select(col("sig")).distinct()).count()
    // the verify-pair count must NOT grow with carriers
    val c10 = candidateCount(10)
    val c120 = candidateCount(120)
    assert(c10 == c120, s"verify pairs grew with carrier count: $c10 -> $c120")
    val d = 1 + others.size // distinct signatures
    assert(c120 <= d.toLong * (d - 1) / 2,
      s"verify pairs $c120 exceed distinct-signature pairs ${d * (d - 1) / 2}")

    // exactness at k = 120: every carrier pair (hamming 0) plus the one
    // cross pair boiler <-> boiler^1 per carrier
    val k = 120
    val got = Dedup.hammingPairs(corpus(k), "id", "sig")
      .as[(Long, Long, Long)].collect().toSet
    val expectWithin = (for { a <- 0 until k; b <- a + 1 until k }
      yield (a.toLong, b.toLong, 0L)).toSet
    val expectCross = (0 until k).map(i => (i.toLong, 1001L, 1L)).toSet
    assert(got == expectWithin ++ expectCross)
  }

  test("hot-band skew guard (sequences): a boilerplate frame in every clip " +
    "does not blow up the band join, and single-frame collisions stay " +
    "below minMatch") {
    // k clips, each opening on the SAME boilerplate frame (pos 0); clips 0
    // and 1 additionally share two more aligned frames (a true re-encode
    // pair); everything else distinct.
    val boiler = 0x00ffcc11aa22bb33L
    val k = 60
    val rows = (0 until k).flatMap { i =>
      val tail =
        if (i <= 1) Seq(1L -> 0x1111222233334444L, 2L -> 0x5555666677778888L)
        else Seq(1L -> (0x1010101010101010L + i * 7919L),
          2L -> (0x2020202020202020L + i * 104729L))
      (Seq(0L -> boiler) ++ tail).map { case (p, s) => (i.toLong, p, s) }
    }.toDF("id", "frame_idx", "sig")
    val cands = Dedup.sigBandCandidates(
      rows.select(col("sig")).distinct()).count()
    val d = rows.select("sig").distinct().count()
    assert(cands <= d * (d - 1) / 2,
      s"verify pairs $cands exceed distinct-signature pairs ${d * (d - 1) / 2}")
    val pairs = Dedup.frameSigPairs(rows, "id", "frame_idx", "sig")
      .as[(Long, Long, Long, Long)].collect().toSet
    // only (0, 1) reaches minMatch = 2 (three aligned frames on d = 0);
    // every other clip pair shares just the boilerplate frame
    assert(pairs == Set((0L, 1L, 0L, 3L)))

    // df-cap boilerplate policy: with maxDf below the boilerplate's
    // carrier count, that frame contributes no votes — the true pair
    // still matches on its two remaining aligned frames
    val capped = Dedup.frameSigPairs(rows, "id", "frame_idx", "sig",
        maxDf = 10)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(capped == Set((0L, 1L, 0L, 2L)))
  }

  test("adaptive hot-band skew guard: direct banding (measured-cold) and " +
    "exact-signature collapse (measured-hot / unmeasured) emit identical " +
    "pair sets, for both hammingPairs and frameSigPairs") {
    // Inside a CacheScope the operators MEASURE the carrier histogram and
    // band the carrier rows directly when no signature exceeds
    // Knobs.DedupHotSigCarriers; outside a scope (or measured-hot) they
    // keep the exact-signature collapse. The output must be identical
    // either way.
    val base = 0x5a5a1234deadbeefL
    val sigRows = Seq(
      1L -> base, 2L -> (base ^ 1L), 3L -> (base ^ (1L << 17) ^ (1L << 63)),
      4L -> (base ^ 0x0fL), 5L -> ~base, 6L -> 0x123456789abcdef0L,
      7L -> base, 8L -> 0L // a same-sig carrier pair + a contentless row
    ).toDF("id", "sig")
    val frameRows = Seq(
      (0L, 0L, 0x00ffcc11aa22bb33L), (0L, 1L, 0x1111222233334444L),
      (0L, 2L, 0x5555666677778888L),
      (1L, 0L, 0x00ffcc11aa22bb33L), (1L, 1L, 0x1111222233334444L),
      (1L, 2L, 0x5555666677778888L),
      (2L, 0L, 0x00ffcc11aa22bb33L), (2L, 1L, 0x9999aaaabbbbccccL)
    ).toDF("id", "frame_idx", "sig")
    val collapseHam = Dedup.hammingPairs(sigRows, "id", "sig")
      .as[(Long, Long, Long)].collect().toSet
    val collapseFrm = Dedup.frameSigPairs(frameRows, "id", "frame_idx", "sig",
        minMatch = 1)
      .as[(Long, Long, Long, Long)].collect().toSet
    def inScope[T](body: => T): T = graft.util.CacheScope.withScope(body)
    // measured-cold: max carriers (2) is far under the default threshold
    val directHam = inScope(Dedup.hammingPairs(sigRows, "id", "sig")
      .as[(Long, Long, Long)].collect().toSet)
    val directFrm = inScope(
      Dedup.frameSigPairs(frameRows, "id", "frame_idx", "sig", minMatch = 1)
        .as[(Long, Long, Long, Long)].collect().toSet)
    assert(directHam == collapseHam)
    assert(directFrm == collapseFrm)
    // measured-hot: threshold 1 forces the collapse even in-scope; <= 0
    // forces it unconditionally — same results again
    for (t <- Seq("1", "0")) {
      spark.conf.set(graft.api.Knobs.DedupHotSigCarriers, t)
      try {
        assert(inScope(Dedup.hammingPairs(sigRows, "id", "sig")
          .as[(Long, Long, Long)].collect().toSet) == collapseHam)
        assert(inScope(
          Dedup.frameSigPairs(frameRows, "id", "frame_idx", "sig", minMatch = 1)
            .as[(Long, Long, Long, Long)].collect().toSet) == collapseFrm)
      } finally spark.conf.unset(graft.api.Knobs.DedupHotSigCarriers)
    }
    // the df cap holds on the direct path too: boilerplate frame at pos 0
    // is carried by all 3 clips — capping it to df <= 2 removes its votes
    val cappedCollapse = Dedup.frameSigPairs(frameRows, "id", "frame_idx",
        "sig", minMatch = 1, maxDf = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    val cappedDirect = inScope(Dedup.frameSigPairs(frameRows, "id",
        "frame_idx", "sig", minMatch = 1, maxDf = 2)
      .as[(Long, Long, Long, Long)].collect().toSet)
    assert(cappedDirect == cappedCollapse)
    assert(cappedCollapse != collapseFrm) // the cap actually bound

    // near matches, against a brute-force count over (a < b,
    // d = pos_a - pos_b): 8 clips open on one boilerplate frame; clips 0-3
    // carry one source sequence with 0-3 seeded bit flips per frame
    // (clips 2 and 3 trimmed by one frame); clip 4 repeats a signature
    // inside the clip, and clip 5 carries that signature once
    val rnd = new scala.util.Random(17)
    def flipBits(s: Long, k: Int) = rnd.shuffle((0 until 64).toList).take(k)
      .foldLeft(s)((x, bit) => x ^ (1L << bit))
    val boiler = 0x00ffcc11aa22bb33L
    val source = Seq.fill(5)(rnd.nextLong() | 1L)
    val rep = rnd.nextLong() | 1L
    val near: Seq[(Long, Long, Long)] = (0 until 8).flatMap { c =>
      val body: Seq[Long] =
        if (c < 4) source.drop(c / 2).map(s => flipBits(s, rnd.nextInt(4)))
        else if (c == 4) Seq(rep, rnd.nextLong() | 1L, rep)
        else if (c == 5) Seq(rnd.nextLong() | 1L, rep)
        else Seq.fill(3)(rnd.nextLong() | 1L)
      (boiler +: body).zipWithIndex.map { case (s, p) => (c.toLong, p.toLong, s) }
    }
    val nearRows = near.toDF("id", "frame_idx", "sig")
    val carriers = near.groupBy(_._3).map { case (s, fs) => s -> fs.map(_._1).distinct.size }
    var nearHit = false
    for (maxH <- Seq(0, 2, 3); minMatch <- Seq(1L, 2L); maxDf <- Seq(4096L, 5L)) {
      val live = near.filter { case (_, _, s) => carriers(s) <= maxDf }
      val matched = (for {
        (ia, pa, sa) <- live; (ib, pb, sb) <- live if ia < ib
        h = java.lang.Long.bitCount(sa ^ sb) if h <= maxH
      } yield ((ia, ib, pa - pb), h)).groupBy(_._1)
        .filter(_._2.size >= minMatch)
      val expected = matched.map { case ((a, b, d), ms) => (a, b, d, ms.size.toLong) }.toSet
      nearHit ||= matched.values.exists(_.exists(_._2 > 0))
      def run() = Dedup.frameSigPairs(nearRows, "id", "frame_idx", "sig",
          maxH, minMatch, maxDf)
        .as[(Long, Long, Long, Long)].collect().toSet
      val label = s"maxHamming=$maxH minMatch=$minMatch maxDf=$maxDf"
      assert(run() == expected, s"collapse, $label")
      assert(inScope(run()) == expected, s"direct, $label")
    }
    assert(nearHit, "the fixture must match a frame pair at hamming > 0")
  }

  test("ownsCache: the guarded projection over a cached frame owns its " +
    "cache; a higher-order or UDF predicate over it, or an uncached " +
    "chain, gets the guard's cache") {
    val cached = Seq((1L, 5L, Seq(1, 2)), (2L, 0L, Seq(3)))
      .toDF("id", "sig", "xs").cache()
    try {
      assert(!Dedup.ownsCache(Dedup.guardedSigs(cached, "id", None, "sig")))
      assert(Dedup.ownsCache(cached.where(exists(col("xs"), x => x > 2))))
      val odd = udf((x: Long) => x % 2 == 1)
      assert(Dedup.ownsCache(cached.where(odd(col("sig")))))
      assert(Dedup.ownsCache(Dedup.guardedSigs(
        spark.range(10).select(col("id"), col("id").as("sig")), "id", None, "sig")))
    } finally cached.unpersist()
  }

  test("compactHammingIndex maxDf drops corpus-boilerplate signatures " +
    "from the index: probes stop paying carrier-x-carrier candidates for " +
    "them while true pairs keep matching") {
    val path = java.nio.file.Files.createTempDirectory("graft-hamdf")
      .toString + "/idx"
    val boiler = 0x00ffcc11aa22bb33L
    val corpus = ((0 until 30).map(i => (i.toLong, boiler)) ++
      Seq(100L -> 0x1111222233334444L, 101L -> 0x5555666677778888L))
      .toDF("id", "sig")
    Dedup.writeHammingIndex(corpus, "id", "sig", path)
    // batch: one boilerplate carrier, one hamming-1 twin of stored id 100
    val batch = Seq(200L -> boiler, 201L -> 0x1111222233334445L)
      .toDF("id", "sig")
    val before = Dedup.incrementalHammingPairs(batch, "id", "sig", path)
      .as[(Long, Long, Long)].collect().toSet
    assert(before.count(_._1 == 200L) == 30,
      "uncapped: the boilerplate batch row pairs with every stored carrier")
    assert(before.contains((201L, 100L, 1L)))
    Dedup.compactHammingIndex(spark, path, maxDf = Some(10L))
    val after = Dedup.incrementalHammingPairs(batch, "id", "sig", path)
      .as[(Long, Long, Long)].collect().toSet
    assert(after == Set((201L, 100L, 1L)),
      s"capped index must keep only the true pair, got $after")
  }

  test("writeHammingIndex / incrementalHammingPairs: a new batch checks " +
    "against the stored signatures without recomputing them; append grows " +
    "the index; zero signatures stay out; the broadcast hint is gated") {
    val path = java.nio.file.Files.createTempDirectory("graft-hamidx")
      .toString + "/idx"
    val base = 0x7e57ab1e5a5aL
    val corpus = Seq(
      10L -> base, 11L -> (base ^ 0xf0f0L), 12L -> 0x31337c0deL, 13L -> 0L)
      .toDF("id", "sig")
    Dedup.writeHammingIndex(corpus, "id", "sig", path)
    // batch: one twin of id 10 (hamming 2), one novel, one contentless
    val batch = Seq(20L -> (base ^ 3L), 21L -> 0x5ca1ab1eL, 22L -> 0L)
      .toDF("id", "sig")
    val got = Dedup.incrementalHammingPairs(batch, "id", "sig", path)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((20L, 10L, 2L)))
    // append the accepted batch; the NEXT batch's dup of 21 is caught even
    // though 21 was never in the original corpus
    Dedup.writeHammingIndex(batch, "id", "sig", path, append = true)
    val got2 = Dedup.incrementalHammingPairs(
        Seq(30L -> (0x5ca1ab1eL ^ 1L), 31L -> 0L).toDF("id", "sig"),
        "id", "sig", path)
      .as[(Long, Long, Long)].collect().toSet
    assert(got2 == Set((30L, 21L, 1L)))
    // the contentless code never entered the index or paired (ids 13/22/31)
    assert(!(got ++ got2).exists(p => Seq(13L, 22L, 31L).contains(p._1) ||
      Seq(13L, 22L, 31L).contains(p._2)))
    // broadcast gate: small batch hints broadcast; over-threshold does not
    def planFor(): String =
      Dedup.incrementalHammingPairs(batch, "id", "sig", path)
        .queryExecution.executedPlan.toString
    assert(planFor().contains("BroadcastHashJoin"), planFor())
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try assert(!planFor().contains("BroadcastHashJoin"), planFor())
    finally spark.conf.set(key, prev)
  }

  // ---------------------------------------------------------------- quantize

  test("int8 quantization: codes in [0,255], extremes map to 0/255, decode error bounded") {
    val vecs = Seq(
      (1L, Seq(0.0, -1.0, 5.0)),
      (2L, Seq(1.0, 1.0, 5.0)),   // dim 3 constant -> code 0
      (3L, Seq(0.5, 0.25, 5.0))).toDF("vec_id", "v")
    val got = graft.operators.Quantize.int8(vecs, col("vec_id"), col("v"))
      .as[(Long, Long, Long)].collect().map { case (id, d, c) => (id, d) -> c }.toMap
    assert(got.values.forall(c => c >= 0 && c <= 255))
    assert(got((1L, 1L)) == 0 && got((2L, 1L)) == 255)  // lo -> 0, hi -> 255
    assert(got((1L, 2L)) == 0 && got((2L, 2L)) == 255)
    assert(got.filter(_._1._2 == 3L).values.forall(_ == 0)) // constant dim
    // mid-range value decodes within half a quantization step
    val (lo, hi) = (0.0, 1.0)
    val decoded = lo + (got((3L, 1L)) + 0.5) / 256.0 * (hi - lo)
    assert(math.abs(decoded - 0.5) <= (hi - lo) / 256.0)
  }

  // ------------------------------------------------------------------- scrub

  test("scrub counts and masks email/url/keyword patterns") {
    val df = Seq(
      (1L, "contact bob@example.com or see https://x.io/a now"),
      (2L, "plain text no matches")).toDF("id", "text")
    val got = df.select(
      col("id"),
      TextKernels.scrubCount(col("text"), TextKernels.EmailPattern).as("ne"),
      TextKernels.scrubCount(col("text"), TextKernels.UrlPattern).as("nu"),
      TextKernels.scrub(col("text"), TextKernels.UrlPattern, "<URL>").as("m"))
      .as[(Long, Int, Int, String)].collect().sortBy(_._1)
    assert(got(0)._2 == 1 && got(0)._3 == 1)
    assert(got(0)._4 == "contact bob@example.com or see <URL> now")
    assert(got(1)._2 == 0 && got(1)._3 == 0 && got(1)._4 == "plain text no matches")
  }

  // ----------------------------------------------------------- decontaminate

  test("decontaminate drops eval near-copies, keeps clean and shingle-less " +
    "docs, excludes eval rows, and preserves original columns") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", true),   // eval
      (10L, "the quick brown fox jumps over the lazy dog today", false), // near-copy
      (11L, "completely different words about spark engines here", false),
      (12L, "", false), // zero shingles: cannot be contaminated
      (13L, "the quick unrelated sentence with brown accents", false))
      .toDF("id", "text", "is_eval")
    val sh = TextKernels.wordShingles2(TextKernels.wordTokens(col("text")))
    val kept = graft.operators.Contamination
      .decontaminate(df, col("id"), sh, col("is_eval"), 0.7)
    assert(kept.columns.toSeq == Seq("id", "text", "is_eval")) // original schema
    val ids = kept.select("id").as[Long].collect().toSet
    assert(ids == Set(11L, 12L, 13L)) // 10 flagged (ratio >= .7), 1 is eval
    // threshold is inclusive and ratio-based: at 1.01 nothing can be flagged
    val all = graft.operators.Contamination
      .decontaminate(df, col("id"), sh, col("is_eval"), 1.01)
      .select("id").as[Long].collect().toSet
    assert(all == Set(10L, 11L, 12L, 13L))
  }

  test("minhashPairsBetween: a paraphrased benchmark item is caught across " +
    "corpora; overlapping id spaces stay distinct; unrelated docs clean") {
    val words = (1 to 16).map(i => s"w$i").mkString(" ")
    // training side: a near-copy of the benchmark item (one word changed),
    // plus an unrelated doc — ID 1 appears on BOTH sides (different spaces)
    val train = Seq(
      (1L, words.replaceAll("w16$", "zz")),
      (2L, "entirely different training content here"))
      .toDF("tid", "text")
    val bench = Seq(
      (1L, words),
      (7L, "an unrelated benchmark question"))
      .toDF("bid", "text")
    val sh = TextKernels.wordShingles2(TextKernels.wordTokens(col("text")))
    val got = graft.operators.Dedup
      .minhashPairsBetween(train, "tid", sh, bench, "bid", sh, 0.8)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 1 && got.head._1 == 1L && got.head._2 == 1L &&
      got.head._3 >= 0.8, got.mkString(","))
  }

  test("decontaminateAgainst: a separate benchmark table drives the same " +
    "removal; NEGATIVE corpus ids (signed-hash keyed corpora) colliding " +
    "with the synthetic eval id space stay separated by the eval tag") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog today"), // near-copy
      (1L, "completely different words about spark engines here"))
      .toDF("id", "text")
    val eval = Seq("the quick brown fox jumps over the lazy dog").toDF("etext")
    val sh = TextKernels.wordShingles2(TextKernels.wordTokens(col("text")))
    val esh = TextKernels.wordShingles2(TextKernels.wordTokens(col("etext")))
    val kept = graft.operators.Contamination
      .decontaminateAgainst(docs, col("id"), sh, eval, esh, 0.7)
    assert(kept.columns.toSeq == Seq("id", "text"))
    // doc 0 (id 0 — would collide with a naive 0-based eval id scheme) is
    // flagged; doc 1 survives with its original columns
    assert(kept.select("id").as[Long].collect().toSeq == Seq(1L))
    // a corpus keyed by a SIGNED hash: id -1 is exactly the first synthetic
    // eval id ((-monotonically_increasing_id() - 1) starts at -1), and id
    // -2 the second. The colliding clean doc must survive (the eval row's
    // shingles are NOT attributed to it), the colliding near-copy must
    // still be flagged — the __ceval tag, not the id space, separates them.
    val negDocs = Seq(
      (-1L, "completely different words about spark engines here"),
      (-2L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("id", "text")
    val negKept = graft.operators.Contamination
      .decontaminateAgainst(negDocs, col("id"), sh, eval, esh, 0.7)
    assert(negKept.select("id").as[Long].collect().toSeq == Seq(-1L))
  }

  test("QualityRules.gopher: each rule fires on its crafted violation, a " +
    "healthy document passes, and the filter form keeps exactly the " +
    "passing rows") {
    import graft.operators.QualityRules
    val healthy = (("the cat sat on the mat and then she walked " +
      "to the store with her friend to buy some things that day ") * 3).trim
    val docs = Seq(
      (1L, healthy),
      (2L, "too short to pass the word count rule"),       // ok_words
      (3L, ("a " * 60).trim),                              // mean word len < 3
      (4L, Array.fill(60)("#word#").mkString(" ")),        // symbols
      (5L, (1 to 60).map(_.toString).mkString(" ") +
        " the of and to be that have with"),               // alpha density
      (6L, (1 to 10).map(i => s"* bullet $i").mkString("\n")), // bullets
      (7L, (1 to 10).map(i => s"line $i trails off...").mkString("\n")), // ellipsis
      (8L, ("novel unusual vocabulary " * 20).trim))       // no stop words
      .toDF("id", "text")
    val v = QualityRules.gopher(docs, col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(v(1L).getBoolean(v(1L).fieldIndex("pass")), v(1L).toString)
    def fails(id: Long, rule: String): Unit = {
      assert(!v(id).getBoolean(v(id).fieldIndex(rule)), s"doc $id: $rule")
      assert(!v(id).getBoolean(v(id).fieldIndex("pass")))
    }
    fails(2L, "ok_words"); fails(3L, "ok_word_len"); fails(4L, "ok_symbols")
    fails(5L, "ok_alpha"); fails(6L, "ok_bullets"); fails(7L, "ok_ellipsis")
    fails(8L, "ok_stop")
    val kept = QualityRules.gopherFilter(docs, col("text"))
      .select("id").as[Long].collect().toSeq
    assert(kept == Seq(1L), kept.toString)
    // the custom probe set threads through (doc 8 passes with its own)
    assert(QualityRules.gopherFilter(docs, col("text"),
        stopWords = Seq("novel", "unusual"))
      .select("id").as[Long].collect().toSet.contains(8L))
  }

  // ------------------------------------------------------- quality classifier

  test("NB quality classifier: separates held-out docs by seed-set " +
    "similarity; prior-only for token-less docs; vocab cap keeps the most " +
    "discriminative tokens; both classes required") {
    import graft.operators.QualityClassifier
    val seeds = Seq(
      ("clean prose with thoughtful words and careful argument", true),
      ("another clean document with careful thoughtful writing", true),
      ("buy cheap pills now click here buy buy", false),
      ("click now cheap offer pills here now", false))
      .toDF("text", "good")
    val tok = TextKernels.wordTokens(col("text"))
    val model = QualityClassifier.train(seeds, tok, col("good"))
    val test = Seq(
      (1L, "thoughtful careful prose"),
      (2L, "cheap pills click now"),
      (3L, "")).toDF("id", "text")
    val scores = QualityClassifier
      .score(test, col("id"), TextKernels.wordTokens(col("text")), model)
      .as[(Long, Double)].collect().toMap
    assert(scores(1L) > scores(2L),
      s"ham ${scores(1L)} must outscore spam ${scores(2L)}")
    assert(math.abs(scores(3L) - model.prior) < 1e-12) // bare prior
    // a second training run is identical (integer counts -> same weights)
    assert(QualityClassifier.train(seeds, tok, col("good")) == model)
    // vocab cap: with maxVocab 2, only the 2 highest-|llr| tokens remain
    val small = QualityClassifier.train(seeds, tok, col("good"), maxVocab = 2)
    assert(small.weights.size == 2)
    assert(small.weights.keySet.subsetOf(model.weights.keySet))
    intercept[IllegalArgumentException] {
      QualityClassifier.train(seeds.where(col("good")), tok, col("good"))
    }
  }

  test("NB classifier: save/load round-trips the model; scoreColumn (the " +
    "scalar streaming-gate form) matches the join-based score; vocab cap " +
    "bounds the persisted table when the corpus vocabulary exceeds it") {
    import graft.operators.QualityClassifier
    val seeds = Seq(
      ("clean prose with thoughtful words and careful argument", true),
      ("another clean document with careful thoughtful writing", true),
      ("buy cheap pills now click here buy buy", false),
      ("click now cheap offer pills here now", false))
      .toDF("text", "good")
    val tok = TextKernels.wordTokens(col("text"))
    val model = QualityClassifier.train(seeds, tok, col("good"))
    val path = java.nio.file.Files.createTempDirectory("graft-nb")
      .toString + "/model"
    QualityClassifier.save(spark, model, path)
    assert(QualityClassifier.load(spark, path) == model)
    val meta = graft.operators.IndexIO.readMeta(spark, path).get
    assert(meta.path("kind").asText() == "nb_quality")
    assert(meta.path("vocab").asInt() == model.weights.size)
    intercept[IllegalArgumentException] {
      QualityClassifier.load(spark, path + "-missing")
    }
    // scalar scoreColumn == join-based score (same weights; double sums in
    // different orders, so compare within ulp-scale tolerance)
    val test = Seq(
      (1L, "thoughtful careful prose"),
      (2L, "cheap pills click now cheap"),
      (3L, "")).toDF("id", "text")
    val joined = QualityClassifier
      .score(test, col("id"), TextKernels.wordTokens(col("text")), model)
      .as[(Long, Double)].collect().toMap
    val scalar = test.select(col("id"),
        QualityClassifier.scoreColumn(
          TextKernels.wordTokens(col("text")), model).as("s"))
      .as[(Long, Double)].collect().toMap
    joined.foreach { case (id, s) =>
      assert(math.abs(scalar(id) - s) < 1e-9, s"id $id: ${scalar(id)} vs $s")
    }
    // null text -> the bare prior, matching score()'s explode_outer
    // contract (a scoreColumn >= t gate must not silently drop null-text
    // documents the scoring table admits)
    val nulled = Seq((9L, null: String)).toDF("id", "text")
      .select(QualityClassifier.scoreColumn(
        TextKernels.wordTokens(col("text")), model).as("s"))
      .collect().head
    assert(!nulled.isNullAt(0) && nulled.getDouble(0) == model.prior,
      s"null tokens must score the prior, got $nulled")
    // a corpus whose vocabulary (12+ distinct tokens) exceeds maxVocab=3
    // persists exactly 3 weights — the TakeOrdered cap holds end to end
    val capped = QualityClassifier.train(seeds, tok, col("good"), maxVocab = 3)
    QualityClassifier.save(spark, capped, path)
    assert(spark.read.parquet(path).count() == 3)
    assert(QualityClassifier.load(spark, path).weights.size == 3)
  }

  // ------------------------------------------------------------------ byRate

  test("byRate: per-row acceptance curve, deterministic, clamping at the " +
    "ends, and consistent with the constant-rate sampler") {
    val df = (1L to 400L).map(i => (i, i % 4)).toDF("id", "q")
    // rate 0 for q=0, 100 for q=3, mid rates otherwise
    val rate = col("q") * 33 + when(col("q") === 3, 1).otherwise(0)
    val kept = Sampling.byRate(df, col("id"), rate)
      .as[(Long, Long)].collect().toSet
    assert(kept.forall(_._2 != 0))                      // rate 0 keeps nothing
    val q3 = df.where(col("q") === 3).as[(Long, Long)].collect().toSet
    assert(q3.subsetOf(kept))                           // rate 100 keeps all
    // deterministic: a rerun keeps the identical set
    assert(Sampling.byRate(df, col("id"), rate).as[(Long, Long)]
      .collect().toSet == kept)
    // a constant rate column == the constant-rate sampler
    assert(Sampling.byRate(df, col("id"), lit(37)).as[(Long, Long)]
      .collect().toSet ==
      Sampling.sample(df, col("id"), 37).as[(Long, Long)].collect().toSet)
  }

  // ---------------------------------------------------------------- semdedup

  test("semdedup keeps one representative per within-cluster duplicate " +
    "group and misses cross-cluster twins by design") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val vecs = Seq(
      (1L, Seq(1.0, 0.05)),   // cluster 0
      (2L, Seq(0.99, 0.049)), // cluster 0, near-dup of 1 -> dropped
      (3L, Seq(0.05, 1.0)),   // cluster 1
      (4L, Seq(0.052, 1.0)),  // cluster 1, near-dup of 3 -> dropped
      (5L, Seq(-1.0, 0.0)),   // cluster 1 (closer to [0,1]), similar to nothing
      (6L, Seq(0.72, 0.69)),  // cluster 0 \ near-identical pair SPLIT across
      (7L, Seq(0.69, 0.72)))  // cluster 1 / clusters: both kept (the tradeoff)
      .toDF("vec_id", "v")
    val prs = graft.operators.SemDedup
      .pairs(vecs, col("vec_id"), col("v"), cents, 0.9)
    val pairSet = prs.select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairSet == Set((1L, 2L), (3L, 4L)))
    // every pair row carries the shared cluster and the rounded cosine
    val row = prs.where(col("a") === 1L).head
    assert(row.getAs[Int]("cluster") == 0 && row.getAs[Double]("cos") > 0.99)
    val kept = graft.operators.SemDedup
      .dedup(vecs, col("vec_id"), col("v"), cents, 0.9)
    assert(kept.columns.toSeq == Seq("vec_id", "v")) // original schema
    assert(kept.select("vec_id").as[Long].collect().toSet ==
      Set(1L, 3L, 5L, 6L, 7L))
    // the pre-flight skew gauge counts what the join will pay for
    val sizes = graft.operators.SemDedup
      .clusterSizes(vecs, col("v"), cents)
      .as[(Int, Long)].collect().toMap
    assert(sizes == Map(0 -> 3L, 1 -> 4L))
  }

  test("semdedup auto-split: a mega-cluster from a badly trained quantizer " +
    "is re-clustered before the join, exact twins still pair inside their " +
    "sub-block, and with no mega-cluster pairsSplit equals pairs") {
    import graft.operators.SemDedup
    // 100 distinct sign vectors (pairwise cos <= 0.75 < 0.9) + 20 EXACT
    // twins of the first 20 — identical vectors land in identical
    // sub-blocks whatever the sub-quantizer learns, so the expected pair
    // set is deterministic
    def signVec(i: Int): Seq[Double] =
      (0 until 8).map(d => if (((i >> d) & 1) == 1) 1.0 else -1.0)
    val rows = (0 until 100).map(i => (i.toLong, signVec(i))) ++
      (0 until 20).map(i => ((100 + i).toLong, signVec(i)))
    val vecs = rows.toDF("vec_id", "v")
    // adversarial centroids: 0 sits equidistant from every sign vector,
    // the rest are far outside the data — ALL 120 rows land in cluster 0
    val badCents = Seq.fill(8)(0.0) +: (1 to 7).map(j =>
      Seq.fill(8)(100.0 + j))
    val gauge = SemDedup.clusterSizes(vecs, col("v"), badCents)
      .as[(Int, Long)].collect().toMap
    assert(gauge == Map(0 -> 120L), gauge.toString)
    // 120 > splitFactor(4) x mean(120/8 = 15) -> the split triggers; the
    // twin pairs still come out exactly, nothing else reaches 0.9
    val prs = SemDedup
      .pairsSplit(vecs, col("vec_id"), col("v"), badCents, 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(prs == (0 until 20).map(i => (i.toLong, (100 + i).toLong)).toSet,
      s"got ${prs.size} pairs")
    val kept = SemDedup
      .dedupSplit(vecs, col("vec_id"), col("v"), badCents, 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == (0 until 100).map(_.toLong).toSet)
    // no mega-cluster (splitFactor raised past any skew): identical to the
    // unsplit operator row for row
    val base = SemDedup.pairs(vecs, col("vec_id"), col("v"), badCents, 0.9)
      .collect().map(_.toSeq).toSet
    val unsplit = SemDedup.pairsSplit(vecs, col("vec_id"), col("v"),
        badCents, 0.9, splitFactor = 1000.0)
      .collect().map(_.toSeq).toSet
    assert(unsplit == base)
  }
}
