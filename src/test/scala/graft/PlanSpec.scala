package graft

import org.apache.spark.sql.functions._

import graft.functions.TextKernels
import graft.operators.Dedup

/** Physical-plan assertions that lock in the scale design (SURVEY.md §7.2,
  * COVERAGE.md scale notes): top-k must be TakeOrderedAndProject, rank
  * aggregation runs at most two jobs and never key-shuffles a facet, scans
  * must prune columns, and no candidate-generation path may degenerate into
  * a cartesian product. */
class PlanSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("singleton top-k: TakeOrderedAndProject over a pruned parquet scan") {
    val plan = planOf(Queries.all("q_num_topk")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"))
    assert(plan.contains("ReadSchema: struct<c_custkey:bigint,c_acctbal:double>"),
      "scan must read only the two needed columns")
    assert(!plan.contains("Exchange"), "no shuffle for a singleton top-k")
  }

  // Rank aggregation merges on the driver: phase 1 collects every facet's
  // top-M list in ONE job, phase 2 (only when some list does not hold every
  // candidate) scans those facets once more, and the scoring, weighting and
  // ranking run in Scala. These locks count the jobs a search submits and
  // read the plans it executes.
  private def execNodes(rec: SparkActions.Record[_]) = rec.plans.flatMap(SparkActions.nodes)

  private def assertNoKeyShuffle(rec: SparkActions.Record[_]): Unit = {
    import org.apache.spark.sql.execution.joins.{CartesianProductExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val bad = execNodes(rec).filter {
      case _: SortMergeJoinExec | _: CartesianProductExec => true
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
      case _ => false
    }
    assert(bad.isEmpty, rec.plans.map(_.treeString).mkString("\n").take(3000))
  }

  private def hasTopM(plan: org.apache.spark.sql.execution.SparkPlan): Boolean =
    SparkActions.nodes(plan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec])

  test("rank aggregation: at most 2 actions, no shuffle of a facet table") {
    // q_multifacet: three facets, each a distance column over the orders
    // scan. At sf0.001 (1,500 orders, m = 10,000) every list exhausts its
    // facet, so the phase-1 collect of the three lists is the only Spark
    // action; at sf0.01 (15,000 orders) the candidate-filtered phase-2 scan
    // follows it. Each action is one job, and one more reads the parquet
    // footer while the frame is built.
    for ((sf, actions) <- Seq(dir -> 1, "/root/testdata/sf0.01" -> 2)) {
      val rec = SparkActions.record(spark)(Queries.all("q_multifacet")(spark, sf).collect())
      assert(rec.result.length == 10)
      assert(rec.actions.size == actions && rec.jobs <= actions + 1,
        (sf, rec.jobs, rec.actions.size))
      assert(hasTopM(rec.actions.head), rec.actions.head.treeString.take(2000))
      assertNoKeyShuffle(rec)
    }
  }

  test("detailed rank aggregation: no window, pivot or join in any plan") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val facets = (0 until 3).map { i =>
      graft.operators.BoundFacet(s"f$i",
        (0 until 40).map(j => (j.toLong, ((j * (i + 3)) % 17).toDouble)).toDF("id", "d"),
        Seq(0.5, 0.25))
    }
    val rec = SparkActions.record(spark)(
      graft.operators.RankAggregate.topKDetailed(spark, facets, 5, 10))
    // the ranked rows, the per-facet scores and the exact flags are built
    // on the driver: the returned frame is local and runs nothing more
    assert(rec.result.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(rec.result.count() == 10)
    assert(rec.jobs == 2, s"${rec.jobs} jobs")
    val offending = execNodes(rec).filter {
      case _: WindowExec | _: BaseAggregateExec | _: BaseJoinExec => true
      case _ => false
    }
    assert(offending.isEmpty, rec.plans.map(_.treeString).mkString("\n").take(3000))
  }

  // k = 1 gives m = 1000 per list: facets a-c (1500 rows) are not covered by
  // their lists, d (400 rows) is exhausted by its list
  private lazy val servedFacets = {
    import graft.api.{AttributeSpec, Facet, SimOp}
    Seq("a" -> 1500, "b" -> 1500, "c" -> 1500, "d" -> 400).zipWithIndex.map {
      case ((name, n), j) =>
        Facet(AttributeSpec(name, SimOp.Numerical),
          (1 to n).map(i => (i.toLong, ((i * (j + 3)) % 101).toDouble)).toDF("id", "value"))
    }
  }

  test("served rank aggregation: at most 2 jobs, covered lists 1 job") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import graft.engine.SimSearchEngine
    import graft.engine.SimSearchEngine.{Catalog, SearchSpec}
    val catalog = new Catalog(servedFacets)
    try {
      // reads of a facet's resident (mount-time) cache entry
      def residentReads(plan: org.apache.spark.sql.execution.SparkPlan, f: graft.api.Facet): Int = {
        val resident = f.df.select(col("*")).queryExecution.withCachedData
          .collect { case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
            r.cacheBuilder }.head
        SparkActions.nodes(plan).count {
          case s: InMemoryTableScanExec => s.relation.cacheBuilder eq resident
          case _ => false
        }
      }
      val persisted = spark.sparkContext.getPersistentRDDs.size
      def search(k: Int, names: Seq[String]) = SparkActions.record(spark)(
        SimSearchEngine.search(spark, catalog, k,
          names.map(SearchSpec(_, 50.0, Seq(0.5))), detailed = true).collect())
      val rec = search(1, Seq("a", "b", "c", "d"))
      assert(rec.result.length == 1)
      val Seq(phase1, phase2) = rec.actions
      assert(rec.jobs <= 2, s"${rec.jobs} jobs")
      assert(hasTopM(phase1), phase1.treeString.take(2000))
      assert(servedFacets.map(residentReads(phase1, _)) == Seq(1, 1, 1, 1))
      // phase 2 scans the three facets their lists do not cover, never d
      assert(servedFacets.map(residentReads(phase2, _)) == Seq(1, 1, 1, 0),
        phase2.treeString.take(2000))
      assertNoKeyShuffle(rec)
      // a single facet's list holds every candidate, and so do lists that
      // exhaust their facets (k = 2: m = 2000): phase 1 is the whole search
      for ((k, names) <- Seq(1 -> Seq("a"), 2 -> Seq("a", "b", "c", "d"))) {
        val covered = search(k, names)
        assert(covered.result.length == k)
        assert(covered.jobs == 1 && covered.actions.size == 1, (k, names, covered.jobs))
        assert(hasTopM(covered.actions.head))
        assertNoKeyShuffle(covered)
      }
      // the top-M lists are collected, never cached
      assert(spark.sparkContext.getPersistentRDDs.size == persisted)
    } finally catalog.close()
  }

  test("served /search: after one request, a same-class request with other " +
      "query values compiles no code") {
    // every query value enters the generated code by reference (numbers,
    // a token set, q-grams, a point) and phase 2's candidate filter holds
    // its keys by reference: the generated source, the codegen cache key,
    // is the one the first request compiled
    import org.apache.spark.metrics.source.CodegenMetrics
    import graft.api.{AttributeSpec, Facet, SimOp}
    import graft.engine.SimSearchEngine
    import graft.engine.SimSearchEngine.{Catalog, SearchSpec}
    val n = 1500 // k = 1: m = 1000, so no list covers its facet and phase 2 runs
    val catalog = new Catalog(Seq(
      Facet(AttributeSpec("num", SimOp.Numerical),
        (1 to n).map(i => (i.toLong, ((i * 7) % 101).toDouble)).toDF("id", "value")),
      Facet(AttributeSpec("cat", SimOp.Categorical),
        (1 to n).map(i => (i.toLong, Seq(s"t${i % 7}", s"u${i % 5}"))).toDF("id", "value")),
      Facet(AttributeSpec("txt", SimOp.Textual),
        (1 to n).map(i => (i.toLong, s"name ${i % 97}")).toDF("id", "value")),
      Facet(AttributeSpec("geo", SimOp.Spatial),
        (1 to n).map(i => (i.toLong, (i % 13).toDouble, (i % 17).toDouble)).toDF("id", "lon", "lat")
          .select(col("id"), struct(col("lon"), col("lat")).as("value")))))
    try {
      def search(num: Double, toks: Seq[String], text: String, point: String) =
        SparkActions.record(spark)(SimSearchEngine.search(spark, catalog, 1, Seq(
          SearchSpec("num", num, Seq(0.4)), SearchSpec("cat", toks, Seq(0.2)),
          SearchSpec("txt", text, Seq(0.2)), SearchSpec("geo", point, Seq(0.2))))
          .collect())
      def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(search(50.0, Seq("t1", "u2"), "name 42", "POINT(3 4)").jobs == 2)
      // (common-subexpression elimination orders what it hoists by hash,
      // so the values must not steer the hash: POINT(1 9) once did)
      val rnd = new scala.util.Random(3)
      val variants = Seq((17.25, Seq("t3", "u4", "t5"), "name 7", "POINT(11.5 2)"),
        (81.5, Seq("t6"), "name 13", "POINT(1 9)")) ++
        Seq.fill(4)((rnd.nextInt(10000) / 7.0, Seq.fill(1 + rnd.nextInt(4))(s"t${rnd.nextInt(9)}"),
          s"name ${rnd.nextInt(200)}", s"POINT(${rnd.nextInt(300) / 7.0} ${rnd.nextInt(300) / 11.0})"))
      for ((num, toks, text, point) <- variants) {
        val before = compiles
        val variant = search(num, toks, text, point)
        assert(variant.result.length == 1 && variant.jobs == 2)
        assert(compiles == before, s"${compiles - before} compiles for $point")
      }
    } finally catalog.close()
  }

  test("rank aggregation phase 2: the plan description does not grow with " +
      "the candidate count") {
    // the candidate filter prints its key count, not its keys: 10 and
    // 15,000 candidates describe the same plan up to ids and numbers
    import org.apache.spark.sql.execution.ExplainUtils
    import graft.operators.{BoundFacet, RankAggregate}
    val n = 20000
    val facets = Seq(
      BoundFacet("up", spark.range(n).select(col("id"), col("id").cast("double").as("d")), Seq(0.5)),
      BoundFacet("down", spark.range(n).select(col("id"), (lit(n) - col("id")).cast("double").as("d")),
        Seq(0.5)))
    // the two lists are disjoint, so m = 5 gives 10 candidates, m = 7500 gives 15,000
    def phase2(m: Int): String = {
      val rec = SparkActions.record(spark)(RankAggregate.topK(spark, facets, 1, m).collect())
      val Seq(_, p2) = rec.actions
      val text = new StringBuilder
      ExplainUtils.processPlan(p2, (s: String) => { text ++= s; () })
      text.toString.replaceAll("[0-9]+", "N")
    }
    val (few, many) = (phase2(5), phase2(7500))
    assert(few.contains("IN (N keys)"), few)
    assert(few == many, s"${few.length} vs ${many.length} chars:\n${many.take(3000)}")
  }

  test("q_pivot_multimetric outside a CacheScope leaves no cache behind") {
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val jobs = (1 to 3).map { _ =>
      val rec = SparkActions.record(spark)(Queries.all("q_pivot_multimetric")(spark, dir).collect())
      assert(rec.result.length == 10)
      rec.jobs
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
    assert(jobs.distinct.size == 1, jobs)
  }

  test("similarity matrix: one collect of the top-M lists ranks the " +
      "entities and calibrates the matrix") {
    // q_sim_matrix and the engine's similarityMatrix read their decay
    // scales off the lists their ranking collected: one top-M action, and
    // no job that recomputes a k-th distance
    import graft.api.{AttributeSpec, Facet, SimOp}
    import graft.engine.SimSearchEngine
    import graft.engine.SimSearchEngine.{Catalog, SearchSpec}
    val sf = s"${new java.io.File(dir).getParent}/sf0.01" // the sf0.01 tables beside `dir`
    val q = SparkActions.record(spark)(graft.util.CacheScope.withScope(
      Queries.all("q_sim_matrix")(spark, sf).collect()))
    assert(q.result.length == 25)
    assert(q.actions.count(hasTopM) == 1, q.actions.map(_.treeString).mkString("\n").take(3000))
    assert(q.jobs <= 8, s"${q.jobs} jobs")
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val catalog = new Catalog(Seq(
      Facet(AttributeSpec("price", SimOp.Numerical),
        o.select(col("o_orderkey").as("id"), col("o_totalprice").as("value"))),
      Facet(AttributeSpec("cust", SimOp.Numerical),
        o.select(col("o_orderkey").as("id"), col("o_custkey").cast("double").as("value")))))
    try {
      val m = SparkActions.record(spark)(SimSearchEngine.similarityMatrix(spark, catalog, 5,
        Seq(SearchSpec("price", 150000.0, Seq(0.5)), SearchSpec("cust", 700.0, Seq(0.5))))
        .collect())
      assert(m.result.length == 25)
      assert(m.actions.count(hasTopM) == 1, m.actions.map(_.treeString).mkString("\n").take(3000))
      assert(m.jobs <= 9, s"${m.jobs} jobs")
    } finally catalog.close()
  }

  test("multimodal pipeline: every near-dup stage is a bucketed " +
    "equi-join and every keep-survivors step an anti-join — no cartesian " +
    "product or nested-loop join anywhere in the composition") {
    val plan = planOf(Queries.all("q_pipeline_mm")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    // the dropped-id sets are tiny: the anti-joins must broadcast them,
    // never shuffle the survivor side
    assert(plan.contains("LeftAnti"), "keep-survivors must be anti-joins")
    assert(!plan.contains("SortMergeJoin(leftanti"),
      "anti-joins must broadcast the bounded dropped-id sets")
  }

  test("minhash dedup: bucket equi-join, no cartesian product") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sh = TextKernels.wordShingles2(TextKernels.wordTokens(col("text")))
    val plan = planOf(Dedup.minhashPairs(docs, "doc_id", sh, 0.8))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("incremental dedup: the batch side broadcasts against the stored " +
    "index even when the batch source has no size statistics") {
    // an in-memory batch (the streaming micro-batch shape) carries no
    // stats; without the explicit hint the planner could fall into a
    // sort-merge join that shuffles the ENTIRE stored band index per batch
    val sh = TextKernels.wordShingles2(TextKernels.wordTokens(col("text")))
    val path = java.nio.file.Files.createTempDirectory("graft-planidx").toString + "/idx"
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    Dedup.writeBandIndex(corpus, "doc_id", sh, path)
    val batch = Seq((900001L, "some fresh batch text here")).toDF("doc_id", "text")
    val plan = planOf(Dedup.incrementalPairs(batch, "doc_id", sh, path, 0.8))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"),
      "the stored band index must never shuffle per ingestion batch")
    val exact = planOf(Dedup.incrementalExact(batch, "doc_id", col("text"),
      { val p = path + "-fp"; Dedup.writeFingerprintIndex(corpus, "doc_id", col("text"), p); p }))
    assert(exact.contains("BroadcastHashJoin"), exact.take(800))
  }

  test("winnow pairs: fingerprint equi-join only, no cartesian product") {
    val plan = planOf(Queries.all("q_winnow")(spark, dir))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("winnow spans: fingerprint equi-join only; the run window " +
    "partitions by (pair, diagonal), never a global single-partition sort") {
    val plan = planOf(Queries.all("q_winnow_spans")(spark, dir))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("windowspecdefinition(a#") ||
      plan.contains("PartitionSpec: a"), plan.take(400))
  }

  test("unigram LM quality: the vocab broadcasts into the token stream — " +
    "corpus tokens never shuffle for the scoring join") {
    // NOTE this lock is stats-dependent by design: there is no explicit
    // broadcast hint (the vocabulary is corpus-derived and unbounded, so a
    // threshold-exceeding vocab SHOULD fall back to a shuffled join at
    // true scale); the assertion pins the small-vocab planning behavior,
    // not an unconditional contract.
    val plan = planOf(Queries.all("q_lm_quality")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    assert(!plan.contains("SortMergeJoin"),
      "the corpus token stream must not shuffle against the vocabulary")
  }

  test("embedding near-dup: signature-bucket equi-join, no cartesian product") {
    val plan = planOf(Queries.all("q_dedup_embedding")(spark, dir))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("bucketed tables: co-located join plans without a shuffle") {
    import spark.implicits._
    // warehouse.dir is a static conf; tables land in ./spark-warehouse
    // (gitignored) and are dropped below
    val a = (0 until 1000).map(i => (i.toLong, i * 2.0)).toDF("id", "x")
    val b = (0 until 1000).map(i => (i.toLong, s"v$i")).toDF("id", "y")
    a.write.mode("overwrite").bucketBy(8, "id").sortBy("id").saveAsTable("graft_bucket_a")
    b.write.mode("overwrite").bucketBy(8, "id").sortBy("id").saveAsTable("graft_bucket_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a merge join
      val joined = spark.table("graft_bucket_a").join(spark.table("graft_bucket_b"), "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"),
        "bucketed-by-join-key tables must join without shuffling:\n" + plan.take(800))
      assert(joined.count() == 1000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    }
  }

  test("IVF ANN: single scan, cluster filter, shuffle-free top-k") {
    val plan = planOf(Queries.all("q_ann_ivf")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"))
    // the only allowed Exchange is spread()'s round-robin split of the
    // single-file test source — no hash/range shuffle of the corpus
    assert(!plan.contains("hashpartitioning") && !plan.contains("rangepartitioning"),
      "IVF probe must stay a scan+filter+top-k, no key shuffle:\n" + plan.take(800))
    assert(!plan.contains("CartesianProduct"))
  }

  test("salted skew join: shuffle join on the salted key, no broadcast of the large side") {
    val plan = planOf(Queries.all("q_skew_join")(spark, dir))
    assert(!plan.contains("CartesianProduct"))
    // the small side is replicated via explode, then joined on (key, salt)
    assert(plan.contains("Generate") || plan.contains("explode"),
      "salt replication must appear in the plan:\n" + plan.take(800))
  }

  test("windowed aggregation: map-side partial aggregation before the shuffle") {
    val plan = planOf(Queries.all("q_window_agg")(spark, dir))
    // two HashAggregate nodes (partial + final) around one Exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2)
    assert(plan.contains("Exchange"))
  }

  test("line dedup: first-occurrence selection is an AGGREGATE with " +
    "map-side partial combine, not a window over partitionBy(line), and " +
    "there are no joins") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = planOf(Dedup.lineDedup(docs, "doc_id", col("text")))
    // partial+final pairs for both groupBys: a boilerplate line repeated
    // on a billion pages must leave each map partition once, not shuffle
    // every copy to one reducer
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r
      .findAllIn(plan).size >= 4, plan.linesIterator.take(30).mkString("\n"))
    assert(!plan.contains("Window"), "first-occurrence must not be a window")
    assert(!plan.contains("Join"), "lineDedup needs no join")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("repetition signals: a narrow per-row map — no shuffle, no window, " +
    "pruned scan") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val w = graft.functions.TextKernels.wordTokens(col("text"))
    val plan = planOf(docs.select(col("doc_id"),
      graft.functions.TextKernels.topBigramFraction(w).as("tb"),
      graft.functions.TextKernels.dupNgramFraction(w, 5).as("d5")))
    assert(!plan.contains("Exchange"), "repetition signals must not shuffle")
    assert(!plan.contains("Window"))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("hash sample: a narrow filter — no shuffle, no window, pruned scan") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = planOf(graft.operators.Sampling.sample(docs, col("doc_id"), 37)
      .select("doc_id", "lang"))
    assert(!plan.contains("Exchange"), "sampling must not shuffle")
    assert(!plan.contains("Window"))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      "scan must prune to the two projected columns")
  }

  test("stratified sample: salted rank — the data window partitions by " +
    "(stratum, salt), offsets broadcast back, no single-partition stage") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = planOf(graft.operators.Sampling.stratified(
      docs, col("lang"), col("doc_id"), 0.3))
    // the row_number over the data must include the salt in its partition
    // spec — a per-stratum-only window would serialize a hot stratum
    assert("row_number\\(\\) windowspecdefinition\\(__st#\\d+, __salt#\\d+".r
      .findFirstIn(plan).isDefined,
      s"data rank must partition by (stratum, salt):\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      "per-bucket base offsets must broadcast-join back onto the data")
    assert(!plan.contains("Exchange SinglePartition") &&
      !plan.contains("Exchange rangepartitioning"),
      "no global sort/single-partition stage")
  }

  test("multi-probe LSH: a narrow isin bucket filter feeding a map-side " +
    "top-k — no shuffle anywhere") {
    val plan = planOf(Queries.all("q_ann_lsh_mp")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a map-side heap:\n$plan")
    // the only Exchange is the query helper's round-robin spread of the
    // tiny test parquet; the LSH probe itself induces no repartitioning
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange SinglePartition") &&
      !plan.contains("Exchange rangepartitioning"),
      s"bucket probe + re-rank must not shuffle:\n$plan")
  }

  test("packing: per-bucket windows plus a broadcast of the bucket offsets — " +
    "never a global single-partition window over the data") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = planOf(graft.operators.Packing.packOffsets(docs,
      col("doc_id"), size(TextKernels.wordTokens(col("text"))), 2048L))
    assert(plan.contains("BroadcastHashJoin"),
      "bucket offsets must broadcast-join back onto the data")
    // the only SinglePartition exchange feeds the bucket-totals prefix sum
    // (|buckets| rows), downstream of a partial aggregation
    val dataWindows = "Window \\[sum".r.findAllIn(plan).size
    assert(dataWindows >= 1 && plan.contains("Exchange hashpartitioning"),
      "per-bucket running sums must be hash-partitioned by bucket")
  }

  test("budget select: windows partition by the quantized-quality bucket " +
    "and offsets broadcast back — never a global-sort window over the data") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = planOf(graft.operators.Packing.budgetSelect(docs,
      col("doc_id"), size(TextKernels.wordTokens(col("text"))),
      col("n_chars"), 12000L))
    assert(plan.contains("BroadcastHashJoin"),
      "bucket offsets must broadcast-join back onto the data")
    assert(plan.contains("Exchange hashpartitioning"),
      "per-bucket running sums must be hash-partitioned by bucket")
  }

  test("cluster propagation round: equi-joins only, no cartesian product") {
    // force the distributed propagation loop (the local union-find fast
    // path has no plan to audit)
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val plan = planOf(graft.operators.Dedup.clusters(pairs, localEdgeLimit = 0L))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("simhash pairs: band-bucket equi-join, verify inside the join, " +
      "first-band dedup instead of a distinct, no cartesian") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = planOf(Dedup.simhashPairs(docs, "doc_id",
      TextKernels.wordTokens(col("text"))))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // the hamming verify must run INSIDE the band join (bit_count in the
    // plan): on a self-similar corpus raw candidates can be 1000x the
    // verified pairs, and a verify-after-shuffle plan would move all of
    // them. Cross-band duplicate pairs are removed by the row-local
    // first-agreeing-band condition (shiftrightunsigned comparisons in
    // the join filter) — there must be NO distinct aggregate over the
    // verified pair stream (the pre-r16 shape paid an exchange + two
    // HashAggregates for it); the only aggregate upstream of the
    // expansion joins is the signature-stats groupBy.
    val filterIdx = plan.indexOf("bit_count")
    assert(filterIdx >= 0,
      "hamming verify must run inside the join:\n" + plan.take(1200))
    assert(plan.contains("shiftrightunsigned"),
      "first-agreeing-band dedup filter missing:\n" + plan.take(1200))
  }

  test("contamination: eval shingle set broadcasts into the corpus scan") {
    val plan = planOf(Queries.all("q_contamination")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      "the eval shingle set must broadcast:\n" + plan.take(800))
    assert(!plan.contains("CartesianProduct"))
  }

  test("explode-heavy operators: no tokenization expression sinks into the file scan") {
    // InferFiltersFromGenerate + pushdown can drag a composed shingle/token
    // expression below the spread repartition onto the raw (often
    // 1-partition) scan, serializing the corpus tokenization onto one core.
    // The explode_outer + not-null guard keeps the scan's DataFilters free
    // of higher-order functions. (q_pipeline is exempt: its QUALITY filter
    // size(tokens) >= 40 is a user predicate, and filtering at the scan is
    // the scale-correct plan — fewer rows materialize; only the
    // single-file local fixture serializes it.)
    for (q <- Seq("q_contamination", "q_tfidf")) {
      val plan = planOf(Queries.all(q)(spark, dir))
      val scanLines = plan.linesIterator.filter(_.contains("FileScan")).toSeq
      assert(scanLines.nonEmpty)
      scanLines.foreach(l => assert(!l.contains("lambdafunction"),
        s"$q: a lambda (tokenization) reached the scan filters:\n${l.take(400)}"))
    }
  }

  test("quantization: per-dim stats broadcast back; the corpus is never key-shuffled") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val plan = planOf(graft.operators.Quantize.int8(emb, col("vec_id"), col("v")))
    assert(plan.contains("BroadcastHashJoin"),
      "the 64-row dim-stats frame must broadcast:\n" + plan.take(800))
    assert(!plan.contains("CartesianProduct"))
    // the only hash shuffle feeds the 64-group stats aggregate (with a
    // partial aggregate below it), not the exploded corpus join
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "dim stats must partial-aggregate map-side")
  }

  test("compaction: two-phase max(struct) aggregate, no window over raw events") {
    val plan = planOf(Queries.all("q_compact")(spark, dir))
    assert("HashAggregate".r.findAllIn(plan).size >= 2 ||
      "SortAggregate".r.findAllIn(plan).size >= 2,
      "keep-latest must map-side combine:\n" + plan.take(800))
    assert(!plan.contains("Window"), "no row_number window over the full event stream")
  }

  test("weight estimation (R7): no job, window or sort of its own") {
    // the percentile interpolation reads the facet's collected top-M list:
    // a search with an estimated weight runs exactly the jobs of the same
    // search with explicit weights, and never a window or global sort
    // over the facet
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.engine.SimSearchEngine
    import graft.engine.SimSearchEngine.{Catalog, SearchSpec}
    val catalog = new Catalog(servedFacets)
    try {
      for ((k, names) <- Seq(10 -> Seq("a"), 1 -> Seq("a", "b", "c", "d"))) {
        def search(ws: Seq[Double]) = SparkActions.record(spark)(
          SimSearchEngine.search(spark, catalog, k,
            names.map(SearchSpec(_, 50.0, Seq(0.5))).updated(0,
              SearchSpec(names.head, 50.0, ws))).collect())
        val estimated = search(Seq.empty)
        val explicit = search(Seq(0.5))
        assert(estimated.result.length == k)
        assert(estimated.jobs == explicit.jobs && estimated.jobs <= 2,
          (names, estimated.jobs, explicit.jobs))
        val sorts = execNodes(estimated).filter {
          case _: WindowExec | _: SortExec => true
          case _ => false
        }
        assert(sorts.isEmpty, estimated.plans.map(_.treeString).mkString("\n").take(3000))
      }
    } finally catalog.close()
  }

  test("tf-idf: corpus size joins as a broadcast, term/doc shuffles are hash-keyed") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = planOf(graft.operators.TfIdf.topTerms(docs,
      col("doc_id"), TextKernels.wordTokens(col("text")), 3))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "the 1-row corpus count must broadcast")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("Exchange hashpartitioning"))
  }

  test("pq ADC top-k: one scan, kernel scoring inside codegen, TakeOrdered — " +
    "no shuffle, no sort, no join") {
    val plan = planOf(Queries.all("q_pq_topk")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      "ADC top-k must be a TakeOrdered heap:\n" + plan.take(800))
    assert(plan.contains("pq_adc_native") && plan.contains("pq_encode_native"),
      "both PQ kernels must appear in the plan:\n" + plan.take(800))
    assert(!plan.contains("Exchange hashpartitioning") && !plan.contains("Join"),
      "a flat ADC scan must not shuffle or join:\n" + plan.take(800))
    // (kernel codegen itself is strict-compiled in BandKeysCodegenSpec's
    // style via PqSpec's composed-twin bit-identity run)
  }

  test("semdedup: the within-cluster compare is a hash equi-join on the " +
    "cluster id — never a cartesian") {
    val plan = planOf(Queries.all("q_semdedup")(spark, dir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "within-cluster pairs must ride an equi-join:\n" + plan.take(1200))
    assert(plan.contains("nearest_centroid_native") ||
      plan.contains("array_position"),
      "cluster assignment must be the shared ivfCluster expression")
  }

  test("decontaminate: eval union broadcasts; the flagged-id anti-join never " +
    "plans a cartesian") {
    val plan = planOf(Queries.all("q_decontaminate")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      "the eval shingle union must broadcast:\n" + plan.take(800))
    assert(plan.contains("LeftAnti"), "removal must be an anti-join")
    assert(!plan.contains("CartesianProduct"))
  }
}
