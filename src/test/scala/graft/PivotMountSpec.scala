package graft

import org.apache.spark.sql.functions._

import graft.engine.SimSearchEngine
import graft.engine.SimSearchEngine.{Catalog, SearchSpec}

/** Mount-time word2vec transform (transform_by, reference:
  * Coordinator.java:608-672) and pivot_based coordinate attributes, mounted
  * from a sources_pivot.json: one GloVe vector_dictionary + five
  * pivot_based attributes (2-column position, GloVe-transformed
  * organizations, epoch-ms timestamp, two sentiments). The replay of the
  * reference's committed search_pivot.json mounts the reference's OWN
  * files; every other test mounts the GDELT-shaped fixtures/gdelt_synth
  * ([[GenGdeltFixture]]), whose sources_pivot.json has that shape. */
class PivotMountSpec extends SparkTestBase {

  private val gdelt = "/root/reference/data/gdelt"
  private val fixture = GenGdeltFixture.path

  private def mountPivot(dir: String = gdelt,
      edit: String => String = identity): Catalog = {
    val sources = edit(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/standalone/sources_pivot.json")), "UTF-8")
      .replace("./data/gdelt/", s"$dir/"))
    val tmp = java.nio.file.Files.createTempFile("graft-pivot", ".json")
    java.nio.file.Files.write(tmp, sources.getBytes("UTF-8"))
    try {
      val (facets, inSitu) = graft.engine.RequestParser.mountAll(spark, tmp.toString)
      assert(inSitu.isEmpty)
      new Catalog(facets)
    } finally java.nio.file.Files.delete(tmp)
  }

  test("sources_pivot.json mounts 5 pivot attributes; the dictionary is consumed, not listed") {
    val cat = mountPivot(fixture)
    assert(cat.size == 5)
    val ops = cat.list.toMap
    assert(ops.keySet == Set("position", "organizations", "timestamp",
      "positive_sentiment", "negative_sentiment"))
    // the catalog speaks the reference's operation vocabulary
    assert(ops("position") == "pivot_based" && ops("timestamp") == "pivot_based")
    // the metric itself stays on the facet spec
    assert(cat.get("position").spec.op == graft.api.SimOp.Metric("euclidean"))
    assert(cat.get("timestamp").spec.op == graft.api.SimOp.Metric("manhattan"))
  }

  test("a vector_dictionary entry without token_delimiter splits its vectors on ','") {
    // the fixture's `term;glove_vector` dictionary, declared without the field
    val dictEntry = "\"separator\": \";\", \"token_delimiter\": \",\""
    val cat = mountPivot(fixture, { json =>
      assert(json.contains(dictEntry))
      json.replace(dictEntry, "\"separator\": \";\"")
    })
    val cnn = cat.get("organizations").spec.queryTransform.get(Seq("cnn"))
    val expected = graft.sources.CsvMount.mountVectorDictionary(spark,
      s"$fixture/glove_dictionary.csv").where(col("term") === "cnn").head.getSeq[Double](1)
    assert(cnn.size == 50 && cnn == expected.toSeq)
  }

  test("transform_by derives a queryable vector attribute from the keyword column") {
    val cat = mountPivot(fixture)
    val orgs = cat.get("organizations")
    // GloVe vectors are 50-dimensional in the committed dictionary
    val dims = orgs.df.select(size(col("value")).as("n")).distinct()
      .collect().map(_.getInt(0)).toSeq
    assert(dims == Seq(50), s"expected uniform 50-dim vectors, got $dims")
    assert(orgs.df.count() > 0)

    // querying by KEYWORDS routes through the same dictionary transform as
    // the data: a keyword query must equal the same query pre-transformed
    // to a vector by hand
    // compound tokens split on '+' and average their components' vectors
    // (the reference's WORD_DELIMITER semantics, Constants.java:15)
    val qTokens = Seq("united+nations", "house")
    val qVec = orgs.spec.queryTransform.get(qTokens)
    assert(qVec.size == 50 && !qVec.forall(_ == 0.0))
    val byKeywords = SimSearchEngine.search(spark, cat, 5,
      Seq(SearchSpec("organizations", qTokens, Seq(1.0)))).collect()
    val byVector = SimSearchEngine.search(spark, cat, 5,
      Seq(SearchSpec("organizations", qVec, Seq(1.0)))).collect()
    assert(byKeywords.length == 5)
    assert(byKeywords.map(r => (r.getString(r.fieldIndex("id")),
        r.getDouble(r.fieldIndex("score")))).toSeq ==
      byVector.map(r => (r.getString(r.fieldIndex("id")),
        r.getDouble(r.fieldIndex("score")))).toSeq)
  }

  test("multi-metric pivot search aggregates transformed + coordinate facets") {
    val cat = mountPivot(fixture)
    val res = SimSearchEngine.search(spark, cat, 5, Seq(
      SearchSpec("position", Seq(-74.94, 42.15), Seq(0.4)),
      SearchSpec("organizations", Seq("united nations"), Seq(0.3)),
      SearchSpec("timestamp", "2019-11-04 15:45:00", Seq(0.3)))).collect()
    assert(res.length == 5)
    val scores = res.map(_.getDouble(res.head.fieldIndex("score")))
    assert(scores.forall(s => s > 0.0 && s <= 1.0))
    assert(scores.sameElements(scores.sorted.reverse))
  }

  test("the reference's committed search_pivot.json replays end-to-end") {
    val cat = mountPivot()
    val req = graft.engine.RequestParser.parseSearchRequest(
      s"$gdelt/standalone/search_pivot.json")
    // the fixture exercises every metric-query value shape at once: a
    // keyword array (GloVe transform), an all-digit datetime, a WKT POINT,
    // and a bare JSON number
    assert(req.k == 5 && req.specs.size == 4)
    assert(req.output.extraColumns == Seq("negative_sentiment"))
    val res = SimSearchEngine.search(spark, cat, req.k, req.specs)
    val rows = res.collect()
    assert(rows.length == 10, s"5 results x 2 weight combos, got ${rows.length}")
    val scores = rows.map(_.getDouble(rows.head.fieldIndex("score")))
    assert(scores.forall(s => s > 0.0 && s <= 1.0))
    // the datetime query typed as epoch-ms: the timestamp facet must
    // contribute nonzero similarity to at least the top result
    val detailed = SimSearchEngine.search(spark, cat, req.k, req.specs,
      detailed = true)
    val top = detailed.where(col("combo") === 0 && col("rank") === 1).collect().head
    assert(top.getDouble(top.fieldIndex("s_timestamp")) > 0.0,
      "epoch-typed datetime query must score against the timestamp facet")
    val projected = graft.engine.SimSql.projectExtras(cat, res,
      req.output.extraColumns)
    assert(projected.columns.contains("negative_sentiment"))
  }

  test("extra columns on a transformed attribute display the raw keywords") {
    val cat = mountPivot(fixture)
    val res = SimSearchEngine.search(spark, cat, 3,
      Seq(SearchSpec("organizations", Seq("united+nations"), Seq(1.0))))
    val proj = graft.engine.SimSql.projectExtras(cat, res, Seq("organizations"))
      .select("organizations").collect().map(_.getString(0))
    // the display association serves the ORIGINAL keyword text, not the
    // derived 50-dim vectors (the reference's KEYWORD_DICTIONARY flow)
    assert(proj.length == 3)
    assert(proj.forall(v => v == null || !v.startsWith("[")), proj.mkString("; "))
  }

  test("haversine and chebyshev metrics are accepted for pivot attributes") {
    import spark.implicits._
    import graft.sources.CsvMount
    // a tiny in-line csv exercising the metric selector end-to-end
    val dir = java.nio.file.Files.createTempDirectory("graft-metric").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/pts.csv"),
      "pid,lon,lat\np1,0.0,0.0\np2,10.0,0.0\np3,0.0,20.0\n".getBytes("UTF-8"))
    try {
      val hav = CsvMount.mount(spark, dir, CsvMount.MountSpec(
        "pivot_based", "pts.csv", "pid", Seq("lon", "lat"),
        aliasColumn = Some("pos"), metric = Some("Haversine")))
      val cat = new Catalog(Seq(hav))
      val res = SimSearchEngine.search(spark, cat, 2,
        Seq(SearchSpec("pos", Seq(0.0, 0.0), Seq(1.0)))).collect()
      assert(res.head.getString(res.head.fieldIndex("id")) == "p1")
      assert(res.head.getDouble(res.head.fieldIndex("score")) == 1.0)

      val cheb = CsvMount.mount(spark, dir, CsvMount.MountSpec(
        "pivot_based", "pts.csv", "pid", Seq("lon", "lat"),
        aliasColumn = Some("posc"), metric = Some("Chebyshev")))
      val catC = new Catalog(Seq(cheb))
      val resC = SimSearchEngine.search(spark, catC, 3,
        Seq(SearchSpec("posc", Seq(0.0, 0.0), Seq(1.0)))).collect()
      // Chebyshev: d(p2)=10, d(p3)=20 -> p2 ranks above p3
      val ids = resC.map(_.getString(resC.head.fieldIndex("id"))).toSeq
      assert(ids == Seq("p1", "p2", "p3"))
    } finally {
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("pivot search plan: TakeOrdered candidates broadcast into the facet scan") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.{CartesianProductExec, SortMergeJoinExec}
    val cat = mountPivot(fixture)
    val rec = SparkActions.record(spark)(SimSearchEngine.search(spark, cat, 5,
      Seq(SearchSpec("position", Seq(-74.94, 42.15), Seq(1.0)))).collect())
    assert(rec.result.length == 5)
    // candidate generation is a shuffle-free TakeOrdered heap over the
    // pruned scan (never a shuffle or cartesian of the corpus). A query
    // with one facet is scored from that facet's top-M list, which holds
    // every candidate (RankAggregate's coverage rule): the search is the
    // one phase-1 job, no candidate set is broadcast, and the facet's
    // resident relation is read by the top-M scan only — the shape
    // PlanSpec locks for the served single-facet search
    val tree = rec.plans.map(_.treeString).mkString("\n").take(2000)
    assert(rec.jobs == 1 && rec.actions.size == 1, s"${rec.jobs} jobs:\n$tree")
    val nodes = SparkActions.nodes(rec.actions.head)
    assert(nodes.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "metric top-M must be a TakeOrdered heap:\n" + tree)
    assert(!nodes.exists(_.isInstanceOf[BroadcastExchangeExec]),
      "a single facet's list needs no candidate broadcast:\n" + tree)
    val resident = cat.get("position").df.select(col("*")).queryExecution.withCachedData
      .collect { case r: InMemoryRelation => r.cacheBuilder }.head
    val residentReads = nodes.count {
      case s: InMemoryTableScanExec => s.relation.cacheBuilder eq resident
      case _ => false
    }
    assert(residentReads == 1, "only the top-M scan reads the facet:\n" + tree)
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]), "the corpus must never key-shuffle")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]))
  }


  test("timestamp pivot coordinate parses through the datetime chain") {
    val cat = mountPivot(fixture)
    val ts = cat.get("timestamp")
    // epoch-ms doubles, 1-dimensional
    val row = ts.df.select(element_at(col("value"), 1)).head
    assert(row.getDouble(0) > 1.5e12, "expected epoch milliseconds")
  }
}
