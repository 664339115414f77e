package graft

import org.apache.spark.sql.functions._

import graft.api.{AttributeSpec, Facet, SimOp}
import graft.engine.SimSearchEngine
import graft.engine.SimSearchEngine.{Catalog, SearchSpec}
import graft.sources.CsvMount
import graft.sources.CsvMount.MountSpec

class EngineEdgeSpec extends SparkTestBase {
  import spark.implicits._

  test("mount: WKT single-column spatial attribute (F8 end-to-end)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wkt")
    java.nio.file.Files.writeString(dir.resolve("geo.csv"),
      """id,geom
        |a,POINT(10.0 20.0)
        |b,POINT (11.5 21.5)
        |c,not a point
        |d,POINT(-170.0 -80.0)
        |""".stripMargin)
    val f = CsvMount.mount(spark, dir.toString,
      MountSpec("spatial_knn", "geo.csv", "id", Seq("geom")))
    // unparseable row 'c' is dropped by the NOT-NULL guard (P4)
    assert(f.df.count() == 3)
    val res = SimSearchEngine.search(spark, new Catalog(Seq(f)), 2,
      Seq(SearchSpec("geom", "POINT(10.1 20.1)", Seq(1.0)))).collect()
    assert(res.map(_.getString(res.head.fieldIndex("id"))).toSeq == Seq("a", "b"))
  }

  test("P2: a search.json per-condition filter parses and pre-filters the facet") {
    val req = """{"k": "3", "queries": [
      {"column": "x", "value": 5.0, "weights": ["1.0"], "filter": "value > 4"}
    ]}"""
    val tmp = java.nio.file.Files.createTempFile("graft-search", ".json")
    java.nio.file.Files.write(tmp, req.getBytes("UTF-8"))
    try {
      val (k, _, specs, _) = graft.engine.RequestParser.parseSearch(tmp.toString)
      assert(k == 3 && specs.head.filter.contains("value > 4"))
      val f = Facet(AttributeSpec("x", SimOp.Numerical),
        (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "value"))
      val res = SimSearchEngine.search(spark, new Catalog(Seq(f)), k, specs).collect()
      // without the filter the top-3 around 5.0 would be {5, 4, 6}; the
      // pre-filter drops value <= 4 before similarity search
      assert(res.map(_.getLong(res.head.fieldIndex("id"))).toSeq == Seq(5L, 6L, 7L))
    } finally java.nio.file.Files.delete(tmp)
  }

  test("name_dictionary: non-queryable lookup; prefixURL formats result ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft-names")
    java.nio.file.Files.writeString(dir.resolve("ent.csv"),
      """eid,ename,score
        |e1,Acme Corp,10.0
        |e2,Globex,20.0
        |e3,Initech,30.0
        |""".stripMargin)
    val names = CsvMount.mount(spark, dir.toString, MountSpec(
      "name_dictionary", "ent.csv", "eid", Seq("ename"),
      prefixURL = Some("http://entities.example/")))
    val num = CsvMount.mount(spark, dir.toString, MountSpec(
      "numerical_topk", "ent.csv", "eid", Seq("score")))
    val cat = new Catalog(Seq(names, num))
    // dictionaries are lookups, never queryable (P6)
    intercept[IllegalArgumentException] {
      SimSearchEngine.search(spark, cat, 2, Seq(SearchSpec("ename", "Acme", Seq(1.0))))
    }
    val res = SimSearchEngine.search(spark, cat, 2,
      Seq(SearchSpec("score", 20.0, Seq(1.0))))
    // extras join BEFORE prefixing (prefixed ids no longer match facets)
    val projected = SimSearchEngine.applyIdPrefix(cat,
      graft.engine.SimSql.projectExtras(cat, res, Seq("ename")))
    val rows = projected.orderBy(col("rank"))
      .select("id", "ename").collect()
    assert(rows.head.getString(0) == "http://entities.example/e2")
    assert(rows.head.getString(1) == "Globex")
  }

  test("A2: k > K_MAX rejected for multi-attribute queries, allowed for singletons") {
    val f1 = Facet(AttributeSpec("x", SimOp.Numerical),
      (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "value"))
    val f2 = Facet(AttributeSpec("y", SimOp.Numerical),
      (1 to 100).map(i => (i.toLong, -i.toDouble)).toDF("id", "value"))
    val catalog = new Catalog(Seq(f1, f2))
    intercept[IllegalArgumentException] {
      SimSearchEngine.search(spark, catalog, 51, Seq(
        SearchSpec("x", 5.0, Seq(0.5)), SearchSpec("y", -5.0, Seq(0.5))))
    }
    // singleton path: no K_MAX cap, no inflation
    assert(SimSearchEngine.search(spark, catalog, 60,
      Seq(SearchSpec("x", 5.0, Seq(1.0)))).count() == 60)
  }

  test("P6: non-queryable attributes are rejected") {
    val f = Facet(AttributeSpec("hidden", SimOp.Numerical, queryable = false),
      Seq((1L, 1.0)).toDF("id", "value"))
    intercept[IllegalArgumentException] {
      SimSearchEngine.search(spark, new Catalog(Seq(f)), 1,
        Seq(SearchSpec("hidden", 1.0, Seq(1.0))))
    }
  }

  test("A4: z-normalized mount transforms data and query consistently") {
    val f = CsvMount.mount(spark, GenGdeltFixture.path,
      MountSpec("numerical_topk", "sample.csv", "article_id",
        Seq("positive_sentiment"), normalized = Some("z")))
    val st = f.spec.stats.get
    // mounted values are z-scores: mean ~ 0, stddev ~ 1
    val r = f.df.agg(avg(col("value")), stddev_samp(col("value"))).head
    assert(math.abs(r.getDouble(0)) < 1e-9 && math.abs(r.getDouble(1) - 1.0) < 1e-9)
    // searching with a RAW query value normalizes it with the same stats:
    // the top result for q = mean is the entity whose value is closest to
    // the mean, and with k=1 the scale self-calibrates to d_1 so the top
    // score is exactly round(exp(-0.05), 6)
    val res = SimSearchEngine.search(spark, new Catalog(Seq(f)), 1,
      Seq(SearchSpec("positive_sentiment", st.avg, Seq(1.0)))).collect()
    val expectedId = f.df
      .orderBy(abs(col("value")), col("id")).select(col("id")).head.getString(0)
    assert(res.length == 1)
    assert(res.head.get(res.head.fieldIndex("id")) == expectedId)
    val expScore = BigDecimal(math.exp(-0.05))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(res.head.getDouble(res.head.fieldIndex("score")) == expScore)
  }

  test("F12 regression: 'max' keyword on a normalized facet is not re-normalized") {
    val f = CsvMount.mount(spark, GenGdeltFixture.path,
      MountSpec("numerical_topk", "sample.csv", "article_id",
        Seq("positive_sentiment"), normalized = Some("z")))
    // top-1 for "max" must be the entity holding the maximum raw value
    val expectedId = f.df.orderBy(col("value").desc, col("id"))
      .select(col("id")).head.getString(0)
    val res = SimSearchEngine.search(spark, new Catalog(Seq(f)), 1,
      Seq(SearchSpec("positive_sentiment", "max", Seq(1.0)))).collect()
    assert(res.head.get(res.head.fieldIndex("id")) == expectedId)
  }

  test("scale guard regression: all-zero top-k distances keep scale 1.0 (not k)") {
    import spark.implicits._
    val k = 2
    // facet x: ids 0..4 match the query exactly (top-k all d=0 -> guard
    // scale 1.0), id 5 sits at d=1; facet y makes ids 1..4 score ~0 so
    // id 5 lands in the top-k and its s_x exposes the scale used
    val xs = (Seq.fill(5)(7.0) ++ Seq(8.0)).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val ys = (0 to 5).map(i => i.toLong ->
      (if (i == 5) 0.0 else if (i == 0) 10.0 else 10000.0))
    val fx = graft.api.Facet(graft.api.AttributeSpec("x", graft.api.SimOp.Numerical),
      xs.toDF("id", "value"))
    val fy = graft.api.Facet(graft.api.AttributeSpec("y", graft.api.SimOp.Numerical),
      ys.toDF("id", "value"))
    val res = SimSearchEngine.search(spark, new Catalog(Seq(fx, fy)), k,
      Seq(SearchSpec("x", 7.0, Seq(0.5)), SearchSpec("y", 0.0, Seq(0.5))),
      detailed = true).collect()
    val sx5 = res.find(r => r.getLong(r.fieldIndex("id")) == 5L)
      .map(r => r.getDouble(r.fieldIndex("s_x")))
    // with the guard (scale=1.0), id 5's x-similarity is exp(-0.05*1/1.0);
    // the pre-fix behavior (scale=k) would give exp(-0.05/5)=0.990050
    assert(sx5.contains(math.exp(-0.05)), s"got $sx5")
  }

  test("R5: a weight-count mismatch fails loudly; a single weight " +
    "broadcasts to every combination") {
    val a = Facet(AttributeSpec("a", SimOp.Numerical),
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "value"))
    val b = Facet(AttributeSpec("b", SimOp.Numerical),
      Seq((1L, 5.0), (2L, 6.0), (3L, 7.0)).toDF("id", "value"))
    val cat = new Catalog(Seq(a, b))
    // 2 combos on a, 3 on b: silently collapsing b to its head would rank
    // every combo with weights the caller never asked for
    val e = intercept[IllegalArgumentException] {
      SimSearchEngine.search(spark, cat, 2, Seq(
        SearchSpec("a", 1.0, Seq(0.3, 0.7)),
        SearchSpec("b", 5.0, Seq(0.2, 0.5, 0.9))))
    }
    assert(e.getMessage.contains("combinations"), e.getMessage)
    // size-1 broadcast remains the documented convenience
    val ok = SimSearchEngine.search(spark, cat, 2, Seq(
      SearchSpec("a", 1.0, Seq(0.3, 0.7)),
      SearchSpec("b", 5.0, Seq(0.5))))
    assert(ok.select("combo").distinct().count() == 2)
  }

  test("F12: 'max' on an empty facet raises a clear error, not an NPE") {
    val empty = Facet(AttributeSpec("n", SimOp.Numerical),
      Seq.empty[(Long, Double)].toDF("id", "value"))
    val e = intercept[IllegalArgumentException] {
      SimSearchEngine.search(spark, new Catalog(Seq(empty)), 2,
        Seq(SearchSpec("n", "max", Seq(1.0))))
    }
    assert(e.getMessage.contains("no values"), e.getMessage)
  }

  test("P5: max_lines caps ingestion") {
    val f = CsvMount.mount(spark, GenGdeltFixture.path,
      MountSpec("numerical_topk", "sample.csv", "article_id",
        Seq("positive_sentiment"), maxLines = Some(10)))
    assert(f.df.count() <= 10)
  }
}
