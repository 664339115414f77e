package graft

import org.apache.spark.sql.functions._

import graft.engine.{SimSearchEngine, SimSql}
import graft.engine.SimSearchEngine.Catalog
import graft.sources.CsvMount
import graft.sources.CsvMount.MountSpec

/** SQL front-end tests: parse the reference's queries.sql corpus (including
  * its two designed-to-fail statements) and execute the reachable ones
  * against the reference's mounted GDELT catalog. The tests that need no
  * statement of the corpus mount the same five attributes from the
  * GDELT-shaped fixtures/gdelt_synth ([[GenGdeltFixture]]). */
class SimSqlSpec extends SparkTestBase {

  private val gdelt = "/root/reference/data/gdelt"

  private def catalogOf(dir: String): Catalog = new Catalog(Seq(
    MountSpec("spatial_knn", "sample.csv", "article_id",
      Seq("longitude", "latitude"), aliasColumn = Some("position")),
    MountSpec("categorical_topk", "sample.csv", "article_id",
      Seq("persons"), tokenDelimiter = ";"),
    MountSpec("temporal_topk", "sample.csv", "article_id", Seq("timestamp")),
    MountSpec("numerical_topk", "sample.csv", "article_id", Seq("positive_sentiment")),
    MountSpec("numerical_topk", "sample.csv", "article_id", Seq("negative_sentiment"))
  ).map(CsvMount.mount(spark, dir, _)))

  private lazy val catalog: Catalog = catalogOf(gdelt)
  private lazy val fixtureCatalog: Catalog = catalogOf(GenGdeltFixture.path)

  private def fixtureStatements: Seq[String] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$gdelt/standalone/queries.sql")))
    txt.linesIterator.filterNot(_.trim.startsWith("--")).mkString("\n")
      .split(";").map(_.trim).filter(_.nonEmpty).toSeq
  }

  test("parse: whole queries.sql corpus (8 parse cleanly, Q6 fails as designed)") {
    val stmts = fixtureStatements
    assert(stmts.size == 9)
    val q6 = stmts.last // no similarity condition
    intercept[IllegalArgumentException] { SimSql.parse(q6) }
    val parsed = stmts.init.map(SimSql.parse)
    assert(parsed.size == 8)
    // Q1: two sims, no weights, default algorithm, k=5
    val q1 = parsed(0)
    assert(q1.sims.map(_._1) == Seq("persons", "timestamp"))
    assert(q1.weights.isEmpty && q1.algorithm.isEmpty && q1.k == 5)
    // Q2: extras + weights + algorithm + k
    val q2 = parsed(1)
    assert(q2.extraColumns == Seq("persons", "timestamp"))
    assert(q2.sims.map(_._1) == Seq("position", "positive_sentiment"))
    assert(q2.weights == Seq(0.8, 0.95) && q2.algorithm == Some("pivot_based") && q2.k == 10)
    // Q3: no LIMIT -> default 50; extra column
    val q3 = parsed(3)
    assert(q3.k == 50 && q3.extraColumns == Seq("negative_sentiment"))
    // Q5b: residual BETWEEN/> filters split from sim conditions
    val q5b = parsed(7)
    assert(q5b.sims.map(_._1) == Seq("position", "organizations"))
    assert(q5b.residualFilter.get.contains("BETWEEN") &&
      q5b.residualFilter.get.contains("positive_sentiment > 2.75"))
  }

  test("execute Q1: auto-estimated weights (R7), k=5") {
    val rows = SimSql.run(spark, catalog, fixtureStatements(0)).collect()
    assert(rows.length == 5)
  }

  test("execute Q2/Q2a: weights + algorithm selector + extra columns (A6)") {
    val q2 = SimSql.run(spark, catalog, fixtureStatements(1))
    val rows = q2.collect()
    assert(rows.length == 10)
    assert(q2.columns.contains("persons") && q2.columns.contains("timestamp"))
    // F13: temporal extra column is formatted, not epoch millis
    val ts = rows.head.getAs[String]("timestamp")
    assert(ts.matches("\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}"))
    assert(SimSql.run(spark, catalog, fixtureStatements(2)).count() == 10)
  }

  test("execute Q3: three facets, default k=50") {
    assert(SimSql.run(spark, catalog, fixtureStatements(3)).count() == 50)
  }

  test("execute Q4/Q5: unmounted attribute (organizations) fails") {
    intercept[IllegalArgumentException] {
      SimSql.run(spark, catalog, fixtureStatements(4)) // Q4
    }
    intercept[IllegalArgumentException] {
      SimSql.run(spark, catalog, fixtureStatements(5)) // Q5
    }
  }

  test("parse regression: grammar keywords inside quoted values are literal") {
    val q = SimSql.parse(
      "SELECT * WHERE persons ~= 'Bread AND Butter' AND timestamp ~= 'x WEIGHTS y LIMIT 3' LIMIT 5")
    assert(q.sims == Seq("persons" -> "Bread AND Butter",
      "timestamp" -> "x WEIGHTS y LIMIT 3"))
    assert(q.k == 5 && q.weights.isEmpty && q.residualFilter.isEmpty)
  }

  test("parse regression: unquoted numerics in residuals survive unmasking (Q5b)") {
    // the masked-literal indices must never collide with user numerics:
    // quoted '3' is a placeholder-sized literal, 1/3.5/2.75 are raw numbers
    val q = SimSql.parse(
      "SELECT * WHERE name ~= '3' AND x BETWEEN 1 AND 3.5 AND pos ~= 'POINT (1 2)' AND y > 2.75 LIMIT 5")
    assert(q.sims == Seq("name" -> "3", "pos" -> "POINT (1 2)"))
    assert(q.residualFilter.contains("x BETWEEN 1 AND 3.5 AND y > 2.75"))
    // and the reference corpus Q5b residual comes through verbatim
    val q5b = SimSql.parse(fixtureStatements(7))
    assert(q5b.residualFilter.contains(
      "negative_sentiment BETWEEN 1 AND 3.5 AND positive_sentiment > 2.75"))
  }

  test("jsonfilter('…') routes an ES filter context to in-situ facets only") {
    import spark.implicits._
    // parse: the jsonfilter conjunct is neither a sim condition nor a
    // boolean residual; single quotes inside are expunged (reference rule)
    val sql = """SELECT * WHERE keywords ~= 'acme'
                 AND jsonfilter('{"term": {"source": "cnn"}}')
                 AND positive_sentiment ~= '3.5' LIMIT 3"""
    val q = SimSql.parse(sql)
    assert(q.sims.map(_._1) == Seq("keywords", "positive_sentiment"))
    assert(q.jsonFilter.contains("""{"term": {"source": "cnn"}}"""))
    assert(q.residualFilter.isEmpty)

    // invalid JSON payloads are dropped with a notice, exactly as the
    // reference's isValidJSON gate does
    val bad = SimSql.parse("SELECT * WHERE a ~= 'x' AND jsonfilter('nonsense{') LIMIT 3")
    assert(bad.jsonFilter.isEmpty)

    // multiple jsonfilters combine into a VALID JSON array (a bare comma
    // join of objects would be malformed and rejected by ES)
    val two = SimSql.parse("""SELECT * WHERE a ~= 'x'
      AND jsonfilter('{"term": {"p": 1}}') AND jsonfilter('{"term": {"q": 2}}') LIMIT 3""")
    assert(two.jsonFilter.contains("""[{"term": {"p": 1}}, {"term": {"q": 2}}]"""))
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(two.jsonFilter.get)

    // execute: the stub in-situ facet receives the filter; the ingested
    // facet's spec stays clean
    val receivedFilters = scala.collection.mutable.ArrayBuffer[Option[String]]()
    val stub = SimSearchEngine.InSituFacet("keywords", "categorical_topk",
      (spec, _) => {
        receivedFilters += spec.filter
        graft.operators.BoundFacet("keywords",
          Seq(("20191104154500-1733", 1.0), ("20191104230000-326", 0.5)).toDF("id", "d"),
          Seq(1.0), preScored = true)
      })
    val cat2 = new Catalog(Seq(fixtureCatalog.get("positive_sentiment")), Seq(stub))
    val res = SimSql.run(spark, cat2, sql)
    assert(res.count() == 3)
    assert(receivedFilters.toSeq == Seq(Some("""{"term": {"source": "cnn"}}""")))
  }

  test("residual boolean filter restricts the searchable entities (P3)") {
    val sql = """SELECT * WHERE position ~= 'POINT(-74.94 42.15)'
                 AND positive_sentiment > 2.75 LIMIT 5"""
    val res = SimSql.run(spark, fixtureCatalog, sql)
    val ids = res.select("id").collect().map(_.getString(0)).toSeq
    assert(ids.nonEmpty && ids.size <= 5)
    val ps = fixtureCatalog.get("positive_sentiment").df
      .where(col("id").isin(ids: _*)).select("value").collect().map(_.getDouble(0))
    assert(ps.length == ids.size && ps.forall(_ > 2.75))
  }

  test("residual OR filter keeps entities missing one referenced attribute " +
    "(outer-join eligibility, not inner-join intersection)") {
    import graft.api.{AttributeSpec, Facet, SimOp}
    import graft.engine.SimSearchEngine.{Catalog, SearchSpec}
    import spark.implicits._
    // entity 7 has a price but NO rating row; the OR filter qualifies it
    val price = Facet(AttributeSpec("price", SimOp.Numerical),
      Seq((1L, 3.0), (7L, 10.0), (9L, 4.0)).toDF("id", "value"))
    val rating = Facet(AttributeSpec("rating", SimOp.Numerical),
      Seq((1L, 5.0), (9L, 1.0)).toDF("id", "value"))
    val cat = new Catalog(Seq(price, rating))
    val res = graft.engine.SimSearchEngine.search(spark, cat, 3,
      Seq(SearchSpec("price", 10.0, Seq(1.0))),
      residualFilter = Some("price > 5 OR rating > 4"))
    val ids = res.select("id").collect().map(_.getLong(0)).toSet
    assert(ids.contains(7L),
      s"entity 7 satisfies the OR filter but was excluded: $ids")
    assert(ids.contains(1L) && !ids.contains(9L), ids.toString)
  }
}
