package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._

import graft.engine.SimSearchEngine
import graft.engine.SimSearchEngine.{Catalog, SearchSpec}
import graft.sources.JdbcMount
import graft.sources.JdbcMount.JdbcSpec

/** S7/S8 against a real embedded Derby database (the Derby jars ship with
  * Spark), including a pushdown check on the physical plan. */
class JdbcMountSpec extends SparkTestBase {

  private val url = "jdbc:derby:memory:graftdb;create=true"

  override def beforeAll(): Unit = {
    super.beforeAll()
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("CREATE TABLE items (item_id INT NOT NULL, price DOUBLE, tags VARCHAR(100))")
    val ins = conn.prepareStatement("INSERT INTO items VALUES (?, ?, ?)")
    (1 to 100).foreach { i =>
      ins.setInt(1, i)
      ins.setDouble(2, i * 10.0)
      ins.setString(3, if (i % 2 == 0) "red,round" else "blue,square")
      ins.addBatch()
    }
    ins.executeBatch()
    // a table LARGER than the candidate inflation window (m = 1000k), so a
    // mixed query's candidate union can exceed the pushed top-M list and
    // force the random-access lookup step
    st.execute("CREATE TABLE big (item_id INT NOT NULL, price DOUBLE, tags VARCHAR(100))")
    val insBig = conn.prepareStatement("INSERT INTO big VALUES (?, ?, ?)")
    (1 to 3000).foreach { i =>
      insBig.setInt(1, i)
      insBig.setDouble(2, i * 1.0)
      insBig.setString(3, if (i >= 2500 && i < 2510) "faraway" else "common")
      insBig.addBatch()
      if (i % 500 == 0) insBig.executeBatch()
    }
    insBig.executeBatch()
    conn.close()
  }

  private def numFacet = JdbcMount.mount(spark,
    JdbcSpec(url, "items", "ITEM_ID", "PRICE", "numerical_topk"))

  test("S7: numerical facet over JDBC answers a top-k query") {
    val catalog = new Catalog(Seq(numFacet))
    val res = SimSearchEngine.search(spark, catalog, 5,
      Seq(SearchSpec("PRICE", 503.0, Seq(1.0)))).collect()
    assert(res.length == 5)
    // nearest to 503 is item 50 (500.0)
    assert(res.map(_.get(res.head.fieldIndex("id"))).head == 50)
  }

  test("S7: categorical facet over JDBC with token split") {
    val f = JdbcMount.mount(spark,
      JdbcSpec(url, "items", "ITEM_ID", "TAGS", "categorical_topk"))
    val catalog = new Catalog(Seq(f))
    val res = SimSearchEngine.search(spark, catalog, 3,
      Seq(SearchSpec("TAGS", Seq("red", "round"), Seq(1.0)))).collect()
    assert(res.length == 3)
    // perfect matches score 1.0 (decay of distance 0)
    assert(res.head.getDouble(res.head.fieldIndex("score")) == 1.0)
  }

  test("P2/P4: filters and NOT-NULL guards push down into the JDBC scan") {
    val plan = numFacet.df.where(col("value") > 400.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan.take(500))
    assert(plan.contains("IsNotNull"), plan.take(500))
  }

  test("mount request routing: mixed csv/jdbc sources, clear error for restapi") {
    // the reference's multi-source request shape
    // (data/gdelt/service/simsearch-multiple-sources.py:11)
    val req = s"""{
      "sources": [
        {"name": "db", "type": "jdbc", "url": "$url", "username": "u", "password": "p"},
        {"name": "files", "type": "csv", "directory": "/tmp/data/"},
        {"name": "es", "type": "restapi", "url": "http://example.invalid/idx/_search"}
      ],
      "search": [
        {"operation": "numerical_topk", "source": "db", "dataset": "items",
         "key_column": "ITEM_ID", "search_column": "PRICE"},
        {"operation": "categorical_topk", "source": "files", "dataset": "d.csv",
         "key_column": "id", "search_column": "tags"}
      ]
    }"""
    val tmp = java.nio.file.Files.createTempFile("graft-mount", ".json")
    java.nio.file.Files.write(tmp, req.getBytes("UTF-8"))
    try {
      val parsed = graft.engine.RequestParser.parseMountRequest(tmp.toString)
      assert(parsed.csv.map(_._1) == Seq("files"))
      assert(parsed.jdbc.size == 1)
      val j = parsed.jdbc.head
      assert(j.url == url && j.table == "items" && j.keyColumn == "ITEM_ID" &&
        j.valueColumn == "PRICE" && j.user.contains("u") && j.password.contains("p"))
      // a jdbc spec parsed from the request actually mounts and answers
      // (credentials stripped: Derby maps user "u" to schema U, and `items`
      // lives in the default APP schema of this embedded test database)
      val res = SimSearchEngine.search(spark,
        new Catalog(Seq(JdbcMount.mount(spark, j.copy(user = None, password = None)))),
        3, Seq(SearchSpec("PRICE", 503.0, Seq(1.0)))).collect()
      assert(res.length == 3)

      // a search entry against the restapi source routes to a RestMount
      // (ES flavor: the URL does not end /simsearch/api/search), and an
      // entry naming an undeclared source still fails clearly
      val es = req.replace(""""source": "files"""", """"source": "es"""")
      java.nio.file.Files.write(tmp, es.getBytes("UTF-8"))
      val withRest = graft.engine.RequestParser.parseMountRequest(tmp.toString)
      assert(withRest.rest.size == 1)
      assert(withRest.rest.head.valueColumn == "tags" &&
        !withRest.rest.head.source.isSimSearchInstance)
      val bad = req.replace(""""source": "files"""", """"source": "nosuch"""")
      java.nio.file.Files.write(tmp, bad.getBytes("UTF-8"))
      val e = intercept[IllegalArgumentException] {
        graft.engine.RequestParser.parseMountRequest(tmp.toString)
      }
      assert(e.getMessage.contains("undeclared"))
    } finally java.nio.file.Files.delete(tmp)
  }

  // --- S7 query-time top-M pushdown (round 8, VERDICT r7 #1) ---------------

  test("Q6: the remote statement carries the distance, ORDER BY and LIMIT") {
    val spec = JdbcSpec(url, "items", "ITEM_ID", "PRICE", "numerical_topk")
    assert(JdbcMount.supportsPushdown(spec))
    val sql = JdbcMount.topMSql(spec, 503.0, 500, None)
    assert(sql.contains("ABS(CAST(PRICE AS DOUBLE) - 503.0)"), sql)
    assert(sql.contains("ORDER BY 2, 1"), sql)
    assert(sql.contains("FETCH FIRST 500 ROWS ONLY"), sql)
    assert(sql.contains("PRICE IS NOT NULL"), sql)
    // user filters are forwarded into the remote WHERE clause
    val filtered = JdbcMount.topMSql(spec, 503.0, 10, Some("PRICE > 400"))
    assert(filtered.contains("(PRICE > 400)"), filtered)
    // dialect templates: LIMIT engines vs FETCH FIRST engines
    assert(JdbcMount.topMSql(spec.copy(url = "jdbc:postgresql://h/db"), 1.0, 7, None)
      .endsWith("LIMIT 7"))
    // categorical Jaccard has no portable SQL — stays on the Spark kernels
    assert(!JdbcMount.supportsPushdown(spec.copy(operation = "categorical_topk")))
    // temporal pushdown needs a dialect epoch expression: available on
    // postgres/mysql (template asserted), absent on Derby (falls back to
    // the Spark-side kernel mount)
    val tspec = spec.copy(url = "jdbc:postgresql://h/db",
      valueColumn = "TS", operation = "temporal_topk")
    assert(JdbcMount.supportsPushdown(tspec))
    val epochMs = graft.sources.CsvMount.parseDatetimeMs("2019-11-04 08:45:00").get
    val tsql = JdbcMount.topMSql(tspec, "2019-11-04 08:45:00", 9, None)
    assert(tsql.contains("(EXTRACT(EPOCH FROM TS) * 1000)"), tsql)
    assert(tsql.contains(s"- $epochMs"), tsql)
    assert(!JdbcMount.supportsPushdown(spec.copy(operation = "temporal_topk")))
  }

  test("Q6: only M rows cross the wire, ordered like FacetSearch.topM") {
    val spec = JdbcSpec(url, "items", "ITEM_ID", "PRICE", "numerical_topk")
    val frame = JdbcMount.topMFrame(spark, spec, 503.0, 15, None)
    assert(frame.columns.toSeq == Seq("id", "d"))
    val rows = frame.collect()
    assert(rows.length == 15, "the table has 100 rows; the remote LIMIT must cap at 15")
    // identical candidate list to the Spark-side kernel path (d, id order)
    val sparkSide = graft.operators.FacetSearch.topM(
      JdbcMount.mount(spark, spec).df.select(col("id"),
        graft.functions.SimKernels.absDist(col("value"), lit(503.0)).as("d")), 15)
      .collect()
    assert(rows.map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
      sparkSide.map(r => (r.getInt(0), r.getDouble(1))).toSeq)
  }

  test("Q6: in-situ pushed facet answers match the Spark-side kernel path") {
    val spec = JdbcSpec(url, "items", "ITEM_ID", "PRICE", "numerical_topk")
    val inSitu = new Catalog(Seq.empty, Seq(JdbcMount.mountInSitu(spark, spec)))
    val sparkSide = new Catalog(Seq(JdbcMount.mount(spark, spec)))
    for (q <- Seq[Any](503.0, "max")) { // F12 "max" pushes an inline MAX subselect
      val a = SimSearchEngine.search(spark, inSitu, 5,
        Seq(SearchSpec("PRICE", q, Seq(1.0)))).collect()
      val b = SimSearchEngine.search(spark, sparkSide, 5,
        Seq(SearchSpec("PRICE", q, Seq(1.0)))).collect()
      assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq, s"query $q diverged")
    }
    assert(inSitu.list == Seq("PRICE" -> "numerical_topk"))
  }

  test("Q6: weight auto-estimation (R7) and per-condition filters (P2) " +
    "behave identically on the pushed path") {
    val spec = JdbcSpec(url, "items", "ITEM_ID", "PRICE", "numerical_topk")
    val inSitu = new Catalog(Seq.empty, Seq(JdbcMount.mountInSitu(spark, spec)))
    val sparkSide = new Catalog(Seq(JdbcMount.mount(spark, spec)))
    // empty weights trigger estimation over the facet's decayed candidate
    // scores — the bounded remote list must estimate like the local stream
    val est = Seq(SearchSpec("PRICE", 503.0, Seq.empty))
    assert(SimSearchEngine.search(spark, inSitu, 5, est).collect().map(_.toSeq).toSeq ==
      SimSearchEngine.search(spark, sparkSide, 5, est).collect().map(_.toSeq).toSeq)
    // the filter ships into the remote WHERE: every result honors it
    val filtered = SimSearchEngine.search(spark, inSitu, 5,
      Seq(SearchSpec("PRICE", 503.0, Seq(1.0), filter = Some("PRICE > 400")))).collect()
    assert(filtered.length == 5)
    val ids = filtered.map(r => r.get(r.fieldIndex("id")).asInstanceOf[Int])
    assert(ids.forall(_ * 10.0 > 400), s"ids $ids violate the pushed filter")
    // plan lock: the in-situ search scans ONLY the pushed bounded statement
    // (every JDBCRelation in the plan embeds the FETCH FIRST limit)
    val plan = SparkActions.record(spark)(SimSearchEngine.search(spark, inSitu, 5,
      Seq(SearchSpec("PRICE", 503.0, Seq(1.0)))).collect()).plans.mkString("\n")
    assert(plan.contains("JDBCRelation((SELECT"), plan.take(500))
    assert(plan.contains("FETCH FIRST"), plan.take(500))
    assert(!plan.contains("JDBCRelation(items)"),
      "a full-table JDBC scan leaked into the in-situ plan")
  }

  test("Q6: multi-facet query mixing pushed JDBC with an ingested facet") {
    val price = JdbcSpec(url, "items", "ITEM_ID", "PRICE", "numerical_topk")
    val tags = JdbcMount.mount(spark,
      JdbcSpec(url, "items", "ITEM_ID", "TAGS", "categorical_topk"))
    val mixed = new Catalog(Seq(tags), Seq(JdbcMount.mountInSitu(spark, price)))
    val allSpark = new Catalog(Seq(JdbcMount.mount(spark, price), tags))
    val specs = Seq(
      SearchSpec("PRICE", 503.0, Seq(0.7)),
      SearchSpec("TAGS", Seq("red", "round"), Seq(0.3)))
    // m = k * 1000 >= 100 rows, so the bounded remote list covers the whole
    // table and the two paths are bit-identical
    val a = SimSearchEngine.search(spark, mixed, 5, specs).collect()
    val b = SimSearchEngine.search(spark, allSpark, 5, specs).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("Q6: random access completes the bounded list — mixed-query " +
    "candidates beyond the top-M get exact looked-up distances") {
    // m = 1000k = 2000 < 3000 rows: the "faraway" tag rows (ids 2500..2509)
    // are outside PRICE's pushed top-M list, so their PRICE contribution
    // exists ONLY via the remote IN-list lookup (the reference's
    // SimSearchJdbcQuery multi-value retrieval); with the explicit scale
    // their decayed score is non-zero and changes the ranking
    val price = JdbcSpec(url, "big", "ITEM_ID", "PRICE", "numerical_topk")
    val tags = JdbcMount.mount(spark,
      JdbcSpec(url, "big", "ITEM_ID", "TAGS", "categorical_topk"))
    val mixed = new Catalog(Seq(tags), Seq(JdbcMount.mountInSitu(spark, price)))
    val allSpark = new Catalog(Seq(JdbcMount.mount(spark, price), tags))
    val specs = Seq(
      SearchSpec("PRICE", 10.0, Seq(0.5), scale = Some(3000.0)),
      SearchSpec("TAGS", Seq("faraway"), Seq(0.5)))
    val a = SimSearchEngine.search(spark, mixed, 2, specs).collect()
    val b = SimSearchEngine.search(spark, allSpark, 2, specs).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // the winner IS a looked-up faraway row: perfect tag match plus a
    // non-zero decayed PRICE similarity beats every near-PRICE row
    val topId = a.head.get(a.head.fieldIndex("id")).asInstanceOf[Int]
    assert(topId >= 2500 && topId < 2510, s"expected a faraway id, got $topId")
    // lookup statement shape: IN list + filter + distance
    val sql = JdbcMount.lookupSql(price, 10.0, Seq(2500, 2501), Some("PRICE > 5"))
    assert(sql.contains("ITEM_ID IN (2500, 2501)") && sql.contains("(PRICE > 5)") &&
      sql.contains("ABS(CAST(PRICE AS DOUBLE) - 10.0)"), sql)
  }

  test("A5: similarity matrix over an in-situ JDBC attribute == local path " +
    "(remote value retrieval); value-less in-situ sources are rejected") {
    val price = JdbcSpec(url, "items", "ITEM_ID", "PRICE", "numerical_topk")
    val tags = JdbcMount.mount(spark,
      JdbcSpec(url, "items", "ITEM_ID", "TAGS", "categorical_topk"))
    val mixed = new Catalog(Seq(tags), Seq(JdbcMount.mountInSitu(spark, price)))
    val allSpark = new Catalog(Seq(JdbcMount.mount(spark, price), tags))
    val specs = Seq(
      SearchSpec("PRICE", 503.0, Seq(0.6)),
      SearchSpec("TAGS", Seq("red", "round"), Seq(0.4)))
    val a = SimSearchEngine.similarityMatrix(spark, mixed, 4, specs).collect()
    val b = SimSearchEngine.similarityMatrix(spark, allSpark, 4, specs).collect()
    assert(a.length == 16 && a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // a REST-style in-situ facet (no value retrieval) fails with a clear
    // message instead of an opaque plan error
    val noValues = new Catalog(Seq.empty, Seq(
      SimSearchEngine.InSituFacet("remote", "numerical_topk",
        (s, m) => JdbcMount.mountInSitu(spark, price).build(s, m))))
    val e = intercept[IllegalArgumentException] {
      SimSearchEngine.similarityMatrix(spark, noValues, 3,
        Seq(SearchSpec("remote", 503.0, Seq(1.0))))
    }
    assert(e.getMessage.contains("without value retrieval"))
  }

  test("Q6: mount request routing sends pushable in-situ JDBC to the pushed path") {
    val req = s"""{
      "sources": [{"name": "db", "type": "jdbc", "url": "$url"}],
      "search": [{"operation": "numerical_topk", "source": "db", "dataset": "items",
                  "key_column": "ITEM_ID", "search_column": "PRICE"}]
    }"""
    val tmp = java.nio.file.Files.createTempFile("graft-insitu", ".json")
    java.nio.file.Files.write(tmp, req.getBytes("UTF-8"))
    try {
      val catalog = new Catalog(Seq.empty)
      val n = graft.engine.RequestParser.mountInto(spark, tmp.toString, catalog)
      assert(n == 1)
      // the pushed mount keeps a lazy Spark-side twin in the catalog, so
      // projection / filter references to the attribute still resolve
      // (previously-working mount files must not regress)
      val twin = catalog.get("PRICE")
      assert(twin.df.columns.contains("value"))
      assert(twin.df.where(col("value") > 990.0).count() == 1)
      val res = SimSearchEngine.search(spark, catalog, 5,
        Seq(SearchSpec("PRICE", 503.0, Seq(1.0)))).collect()
      assert(res.length == 5 &&
        res.head.get(res.head.fieldIndex("id")) == 50)
    } finally java.nio.file.Files.delete(tmp)
  }

  test("P3: a residual filter reroutes the pushed facet onto its exact " +
    "Spark-side twin (a filtered bounded list could starve the top-k)") {
    // query 10.0 on `big` (3000 rows): the pushed top-M (m = 1000k = 2000)
    // holds ids 1..2000; the filter admits ONLY ids outside that list, so
    // semi-joining the bounded remote list would return nothing — the twin
    // path applies the filter BEFORE the top-M bound and stays exact
    val price = JdbcSpec(url, "big", "ITEM_ID", "PRICE", "numerical_topk")
    val inSitu = new Catalog(Seq.empty, Seq(JdbcMount.mountInSitu(spark, price)))
    val allSpark = new Catalog(Seq(JdbcMount.mount(spark, price)))
    val specs = Seq(SearchSpec("PRICE", 10.0, Seq(1.0)))
    val filter = Some("PRICE > 2490")
    val a = SimSearchEngine.search(spark, inSitu, 5, specs, filter).collect()
    val b = SimSearchEngine.search(spark, allSpark, 5, specs, filter).collect()
    assert(a.length == 5, "the residual-filtered in-situ query starved")
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    val ids = a.map(r => r.get(r.fieldIndex("id")).asInstanceOf[Int])
    assert(ids.toSeq == Seq(2491, 2492, 2493, 2494, 2495), ids.toSeq)
  }

  test("Q6: dialect templates — numeric cast and binary id collation") {
    val spec = JdbcSpec(url, "items", "ITEM_ID", "PRICE", "numerical_topk")
    // CAST(x AS DOUBLE) is not portable: each dialect gets its own spelling
    assert(JdbcMount.topMSql(spec.copy(url = "jdbc:postgresql://h/db"), 1.0, 7, None)
      .contains("CAST(PRICE AS DOUBLE PRECISION)"))
    assert(JdbcMount.topMSql(spec.copy(url = "jdbc:mysql://h/db"), 1.0, 7, None)
      .contains("(PRICE + 0e0)"))
    assert(JdbcMount.topMSql(spec.copy(url = "jdbc:sqlite:f.db"), 1.0, 7, None)
      .contains("CAST(PRICE AS REAL)"))
    assert(JdbcMount.topMSql(spec, 1.0, 7, None).contains("CAST(PRICE AS DOUBLE)"))
    // string keys order by a forced binary collation where the dialect has
    // one, so distance ties at the M boundary break like Spark's UTF-8
    // order; numeric keys keep the plain ordinal everywhere
    val skey = spec.copy(keyColumn = "NAME")
    assert(JdbcMount.topMSql(skey.copy(url = "jdbc:postgresql://h/db"), 1.0, 7,
      None, keyIsString = true).contains("""ORDER BY 2, NAME COLLATE "C""""))
    assert(JdbcMount.topMSql(skey.copy(url = "jdbc:mysql://h/db"), 1.0, 7,
      None, keyIsString = true).contains("ORDER BY 2, BINARY NAME"))
    assert(JdbcMount.topMSql(skey, 1.0, 7, None, keyIsString = true)
      .contains("ORDER BY 2, 1"), "Derby UCS_BASIC already equals UTF-8 order")
    assert(JdbcMount.topMSql(skey.copy(url = "jdbc:postgresql://h/db"), 1.0, 7,
      None, keyIsString = false).contains("ORDER BY 2, 1"))
    // temporal pushdown dialects beyond pg/mysql: SQL Server's
    // DATEDIFF_BIG and Oracle's interval extraction, both epoch-ms with
    // sub-second precision preserved
    val tsq = spec.copy(valueColumn = "TS", operation = "temporal_topk")
    val mssql = tsq.copy(url = "jdbc:sqlserver://h;db")
    assert(JdbcMount.supportsPushdown(mssql))
    assert(JdbcMount.topMSql(mssql, "2019-11-04 08:45:00", 5, None)
      .contains("DATEDIFF_BIG(MILLISECOND, '1970-01-01', TS)"))
    val ora = tsq.copy(url = "jdbc:oracle:thin:@h:1521/db")
    assert(JdbcMount.supportsPushdown(ora))
    val osql = JdbcMount.topMSql(ora, "2019-11-04 08:45:00", 5, None)
    assert(osql.contains("EXTRACT(DAY FROM (TS - TIMESTAMP '1970-01-01 00:00:00'))")
      && osql.contains("EXTRACT(SECOND FROM"), osql)
    assert(!JdbcMount.supportsPushdown(tsq), "Derby has no epoch expression")
  }

  test("S8: ingest-on-mount caches the typed facet") {
    val f = JdbcMount.mount(spark,
      JdbcSpec(url, "items", "ITEM_ID", "PRICE", "numerical_topk", ingest = true))
    assert(f.df.storageLevel.useMemory)
    assert(f.df.count() == 100)
  }
}
