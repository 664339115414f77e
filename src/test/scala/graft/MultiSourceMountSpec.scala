package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.sql.DriverManager

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.service.SimSearchService

/** The reference's multi-source demo shape end-to-end: ONE mount request
  * declaring csv + jdbc + restapi sources (the shape of
  * data/gdelt/service/simsearch-multiple-sources.py), replayed through the
  * REST /index endpoint, then a mixed search aggregating an ingested csv
  * facet, an ingested jdbc facet, and an in-situ ES facet (NRA pre-scored
  * list) in one query. A second test federates two live service instances:
  * instance B mounts instance A's attribute through a restapi source whose
  * URL ends `/simsearch/api/search` — the same URL-shape routing the
  * reference's connector uses (HttpRestConnector.java:395-400). */
class MultiSourceMountSpec extends SparkTestBase {

  private val mapper = new ObjectMapper()
  private val gdelt = GenGdeltFixture.path
  private val derbyUrl = "jdbc:derby:memory:graftmulti;create=true"

  override def beforeAll(): Unit = {
    super.beforeAll()
    val conn = DriverManager.getConnection(derbyUrl)
    val st = conn.createStatement()
    st.execute("CREATE TABLE metrics (article_id VARCHAR(40) NOT NULL, score DOUBLE)")
    val ins = conn.prepareStatement("INSERT INTO metrics VALUES (?, ?)")
    Seq(("20191104154500-1733", 5.0), ("20191104154500-100", 7.5),
      ("20191104154500-2684", 2.0)).foreach { case (id, v) =>
      ins.setString(1, id); ins.setDouble(2, v); ins.addBatch()
    }
    ins.executeBatch()
    conn.close()
  }

  private def http(method: String, url: String, body: Option[String],
      headers: Map[String, String] = Map.empty): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
    }
    val code = conn.getResponseCode
    val in = if (code < 400) conn.getInputStream else conn.getErrorStream
    val out = new String(in.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (code, out)
  }

  /** Stub ES endpoint: /companies/_search (canned ranked hits, bodies and
    * Authorization headers captured) and /companies/_settings
    * (max_result_window 2500). */
  private def stubEs(): (Int, java.util.List[String], () => Unit) = {
    val received = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    val hits =
      """{"hits": {"hits": [
        |  {"_score": 6.0, "_source": {"article_id": "20191104154500-1733", "keywords": "acme corp"}},
        |  {"_score": 3.0, "_source": {"article_id": "esonly-1", "keywords": "acme"}},
        |  {"_score": 1.5, "_source": {"article_id": "esonly-2", "keywords": "corp"}}
        |]}}""".stripMargin
    server.createContext("/companies/_search", (x: HttpExchange) => {
      received.add("AUTH:" +
        Option(x.getRequestHeaders.getFirst("Authorization")).getOrElse(""))
      received.add(new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      val out = hits.getBytes(StandardCharsets.UTF_8)
      x.getResponseHeaders.add("Content-Type", "application/json")
      x.sendResponseHeaders(200, out.length)
      x.getResponseBody.write(out)
      x.close()
    })
    server.createContext("/companies/_settings", (x: HttpExchange) => {
      val out = ("""{"companies": {"settings": {"index": """ +
        """{"max_result_window": "2500"}}}}""").getBytes(StandardCharsets.UTF_8)
      x.sendResponseHeaders(200, out.length); x.getResponseBody.write(out); x.close()
    })
    server.start()
    (server.getAddress.getPort, received, () => server.stop(0))
  }

  test("3-type mount (csv + jdbc + restapi ES) and a mixed search via /search") {
    val (esPort, received, stopEs) = stubEs()
    val svc = new SimSearchService(spark, 0)
    val port = svc.start()
    try {
      val base = s"http://127.0.0.1:$port/simsearch/api"
      val sources =
        s"""{"sources": [
           |  {"name": "localPath1", "type": "csv", "directory": "$gdelt/"},
           |  {"name": "derbyDb", "type": "jdbc", "url": "$derbyUrl"},
           |  {"name": "stubEs", "type": "restapi",
           |   "url": "http://127.0.0.1:$esPort/companies/_search?pretty",
           |   "username": "esUser", "password": "esPass"}
           |],
           |"search": [
           |  {"operation": "numerical_topk", "source": "localPath1",
           |   "dataset": "sample.csv", "header": "true", "separator": ",",
           |   "key_column": "article_id", "search_column": "positive_sentiment"},
           |  {"operation": "numerical_topk", "source": "derbyDb",
           |   "dataset": "metrics", "key_column": "ARTICLE_ID", "search_column": "SCORE"},
           |  {"operation": "categorical_topk", "source": "stubEs",
           |   "dataset": "companies", "key_column": "article_id", "search_column": "keywords"}
           |]}""".stripMargin
      val (c1, b1) = http("POST", s"$base/index", Some(sources))
      assert(c1 == 200, b1)
      val resp1 = mapper.readTree(b1)
      assert(resp1.get("attributes").asInt() == 3, b1)
      val key = resp1.get("apiKey").asText()

      // all three attributes listed, the ES one under its restapi operation
      val (c2, b2) = http("GET", s"$base/catalog", None, Map("api_key" -> key))
      assert(c2 == 200, b2)
      val ops = mapper.readTree(b2).elements()
      val listed = Iterator.continually(ops).takeWhile(_.hasNext).map(_.next())
        .map(n => n.get("column").asText() -> n.get("operation").asText()).toMap
      assert(listed.keySet == Set("positive_sentiment", "SCORE", "keywords"), b2)
      assert(listed("keywords") == "categorical_topk")

      // mixed search: ingested csv + ingested jdbc + in-situ ES in one query.
      // 20191104154500-1733 scores 1.0 on SCORE (exact match) and 1.0 on the
      // ES list (top hit, max-normalized), so it must rank first: any
      // entity outside those lists can reach at most 1/3 (csv facet alone).
      val search =
        """{"k": "3", "queries": [
          |  {"column": "positive_sentiment", "value": "max", "weights": ["1.0"]},
          |  {"column": "SCORE", "value": 5.0, "weights": ["1.0"]},
          |  {"column": "keywords", "value": ["acme", "corp"], "weights": ["1.0"]}
          |]}""".stripMargin
      val (c3, b3) = http("POST", s"$base/search", Some(search), Map("api_key" -> key))
      assert(c3 == 200, b3)
      val resp = mapper.readTree(b3)
      assert(resp.size() == 1, b3.take(400))
      val ranked = resp.get(0).get("rankedResults")
      assert(ranked.size() == 3, b3.take(400))
      assert(ranked.get(0).get("id").asText() == "20191104154500-1733", b3.take(600))
      assert(ranked.get(0).get("exact").isBoolean)
      // the per-attribute score map carries the ES facet's similarity
      val attrs = ranked.get(0).get("attributes")
      assert(attrs.has("keywords") && attrs.get("keywords").asDouble() == 1.0, b3.take(600))

      // the wiring carried the token-set value into the ES match DSL and
      // clamped the request size to the discovered max_result_window
      // (the random-access lookup fires AFTER the main query, so find the
      // main body by shape rather than by position)
      import scala.jdk.CollectionConverters._
      val bodies = received.asScala.filterNot(_.startsWith("AUTH:")).toSeq
      val esBody = mapper.readTree(bodies
        .find(b => mapper.readTree(b).path("query").has("match")).get)
      assert(esBody.get("query").get("match").get("keywords").asText() == "acme corp")
      assert(esBody.get("size").asInt() == 2500,
        "m = 3 * 1000 must clamp to the discovered window 2500")
      // the mixed query also fired the terms-restricted random-access
      // lookup for candidates outside the ES list
      assert(bodies.exists(_.contains("\"terms\"")),
        "expected an IValueFinder-style terms lookup request")
      // username/password became HTTP basic auth on EVERY request
      val expectedAuth = "Basic " + java.util.Base64.getEncoder
        .encodeToString("esUser:esPass".getBytes(StandardCharsets.UTF_8))
      assert(received.asScala.filter(_.startsWith("AUTH:"))
        .forall(_ == s"AUTH:$expectedAuth"))
    } finally { svc.stop(); stopEs() }
  }

  test("federated mount: instance B mounts instance A via a /simsearch/api/search URL") {
    val svcA = new SimSearchService(spark, 0)
    val portA = svcA.start()
    val svcB = new SimSearchService(spark, 0)
    val portB = svcB.start()
    try {
      val baseA = s"http://127.0.0.1:$portA/simsearch/api"
      val baseB = s"http://127.0.0.1:$portB/simsearch/api"

      // instance A: ingested GDELT csv attributes
      val sourcesA =
        s"""{"sources": [{"name": "localPath1", "type": "csv", "directory": "$gdelt/"}],
           |"search": [
           |  {"operation": "numerical_topk", "source": "localPath1",
           |   "dataset": "sample.csv", "header": "true", "separator": ",",
           |   "key_column": "article_id", "search_column": "negative_sentiment"}
           |]}""".stripMargin
      val (cA, bA) = http("POST", s"$baseA/index", Some(sourcesA))
      assert(cA == 200, bA)
      val keyA = mapper.readTree(bA).get("apiKey").asText()

      // A's /_settings marks it as a SimSearch instance (the reference's
      // detection flag, HttpRestConnector.java:433)
      val (cS, bS) = http("GET", s"$baseA/_settings", None, Map("api_key" -> keyA))
      assert(cS == 200, bS)
      val idx = mapper.readTree(bS).get("SimSearch").get("settings").get("index")
      assert(idx.get("isSimSearchInstance").asBoolean())
      assert(idx.get("max_result_window").asText() == "50000")
      assert(idx.get("query_timeout").asLong() == 0L)
      // the deployment knobs surface with their session-conf values
      val knobs = idx.get("knobs")
      assert(knobs.get(graft.api.Knobs.AnnProbes).asText() == "1")
      assert(knobs.get(graft.api.Knobs.DedupCheckpointEvery).asText() == "5")
      assert(knobs.get(graft.api.Knobs.SampleSaltWidth).asText() == "2")

      // instance B: local csv attribute + A's attribute as a restapi source
      val sourcesB =
        s"""{"sources": [
           |  {"name": "localPath1", "type": "csv", "directory": "$gdelt/"},
           |  {"name": "remoteSimSearch", "type": "restapi",
           |   "url": "$baseA/search", "api_key": "$keyA"}
           |],
           |"search": [
           |  {"operation": "numerical_topk", "source": "localPath1",
           |   "dataset": "sample.csv", "header": "true", "separator": ",",
           |   "key_column": "article_id", "search_column": "positive_sentiment"},
           |  {"operation": "numerical_topk", "source": "remoteSimSearch",
           |   "dataset": "sample.csv", "key_column": "article_id",
           |   "search_column": "negative_sentiment"}
           |]}""".stripMargin
      val (cB, bB) = http("POST", s"$baseB/index", Some(sourcesB))
      assert(cB == 200, bB)
      val keyB = mapper.readTree(bB).get("apiKey").asText()

      // mixed search on B: the remote facet's ranked list (fetched live
      // from A) aggregates with B's local facet
      val search =
        """{"k": "3", "queries": [
          |  {"column": "positive_sentiment", "value": "max", "weights": ["0.5"]},
          |  {"column": "negative_sentiment", "value": "max", "weights": ["0.5"]}
          |]}""".stripMargin
      val (c3, b3) = http("POST", s"$baseB/search", Some(search), Map("api_key" -> keyB))
      assert(c3 == 200, b3)
      val ranked = mapper.readTree(b3).get(0).get("rankedResults")
      assert(ranked.size() == 3, b3.take(600))
      // the remote facet contributed real similarities: some result carries
      // a nonzero negative_sentiment attribute score
      val negScores = (0 until 3).map(i =>
        ranked.get(i).get("attributes").get("negative_sentiment").asDouble())
      assert(negScores.exists(_ > 0.0), b3.take(600))
    } finally { svcA.stop(); svcB.stop() }
  }
}
