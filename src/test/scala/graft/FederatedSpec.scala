package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.service.SimSearchService
import graft.sources.Federated

/** Federated search (SURVEY §2 S10/Q8): two instances mounted over DISJOINT
  * halves of the GDELT-shaped fixture (fixtures/gdelt_synth; horizontal
  * shards) must, under a pinned
  * common decay scale, merge to EXACTLY the ranking a single instance over
  * the full corpus produces. Instances are real REST endpoints (one
  * HttpServer, one catalog per api key). */
class FederatedSpec extends SparkTestBase {

  private val gdelt = GenGdeltFixture.path

  private def writeShard(dir: java.nio.file.Path, lines: Seq[String]): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve("sample.csv"), lines.asJava, StandardCharsets.UTF_8)
  }
  private implicit class SeqAsJava(s: Seq[String]) {
    def asJava: java.util.List[String] = {
      val l = new java.util.ArrayList[String](s.size)
      s.foreach(l.add); l
    }
  }

  private def indexCatalog(port: Int, dir: String): String = {
    val sources = new String(Files.readAllBytes(
      Paths.get(s"$gdelt/standalone/sources.json")), StandardCharsets.UTF_8)
      .replace("./data/gdelt/", if (dir.endsWith("/")) dir else dir + "/")
    val resp = httpPost(s"http://127.0.0.1:$port/simsearch/api/index", sources, None)
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(resp).get("apiKey").asText()
  }

  private def httpPost(url: String, body: String, apiKey: Option[String]): String = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST"); conn.setDoOutput(true)
    apiKey.foreach(k => conn.setRequestProperty("api_key", k))
    val out = conn.getOutputStream
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val is = if (conn.getResponseCode < 400) conn.getInputStream else conn.getErrorStream
    try new String(is.readAllBytes(), StandardCharsets.UTF_8) finally is.close()
  }

  // the golden search request with a COMMON per-facet decay scale pinned,
  // so shard-local scoring is globally comparable (exact federation)
  private val searchBody =
    """{
      |  "k": "5",
      |  "algorithm": "threshold",
      |  "queries": [
      |    {"column": "persons", "value": ["joe biden", "donald trump"],
      |     "weights": ["1.0", "0.8"], "scale": "0.5"},
      |    {"column": "timestamp", "value": "2019-11-04 08:45:00",
      |     "weights": ["1.0", "0.4"], "scale": "86400000"},
      |    {"column": "position", "value": "POINT(-74.94 42.15)",
      |     "weights": ["1.0", "0.7"], "scale": "1.0"}
      |  ]
      |}""".stripMargin

  test("two disjoint shards merge to the single-instance ranking under a pinned scale") {
    val all = Files.readAllLines(
      Paths.get(s"$gdelt/sample.csv"), StandardCharsets.UTF_8)
    val header = all.get(0)
    import scala.jdk.CollectionConverters._
    val rows = all.asScala.toSeq.drop(1)
    val tmp = Files.createTempDirectory("graft-fed")
    writeShard(tmp.resolve("a"), header +: rows.take(rows.size / 2))
    writeShard(tmp.resolve("b"), header +: rows.drop(rows.size / 2))

    val svc = new SimSearchService(spark, 0)
    val port = svc.start()
    try {
      val base = s"http://127.0.0.1:$port/simsearch/api"
      val keyFull = indexCatalog(port, gdelt)
      val keyA = indexCatalog(port, tmp.resolve("a").toString)
      val keyB = indexCatalog(port, tmp.resolve("b").toString)

      val single = Federated.search(spark,
        Seq(Federated.Instance(base, keyFull)), searchBody)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      val federated = Federated.search(spark,
        Seq(Federated.Instance(base, keyA), Federated.Instance(base, keyB)), searchBody)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))

      assert(single.length == 10, s"expected 2 combos x 5: ${single.mkString(";")}")
      assert(federated.sortBy(r => (r._1, r._2)).toSeq ==
        single.sortBy(r => (r._1, r._2)).toSeq)
    } finally svc.stop()
  }

  test("without pinned scales the two-phase negotiation makes the sharded " +
    "merge exact — score for score against the single-instance deployment") {
    val all = Files.readAllLines(
      Paths.get(s"$gdelt/sample.csv"), StandardCharsets.UTF_8)
    val header = all.get(0)
    import scala.jdk.CollectionConverters._
    val rows = all.asScala.toSeq.drop(1)
    val tmp = Files.createTempDirectory("graft-fedneg")
    writeShard(tmp.resolve("a"), header +: rows.take(rows.size / 2))
    writeShard(tmp.resolve("b"), header +: rows.drop(rows.size / 2))

    val noScales = searchBody.replaceAll(",\\s*\"scale\": \"[^\"]+\"", "")
    assert(!noScales.contains("scale"), "fixture must carry no pinned scales")

    val svc = new SimSearchService(spark, 0)
    val port = svc.start()
    try {
      val base = s"http://127.0.0.1:$port/simsearch/api"
      val keyFull = indexCatalog(port, gdelt)
      val keyA = indexCatalog(port, tmp.resolve("a").toString)
      val keyB = indexCatalog(port, tmp.resolve("b").toString)
      val shards = Seq(Federated.Instance(base, keyA), Federated.Instance(base, keyB))

      // ground truth: one instance over the union corpus, self-calibrated
      val single = Federated.search(spark,
        Seq(Federated.Instance(base, keyFull)), noScales)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        .sortBy(r => (r._1, r._2)).toSeq
      // negotiated (default): per-facet global k-th distances pin the
      // single-instance calibration scale on every shard
      val negotiated = Federated.search(spark, shards, noScales)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        .sortBy(r => (r._1, r._2)).toSeq
      assert(negotiated == single,
        s"negotiated merge must match the unsharded scores exactly")
      // the reference's one-phase mode really is approximate here — the
      // shards' self-calibrated scales differ from the global one, so this
      // equality is not vacuous
      val onePhase = Federated.search(spark, shards, noScales, negotiate = false)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        .sortBy(r => (r._1, r._2)).toSeq
      assert(onePhase.map(_._4) != single.map(_._4),
        "fixture too easy: per-shard self-calibration coincided with the global scale")
    } finally svc.stop()
  }

  test("Federated.facet: a remote attribute's singleton ranked list becomes a local NRA facet") {
    val svc = new SimSearchService(spark, 0)
    val port = svc.start()
    try {
      val base = s"http://127.0.0.1:$port/simsearch/api"
      val key = indexCatalog(port, gdelt)
      val f = Federated.facet(spark, Federated.Instance(base, key),
        "persons", """["joe biden","donald trump"]""", 20, Seq(1.0))
      assert(f.preScored && f.name == "persons")
      val rows = f.dist.collect().map(r => (r.getString(0), r.getDouble(1)))
      assert(rows.length == 20)
      assert(rows.forall { case (_, s) => s > 0.0 && s <= 1.0 },
        "remote scores must be decayed similarities in (0,1]")
      // the response arrives rank-ordered: scores monotone non-increasing
      assert(rows.map(_._2).sliding(2).forall(p => p.head >= p.last))
    } finally svc.stop()
  }

  test("a failing instance surfaces as an error, not a silent partial merge") {
    val svc = new SimSearchService(spark, 0)
    val port = svc.start()
    try {
      val base = s"http://127.0.0.1:$port/simsearch/api"
      val key = indexCatalog(port, gdelt)
      val e = intercept[java.io.IOException] {
        Federated.search(spark, Seq(
          Federated.Instance(base, key),
          Federated.Instance(base, "wrong-key")), searchBody)
      }
      assert(e.getMessage.contains("401"), e.getMessage)
    } finally svc.stop()
  }
}
