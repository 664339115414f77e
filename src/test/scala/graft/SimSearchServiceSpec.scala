package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper

import graft.service.SimSearchService

/** Drives the REST surface end-to-end over a real socket: mount the
  * GDELT-shaped fixture (fixtures/gdelt_synth) via POST /index, search via
  * POST /search with the committed search.json body, list and unmount
  * attributes. */
class SimSearchServiceSpec extends SparkTestBase {

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

  test("REST lifecycle: /index -> /catalog -> /search (golden body) -> /delete") {
    val svc = new SimSearchService(spark, 0)
    val port = svc.start()
    try {
      val base = s"http://127.0.0.1:$port/simsearch/api"
      val gdelt = GenGdeltFixture.path

      // /index with the committed sources.json, directory rewritten to this host
      val sources = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$gdelt/standalone/sources.json")), StandardCharsets.UTF_8)
        .replace("./data/gdelt/", gdelt)
      val (c1, b1) = http("POST", s"$base/index", Some(sources))
      assert(c1 == 200, b1)
      val key = new ObjectMapper().readTree(b1).get("apiKey").asText()

      val (c2, b2) = http("GET", s"$base/catalog", None, Map("api_key" -> key))
      assert(c2 == 200 && new ObjectMapper().readTree(b2).size() == 5)
      // CatalogRequest filters: by operation, and by column
      val (_, bOp) = http("POST", s"$base/catalog",
        Some("""{"operation": "numerical_topk"}"""), Map("api_key" -> key))
      assert(new ObjectMapper().readTree(bOp).size() == 2, bOp) // the two sentiments
      val (_, bCol) = http("POST", s"$base/catalog",
        Some("""{"column": "persons"}"""), Map("api_key" -> key))
      val colNode = new ObjectMapper().readTree(bCol)
      assert(colNode.size() == 1 &&
        colNode.get(0).get("operation").asText() == "categorical_topk", bCol)

      val search = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$gdelt/standalone/search.json")), StandardCharsets.UTF_8)
      val (c3, b3) = http("POST", s"$base/search", Some(search), Map("api_key" -> key))
      assert(c3 == 200, b3)
      val resp = new ObjectMapper().readTree(b3)
      assert(resp.size() == 2) // one response per weight combination
      assert(resp.get(0).get("rankedResults").size() == 5)
      // combination 0's rank-1 id, as the brute-force oracle in
      // GenGdeltFixture ranked it (standalone/search_expected.json)
      assert(resp.get(0).get("rankedResults").get(0).get("id").asText() ==
        GenGdeltFixture.expectedTop(0))
      // detailed mode computed a real per-result exact flag (not asserted true)
      assert(resp.get(0).get("rankedResults").get(0).get("exact").isBoolean)
      // ... and the per-attribute similarity map (RankedResult.attributes)
      val attrs = resp.get(0).get("rankedResults").get(0).get("attributes")
      assert(attrs != null && attrs.size() == 3, b3.take(600))
      assert(attrs.has("persons") && attrs.has("timestamp") && attrs.has("position"))

      val (c4, _) = http("DELETE", s"$base/delete?column=persons", None, Map("api_key" -> key))
      assert(c4 == 200)
      val (_, b5) = http("GET", s"$base/catalog", None, Map("api_key" -> key))
      assert(new ObjectMapper().readTree(b5).size() == 4)

      // unknown attribute -> 404 with the URL-decoded name escaped into the body
      val (c5a, b5a) = http("DELETE", s"$base/delete?column=no%20such%22col", None,
        Map("api_key" -> key))
      assert(c5a == 404 && b5a.contains("no such\\\"col"), b5a)

      // unknown key rejected
      val (c6, _) = http("GET", s"$base/catalog", None, Map("api_key" -> "nope"))
      assert(c6 == 401)
    } finally svc.stop()
  }

  test("REST over a JDBC in-situ source: /index -> /catalog -> /search runs " +
    "the pushed top-M path end-to-end") {
    // the same embedded Derby database JdbcMountSpec populates
    val url = "jdbc:derby:memory:graftsvc;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("CREATE TABLE items (item_id INT NOT NULL, price DOUBLE)")
    val ins = conn.prepareStatement("INSERT INTO items VALUES (?, ?)")
    (1 to 100).foreach { i => ins.setInt(1, i); ins.setDouble(2, i * 10.0); ins.addBatch() }
    ins.executeBatch(); conn.close()

    val svc = new SimSearchService(spark, 0)
    val port = svc.start()
    try {
      val base = s"http://127.0.0.1:$port/simsearch/api"
      val mount = s"""{
        "sources": [{"name": "db", "type": "jdbc", "url": "$url"}],
        "search": [{"operation": "numerical_topk", "source": "db",
                    "dataset": "items", "key_column": "ITEM_ID",
                    "search_column": "PRICE"}]
      }"""
      val (c1, b1) = http("POST", s"$base/index", Some(mount))
      assert(c1 == 200, b1)
      val key = new ObjectMapper().readTree(b1).get("apiKey").asText()
      val hdr = Map("api_key" -> key)
      val (c2, b2) = http("GET", s"$base/catalog", None, hdr)
      assert(c2 == 200 && b2.contains("PRICE") && b2.contains("numerical_topk"), b2)
      val search = """{"k": 5, "queries": [
        {"column": "PRICE", "value": "503", "weights": ["1.0"]}]}"""
      val (c3, b3) = http("POST", s"$base/search", Some(search), hdr)
      assert(c3 == 200, b3)
      val resp = new ObjectMapper().readTree(b3)
      val ranked = resp.get(0).get("rankedResults")
      assert(ranked.size() == 5, b3)
      // nearest to 503 is item 50 (500.0), served through the pushed path
      assert(ranked.get(0).get("id").asText() == "50", b3)
    } finally svc.stop()
  }

  test("search output block: results routed to a server-side CSV sink (S11)") {
    val svc = new SimSearchService(spark, 0)
    val port = svc.start()
    val outDir = java.nio.file.Files.createTempDirectory("graft-out").toString + "/res.csv"
    try {
      val base = s"http://127.0.0.1:$port/simsearch/api"
      val gdelt = GenGdeltFixture.path
      val sources = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$gdelt/standalone/sources.json")), StandardCharsets.UTF_8)
        .replace("./data/gdelt/", gdelt)
      val (_, b1) = http("POST", s"$base/index", Some(sources))
      val key = new ObjectMapper().readTree(b1).get("apiKey").asText()

      val search =
        s"""{"k": "4",
           | "output": {"format": "csv", "delimiter": ";", "file": "$outDir",
           |            "extra_columns": ["negative_sentiment"]},
           | "queries": [{"column": "positive_sentiment", "value": "max",
           |              "weights": ["1.0"]}]}""".stripMargin
      val (c, body) = http("POST", s"$base/search", Some(search), Map("api_key" -> key))
      assert(c == 200, body)
      // requested extra columns appear per result as extra_attributes
      // (reference: RankedResult.setExtraAttributes)
      val r0 = new ObjectMapper().readTree(body).get(0).get("rankedResults").get(0)
      assert(r0.get("extra_attributes") != null &&
        r0.get("extra_attributes").has("negative_sentiment"), body.take(500))
      assert(r0.get("extra_attributes").get("negative_sentiment").isNumber, body.take(500))
      // the JSON response is still served AND the CSV sink was written as
      // ONE file at the requested path (reference opens a PrintStream on
      // it — never a Spark part-file directory)
      val f = new java.io.File(outDir)
      assert(f.isFile, s"expected a single csv FILE at $outDir")
      val lines = scala.io.Source.fromFile(f).getLines().toSeq
      assert(lines.head.split(";").toSeq.containsSlice(Seq("rank", "id", "score")) ||
        lines.head.contains(";"), lines.head)
      assert(lines.size == 5, s"header + 4 ranked rows expected, got ${lines.size}")
    } finally {
      svc.stop()
      new scala.reflect.io.Directory(
        new java.io.File(outDir).getParentFile).deleteRecursively()
    }
  }

  test("full lifecycle: mount -> search -> unmount -> 401; /unmount also " +
    "deletes associated extra keys; /delete takes the reference's " +
    "RemoveRequest JSON body") {
    val svc = new SimSearchService(spark, 0)
    val port = svc.start()
    try {
      val base = s"http://127.0.0.1:$port/simsearch/api"
      val gdelt = GenGdeltFixture.path
      val sources = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$gdelt/standalone/sources.json")), StandardCharsets.UTF_8)
        .replace("./data/gdelt/", gdelt)
      val (_, b1) = http("POST", s"$base/index", Some(sources))
      val key = new ObjectMapper().readTree(b1).get("apiKey").asText()

      // reference-shaped key association: master api_key header + the
      // extra key as the request body (SimSearchController.java:212-242)
      val (cA, bA) = http("POST", s"$base/assignKey", Some("\"friend-key\""),
        Map("api_key" -> key))
      assert(cA == 200, bA)
      // the extra key may catalog and search the master's data
      val (cC, bC) = http("GET", s"$base/catalog", None, Map("api_key" -> "friend-key"))
      assert(cC == 200 && new ObjectMapper().readTree(bC).size() == 5, bC)

      // reference-shaped /delete: {"remove":[AttributeInfo...]} — the body
      // the python demo clients POST (request/RemoveRequest.java)
      val remove =
        """{"remove": [{"column": "negative_sentiment", "operation": "numerical_topk"}]}"""
      val (cD, bD) = http("POST", s"$base/delete", Some(remove), Map("api_key" -> key))
      assert(cD == 200 && bD.contains("Removed support for attribute negative_sentiment"), bD)
      val (_, bC2) = http("GET", s"$base/catalog", None, Map("api_key" -> key))
      assert(new ObjectMapper().readTree(bC2).size() == 4)
      // an unknown attribute in the body aborts with 400
      val (cD2, _) = http("POST", s"$base/delete",
        Some("""{"remove": [{"column": "nope", "operation": "numerical_topk"}]}"""),
        Map("api_key" -> key))
      assert(cD2 == 400)

      // a search still works before teardown
      val search =
        """{"k": "3", "queries": [{"column": "positive_sentiment",
          |  "value": "max", "weights": ["1.0"]}]}""".stripMargin
      val (cS, bS) = http("POST", s"$base/search", Some(search), Map("api_key" -> key))
      assert(cS == 200, bS)

      // /unmount destroys the instance AND its associated keys
      val (cU, bU) = http("POST", s"$base/unmount", None, Map("api_key" -> key))
      assert(cU == 200 && bU.contains("no longer mounted"), bU)
      val (cS2, _) = http("POST", s"$base/search", Some(search), Map("api_key" -> key))
      val (cS3, _) = http("GET", s"$base/catalog", None, Map("api_key" -> "friend-key"))
      assert(cS2 == 401 && cS3 == 401, "both master and extra key must die")
      // unmounting again: the reference's "cannot find any instance" path
      val (cU2, _) = http("POST", s"$base/unmount", None, Map("api_key" -> key))
      assert(cU2 == 400)
    } finally svc.stop()
  }

  test("POST /pipeline: line dedup, budget selection, and chunking run " +
    "over the socket — path tables and mounted attributes alike") {
    import spark.implicits._
    val svc = new SimSearchService(spark, 0)
    val port = svc.start()
    try {
      val base = s"http://127.0.0.1:$port/simsearch/api"
      val dir = java.nio.file.Files.createTempDirectory("graft-pipe").toString
      Seq(
        (1L, "SHARED HEADER\nalpha prose here\nSHARED HEADER", 0.9),
        (2L, "SHARED HEADER\nbeta prose entirely different", 0.5),
        (3L, "SHARED HEADER\ngamma words again", 0.7))
        .toDF("doc_id", "text", "quality")
        .write.mode("overwrite").parquet(s"$dir/docs")

      // line_dedup over a path table: the repeated header survives only at
      // its first occurrence (doc 1), every other copy is stripped
      val (c1, b1) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "line_dedup",
            "input": {"path": "$dir/docs"},
            "id": "doc_id", "text": "text"}"""))
      assert(c1 == 200, b1)
      val ld = new ObjectMapper().readTree(b1)
      assert(ld.size() == 3, b1)
      val texts = (0 until 3).map(i =>
        ld.get(i).get("doc_id").asLong() -> ld.get(i).get("text").asText()).toMap
      assert(texts(1L).contains("SHARED HEADER"), b1)
      assert(!texts(2L).contains("SHARED HEADER") && !texts(3L).contains("SHARED HEADER"), b1)

      // budget_select: quality order 1 (7 toks), 3 (5 toks), 2 (6 toks) —
      // budget 12 keeps exactly the {1, 3} prefix
      val (c2, b2) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "budget_select",
            "input": {"path": "$dir/docs"}, "id": "doc_id", "text": "text",
            "params": {"budget": 12, "quality_column": "quality"}}"""))
      assert(c2 == 200, b2)
      val bs = new ObjectMapper().readTree(b2)
      val kept = (0 until bs.size()).map(i => bs.get(i).get("id").asLong()).toSet
      assert(kept == Set(1L, 3L), b2)

      // mount the GDELT fixture (also the api_key for authenticated writes)
      val gdelt = GenGdeltFixture.path
      val sources = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$gdelt/standalone/sources.json")), StandardCharsets.UTF_8)
        .replace("./data/gdelt/", gdelt)
      val (ci, bi) = http("POST", s"$base/index", Some(sources))
      assert(ci == 200, bi)
      val key = new ObjectMapper().readTree(bi).get("apiKey").asText()

      // chunk with an output path: full result written server-side —
      // WRITES require a valid api_key (an unauthenticated request must
      // not overwrite arbitrary host paths); without one it is 401
      val chunkBody =
        s"""{"operator": "chunk",
            "input": {"path": "$dir/docs"}, "id": "doc_id", "text": "text",
            "params": {"chunk_size": 3},
            "output": {"path": "$dir/chunks", "format": "parquet"}}"""
      val (cNoKey, _) = http("POST", s"$base/pipeline", Some(chunkBody))
      assert(cNoKey == 401)
      val (c3, b3) = http("POST", s"$base/pipeline", Some(chunkBody),
        Map("api_key" -> key))
      assert(c3 == 200, b3)
      val written = spark.read.parquet(s"$dir/chunks")
      assert(new ObjectMapper().readTree(b3).get("rows").asLong() == written.count())
      assert(written.columns.contains("chunk_text"))

      // a mounted attribute as input: dedup the categorical token sets —
      // the facet's (id, value) serves the table
      val (c4, b4) = http("POST", s"$base/pipeline", Some(
        """{"operator": "exact_groups", "input": {"column": "persons"},
           "limit": 5}"""), Map("api_key" -> key))
      assert(c4 == 200, b4)
      val eg = new ObjectMapper().readTree(b4)
      assert(eg.isArray, b4) // repeated person sets exist in the fixture
      assert(eg.size() > 0 && eg.get(0).has("keeper"), b4)

      // dedup_cluster: two crafted near-duplicates collapse into one
      // cluster under the min-id keeper; the unrelated doc is absent
      val base16 = (1 to 16).map(i => s"v$i").mkString(" ")
      val ddDir = s"$dir/neardup"
      Seq((10L, base16), (11L, base16.replaceAll("v16$", "zz")),
        (12L, "entirely different content"))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(ddDir)
      val (c7, b7) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "dedup_cluster",
            "input": {"path": "$ddDir"}, "id": "doc_id", "text": "text"}"""))
      assert(c7 == 200, b7)
      val cl = new ObjectMapper().readTree(b7)
      val members = (0 until cl.size()).map(i =>
        cl.get(i).get("n").asLong() -> cl.get(i).get("c").asLong()).toMap
      assert(members == Map(10L -> 10L, 11L -> 10L), b7)

      // text_stats: per-document quality columns
      val (c8, b8) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "text_stats",
            "input": {"path": "$dir/docs"}, "id": "doc_id", "text": "text"}"""))
      assert(c8 == 200, b8)
      val ts = new ObjectMapper().readTree(b8)
      assert(ts.size() == 3 && ts.get(0).has("n_tokens") &&
        ts.get(0).has("compress_ratio"), b8)

      // html_text: raw HTML in the text column comes back as prose
      val htmlDir = s"$dir/html"
      Seq((1L, "<html><head><script>x=1</script></head><body><p>kept " +
        "prose</p><div>more</div></body></html>"))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(htmlDir)
      val (c9, b9) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "html_text",
            "input": {"path": "$htmlDir"}, "id": "doc_id", "text": "text"}"""))
      assert(c9 == 200, b9)
      assert(new ObjectMapper().readTree(b9).get(0).get("text").asText()
        == "kept prose more", b9)

      // url_dedup: tracking-link variants of one page collapse
      val urlDir = s"$dir/urls"
      Seq((1L, "https://A.example/p?utm_source=x&k=1"),
        (2L, "https://a.example/p/?k=1"),
        (3L, "https://a.example/other"))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(urlDir)
      val (c10, b10) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "url_dedup",
            "input": {"path": "$urlDir"}, "id": "doc_id", "text": "text"}"""))
      assert(c10 == 200, b10)
      val ud = new ObjectMapper().readTree(b10)
      val byUrl = (0 until ud.size()).map(i =>
        ud.get(i).get("url_norm").asText() ->
          (ud.get(i).get("n_docs").asLong(), ud.get(i).get("keeper").asLong())).toMap
      assert(byUrl == Map("https://a.example/p?k=1" -> (2L, 1L),
        "https://a.example/other" -> (1L, 3L)), b10)

      // decontaminate: the eval near-copy is dropped, the clean doc stays,
      // eval rows are excluded
      val decDir = s"$dir/decon"
      Seq((1L, "the quick brown fox jumps over the lazy dog", true),
        (10L, "the quick brown fox jumps over the lazy dog today", false),
        (11L, "completely different words about spark engines here", false))
        .toDF("doc_id", "text", "is_eval")
        .write.mode("overwrite").parquet(decDir)
      val (c11, b11) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "decontaminate",
            "input": {"path": "$decDir"}, "id": "doc_id", "text": "text",
            "params": {"eval_column": "is_eval"}}"""))
      assert(c11 == 200, b11)
      val dec = new ObjectMapper().readTree(b11)
      assert(dec.size() == 1 && dec.get(0).get("doc_id").asLong() == 11L, b11)

      // semdedup: near-identical embeddings collapse to the min id; the
      // vector column stays out of the JSON response
      val semDir = s"$dir/sem"
      Seq((1L, Seq(1.0, 0.0, 0.1), "a"), (2L, Seq(0.99, 0.0, 0.101), "b"),
        (3L, Seq(0.0, 1.0, 0.0), "c"))
        .toDF("doc_id", "embedding", "tag")
        .write.mode("overwrite").parquet(semDir)
      val (c12, b12) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "semdedup",
            "input": {"path": "$semDir"}, "id": "doc_id",
            "params": {"clusters": 2, "min_cos": 0.95}}"""))
      assert(c12 == 200, b12)
      val sem = new ObjectMapper().readTree(b12)
      val semIds = (0 until sem.size()).map(i => sem.get(i).get("doc_id").asLong()).toSet
      assert(semIds == Set(1L, 3L), b12)
      assert(!sem.get(0).has("embedding"), b12)
      // split=true routes through the auto-split variant — same kept set
      // on a corpus with no mega-cluster
      val (c12s, b12s) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "semdedup",
            "input": {"path": "$semDir"}, "id": "doc_id",
            "params": {"clusters": 2, "min_cos": 0.95, "split": true}}"""))
      assert(c12s == 200, b12s)
      val semS = new ObjectMapper().readTree(b12s)
      assert((0 until semS.size()).map(i =>
        semS.get(i).get("doc_id").asLong()).toSet == Set(1L, 3L), b12s)

      // random_project: JL-shrink the semdedup vectors 3 -> 2; out_dim is
      // required, in_dim sniffed, values match the operator directly
      val (cRp, bRp) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "random_project",
            "input": {"path": "$semDir"}, "id": "doc_id",
            "params": {"out_dim": 2}}"""))
      assert(cRp == 200, bRp)
      val rp = new ObjectMapper().readTree(bRp)
      assert(rp.size() == 3, bRp)
      import org.apache.spark.sql.functions.col
      val wantRp = graft.operators.Embeddings.project(
          spark.read.parquet(semDir), col("doc_id"),
          col("embedding").cast("array<double>"), 3, 2)
        .as[(Long, Seq[Double])].collect().toMap
      (0 until rp.size()).foreach { i =>
        val id = rp.get(i).get("doc_id").asLong()
        val v = rp.get(i).get("vector")
        assert((0 until v.size()).map(v.get(_).asDouble()) == wantRp(id), bRp)
      }
      val (cRpM, _) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "random_project",
            "input": {"path": "$semDir"}, "id": "doc_id", "params": {}}"""))
      assert(cRpM == 400) // out_dim is required

      // image_hash: real pixel decode over the socket; pairs mode returns
      // the hamming-0 twin pair and skips the undecodable row
      val imgDir = s"$dir/imgs"
      def pngBytes(invert: Boolean): Array[Byte] = {
        val img = new java.awt.image.BufferedImage(32, 24,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until 24; x <- 0 until 32) {
          // a WRAPPING sawtooth, not a monotone ramp: a pure ramp's dHash is
          // the all-zero contentless code, which hammingPairs excludes
          val g0 = (23 * x + 17 * y) & 0xff
          val g = if (invert) 255 - g0 else g0
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
        }
        val o = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", o); o.toByteArray
      }
      Seq((1L, pngBytes(false)), (2L, pngBytes(false)),
          (3L, pngBytes(true)), (4L, "junk".getBytes("UTF-8")))
        .toDF("doc_id", "data").write.mode("overwrite").parquet(imgDir)
      val (cIh, bIh) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "image_hash",
            "input": {"path": "$imgDir"}, "id": "doc_id", "params": {}}"""))
      assert(cIh == 200, bIh)
      val ih = new ObjectMapper().readTree(bIh)
      assert(ih.size() == 4, bIh)
      val decodedById = (0 until ih.size()).map(i =>
        ih.get(i).get("doc_id").asLong() ->
          ih.get(i).get("decoded").asBoolean()).toMap
      assert(decodedById == Map(1L -> true, 2L -> true, 3L -> true, 4L -> false), bIh)
      val (cIp, bIp) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "image_hash",
            "input": {"path": "$imgDir"}, "id": "doc_id",
            "params": {"pairs": true}}"""))
      assert(cIp == 200, bIp)
      val ip = new ObjectMapper().readTree(bIp)
      assert(ip.size() == 1 && ip.get(0).get("a").asLong() == 1L &&
        ip.get(0).get("b").asLong() == 2L &&
        ip.get(0).get("hamming").asLong() == 0L, bIp)

      // audio_fp: real PCM decode over the socket; pairs mode returns the
      // identical-clip pair and skips the undecodable row
      val audDir = s"$dir/clips"
      def wavBytes(): Array[Byte] = {
        import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
        val samples = Array.tabulate(650)(f => ((f / 10) * 53 % 60 + 1) * 90)
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
      Seq((1L, wavBytes()), (2L, wavBytes()), (3L, "junk".getBytes("UTF-8")))
        .toDF("doc_id", "data").write.mode("overwrite").parquet(audDir)
      val (cAf, bAf) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "audio_fp",
            "input": {"path": "$audDir"}, "id": "doc_id",
            "params": {"pairs": true}}"""))
      assert(cAf == 200, bAf)
      val af = new ObjectMapper().readTree(bAf)
      assert(af.size() == 1 && af.get(0).get("a").asLong() == 1L &&
        af.get(0).get("b").asLong() == 2L &&
        af.get(0).get("hamming").asLong() == 0L, bAf)

      // image_stats + audio_stats over the socket (reuse the image and
      // audio tables written above)
      val (cIs, bIs) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "image_stats",
            "input": {"path": "$imgDir"}, "id": "doc_id", "params": {}}"""))
      assert(cIs == 200, bIs)
      val is = new ObjectMapper().readTree(bIs)
      val isById = (0 until is.size()).map(i =>
        is.get(i).get("doc_id").asLong() -> is.get(i)).toMap
      assert(isById(1L).get("decoded").asBoolean() &&
        isById(1L).get("nPixels").asLong() == 32L * 24 &&
        isById(1L).get("isGray").asBoolean(), bIs)
      assert(!isById(4L).get("decoded").asBoolean(), bIs)
      val (cAs, bAs) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "audio_stats",
            "input": {"path": "$audDir"}, "id": "doc_id", "params": {}}"""))
      assert(cAs == 200, bAs)
      val as = new ObjectMapper().readTree(bAs)
      val asById = (0 until as.size()).map(i =>
        as.get(i).get("doc_id").asLong() -> as.get(i)).toMap
      assert(asById(1L).get("decoded").asBoolean() &&
        asById(1L).get("nFrames").asLong() == 650L, bAs)
      assert(!asById(3L).get("decoded").asBoolean(), bAs)

      // video_frames / video_neardup: per-frame hashes and sequence pairs
      // over the committed AVI/MJPEG fixture, through the socket
      val vidFix = new java.io.File("fixtures/video_mjpeg.parquet").getAbsolutePath
      val (cVf, bVf) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "video_frames", "input": {"path": "$vidFix"},
            "id": "media_id", "params": {"every_ms": 500}}"""))
      assert(cVf == 200, bVf)
      val vf = new ObjectMapper().readTree(bVf)
      assert(vf.size() == 16, bVf) // 3+3+2+3+3 decoded + 2 undecoded markers
      val (cVn, bVn) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "video_neardup", "input": {"path": "$vidFix"},
            "id": "media_id", "params": {"min_match": 2}}"""))
      assert(cVn == 200, bVn)
      val vn = new ObjectMapper().readTree(bVn)
      val vnPairs = (0 until vn.size()).map(i =>
        (vn.get(i).get("a").asLong(), vn.get(i).get("b").asLong(),
          vn.get(i).get("d").asLong())).toSet
      assert(vnPairs == Set((1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L)), bVn)

      // mp3_frames: the frame-header walk over the committed MP3 fixture
      val mp3Fix = new java.io.File("fixtures/audio_mp3.parquet").getAbsolutePath
      val (cM3, bM3) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "mp3_frames", "input": {"path": "$mp3Fix"},
            "id": "media_id", "params": {}}"""))
      assert(cM3 == 200, bM3)
      val m3 = new ObjectMapper().readTree(bM3)
      val m3ById = (0 until m3.size()).map(i =>
        m3.get(i).get("media_id").asLong() -> m3.get(i)).toMap
      assert(m3ById(2L).get("parsed").asBoolean() &&
        m3ById(2L).get("vbr").asBoolean() &&
        m3ById(2L).get("nFrames").asLong() == 30L, bM3)
      assert(!m3ById(5L).get("parsed").asBoolean(), bM3)

      // webm_blocks: the Cluster/SimpleBlock walk over the socket
      val webmFix = new java.io.File("fixtures/webm_blocks.parquet").getAbsolutePath
      val (cWb, bWb) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "webm_blocks", "input": {"path": "$webmFix"},
            "id": "media_id", "params": {}}"""))
      assert(cWb == 200, bWb)
      val wb = new ObjectMapper().readTree(bWb)
      val wbById = (0 until wb.size()).map(i =>
        wb.get(i).get("media_id").asLong() -> wb.get(i)).toMap
      assert(wbById(1L).get("parsed").asBoolean() &&
        wbById(1L).get("nBlocks").asLong() == 15L &&
        wbById(1L).get("nKeyframes").asLong() == 3L, bWb)
      assert(!wbById(3L).get("parsed").asBoolean(), bWb)

      // ogg_pages: the RFC 3533 page walk over the socket
      val oggFix = new java.io.File("fixtures/ogg_pages.parquet").getAbsolutePath
      val (cOg, bOg) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "ogg_pages", "input": {"path": "$oggFix"},
            "id": "media_id", "params": {}}"""))
      assert(cOg == 200, bOg)
      val og = new ObjectMapper().readTree(bOg)
      val ogById = (0 until og.size()).map(i =>
        og.get(i).get("media_id").asLong() -> og.get(i)).toMap
      assert(ogById(2L).get("parsed").asBoolean() &&
        ogById(2L).get("codec").asText() == "opus" &&
        ogById(2L).get("durationMs").asLong() == 1000L, bOg)
      assert(!ogById(4L).get("parsed").asBoolean(), bOg)

      // mp4_codecs: per-track codec identity + SPS metadata over the socket
      val mcFix = new java.io.File("fixtures/mp4_codecs.parquet").getAbsolutePath
      val (cMc, bMc) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "mp4_codecs", "input": {"path": "$mcFix"},
            "id": "media_id", "params": {}}"""))
      assert(cMc == 200, bMc)
      val mc = new ObjectMapper().readTree(bMc)
      val mcById = (0 until mc.size()).map(i =>
        mc.get(i).get("media_id").asLong() -> mc.get(i)).toMap
      assert(mcById(1L).get("codec").asText() == "avc1" &&
        mcById(1L).get("profile").asInt() == 66 &&
        mcById(1L).get("spsWidth").asInt() == 1920 &&
        mcById(1L).get("spsHeight").asInt() == 1080, bMc)
      assert(mcById(8L).get("codec").asText() == "hev1", bMc)
      val p8 = mcById(8L).get("profile")
      assert(p8 == null || p8.isNull, "hev1 must be fourcc-only")
      assert(!mcById(11L).get("parsed").asBoolean(), bMc)

      // ts_packets: the MPEG-TS lattice walk over the socket
      val tsFix = new java.io.File("fixtures/ts_packets.parquet").getAbsolutePath
      val (cTs, bTs) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "ts_packets", "input": {"path": "$tsFix"},
            "id": "media_id", "params": {}}"""))
      assert(cTs == 200, bTs)
      val tsj = new ObjectMapper().readTree(bTs)
      val tsById = (0 until tsj.size()).map(i =>
        tsj.get(i).get("media_id").asLong() -> tsj.get(i)).toMap
      assert(tsById(1L).get("parsed").asBoolean() &&
        tsById(1L).get("nPackets").asLong() == 32L &&
        tsById(1L).get("durationMs").asLong() == 1500L, bTs)
      assert(!tsById(3L).get("parsed").asBoolean(), bTs)

      // profile + overlap: the corpus bookkeeping ops over the socket
      val profDir = s"$dir/profdocs"
      (0 until 200).map(i => (i.toLong, Seq("en", "de")(i % 2),
          s"word${i % 9} document body $i"))
        .toDF("doc_id", "lang", "text")
        .write.mode("overwrite").parquet(profDir)
      val (cPf, bPf) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "profile", "input": {"path": "$profDir"},
            "id": "doc_id", "text": "text", "params": {"keys": ["lang"]}}"""))
      assert(cPf == 200, bPf)
      val pf = new ObjectMapper().readTree(bPf)
      assert(pf.size() == 2, bPf)
      val byLang = (0 until pf.size()).map(i =>
        pf.get(i).get("lang").asText() -> pf.get(i)).toMap
      assert(byLang("en").get("n_docs").asLong() == 100, bPf)
      assert(byLang("en").get("n_distinct_docs").asLong() == 100, bPf)
      assert(!byLang("en").has("doc_hll"), "sketch binaries must not leak into JSON")
      val (cOv, bOv) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "overlap", "input": {"path": "$profDir"},
            "id": "doc_id", "text": "text",
            "params": {"other_path": "$profDir"}}"""))
      assert(cOv == 200, bOv)
      val ov = new ObjectMapper().readTree(bOv).get(0)
      assert(ov.get("est_a").asLong() == 200 &&
        ov.get("est_intersection").asLong() == 200, bOv)

      // profile_series: fold a stored 2-batch partial-profile dir into
      // per-batch + cumulative rows, entirely from profile rows
      val seriesDir = s"$dir/profseries"
      val profDocs = spark.read.parquet(profDir)
      Seq(0L, 1L).foreach { b =>
        graft.operators.Profile.partialProfile(
            profDocs, // batch 1 repeats batch 0 exactly: no distinct growth
            Seq(org.apache.spark.sql.functions.col("lang")),
            org.apache.spark.sql.functions.col("text"),
            graft.functions.NativeKernels.wordTokens(
              org.apache.spark.sql.functions.col("text")))
          .withColumn("batch_id", org.apache.spark.sql.functions.lit(b))
          .write.mode(if (b == 0L) "overwrite" else "append")
          .parquet(seriesDir)
      }
      val (cSe, bSe) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "profile_series", "input": {"path": "$seriesDir"},
            "params": {"keys": ["lang"]}}"""))
      assert(cSe == 200, bSe)
      val se = new ObjectMapper().readTree(bSe)
      assert(se.size() == 4, bSe) // 2 langs x 2 batches
      val seRows = (0 until se.size()).map(i =>
        (se.get(i).get("lang").asText(), se.get(i).get("batch").asLong()) ->
          se.get(i)).toMap
      assert(seRows(("en", 1L)).get("cum_n_docs").asLong() == 200, bSe)
      assert(seRows(("en", 1L)).get("delta_est_docs").asLong() == 0L,
        "a repeat batch must show zero distinct growth")

      // two-table ops: the benchmark ships as its own parquet
      val evalDir = s"$dir/eval"
      Seq((99L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(evalDir)
      val trainDir = s"$dir/train"
      Seq((1L, "the quick brown fox jumps over the lazy dog today"),
        (2L, "completely different words about spark engines here"))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(trainDir)
      val (c15, b15) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "decontaminate", "input": {"path": "$trainDir"},
            "id": "doc_id", "text": "text",
            "params": {"eval_path": "$evalDir"}}"""))
      assert(c15 == 200, b15)
      val dec2 = new ObjectMapper().readTree(b15)
      assert(dec2.size() == 1 && dec2.get(0).get("doc_id").asLong() == 2L, b15)
      val (c16, b16) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "minhash_pairs_between", "input": {"path": "$trainDir"},
            "id": "doc_id", "text": "text",
            "params": {"right_path": "$evalDir"}}"""))
      assert(c16 == 200, b16)
      val xp = new ObjectMapper().readTree(b16)
      assert(xp.size() == 1 && xp.get(0).get("a").asLong() == 1L &&
        xp.get(0).get("b").asLong() == 99L, b16)

      // domain_cap: at most cap rows per host, from the URL column
      val (c17, b17) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "domain_cap", "input": {"path": "$urlDir"},
            "id": "doc_id", "text": "text", "params": {"cap": 1}}"""))
      assert(c17 == 200, b17)
      val dcap = new ObjectMapper().readTree(b17)
      // $urlDir holds 3 pages on one host (a.example) -> exactly 1 survives
      assert(dcap.size() == 1, b17)

      // sample: the three sampler modes behind one op, deterministic
      val (c13, b13) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "sample", "input": {"path": "$dir/docs"},
            "id": "doc_id", "params": {"pct": 100}}"""))
      assert(c13 == 200, b13)
      assert(new ObjectMapper().readTree(b13).size() == 3, b13) // pct 100 = all
      val (c14, b14) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "sample", "input": {"path": "$dir/docs"},
            "id": "doc_id", "params": {"rate_column": "quality"}}"""))
      assert(c14 == 200, b14) // quality in [0,1): rates < 1% keep nothing
      assert(new ObjectMapper().readTree(b14).size() == 0, b14)
      // scrub_pii: the preset masks over the socket
      val piiDir = s"$dir/pii"
      Seq((1L, "mail jane@example.org from 10.0.0.1"))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(piiDir)
      val (cPii, bPii) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "scrub_pii", "input": {"path": "$piiDir"},
            "id": "doc_id", "text": "text"}"""))
      assert(cPii == 200 && bPii.contains("<EMAIL>") && bPii.contains("<IP>"), bPii)
      // gopher: verdicts come back per document; filter form gates
      val (cGo, bGo) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "gopher", "input": {"path": "$piiDir"},
            "id": "doc_id", "text": "text", "params": {"min_words": 3}}"""))
      assert(cGo == 200, bGo)
      val go = new ObjectMapper().readTree(bGo)
      assert(go.size() == 1 && go.get(0).has("pass") &&
        go.get(0).has("ok_stop"), bGo)
      val (cGoF, bGoF) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "gopher", "input": {"path": "$piiDir"},
            "id": "doc_id", "text": "text",
            "params": {"min_words": 3, "filter": true,
                       "stop_words": ["mail", "from"]}}"""))
      assert(cGoF == 200, bGoF)

      // split: every row labeled from the ordered [name, weight] pairs
      val (cSp, bSp) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "split", "input": {"path": "$dir/docs"},
            "id": "doc_id",
            "params": {"splits": [["train", 98], ["holdout", 2]]}}"""))
      assert(cSp == 200, bSp)
      val sp = new ObjectMapper().readTree(bSp)
      assert(sp.size() == 3 && (0 until sp.size()).forall(i =>
        Set("train", "holdout").contains(sp.get(i).get("split").asText())), bSp)

      // quantile_cut: corpus-quantile bands over an integral score
      // expression — quality 0.5/0.7/0.9 scaled to per-mille lands one doc
      // per band (n=3, cuts 30%/60% -> boundary ranks ceil(0.9)=1 and
      // ceil(1.8)=2; exact-tertile ppm like 666667 would round rank 2.000001
      // UP to 3 at this tiny n and leave the top band empty)
      val (cQc, bQc) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "quantile_cut", "input": {"path": "$dir/docs"},
            "id": "doc_id",
            "params": {"score_expr": "CAST(quality * 1000 AS BIGINT)",
                       "cuts_ppm": [300000, 600000],
                       "labels": ["tail", "middle", "head"]}}"""))
      assert(cQc == 200, bQc)
      val qc = new ObjectMapper().readTree(bQc)
      val bands = (0 until qc.size()).map(i =>
        qc.get(i).get("doc_id").asLong() -> qc.get(i).get("bucket").asText()).toMap
      assert(bands == Map(1L -> "head", 2L -> "tail", 3L -> "middle"), bQc)

      // ccnet_keep: the same bands + per-band keep in ONE call — head
      // kept, everything unnamed (middle, tail) dropped by default_pct 0
      val (cCk, bCk) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "ccnet_keep", "input": {"path": "$dir/docs"},
            "id": "doc_id",
            "params": {"score_expr": "CAST(quality * 1000 AS BIGINT)",
                       "cuts_ppm": [300000, 600000],
                       "labels": ["tail", "middle", "head"],
                       "rates": {"head": 100}}}"""))
      assert(cCk == 200, bCk)
      val ck = new ObjectMapper().readTree(bCk)
      assert(ck.size() == 1 && ck.get(0).get("doc_id").asLong() == 1L &&
        ck.get(0).get("bucket").asText() == "head", bCk)
      // naming a band the labels don't define is a 400, not a silent drop
      val (cCkBad, bCkBad) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "ccnet_keep", "input": {"path": "$dir/docs"},
            "id": "doc_id",
            "params": {"score_expr": "CAST(quality * 1000 AS BIGINT)",
                       "cuts_ppm": [300000, 600000],
                       "labels": ["tail", "middle", "head"],
                       "rates": {"hed": 100}}}"""))
      assert(cCkBad == 400 && bCkBad.contains("unknown bands"), bCkBad)

      // lm_bigram: the corpus-fit bigram LM score comes back per document
      // (docs 1-3 share enough prose to have corpus-repeated bigrams)
      val (cLm, bLm) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "lm_bigram", "input": {"path": "$dir/docs"},
            "id": "doc_id", "text": "text"}"""))
      assert(cLm == 200, bLm)
      val lm = new ObjectMapper().readTree(bLm)
      assert(lm.size() == 3 && (0 until lm.size()).forall(i =>
        lm.get(i).get("n_bigrams").asLong() > 0 &&
          lm.get(i).get("logq").asDouble() < 0.0), bLm)

      // lm_train / lm_score: the persisted-bigram-LM twins — train is a
      // server-side write (keyless = 401), score joins the stored model
      // and min_logq gates
      val lmTrainBody =
        s"""{"operator": "lm_train", "input": {"path": "$dir/docs"},
            "id": "doc_id", "text": "text",
            "params": {"model_path": "$dir/lmmodel"}}"""
      val (cLt0, _) = http("POST", s"$base/pipeline", Some(lmTrainBody))
      assert(cLt0 == 401)
      val (cLt1, bLt1) = http("POST", s"$base/pipeline", Some(lmTrainBody),
        Map("api_key" -> key))
      assert(cLt1 == 200, bLt1)
      assert(new ObjectMapper().readTree(bLt1).get(0)
        .get("total_tokens").asLong() > 0, bLt1)
      val (cLs, bLs) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "lm_score", "input": {"path": "$dir/docs"},
            "id": "doc_id", "text": "text",
            "params": {"model_path": "$dir/lmmodel"}}"""))
      assert(cLs == 200, bLs)
      val ls = new ObjectMapper().readTree(bLs)
      assert(ls.size() == 3 && (0 until ls.size()).forall(i =>
        ls.get(i).get("n_oov").asLong() == 0L), bLs) // self-scored: no OOV
      val (cLsG, bLsG) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "lm_score", "input": {"path": "$dir/docs"},
            "id": "doc_id", "text": "text",
            "params": {"model_path": "$dir/lmmodel", "min_logq": -1e9}}"""))
      assert(cLsG == 200, bLsG) // a never-binding gate returns input rows
      assert(new ObjectMapper().readTree(bLsG).size() == 3, bLsG)

      // nb_train / nb_score: the learned quality filter over the socket —
      // train persists a model (a server-side write, so keyless is 401),
      // score runs against the stored model, min_score gates
      val nbDir = s"$dir/nbseeds"
      Seq((1L, "clean prose with thoughtful careful argument", true),
        (2L, "another clean document with careful writing", true),
        (3L, "buy cheap pills now click here buy buy", false),
        (4L, "click now cheap offer pills here now", false))
        .toDF("doc_id", "text", "good")
        .write.mode("overwrite").parquet(nbDir)
      val nbTrainBody =
        s"""{"operator": "nb_train", "input": {"path": "$nbDir"},
            "id": "doc_id", "text": "text",
            "params": {"label_column": "good", "model_path": "$dir/nbmodel"}}"""
      val (cNb0, _) = http("POST", s"$base/pipeline", Some(nbTrainBody))
      assert(cNb0 == 401)
      val (cNb1, bNb1) = http("POST", s"$base/pipeline", Some(nbTrainBody),
        Map("api_key" -> key))
      assert(cNb1 == 200, bNb1)
      val nbSummary = new ObjectMapper().readTree(bNb1).get(0)
      assert(nbSummary.get("vocab").asInt() > 0, bNb1)
      val scoreDir = s"$dir/nbtest"
      Seq((10L, "thoughtful careful prose"), (11L, "cheap pills click now"))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(scoreDir)
      val (cNb2, bNb2) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "nb_score", "input": {"path": "$scoreDir"},
            "id": "doc_id", "text": "text",
            "params": {"model_path": "$dir/nbmodel"}}"""))
      assert(cNb2 == 200, bNb2)
      val nbs = new ObjectMapper().readTree(bNb2)
      val nbScores = (0 until nbs.size()).map(i =>
        nbs.get(i).get("doc_id").asLong() -> nbs.get(i).get("score").asDouble()).toMap
      assert(nbScores(10L) > nbScores(11L), bNb2)
      // min_score returns the surviving INPUT rows (the gate form)
      val (cNb3, bNb3) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "nb_score", "input": {"path": "$scoreDir"},
            "id": "doc_id", "text": "text",
            "params": {"model_path": "$dir/nbmodel", "min_score": 0}}"""))
      assert(cNb3 == 200, bNb3)
      val gated = new ObjectMapper().readTree(bNb3)
      assert(gated.size() == 1 &&
        gated.get(0).get("doc_id").asLong() == 10L &&
        gated.get(0).has("text"), bNb3)

      // bpe_train / bpe_encode / bpe_token_count: the full BPE lifecycle
      // over the socket — train is an api-key-gated server-side write
      // (like nb_train), encode/count share nb_score's model_path
      // discipline
      val bpeModel = s"$dir/bpemodel"
      val bpeCorpus = s"$dir/bpecorpus"
      Seq((1L, "low low low low low lower lower newest newest " +
        "newest newest newest newest widest widest widest"))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(bpeCorpus)
      val bpeTrainBody =
        s"""{"operator": "bpe_train", "input": {"path": "$bpeCorpus"},
            "id": "doc_id", "text": "text",
            "params": {"num_merges": 8, "model_path": "$bpeModel"}}"""
      val (cBp0, _) = http("POST", s"$base/pipeline", Some(bpeTrainBody))
      assert(cBp0 == 401) // keyless model write refused
      val (cBpT, bBpT) = http("POST", s"$base/pipeline", Some(bpeTrainBody),
        Map("api_key" -> key))
      assert(cBpT == 200, bBpT)
      assert(new ObjectMapper().readTree(bBpT).get(0)
        .get("merges").asInt() > 0, bBpT)
      val (cBp1, bBp1) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "bpe_encode", "input": {"path": "$scoreDir"},
            "id": "doc_id", "text": "text",
            "params": {"model_path": "$bpeModel"}}"""))
      assert(cBp1 == 200, bBp1)
      val bp = new ObjectMapper().readTree(bBp1)
      assert(bp.size() == 2, bBp1)
      assert((0 until bp.size()).forall(i => bp.get(i).get("tokens").isArray &&
        bp.get(i).get("n_tokens").asInt() ==  bp.get(i).get("tokens").size()), bBp1)
      val (cBp2, bBp2) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "bpe_token_count", "input": {"path": "$scoreDir"},
            "id": "doc_id", "text": "text",
            "params": {"model_path": "$bpeModel"}}"""))
      assert(cBp2 == 200, bBp2)
      val bpc = new ObjectMapper().readTree(bBp2)
      assert(bpc.size() == 2 && (0 until bpc.size()).forall { i =>
        val row = bp.get(i)
        (0 until bpc.size()).exists(j =>
          bpc.get(j).get("doc_id").asLong() == row.get("doc_id").asLong() &&
          bpc.get(j).get("n_tokens").asInt() == row.get("n_tokens").asInt())
      }, bBp2)
      // a missing model path is a 400, not a socket fault
      val (cBp3, bBp3) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "bpe_encode", "input": {"path": "$scoreDir"},
            "id": "doc_id", "text": "text", "params": {}}"""))
      assert(cBp3 == 400 && bBp3.contains("model_path"), bBp3)

      // output.target_bytes routes the server-side parquet write through
      // the calibrated sharded sink — contents equal, and the directory
      // holds real parquet shards
      val (cSh, bSh) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "bpe_token_count", "input": {"path": "$scoreDir"},
            "id": "doc_id", "text": "text",
            "params": {"model_path": "$bpeModel"},
            "output": {"path": "$dir/sharded", "format": "parquet",
                       "target_bytes": 1048576}}"""),
        Map("api_key" -> key))
      assert(cSh == 200 && bSh.contains("\"rows\":2"), bSh)
      assert(spark.read.parquet(s"$dir/sharded").count() == 2)

      // errors stay 400 with a message, not socket faults
      val (c5, b5) = http("POST", s"$base/pipeline",
        Some("""{"operator": "nope", "input": {"path": "/tmp/x"}}"""))
      assert(c5 == 400 && b5.contains("unknown operator"), b5)
      val (c6, _) = http("POST", s"$base/pipeline", Some(
        """{"operator": "exact_groups", "input": {"column": "persons"}}"""),
        Map("api_key" -> "no-such-key"))
      assert(c6 == 401)
    } finally svc.stop()
  }

  test("POST /ann: served LSH and IVF-PQ probes over the socket match the " +
    "Scala probes; recall comes back as a number; errors are 400") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.{AnnIndex, Quantize}
    val svc = new SimSearchService(spark, 0)
    val port = svc.start()
    try {
      val base = s"http://127.0.0.1:$port/simsearch/api"
      val dim = 8
      val rnd = new scala.util.Random(151)
      val emb = (0 until 300).map(i =>
        (i.toLong, Seq.fill(dim)(rnd.nextDouble() * 2 - 1))).toDF("vid", "v")
      val dir = java.nio.file.Files.createTempDirectory("graft-annrest").toString
      AnnIndex.buildLsh(emb, "vid", col("v"), dim, s"$dir/lsh")
      val q = Seq.fill(dim)(0.3)
      val qJson = q.mkString("[", ",", "]")
      val (c1, b1) = http("POST", s"$base/ann", Some(
        s"""{"path": "$dir/lsh", "q": $qJson, "k": 5, "probes": 4}"""))
      assert(c1 == 200, b1)
      val got = new ObjectMapper().readTree(b1)
      val scala1 = AnnIndex.lshTopK(spark, s"$dir/lsh", "vid", q, 5, probes = 4)
        .as[(Long, Double)].collect().toSeq
      assert((0 until got.size()).map(i => (got.get(i).get("vid").asLong(),
        got.get(i).get("cos").asDouble())).toSeq == scala1, b1)

      val books = Quantize.pqTrain(emb, col("vid"), col("v"), m = 2,
        nCodes = 4, iters = 2)
      val cents = (0 until 4).map(_ => Seq.fill(dim)(rnd.nextDouble() * 2 - 1))
      AnnIndex.buildIvfPq(emb, "vid", col("v"), cents, books, s"$dir/pq")
      val (c2, b2) = http("POST", s"$base/ann", Some(
        s"""{"path": "$dir/pq", "q": $qJson, "k": 5, "probes": 2}"""))
      assert(c2 == 200, b2)
      val got2 = new ObjectMapper().readTree(b2)
      val scala2 = AnnIndex.ivfPqTopK(spark, s"$dir/pq", "vid", q, 5, 2)
        .as[(Long, Double)].collect().toSeq
      assert((0 until got2.size()).map(i => (got2.get(i).get("vid").asLong(),
        got2.get(i).get("adc").asDouble())).toSeq == scala2, b2)

      val (c3, b3) = http("POST", s"$base/ann", Some(
        s"""{"action": "recall", "path": "$dir/lsh", "k": 5, "probes": 4,
            "sample": 8}"""))
      assert(c3 == 200, b3)
      val r = new ObjectMapper().readTree(b3).get("recall").asDouble()
      assert(r >= 0.0 && r <= 1.0, b3)

      val (c4, b4) = http("POST", s"$base/ann", Some(
        """{"path": "/no/such/index", "q": [0.1], "k": 3}"""))
      assert(c4 == 400 && b4.contains("error"), b4)
    } finally svc.stop()
  }

  test("the service handles concurrent requests on its pool — mixed " +
    "pipeline and catalog traffic completes without serialization faults") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val svc = new SimSearchService(spark, 0)
    val port = svc.start()
    try {
      val base = s"http://127.0.0.1:$port/simsearch/api"
      val dir = java.nio.file.Files.createTempDirectory("graft-conc").toString
      (0L until 500L).map(i => (i, s"document number $i with words " +
        (1 to 20).map(j => s"w${(i * 31 + j) % 97}").mkString(" ")))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
      val pipelineBody =
        s"""{"operator": "minhash_pairs", "input": {"path": "$dir/docs"},
            "id": "doc_id", "text": "text"}"""
      // several Spark-job-running requests and cheap metadata requests in
      // flight together: all must return 200, none may wedge the pool
      val calls = Future.sequence(Seq(
        Future(http("POST", s"$base/pipeline", Some(pipelineBody))),
        Future(http("POST", s"$base/pipeline", Some(pipelineBody))),
        Future(http("GET", s"$base/_settings", None, Map("api_key" -> "x"))),
        Future(http("GET", s"$base/_settings", None, Map("api_key" -> "y"))),
        Future(http("POST", s"$base/pipeline", Some(
          s"""{"operator": "text_stats", "input": {"path": "$dir/docs"},
              "id": "doc_id", "text": "text", "limit": 5}""")))))
      val results = Await.result(calls, 120.seconds)
      // pipelines succeed; the unmounted-key settings probes get their
      // normal 401 — the point is every response ARRIVES while Spark jobs
      // run on sibling pool threads
      assert(results.map(_._1) == Seq(200, 200, 401, 401, 200),
        results.map(_._1).toString)
    } finally svc.stop()
  }

  test("key admin endpoints fail CLOSED when no admin key is configured") {
    val svc = new SimSearchService(spark, 0) // no adminKey
    val port = svc.start()
    try {
      val base = s"http://127.0.0.1:$port/simsearch/api"
      // without a configured admin key, nothing may administer keys — not
      // even requests carrying arbitrary admin_api_key headers
      val (c1, _) = http("POST", s"$base/listKeys", None)
      val (c2, _) = http("POST", s"$base/assignKey", None, Map("admin_api_key" -> ""))
      val (c3, _) = http("POST", s"$base/revokeKey", None, Map("admin_api_key" -> "x"))
      assert(c1 == 403 && c2 == 403 && c3 == 403)
    } finally svc.stop()
  }

  test("REST key admin + /append: assignKey -> append -> search -> revokeKey") {
    val svc = new SimSearchService(spark, 0, adminKey = Some("root-key"))
    val port = svc.start()
    try {
      val base = s"http://127.0.0.1:$port/simsearch/api"
      val gdelt = GenGdeltFixture.path
      val admin = Map("admin_api_key" -> "root-key")

      // admin gating: wrong/missing admin key is rejected
      val (cBad, _) = http("POST", s"$base/assignKey", None, Map("admin_api_key" -> "wrong"))
      assert(cBad == 403)

      val (c1, b1) = http("POST", s"$base/assignKey", None, admin)
      assert(c1 == 200, b1)
      val key = new ObjectMapper().readTree(b1).get("apiKey").asText()

      // the fresh key starts with an empty catalog; /append fills it
      val (_, bCat0) = http("GET", s"$base/catalog", None, Map("api_key" -> key))
      assert(new ObjectMapper().readTree(bCat0).size() == 0)
      val sources = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$gdelt/standalone/sources.json")),
        StandardCharsets.UTF_8).replace("./data/gdelt/", gdelt)
      val (c2, b2) = http("POST", s"$base/append", Some(sources), Map("api_key" -> key))
      assert(c2 == 200, b2)
      assert(new ObjectMapper().readTree(b2).get("attributes").asInt() == 5)

      // the appended catalog answers the golden search
      val search = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$gdelt/standalone/search.json")), StandardCharsets.UTF_8)
      val (c3, b3) = http("POST", s"$base/search", Some(search), Map("api_key" -> key))
      assert(c3 == 200, b3)
      assert(new ObjectMapper().readTree(b3).get(0).get("rankedResults").size() == 5)

      // listKeys sees it; revokeKey removes it; catalog then 401s
      val (c4, b4) = http("POST", s"$base/listKeys", None, admin)
      assert(c4 == 200 && b4.contains(key))
      val (c5, _) = http("POST", s"$base/revokeKey", None, admin + ("target_key" -> key))
      assert(c5 == 200)
      val (c6, _) = http("GET", s"$base/catalog", None, Map("api_key" -> key))
      assert(c6 == 401)
      val (c7, _) = http("POST", s"$base/revokeKey", None, admin + ("target_key" -> key))
      assert(c7 == 404)
    } finally svc.stop()
  }
  test("POST /pipeline: dsir weighting/selection and duplicate-span " +
    "removal run over the socket") {
    import spark.implicits._
    val svc = new SimSearchService(spark, 0, adminKey = Some("root-key"))
    val port = svc.start()
    try {
      val base = s"http://127.0.0.1:$port/simsearch/api"
      val dir = java.nio.file.Files.createTempDirectory("graft-dsir").toString
      Seq(
        (1L, "good clean prose text", "en"),
        (2L, "good clean prose text", "en"),
        (3L, "spam junk garbage words", "de"),
        (4L, "good clean prose text", "de"),
        (5L, "c1 c2 c3 c4 c5 c6 c7 c8 unique tail five", "en"),
        (6L, "c1 c2 c3 c4 c5 c6 c7 c8 other ending six", "en"))
        .toDF("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$dir/docs")

      // dsir weights: target-like doc 4 outweighs off-target doc 3, and
      // identical text means identical weight regardless of the tag
      val (c1, b1) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "dsir", "input": {"path": "$dir/docs"},
            "id": "doc_id", "text": "text",
            "params": {"target_where": "lang = 'en'", "buckets": 128}}"""))
      assert(c1 == 200, b1)
      val dw = new ObjectMapper().readTree(b1)
      assert(dw.size() == 6, b1)
      val weights = (0 until 6).map(i =>
        dw.get(i).get("doc_id").asLong() ->
          dw.get(i).get("weight").asDouble()).toMap
      assert(weights(4L) > weights(3L), b1)
      assert(weights(4L) == weights(1L), b1)

      // params.k flips to the selection form: k rows with the audit key
      val (c2, b2) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "dsir", "input": {"path": "$dir/docs"},
            "id": "doc_id", "text": "text",
            "params": {"target_where": "lang = 'en'", "buckets": 128,
                       "k": 2, "temperature": 0.5}}"""))
      assert(c2 == 200, b2)
      val sel = new ObjectMapper().readTree(b2)
      assert(sel.size() == 2, b2)
      assert(sel.get(0).has("sel_key") && sel.get(1).has("sel_key"), b2)

      // dedup_substr: docs 5 and 6 share an exact 8-token run — it is cut
      // from both, their unique tails survive, short docs stay whole
      val (c3, b3) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "dedup_substr", "input": {"path": "$dir/docs"},
            "id": "doc_id", "text": "text", "params": {"n": 8}}"""))
      assert(c3 == 200, b3)
      val ds = new ObjectMapper().readTree(b3)
      assert(ds.size() == 6, b3)
      val clean = (0 until 6).map(i =>
        ds.get(i).get("doc_id").asLong() ->
          (ds.get(i).get("n_removed").asLong(),
            ds.get(i).get("text_clean").asText())).toMap
      assert(clean(5L) == ((8L, "unique tail five")), b3)
      assert(clean(6L) == ((8L, "other ending six")), b3)
      assert(clean(1L) == ((0L, "good clean prose text")), b3)

      // dedup_spans: the discovery form reports the merged [0, 8) span
      val (c4, b4) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "dedup_spans", "input": {"path": "$dir/docs"},
            "id": "doc_id", "text": "text", "params": {"n": 8}}"""))
      assert(c4 == 200, b4)
      val sp = new ObjectMapper().readTree(b4)
      assert(sp.size() == 2, b4)
      assert((0 until 2).forall(i => sp.get(i).get("span_start").asInt() == 0
        && sp.get(i).get("span_end").asInt() == 8), b4)

      // dsir_train / dsir_score: the persisted-model lifecycle — train is
      // an api-key-gated server-side write (like nb_train); score runs a
      // NEW corpus (unseen vocabulary floors, never drops) and params.k
      // flips to selection
      val trainBody =
        s"""{"operator": "dsir_train", "input": {"path": "$dir/docs"},
            "id": "doc_id", "text": "text",
            "params": {"target_where": "lang = 'en'", "buckets": 128,
                       "model_path": "$dir/dsirmodel"}}"""
      val (cT0, _) = http("POST", s"$base/pipeline", Some(trainBody))
      assert(cT0 == 401)
      val (cT1, bT1) = http("POST", s"$base/pipeline", Some(trainBody),
        Map("api_key" -> "root-key"))
      assert(cT1 == 200, bT1)
      assert(new ObjectMapper().readTree(bT1).get(0)
        .get("buckets").asInt() == 128, bT1)
      val newDir = s"$dir/newdocs"
      Seq((20L, "good clean prose text plus fresh vocabulary"),
          (21L, "spam junk garbage words"))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(newDir)
      val (cS1, bS1) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "dsir_score", "input": {"path": "$newDir"},
            "id": "doc_id", "text": "text",
            "params": {"model_path": "$dir/dsirmodel"}}"""))
      assert(cS1 == 200, bS1)
      val sw = new ObjectMapper().readTree(bS1)
      val swm = (0 until sw.size()).map(i =>
        sw.get(i).get("doc_id").asLong() ->
          sw.get(i).get("weight").asDouble()).toMap
      assert(swm.keySet == Set(20L, 21L) && swm(20L) > swm(21L), bS1)
      val (cS2, bS2) = http("POST", s"$base/pipeline", Some(
        s"""{"operator": "dsir_score", "input": {"path": "$newDir"},
            "id": "doc_id", "text": "text",
            "params": {"model_path": "$dir/dsirmodel", "k": 1}}"""))
      assert(cS2 == 200, bS2)
      val sel1 = new ObjectMapper().readTree(bS2)
      assert(sel1.size() == 1 && sel1.get(0).has("sel_key"), bS2)
    } finally svc.stop()
  }
}
