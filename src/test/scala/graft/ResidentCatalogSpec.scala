package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.service.SimSearchService

/** Mount-time residency of the catalog, driven over HTTP: attributes are
  * ingested once at mount (answers are a snapshot until the attribute is
  * mounted again), every removal path releases its cache entries, and a
  * `/search` leaves no per-request cache behind — also when concurrent
  * requests share, and release, the same entries. Inputs are CSVs
  * generated into a temp dir. */
class ResidentCatalogSpec extends SparkTestBase {

  private val mapper = new ObjectMapper()
  private val n = 200

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

  /** Entries in Spark's CacheManager: one per cached plan. */
  private def cacheEntries: Int = org.apache.spark.sql.GraftCacheProbe.entries(spark)

  private def writeCsv(p: Path, header: String, rows: Seq[String]): Unit =
    Files.writeString(p, (header +: rows).mkString("", "\n", "\n"))

  /** price = i, tags = 1-3 of eight tokens, name = a seeded 6-letter word. */
  private def generate(dir: Path, seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val vocab = (0 until 8).map(i => s"t$i")
    writeCsv(dir.resolve("price.csv"), "id,price", (1 to n).map(i => s"$i,$i.0"))
    writeCsv(dir.resolve("tags.csv"), "id,tags", (1 to n).map { i =>
      s"$i,${rnd.shuffle(vocab).take(1 + rnd.nextInt(3)).mkString("-")}"
    })
    writeCsv(dir.resolve("name.csv"), "id,name", (1 to n).map { i =>
      s"$i,${Seq.fill(6)(('a' + rnd.nextInt(26)).toChar).mkString}"
    })
  }

  private def attr(op: String, file: String, column: String, extra: String = "") =
    s"""{"operation":"$op","source":"d","dataset":"$file",""" +
      s""""key_column":"id","search_column":"$column"$extra}"""
  private val priceAttr = attr("numerical_topk", "price.csv", "price")
  private val tagsAttr = attr("categorical_topk", "tags.csv", "tags", ""","token_delimiter":"-"""")
  private val nameAttr = attr("textual_topk", "name.csv", "name")

  private def mountBody(dir: Path, entries: String*): String =
    s"""{"sources":[{"name":"d","type":"csv","directory":"$dir"}],""" +
      s""""search":${entries.mkString("[", ",", "]")}}"""

  private def searchBody(k: Int, conds: (String, String)*): String =
    s"""{"k":$k,"queries":${conds.map { case (c, v) =>
      s"""{"column":"$c","value":$v,"weights":["0.7","0.4"]}"""
    }.mkString("[", ",", "]")}}"""

  private def topIds(body: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    mapper.readTree(body).get(0).get("rankedResults").elements().asScala
      .map(_.get("id").asText()).toSeq
  }

  private def withService[T](adminKey: Option[String] = None)(f: String => T): T = {
    val svc = new SimSearchService(spark, 0, adminKey)
    val port = svc.start()
    try f(s"http://127.0.0.1:$port/simsearch/api")
    finally svc.stop()
  }

  private def withDir[T](f: Path => T): T = {
    val dir = Files.createTempDirectory("resident-catalog")
    try f(dir)
    finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    }
  }

  private def index(base: String, body: String): String = {
    val (c, b) = http("POST", s"$base/index", Some(body))
    assert(c == 200, b)
    mapper.readTree(b).get("apiKey").asText()
  }

  test("snapshot semantics: a CSV overwritten after /index does not change " +
    "/search; a re-/append of the attribute serves the new content") {
    withDir { dir =>
      generate(dir, 1)
      withService() { base =>
        val key = index(base, mountBody(dir, priceAttr))
        val q = searchBody(3, "price" -> "10")
        val (c1, before) = http("POST", s"$base/search", Some(q), Map("api_key" -> key))
        assert(c1 == 200, before)
        assert(topIds(before).head == "10")
        // price = n - i: the entity nearest to 10 is now n - 10
        writeCsv(dir.resolve("price.csv"), "id,price",
          (1 to n).map(i => s"$i,${n - i}.0"))
        val (_, after) = http("POST", s"$base/search", Some(q), Map("api_key" -> key))
        assert(after == before, "the mount-time snapshot must answer")
        val (ca, ba) = http("POST", s"$base/append", Some(mountBody(dir, priceAttr)),
          Map("api_key" -> key))
        assert(ca == 200, ba)
        val (_, refreshed) = http("POST", s"$base/search", Some(q), Map("api_key" -> key))
        assert(topIds(refreshed).head == (n - 10).toString, refreshed.take(300))
        http("POST", s"$base/unmount", None, Map("api_key" -> key))
      }
    }
  }

  test("every removal path releases its cache entries: /delete, a " +
    "re-/append of the same attribute, /unmount and the admin /revokeKey") {
    withDir { dir =>
      generate(dir, 2)
      withService(adminKey = Some("admin-secret")) { base =>
        val e0 = cacheEntries
        val key = index(base, mountBody(dir, priceAttr, tagsAttr))
        assert(cacheEntries == e0 + 2, "one resident entry per mounted attribute")
        val (ca, ba) = http("POST", s"$base/append", Some(mountBody(dir, nameAttr)),
          Map("api_key" -> key))
        assert(ca == 200, ba)
        assert(cacheEntries == e0 + 3)
        val (cd, bd) = http("POST", s"$base/delete",
          Some("""{"remove":[{"column":"name","operation":"textual_topk"}]}"""),
          Map("api_key" -> key))
        assert(cd == 200, bd)
        assert(cacheEntries == e0 + 2, "/delete must release the attribute")
        val (cr, br) = http("POST", s"$base/append", Some(mountBody(dir, priceAttr)),
          Map("api_key" -> key))
        assert(cr == 200, br)
        assert(cacheEntries == e0 + 2, "a re-/append must release what it replaces")
        val (cs, bs) = http("POST", s"$base/search",
          Some(searchBody(5, "price" -> "42", "tags" -> "\"t1-t2\"")), Map("api_key" -> key))
        assert(cs == 200, bs)
        assert(cacheEntries == e0 + 2, "a /search must release its request caches")
        val (cu, bu) = http("POST", s"$base/unmount", None, Map("api_key" -> key))
        assert(cu == 200, bu)
        assert(cacheEntries == e0, "/unmount must release the whole catalog")

        val key2 = index(base, mountBody(dir, priceAttr, tagsAttr))
        assert(cacheEntries == e0 + 2)
        val (cv, bv) = http("POST", s"$base/revokeKey", None,
          Map("admin_api_key" -> "admin-secret", "target_key" -> key2))
        assert(cv == 200, bv)
        assert(cacheEntries == e0, "the admin /revokeKey drop must release the catalog")
      }
    }
  }

  test("two catalogs mounting the same files share one entry; unmounting " +
    "one keeps the other's resident") {
    withDir { dir =>
      generate(dir, 3)
      withService() { base =>
        val e0 = cacheEntries
        val a = index(base, mountBody(dir, priceAttr))
        val b = index(base, mountBody(dir, priceAttr))
        assert(cacheEntries == e0 + 1)
        http("POST", s"$base/unmount", None, Map("api_key" -> a))
        assert(cacheEntries == e0 + 1, "b still holds the shared entry")
        http("POST", s"$base/unmount", None, Map("api_key" -> b))
        assert(cacheEntries == e0)
      }
    }
  }

  test("20 /search calls leave only the resident facet entries behind") {
    withDir { dir =>
      generate(dir, 4)
      withService() { base =>
        val e0 = cacheEntries
        val key = index(base, mountBody(dir, priceAttr, tagsAttr, nameAttr))
        val resident = cacheEntries
        assert(resident == e0 + 3)
        val rnd = new scala.util.Random(5)
        (0 until 20).foreach { i =>
          val conds = Seq("price" -> s"${rnd.nextInt(n)}",
            "tags" -> "\"t3-t5\"", "name" -> "\"abcdef\"").take(1 + i % 3)
          val (c, b) = http("POST", s"$base/search",
            Some(searchBody(Seq(5, 10, 20)(i % 3), conds: _*)), Map("api_key" -> key))
          assert(c == 200, b)
        }
        assert(cacheEntries == resident,
          s"request caches left behind: ${cacheEntries - resident}")
        http("POST", s"$base/unmount", None, Map("api_key" -> key))
        assert(cacheEntries == e0)
      }
    }
  }

  test("concurrency: 4 identical concurrent requests each get the " +
    "single-threaded answer while their scopes release shared entries") {
    withDir { dir =>
      generate(dir, 6)
      withService() { base =>
        val key = index(base, mountBody(dir, priceAttr, tagsAttr, nameAttr))
        val q = searchBody(10, "price" -> "77", "tags" -> "\"t0-t6\"", "name" -> "\"qwerty\"")
        val (c0, expected) = http("POST", s"$base/search", Some(q), Map("api_key" -> key))
        assert(c0 == 200, expected)
        val resident = cacheEntries
        val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
        try {
          (0 until 3).foreach { _ =>
            val start = new java.util.concurrent.CountDownLatch(1)
            val calls = (0 until 4).map(_ => pool.submit(() => {
              start.await()
              http("POST", s"$base/search", Some(q), Map("api_key" -> key))
            }))
            start.countDown()
            calls.map(_.get()).foreach { case (c, b) =>
              assert(c == 200, b)
              assert(b == expected)
            }
          }
        } finally pool.shutdown()
        assert(cacheEntries == resident)
        http("POST", s"$base/unmount", None, Map("api_key" -> key))
      }
    }
  }
}
