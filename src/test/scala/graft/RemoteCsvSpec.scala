package graft

import java.net.InetSocketAddress

import com.sun.net.httpserver.HttpServer

import graft.engine.SimSearchEngine
import graft.engine.SimSearchEngine.{Catalog, SearchSpec}
import graft.sources.CsvMount
import graft.sources.CsvMount.MountSpec

/** S6: remote CSV mount — a local JDK HttpServer stands in for the remote
  * host (zero-egress environment), serving the committed GDELT-shaped
  * sample (fixtures/gdelt_synth, [[GenGdeltFixture]]); the
  * http-mounted facet must answer identically to the file-mounted one. */
class RemoteCsvSpec extends SparkTestBase {

  private val gdelt = GenGdeltFixture.path

  test("S6: http-mounted facet answers identically to the local mount") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$gdelt/sample.csv"))
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/data/sample.csv", x => {
      x.sendResponseHeaders(200, bytes.length)
      x.getResponseBody.write(bytes)
      x.close()
    })
    server.start()
    try {
      val spec = MountSpec("numerical_topk", "sample.csv", "article_id",
        Seq("positive_sentiment"))
      val remote = CsvMount.mount(spark,
        s"http://127.0.0.1:${server.getAddress.getPort}/data", spec)
      val local = CsvMount.mount(spark, gdelt, spec)
      def top5(f: graft.api.Facet) = SimSearchEngine
        .search(spark, new Catalog(Seq(f)), 5,
          Seq(SearchSpec("positive_sentiment", 2.5, Seq(1.0))))
        .collect().map(r => (r.getString(r.fieldIndex("id")),
          r.getDouble(r.fieldIndex("score")))).toSeq
      assert(remote.df.count() == local.df.count())
      assert(top5(remote) == top5(local))
    } finally server.stop(0)
  }
}
