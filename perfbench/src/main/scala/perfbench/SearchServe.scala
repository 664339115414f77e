package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}

import graft.engine.{OutputWriter, RequestParser, SimSearchEngine}
import graft.service.SimSearchService

/** `search_serve`: the paper's workload. An in-process SimSearchService
  * mounts the generated orders-by-customer CSVs (one per attribute) through
  * POST /index, and `nproc` clients send a seeded request list to
  * POST /search in rounds. Every answer is checked against [[SearchOracle]], a
  * brute-force recomputation that never calls the engine. */
object SearchServe {

  val Attrs: IndexedSeq[String] =
    IndexedSeq("o_totalprice", "o_orderdate", "o_orderpriority", "location", "c_name")

  final case class Cond(attr: Int, value: String, weights: Seq[String],
      filterMin: Option[Double])
  final case class Req(k: Int, conds: Seq[Cond]) {
    def json: String = {
      val qs = conds.map { c =>
        val f = c.filterMin.map(t => s""","filter":${Json.quote(s"value >= $t")}""").getOrElse("")
        val v = if (c.attr == 0) c.value else Json.quote(c.value)
        s"""{"column":${Json.quote(Attrs(c.attr))},"value":$v,""" +
          s""""weights":${c.weights.map(Json.quote).mkString("[", ",", "]")}$f}"""
      }
      s"""{"k":$k,"algorithm":"threshold","queries":${qs.mkString("[", ",", "]")}}"""
    }
  }

  /** The seeded request list. A request's class depends only on its
    * position, so every seed sends the same mix in the same order: (k,
    * attribute count) follow a Latin square, so each row of four requests
    * has every k in {5, 10, 20, 50} and every attribute count 1-4 once;
    * every third request has two weight combinations, one in ten carries a
    * per-condition filter, and one in five repeats the request four places
    * earlier verbatim. The seed picks the query values (from real
    * entities), the weights and the filter thresholds. */
  def requests(data: SearchOracle.Data, seed: Long, n: Int): IndexedSeq[Req] = {
    val rnd = new scala.util.Random(seed)
    val ks = Seq(5, 10, 20, 50)
    val out = scala.collection.mutable.ArrayBuffer.empty[Req]
    (0 until n).foreach { i =>
      if (i % 5 == 4) out += out(i - 4)
      else {
        val k = ks(i % 4)
        val nAttrs = 1 + (i % 4 + i / 4) % 4
        val combos = if (i % 3 == 2) 2 else 1
        val filtered = i % 10 == 7
        val start = if (filtered) 0 else (i * 3) % Attrs.size
        val attrs = (start until start + nAttrs).map(_ % Attrs.size)
        val e = rnd.nextInt(data.n)
        out += Req(k, attrs.map { a =>
          val ws = Seq.fill(combos)(f"${0.1 + 0.9 * rnd.nextDouble()}%.2f")
          val f =
            if (filtered && a == 0) Some(math.floor(data.price(rnd.nextInt(data.n)) * 0.5))
            else None
          Cond(a, data.valueOf(a, e), ws, f)
        })
      }
    }
    out.toIndexedSeq
  }

  private def mountJson(dir: String): String = {
    def m(op: String, file: String, col: String, extra: String = "") =
      s"""{"operation":"$op","source":"orders","dataset":"$file",""" +
        s""""key_column":"id","search_column":$col$extra}"""
    val search = Seq(
      m("numerical_topk", "price.csv", "\"o_totalprice\""),
      m("temporal_topk", "date.csv", "\"o_orderdate\""),
      m("categorical_topk", "priority.csv", "\"o_orderpriority\"", ""","token_delimiter":"-""""),
      m("spatial_knn", "location.csv", """["lon","lat"]""", ""","alias_column":"location""""),
      m("textual_topk", "name.csv", "\"c_name\"", ""","qgram":"3""""))
    s"""{"sources":[{"name":"orders","type":"csv","directory":${Json.quote(dir)}}],""" +
      s""""search":${search.mkString("[", ",", "]")}}"""
  }

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def post(path: String, body: String, apiKey: String = ""): (Int, String) = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/simsearch/api/$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json")
      if (apiKey.nonEmpty) b.header("api_key", apiKey)
      val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Per combination: (id, score) in rank order. */
  def parseResponse(body: String): Seq[Seq[(String, Double)]] = {
    import scala.jdk.CollectionConverters._
    mapper.readTree(body).elements().asScala.map { combo =>
      combo.get("rankedResults").elements().asScala.map { r =>
        (r.get("id").asText(), r.get("score").asDouble())
      }.toSeq
    }.toSeq
  }

  final case class Done(req: Int, latencyMs: Double, status: Int, body: String)

  def run(ctx: Main.Ctx): Main.Outcome = {
    val cfg = ctx.cfg
    val spark = ctx.spark
    val data = SearchOracle.load(Paths.get(cfg.data))
    val reqs = requests(data, cfg.seed, if (cfg.smoke) 12 else 120)
    val svc = new SimSearchService(spark, 0)
    val port = svc.start()
    val client = new Client(port)
    val mountFile = Paths.get(cfg.work, "mount.json")
    val mountBody = mountJson(Paths.get(cfg.data).toAbsolutePath.toString)
    Files.writeString(mountFile, mountBody)
    try {
      // set-up, repeated: mount a fresh catalog and answer one small search
      // on it; the last catalog serves the measured requests
      var apiKey = ""
      val ready = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val (code, body) = client.post("index", mountBody)
        require(code == 200, s"mount failed: $body")
        val mountS = (System.nanoTime() - t0) / 1e9
        apiKey = mapper.readTree(body).get("apiKey").asText()
        client.post("search", Req(5, Seq(Cond(0, data.valueOf(0, 0), Seq("1.0"), None))).json,
          apiKey)
        (mountS, (System.nanoTime() - t0) / 1e9)
      }
      Main.phase("mounted")

      if (cfg.trace) traced(ctx, reqs, client, apiKey, mountFile, data, ready)
      else timed(ctx, reqs, client, apiKey, data, ready)
    } finally svc.stop()
  }

  /** Answer check for every completed request (outside the timed region);
    * returns the indices whose answer was wrong. */
  private def wrongAnswers(done: Seq[Done], reqs: IndexedSeq[Req],
      data: SearchOracle.Data): Set[Int] = {
    val expected = scala.collection.mutable.HashMap.empty[String, Seq[Seq[(String, Double)]]]
    done.filter(_.status == 200).flatMap { d =>
      val r = reqs(d.req)
      val exp = expected.getOrElseUpdate(r.json, SearchOracle.topK(data, r))
      val got = scala.util.Try(parseResponse(d.body)).getOrElse(Seq.empty)
      if (SearchOracle.same(exp, got)) None else Some(d.req)
    }.toSet
  }

  private def timed(ctx: Main.Ctx, reqs: IndexedSeq[Req], client: Client,
      apiKey: String, data: SearchOracle.Data,
      ready: Seq[(Double, Double)]): Main.Outcome = {
    val cfg = ctx.cfg
    // rounds of one request per client, the next round starting when all
    // have answered. The number of rounds follows from --seconds alone (one
    // per 5 s, at least two), so every run measures the same requests,
    // however fast they go; the cap is only a safety limit
    val rounds = math.min(reqs.size / cfg.nproc, math.max(2, math.round(cfg.seconds / 5).toInt))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cfg.nproc)
    val done = scala.collection.mutable.ArrayBuffer.empty[Done]
    val t0 = System.nanoTime()
    val cap = t0 + (8 * cfg.seconds * 1e9).toLong
    var round = 0
    try {
      while (round < rounds && (round == 0 || System.nanoTime() < cap)) {
        val calls = (round * cfg.nproc until (round + 1) * cfg.nproc).map { i =>
          pool.submit(() => {
            val s = System.nanoTime()
            val (code, body) =
              try client.post("search", reqs(i).json, apiKey)
              catch { case scala.util.control.NonFatal(e) => (-1, e.toString) }
            Done(i, (System.nanoTime() - s) / 1e6, code, body)
          })
        }
        done ++= calls.map(_.get())
        round += 1
      }
    } finally pool.shutdown()
    val elapsedS = (System.nanoTime() - t0) / 1e9
    Main.phase("measured")
    val heap = Memory.liveHeapMb()
    val ds = done.toSeq
    val wrong = wrongAnswers(ds, reqs, data)
    val bad = ds.filter(d => d.status != 200 || wrong(d.req))
    val lat = ds.map(d => if (d.status != 200 || wrong(d.req)) Double.PositiveInfinity else d.latencyMs)
    val ok = ds.size - bad.size
    Main.Outcome(
      buildS = ready.map(_._2),
      endToEnd = Seq(
        "op_p50_ms" -> Stats.quantile(lat, 0.5),
        "ops_per_s" -> ok / elapsedS,
        "live_heap_mb" -> heap),
      perLayer = Seq.empty,
      attempted = ds.size,
      failed = bad.size,
      checks = Seq(
        Main.Check("search.answers_match_bruteforce", wrong.isEmpty,
          s"${wrong.size} wrong of ${ds.size}"),
        Main.Check("search.http_200", ds.forall(_.status == 200),
          bad.filter(_.status != 200).take(2).map(_.body.take(200)).mkString(" | ")),
        Main.Check("search.completed_any", ds.nonEmpty)),
      detail = Seq(
        "search_p50_ms" -> Stats.quantile(lat, 0.5),
        "search_p90_ms" -> Stats.quantile(lat, 0.9),
        "search_qps" -> ok / elapsedS,
        "measured_s" -> elapsedS,
        "error_rate" -> (if (ds.isEmpty) 1.0 else bad.size.toDouble / ds.size),
        "clients" -> cfg.nproc,
        "rounds" -> round,
        "requests_completed" -> ds.size,
        "distinct_requests" -> ds.map(d => reqs(d.req).json).distinct.size,
        "sources.mount_s" -> Stats.median(ready.map(_._1))))
  }

  /** One client, one request at a time, so each Spark job belongs to one
    * request. Request i is sent three times, each time as a variant with
    * the same class but query values from other entities, so that no
    * execution reuses code compiled for another's literals: over HTTP with
    * the listeners attached (the Spark anatomy), over HTTP with them
    * detached (the tracing overhead; the two alternate in order), and as
    * an in-process replay of the service's layers (RequestParser,
    * SimSearchEngine.search, OutputWriter) under spans. Every answer is
    * checked against the brute-force oracle. */
  private def traced(ctx: Main.Ctx, reqs: IndexedSeq[Req], client: Client,
      apiKey: String, mountFile: Path, data: SearchOracle.Data,
      ready: Seq[(Double, Double)]): Main.Outcome = {
    val spark = ctx.spark
    val stats = ctx.stats.get
    val tracer = ctx.tracer
    val plainReqs = requests(data, ctx.cfg.seed + 1, reqs.size)
    val replayReqs = requests(data, ctx.cfg.seed + 2, reqs.size)
    val catalog = new SimSearchEngine.Catalog(Seq.empty)
    RequestParser.mountInto(spark, mountFile.toString, catalog)
    final case class One(i: Int, http: OpAnatomy, plain: Done, replay: Done,
        parse: Double, search: Double, format: Double, status: Int, body: String)
    val out = scala.collection.mutable.ArrayBuffer.empty[One]
    // the requests of two timed rounds: with fewer, the layer medians come
    // from too few requests of too different cost to add up
    val minTraced = math.min(reqs.size, 2 * math.max(4, ctx.cfg.nproc))
    val deadline = ctx.deadline()
    var i = 0
    while ((System.nanoTime() < deadline || i < minTraced) && i < reqs.size) {
      def plain(): Done = {
        stats.detach()
        val s = System.nanoTime()
        val (code, body) = client.post("search", plainReqs(i).json, apiKey)
        val ms = (System.nanoTime() - s) / 1e6
        stats.attach()
        Done(i, ms, code, body)
      }
      def anatomy() = Anatomy.measure(stats)(
        tracer.span("service.http", i)(client.post("search", reqs(i).json, apiKey)))(
        r => scala.util.Try(parseResponse(r._2).map(_.size).sum.toLong).getOrElse(0L))
      val (p, ((code, resp), an)) =
        if (i % 2 == 0) { val p = plain(); (p, anatomy()) }
        else { val a = anatomy(); (plain(), a) }
      val file = Paths.get(ctx.cfg.work, s"req-$i.json")
      Files.writeString(file, replayReqs(i).json)
      def timedSpan[T](name: String)(f: => T): (T, Double) = {
        val s = System.nanoTime()
        val r = tracer.span(name, i)(f)
        (r, (System.nanoTime() - s) / 1e6)
      }
      val (parsed, parseMs) = timedSpan("engine.parse")(RequestParser.parseSearchRequest(file.toString))
      val (res, searchMs) = timedSpan("engine.search")(SimSearchEngine.search(spark, catalog,
        parsed.k, parsed.specs, detailed = true,
        algorithm = graft.api.Algorithm.parse(parsed.algorithm)))
      val (json, formatMs) = timedSpan("engine.format")(
        OutputWriter.toJsonResponse(SimSearchEngine.applyIdPrefix(catalog, res)))
      Files.delete(file)
      out += One(i, an, p, Done(i, parseMs + searchMs + formatMs, 200, json),
        parseMs, searchMs, formatMs, code, resp)
      i += 1
    }
    val heap = Memory.liveHeapMb()
    val (blocks, cachedMb) = Memory.cached(spark)
    val wrong = wrongAnswers(out.map(o => Done(o.i, o.http.wallMs, o.status, o.body)).toSeq, reqs, data)
    val wrongPlain = wrongAnswers(out.map(_.plain).toSeq, plainReqs, data)
    val wrongReplay = wrongAnswers(out.map(_.replay).toSeq, replayReqs, data)
    val bad = out.filter(o => o.status != 200 || wrong(o.i))
    def med(f: One => Double) = Stats.median(out.map(f).toSeq)
    val layerSum = med(_.parse) + med(_.search) + med(_.format)
    val httpMed = med(_.http.wallMs)
    Main.Outcome(
      buildS = ready.map(_._2),
      endToEnd = Seq(
        "op_p50_ms" -> httpMed,
        "ops_per_s" -> 1000.0 / httpMed,
        "live_heap_mb" -> heap),
      perLayer = Anatomy.summarize(out.map(_.http).toSeq) ++ Seq(
        "spark.cached_blocks_end" -> blocks,
        "spark.cached_mb_end" -> cachedMb,
        "trace.overhead_pct" -> 100.0 * (med(o => o.http.wallMs / o.plain.latencyMs) - 1.0),
        "trace.span_cover" -> med(o => o.replay.latencyMs / o.http.wallMs)),
      attempted = out.size,
      failed = bad.size,
      checks = Seq(
        Main.Check("search.answers_match_bruteforce", wrong.isEmpty,
          s"${wrong.size} wrong of ${out.size}"),
        Main.Check("search.untraced_answers_match_bruteforce", wrongPlain.isEmpty,
          s"${wrongPlain.size} wrong of ${out.size}"),
        Main.Check("search.replay_answers_match_bruteforce", wrongReplay.isEmpty,
          s"${wrongReplay.size} wrong of ${out.size}"),
        Main.Check("search.completed_any", out.nonEmpty)),
      detail = Seq(
        // the median HTTP latency minus the sum of the layers' medians, so
        // that the four layers add up to the median latency
        "service.overhead_ms" -> (httpMed - layerSum),
        "engine.parse_ms" -> med(_.parse),
        "engine.search_ms" -> med(_.search),
        "engine.format_ms" -> med(_.format),
        "sources.mount_s" -> Stats.median(ready.map(_._1)),
        "requests_traced" -> out.size,
        "http_p50_ms_untraced" -> med(_.plain.latencyMs),
        "layer_sum_ms" -> layerSum,
        "http_p50_ms" -> httpMed,
        "per_request" -> out.map(o => Map("req" -> o.i, "http_ms" -> o.http.wallMs,
          "plain_ms" -> o.plain.latencyMs, "parse_ms" -> o.parse, "search_ms" -> o.search,
          "format_ms" -> o.format, "jobs" -> o.http.jobs.size,
          "tasks" -> o.http.jobs.map(_.tasks).sum,
          "codegen_compiles" -> o.http.compiles)).toSeq))
  }
}
