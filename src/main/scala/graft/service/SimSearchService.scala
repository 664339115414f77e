package graft.service

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.engine.{OutputWriter, RequestParser, SimSearchEngine}
import graft.engine.SimSearchEngine.Catalog

/** Minimal REST service exposing the reference's endpoint surface
  * (reference: service/SimSearchController.java:44 — /index, /append,
  * /catalog, /search, /delete, /unmount, /assignKey, /revokeKey,
  * /listKeys) on the JDK's built-in HttpServer; Spring Boot would be an
  * external dependency this build intentionally avoids. One catalog per
  * api key (multi-tenant isolation like the reference's api_key ->
  * Coordinator map, SimSearchController.java:58-80). Extra api keys may be
  * ASSOCIATED with a master key (the reference's extraApiKeys map) —
  * association grants catalog/search/settings access to the master's data
  * and dies with the master on /unmount or /revokeKey. Admin-gated key
  * creation (adminKey = the reference's admin_api_key) coexists with the
  * reference's master-gated association on the same endpoints. The
  * reference's query timeout knob is surfaced as `query_timeout: 0` in
  * /_settings: the batch plans compute exact results without a ranking
  * timeout (SURVEY §4).
  */
final class SimSearchService(spark: SparkSession, port: Int,
    adminKey: Option[String] = None) {

  private val catalogs = new java.util.concurrent.ConcurrentHashMap[String, Catalog]()
  /** extra api key -> master api key (reference: extraApiKeys,
    * SimSearchController getMasterApiKey). */
  private val extraKeys = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Resolve an api key to the key owning a catalog: itself, or its master
    * when it is an associated extra key (reference: getMasterApiKey). */
  private def masterOf(key: String): String =
    if (catalogs.containsKey(key)) key else Option(extraKeys.get(key)).getOrElse(key)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  private def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def errorBody(e: Exception): String =
    s"""{"error":"${jsonEscape(Option(e.getMessage).getOrElse(e.toString))}"}"""

  private def respond(x: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    x.getResponseHeaders.add("Content-Type", "application/json")
    x.sendResponseHeaders(code, bytes.length)
    x.getResponseBody.write(bytes)
    x.close()
  }

  private def bodyFile(x: HttpExchange): java.nio.file.Path = {
    val tmp = java.nio.file.Files.createTempFile("graft-req", ".json")
    java.nio.file.Files.copy(x.getRequestBody, tmp,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    tmp
  }

  private def apiKey(x: HttpExchange): String =
    Option(x.getRequestHeaders.getFirst("api_key")).getOrElse("")

  /** POST /index: body = mount request (sources.json shape) with directory
    * paths resolvable on this host. Returns a fresh api_key. */
  private def handleIndex(x: HttpExchange): Unit = {
    val tmp = bodyFile(x)
    val cat = new Catalog(Seq.empty)
    try {
      val n = RequestParser.mountInto(spark, tmp.toString, cat)
      val key = java.util.UUID.randomUUID().toString
      catalogs.put(key, cat)
      respond(x, 200, s"""{"apiKey":"$key","attributes":$n}""")
    } catch {
      case e: Exception =>
        cat.close() // the attributes mounted before the failure
        respond(x, 400, errorBody(e))
    } finally java.nio.file.Files.delete(tmp)
  }

  /** POST /append: mount additional attributes into an EXISTING catalog
    * (reference: SimSearchController.java:366-418). */
  private def handleAppend(x: HttpExchange): Unit = {
    val cat = catalogs.get(apiKey(x))
    if (cat == null) { respond(x, 401, """{"error":"unknown api_key"}"""); return }
    val tmp = bodyFile(x)
    try {
      val n = RequestParser.mountInto(spark, tmp.toString, cat)
      respond(x, 200, s"""{"appended":$n,"attributes":${cat.size}}""")
    } catch {
      case e: Exception => respond(x, 400, errorBody(e))
    } finally java.nio.file.Files.delete(tmp)
  }

  /** Body of a key-association request: the reference POSTs the extra key
    * as the (possibly JSON-quoted) request body
    * (SimSearchController.java:219-221). */
  private def bodyKey(x: HttpExchange): String = {
    val raw = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8).trim
    if (raw.length >= 2 && raw.head == '"' && raw.last == '"') raw.substring(1, raw.length - 1)
    else raw
  }

  /** POST /assignKey. Two modes, matching the reference plus this build's
    * admin surface: (a) reference-shaped association
    * (SimSearchController.java:212-242) — a valid master api_key header +
    * the extra key as the body grants that extra key catalog/search access
    * to the master's data; (b) admin-gated creation of a fresh key with an
    * empty catalog (fails CLOSED without a configured adminKey). */
  private def handleAssignKey(x: HttpExchange): Unit = {
    val master = apiKey(x)
    if (catalogs.containsKey(master)) {
      val extra = bodyKey(x)
      if (extra.isEmpty) { respond(x, 400, """{"error":"missing extra key body"}"""); return }
      // an extra key may not shadow an existing key or association
      if (catalogs.containsKey(extra) || extraKeys.putIfAbsent(extra, master) != null) {
        respond(x, 400, s"""{"notification":"Operation failed. Extra API key is already associated with a client API key."}""")
      } else respond(x, 200,
        s"""{"apiKey":"${jsonEscape(extra)}","notification":"Data sources controlled by API key ${jsonEscape(master)} can now be also queried using this API key: ${jsonEscape(extra)}"}""")
      return
    }
    if (!isAdmin(x)) { respond(x, 403, """{"error":"admin key required"}"""); return }
    val key = java.util.UUID.randomUUID().toString
    catalogs.put(key, new Catalog(Seq.empty))
    respond(x, 200, s"""{"apiKey":"$key"}""")
  }

  /** POST /revokeKey: reference-shaped (master api_key header + extra key
    * body, SimSearchController.java:245-276) or admin-gated (target_key
    * header drops a whole key and its catalog). */
  private def handleRevokeKey(x: HttpExchange): Unit = {
    val master = apiKey(x)
    if (catalogs.containsKey(master)) {
      val extra = bodyKey(x)
      if (extra.nonEmpty && extraKeys.remove(extra, master))
        respond(x, 200,
          s"""{"apiKey":"${jsonEscape(extra)}","notification":"Data sources controlled by API key ${jsonEscape(master)} are no longer available for queries using this API key: ${jsonEscape(extra)}"}""")
      else respond(x, 400,
        """{"notification":"Operation failed. There is no such extra API key associated with the given client API key."}""")
      return
    }
    if (!isAdmin(x)) { respond(x, 403, """{"error":"admin key required"}"""); return }
    val target = Option(x.getRequestHeaders.getFirst("target_key")).getOrElse("")
    val cat = catalogs.remove(target)
    if (cat != null) {
      cat.close()
      extraKeys.entrySet().removeIf(e => e.getValue == target)
      respond(x, 200, s"""{"revoked":"${jsonEscape(target)}"}""")
    } else respond(x, 404, """{"error":"unknown target_key"}""")
  }

  /** POST /unmount: destroy the whole instance behind an api_key — its
    * catalog and every extra key associated with it (reference:
    * SimSearchController.java:413-446 "the corresponding instance ... can
    * no longer respond to requests. Any associated API keys have been
    * deleted."). Subsequent requests with any of those keys 401. */
  private def handleUnmount(x: HttpExchange): Unit = {
    val key = apiKey(x)
    val cat = catalogs.remove(key)
    if (cat != null) {
      cat.close()
      extraKeys.entrySet().removeIf(e => e.getValue == key)
      respond(x, 200,
        s"""{"notification":"SimSearch instance controlled by API key ${jsonEscape(key)} is no longer mounted and cannot support any requests. Any associated API keys have been deleted."}""")
    } else respond(x, 400,
      s"""{"notification":"Cannot find any instance of SimSearch associated with API key ${jsonEscape(key)}. Please check your API key."}""")
  }

  /** POST /listKeys (reference: SimSearchController.java:284-314; admin-gated). */
  private def handleListKeys(x: HttpExchange): Unit = {
    if (!isAdmin(x)) { respond(x, 403, """{"error":"admin key required"}"""); return }
    import scala.jdk.CollectionConverters._
    val keys = catalogs.keys().asScala.toSeq.sorted
      .map(k => s""""${jsonEscape(k)}"""").mkString("[", ",", "]")
    respond(x, 200, s"""{"keys":$keys}""")
  }

  /** Fail CLOSED: with no adminKey configured the key-management endpoints
    * are disabled outright — otherwise an unauthenticated client could
    * enumerate every tenant's api key via /listKeys and bypass the
    * capability-token isolation. */
  private def isAdmin(x: HttpExchange): Boolean =
    adminKey.exists(_ == Option(x.getRequestHeaders.getFirst("admin_api_key")).getOrElse(""))

  /** POST /search: body = search request (search.json shape). The engine
    * collects its top-M candidate lists and caches nothing per request; the
    * request still runs in a [[graft.util.CacheScope]], which releases
    * anything cached while answering (e.g. by an extra-column projection)
    * once the answer is rendered, so only the catalog's resident facets
    * stay. */
  private def handleSearch(x: HttpExchange): Unit = {
    val cat = catalogs.get(masterOf(apiKey(x)))
    if (cat == null) { respond(x, 401, """{"error":"unknown api_key"}"""); return }
    val tmp = bodyFile(x)
    try respond(x, 200, graft.util.CacheScope.withScope {
      val req = RequestParser.parseSearchRequest(tmp.toString)
      // detailed mode computes the per-result TA exactness bound so the
      // response's `exact` flags are real, not asserted (RankedResult.setExact)
      val res = SimSearchEngine.search(spark, cat, req.k, req.specs, detailed = true)
      // A6: requested extra columns join on as per-result extra_attributes
      // (reference: RankedResult.setExtraAttributes)
      val extras = req.output.extraColumns
      val projected0 =
        if (extras.isEmpty) res
        else graft.engine.SimSql.projectExtras(cat, res, extras)
      // result ids become URL identifiers when a name dictionary with
      // prefixURL is mounted (reference: SearchResponseFormat)
      val projected = SimSearchEngine.applyIdPrefix(cat, projected0)
      // collected once: the file sink and the response render the same rows
      val result = OutputWriter.Collected(projected)
      // S11: the output block's file sink is honored server-side, exactly
      // as the reference's OutputWriter does for service requests
      req.output.file.foreach(OutputWriter.writeResults(result, req.output, _, extras))
      OutputWriter.toJsonResponse(result, extras)
    }) catch {
      case e: Exception => respond(x, 400, errorBody(e))
    } finally java.nio.file.Files.delete(tmp)
  }

  /** POST /calibrate: body = search request; responds
    * `{"k":K,"facets":[{"column":c,"distances":[...]}]}` with each
    * distance-based facet's local top-k candidate distances — phase 1 of
    * the federated exact-scale negotiation
    * ([[graft.sources.Federated.search]]). Not part of the reference API
    * (its federated mode is approximate by design); a graft coordinator
    * probes this endpoint and falls back to the reference's one-phase
    * merge when a peer lacks it. */
  private def handleCalibrate(x: HttpExchange): Unit = {
    val cat = catalogs.get(masterOf(apiKey(x)))
    if (cat == null) { respond(x, 401, """{"error":"unknown api_key"}"""); return }
    val tmp = bodyFile(x)
    try respond(x, 200, graft.util.CacheScope.withScope {
      val req = RequestParser.parseSearchRequest(tmp.toString)
      val ds = SimSearchEngine.calibrationDistances(spark, cat, req.k, req.specs)
      // keyed by query INDEX so two specs over the same column (different
      // query values, different distance distributions) stay distinct;
      // the column rides along for readability
      val facets = req.specs.zipWithIndex
        .flatMap { case (s, i) => ds.get(i).map((i, s.column, _)) }
        .map { case (i, c, l) =>
          s"""{"index":$i,"column":"${jsonEscape(c)}","distances":[${l.mkString(",")}]}""" }
        .mkString("[", ",", "]")
      s"""{"k":${req.k},"facets":$facets}"""
    }) catch {
      case e: Exception => respond(x, 400, errorBody(e))
    } finally java.nio.file.Files.delete(tmp)
  }

  /** GET|POST /_settings: the instance's fixed configuration, in the
    * reference's ES-conformant shape (InstanceSettings.java — modeled on an
    * ES settings response so REST connectors can probe it). The
    * `isSimSearchInstance` marker is what a remote mounter keys on to route
    * this instance through the federated client (the reference probes the
    * same flag, HttpRestConnector.java:433). `query_timeout` serves the
    * recorded InstanceSettings value (settable from the SQL terminal's
    * `SET query_timeout`, scoped to THIS tenant's catalog); the batch plans still compute exact results —
    * there is no ranking loop for the timeout to cut short (SURVEY §4). */
  private def handleSettings(x: HttpExchange): Unit = {
    val cat = catalogs.get(masterOf(apiKey(x)))
    if (cat == null) { respond(x, 401, """{"error":"unknown api_key"}"""); return }
    val window = graft.api.Limits.KMax * graft.api.Limits.InflationFactor
    // live deployment knobs (session conf, shared across tenants — they
    // tune the engine's plans, not per-catalog query semantics)
    val knobs = graft.api.Knobs.AllWithDefaults.map { case (k, d) =>
      s""""$k":"${spark.conf.get(k, d)}""""
    }.mkString("{", ",", "}")
    respond(x, 200,
      s"""{"SimSearch":{"settings":{"index":{""" +
        s""""provided_name":"SimSearch","max_result_window":"$window",""" +
        s""""creation_date":"$creationDate",""" +
        s""""query_timeout":${cat.settings.queryTimeoutMs},""" +
        s""""knobs":$knobs,""" +
        s""""isSimSearchInstance":true}}}}""")
  }

  private val creationDate = System.currentTimeMillis()

  /** GET|POST /catalog: attribute listing (A8). An optional JSON body
    * filters by operation and/or column (reference:
    * request/CatalogRequest.java — a federated peer probes a specific
    * attribute this way). */
  private def handleCatalog(x: HttpExchange): Unit = {
    val cat = catalogs.get(masterOf(apiKey(x)))
    if (cat == null) { respond(x, 401, """{"error":"unknown api_key"}"""); return }
    val body = new String(x.getRequestBody.readAllBytes(),
      StandardCharsets.UTF_8).trim
    val (opFilter, colFilter) =
      if (body.isEmpty) (None, None)
      else try {
        val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        def f(k: String) = Option(n.get(k)).map(_.asText()).filter(_.nonEmpty)
        (f("operation"), f("column"))
      } catch { case _: Exception => (None, None) }
    val items = cat.list
      .filter { case (n, op) =>
        opFilter.forall(_ == op) && colFilter.forall(_ == n) }
      .map { case (n, op) =>
        s"""{"column":"${jsonEscape(n)}","operation":"${jsonEscape(op)}"}"""
      }
    respond(x, 200, items.mkString("[", ",", "]"))
  }

  /** POST /delete with the reference's JSON body
    * `{"remove": [{"column": …, "operation": …}, …]}`
    * (request/RemoveRequest.java:10-14, controller :495-538) — the shape
    * the reference's python demo clients POST. A missing attribute aborts
    * with 400 after removing the ones before it, mirroring the reference's
    * immediate NullPointerException path. `DELETE /delete?column=name`
    * stays as a convenience (A9). */
  private def handleDelete(x: HttpExchange): Unit = {
    val cat = catalogs.get(apiKey(x))
    if (cat == null) { respond(x, 401, """{"error":"unknown api_key"}"""); return }
    val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8).trim
    if (body.nonEmpty) {
      try {
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val items = Option(root.get("remove")).filter(_.isArray).getOrElse(
          throw new IllegalArgumentException("""body must be {"remove": [...]}"""))
        import scala.jdk.CollectionConverters._
        // AttributeInfo.column is a string or an array (multi-column
        // attributes render as "[lon, lat]", AttributeInfo.getColumn)
        val cols = items.elements().asScala.map { it =>
          val c = it.get("column")
          if (c == null) throw new IllegalArgumentException("missing column")
          else if (c.isArray) {
            val parts = c.elements().asScala.map(_.asText()).toSeq
            if (parts.size == 1) parts.head else parts.mkString("[", ", ", "]")
          } else c.asText()
        }.toSeq
        // removal is in-order; the first missing attribute aborts with 400
        // (attributes before it stay removed, like the reference)
        cols.find(c => !cat.remove(c)) match {
          case Some(missing) => respond(x, 400,
            s"""{"notification":"No dataset with attribute ${jsonEscape(missing)} is available for search. Make sure that the JSON file provides suitable specifications."}""")
          case None =>
            val notes = cols.map(c => s"Removed support for attribute ${jsonEscape(c)}.")
            respond(x, 200,
              s"""{"notification":"${notes.mkString(" ")} Any maintained indices have been purged."}""")
        }
      } catch {
        case e: Exception => respond(x, 400, errorBody(e))
      }
      return
    }
    val q = Option(x.getRequestURI.getQuery).getOrElse("")
    val col = q.split("&").map(_.split("=", 2)).collectFirst {
      case Array("column", v) =>
        java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
    }
    col match {
      case Some(c) if cat.remove(c) =>
        respond(x, 200, s"""{"removed":"${jsonEscape(c)}"}""")
      case Some(c) =>
        respond(x, 404, s"""{"error":"attribute not mounted: ${jsonEscape(c)}"}""")
      case None => respond(x, 400, """{"error":"missing column parameter"}""")
    }
  }

  /** POST /pipeline: run one table-in/table-out corpus-curation operator
    * over a mounted attribute or a host-local table, from any REST client —
    * the reference exposes its whole surface over REST
    * (service/SimSearchController.java:44), and this build's pipeline
    * operators (dedup, line dedup, token-budget selection, chunking,
    * scrubbing) deserve the same reach as its search operators. Body:
    *
    * {{{
    * { "operator": "line_dedup" | "exact_groups" | "minhash_pairs" |
    *               "dedup_cluster" | "text_stats" |
    *               "budget_select" | "chunk" | "scrub" |
    *               "html_text" | "url_dedup" |
    *               "decontaminate" | "semdedup" | "sample" |
    *               "minhash_pairs_between" | "domain_cap" |
    *               "nb_train" | "nb_score" |
    *               "bpe_train" | "bpe_encode" | "bpe_token_count" |
    *               "split" | "scrub_pii" | "gopher" | "quantile_cut" |
    *               "ccnet_keep" | "profile_series" |
    *               "video_frames" | "video_neardup" | "video_stats" |
    *               "audio_seq" | "audio_seq_neardup" | "audio_tags" |
    *               "mp3_frames" | "webm_blocks" | "ogg_pages" | "ts_packets" |
    *               "mp4_codecs" |
    *               "lm_bigram" | "lm_train" | "lm_score" | "random_project" |
    *               "image_hash" | "audio_fp" | "image_stats" |
    *               "audio_stats" | "profile" | "overlap",
    *   "input": {"column": "<mounted attribute>"}        // api_key's catalog
    *          | {"path": "/dir", "format": "parquet"|"csv"},
    *   "id": "doc_id", "text": "text",                   // path-input columns
    *   "params": { ... per-operator ... },
    *   "output": {"path": "/dir", "format": "parquet"|"csv"|"json"},
    *   "limit": 100 }
    * }}}
    *
    * With `output` the full result lands at the path and the response
    * reports `{"rows": N, "path": ...}`; without it, up to `limit` rows
    * return inline as JSON records. A `column` input serves the facet's
    * (id, value) frame (token-array values re-joined with spaces); a
    * `path` input reads the table like /index mounts do — host-local, the
    * service's existing trust model. Params: line_dedup `max_df`;
    * minhash_pairs / dedup_cluster `min_jaccard` (default 0.8);
    * budget_select `budget` (required), `quality_column` (required),
    * `tokens_column` (default: whitespace token count of the text); chunk
    * `chunk_size` (required), `overlap`; scrub `pattern` (required),
    * `replacement`; text_stats none; html_text none (the text column holds
    * raw HTML, the response holds the extracted prose); url_dedup none
    * (the text column holds URLs; returns url_norm / n_docs / keeper);
    * decontaminate `eval_column` (required boolean column marking the
    * benchmark rows), `min_ratio` (default 0.7) — returns the cleaned
    * non-eval rows; semdedup `vector_column` (default "embedding"),
    * `clusters` (default 16, k-means-trained in the request), `iters`
    * (default 5), `min_cos` (default 0.9) — returns the kept rows minus
    * the vector payload; sample `pct` (constant), or `rates` +
    * `group_column`/`default_pct` (per-group), or `rate_column` (per-row
    * acceptance curve) — all deterministic by id hash. decontaminate also
    * accepts `eval_path` (+ `eval_text`) for a benchmark shipped as its
    * own parquet table; minhash_pairs_between takes `right_path`
    * (+ `right_id`/`right_text`, `min_jaccard`) and returns the
    * cross-corpus near-dup pairs (a = input id, b = right id, j);
    * domain_cap `cap` (required) — the text column holds URLs, at most
    * cap rows per host survive in deterministic hash order; nb_train
    * `label_column` (required boolean: true = trusted seed), `model_path`
    * (required — the model persists there with its sidecar; a server-side
    * write, so nb_train needs a valid api_key), `max_vocab` (default
    * 65536) — returns the one-row training summary; nb_score `model_path`
    * (required) — returns (id, score), or with `min_score` the surviving
    * input rows (the learned-filter gate); semdedup also accepts `split`
    * (default false) to route through the mega-cluster auto-split variant;
    * bpe_train `num_merges` (required), `model_path` (required —
    * api-key-gated server-side write like nb_train), `max_words`,
    * `min_pair_count` — returns the one-row training summary; bpe_encode /
    * bpe_token_count `model_path` (required — a merge table persisted by
    * bpe_train or IndexTool bpe-train) — (id, tokens, n_tokens) /
    * (id, n_tokens) against the persisted model, the REST twins of the
    * bpe-encode CLI subcommand; split `splits` (required — an ARRAY of
    * [name, weight] pairs, order = boundary order) labels every row with
    * its deterministic train/val/test assignment; scrub_pii none (the
    * fixed PII preset over the text column); gopher `min_words`,
    * `max_words`, `stop_words` (array), `filter` (true = surviving rows
    * instead of verdicts); quantile_cut `score_expr` (required — an
    * integral SQL expression over the input columns), `cuts_ppm`
    * (required — strictly increasing ppm fractions), `labels` (required —
    * one more than cuts) labels every row with its corpus-quantile band
    * (the CCNet head/middle/tail cut); lm_bigram `lambda_ppm` (default
    * 750000) — (id, n_bigrams, logq) under the corpus-fit interpolated
    * bigram LM, the perplexity-filter signal quantile_cut feeds on;
    * lm_train `model_path` (required — api-key-gated server-side write
    * like nb_train), `lambda_ppm` — fits the bigram LM on the input and
    * persists it as joinable parquet tables + sidecar; lm_score
    * `model_path` (required) — (id, n_bigrams, n_oov, logq) against the
    * stored model (the fit-on-trusted / score-the-crawl CCNet shape), or
    * with `min_logq` the surviving input rows; random_project `out_dim`
    * (required), `vector_column` (default "embedding"), `in_dim` (default:
    * sniffed from the first row), `seed` — (id, vector) with the array
    * JL-projected to out_dim via the engine-portable ±1 matrix;
    * image_hash / audio_fp `data_column` (default "data", path input) —
    * perceptual aHash/dHash from real pixel decode (resp. the 65-window
    * energy fingerprint from real PCM decode), or with `pairs: true` the
    * banded-Hamming near-dup pairs at `max_hamming` (default 3);
    * profile `keys` (JSON array of group columns, default one "all"
    * group) — per-group exact counters/distincts with HLL/Theta sketch
    * twins dropped from the JSON; overlap `other_path` (required),
    * `other_text` — 1 row of theta-sketch |A|/|B|/intersection/union/
    * Jaccard estimates vs another corpus, no join. The
    * `output` block also accepts
    * `target_bytes` (parquet only) to route through the calibrated
    * sharded writer — uniform ~N-byte files instead of task-shaped
    * parts. */
  private def handlePipeline(x: HttpExchange): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions.TextKernels
    import graft.operators.{Dedup, Packing}
    // scope operator-internal caches (fingerprint/band frames) to THIS
    // request: a long-lived service serving repeated /pipeline calls
    // otherwise accumulates storage-pool entries until LRU eviction, each
    // call's caches evicting the previous ones' still-useful blocks
    try graft.util.CacheScope.withScope {
      val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      val opName = root.path("operator").asText("")
      val knownOps = Seq("line_dedup", "exact_groups", "minhash_pairs",
        "dedup_cluster", "text_stats", "budget_select", "chunk", "scrub",
        "html_text", "url_dedup", "decontaminate", "semdedup", "sample",
        "minhash_pairs_between", "domain_cap", "nb_train", "nb_score",
        "bpe_train", "bpe_encode", "bpe_token_count", "split",
        "scrub_pii", "gopher", "dsir", "dsir_train", "dsir_score",
        "dedup_spans", "dedup_substr", "quantile_cut", "ccnet_keep",
        "lm_bigram",
        "lm_train", "lm_score", "random_project", "image_hash", "audio_fp",
        "image_stats", "audio_stats", "profile", "profile_series",
        "overlap", "video_frames", "video_neardup", "video_stats",
        "audio_seq", "audio_seq_neardup", "audio_tags", "mp3_frames",
        "webm_blocks", "ogg_pages", "ts_packets", "mp4_codecs")
      if (!knownOps.contains(opName))
        throw new IllegalArgumentException(
          s"unknown operator '$opName' — one of ${knownOps.mkString(", ")}")
      val in = Option(root.get("input")).getOrElse(
        throw new IllegalArgumentException(
          """missing "input" ({"column": ...} or {"path": ...})"""))
      val idCol = Option(root.get("id")).map(_.asText()).getOrElse("id")
      val textCol = Option(root.get("text")).map(_.asText()).getOrElse("text")
      val df =
        if (in.hasNonNull("column")) {
          val cat = catalogs.get(masterOf(apiKey(x)))
          if (cat == null) { respond(x, 401, """{"error":"unknown api_key"}"""); return }
          val f = cat.get(in.get("column").asText())
          val v = f.df.schema("value").dataType match {
            case _: org.apache.spark.sql.types.ArrayType => concat_ws(" ", col("value"))
            case _ => col("value").cast("string")
          }
          f.df.select(col("id").as(idCol), v.as(textCol))
        } else if (in.hasNonNull("path")) {
          val p = in.get("path").asText()
          in.path("format").asText("parquet") match {
            case "csv" => spark.read.option("header", "true")
              .option("inferSchema", "true").csv(p)
            case _ => spark.read.parquet(p)
          }
        } else throw new IllegalArgumentException(
          """"input" needs "column" or "path"""")
      val params = root.path("params")
      def reqParam(name: String): com.fasterxml.jackson.databind.JsonNode =
        Option(params.get(name)).getOrElse(throw new IllegalArgumentException(
          s"""operator requires params.$name"""))
      val result = opName match {
        case "line_dedup" => Dedup.lineDedup(df, idCol, col(textCol),
          maxDf = params.path("max_df").asLong(Long.MaxValue))
        case "exact_groups" => Dedup.exactGroups(df, idCol, col(textCol))
        case "minhash_pairs" => Dedup.minhashPairs(df, idCol,
          graft.functions.NativeKernels.wordShingles2(col(textCol)),
          params.path("min_jaccard").asDouble(0.8))
        case "dedup_cluster" =>
          // pairs -> transitive closure: (n = member id, c = cluster
          // keeper = min member id); documents absent from the output have
          // no near-duplicate
          Dedup.clusters(Dedup.minhashPairs(df, idCol,
            graft.functions.NativeKernels.wordShingles2(col(textCol)),
            params.path("min_jaccard").asDouble(0.8)))
        case "text_stats" =>
          val w = graft.functions.NativeKernels.wordTokens(col(textCol))
          df.select(col(idCol),
            length(col(textCol)).cast("long").as("n_chars"),
            size(w).cast("long").as("n_tokens"),
            TextKernels.topBigramFraction(w).as("top_bigram_fraction"),
            TextKernels.dupNgramFraction(w, 5).as("dup_5gram_fraction"),
            graft.functions.NativeKernels.compressRatio(col(textCol))
              .as("compress_ratio"))
        case "budget_select" =>
          val tokens =
            if (params.hasNonNull("tokens_column"))
              col(params.get("tokens_column").asText())
            else size(graft.functions.NativeKernels.wordTokens(col(textCol)))
          Packing.budgetSelect(df, col(idCol), tokens,
            col(reqParam("quality_column").asText()), reqParam("budget").asLong())
        case "chunk" => Packing.chunkTokens(
          df.select(col(idCol), graft.functions.NativeKernels.wordTokens(col(textCol)).as("__w")),
          col(idCol), col("__w"), reqParam("chunk_size").asInt(),
          params.path("overlap").asInt(0))
        case "scrub" => df.select(col(idCol), TextKernels.scrub(col(textCol),
          reqParam("pattern").asText(),
          params.path("replacement").asText("[REDACTED]")).as(textCol))
        case "html_text" => df.select(col(idCol),
          TextKernels.htmlToText(col(textCol)).as(textCol))
        case "url_dedup" => df
          .select(col(idCol), TextKernels.normalizeUrl(col(textCol)).as("url_norm"))
          .groupBy(col("url_norm"))
          .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper"))
        case "decontaminate" =>
          val sh = graft.functions.NativeKernels.wordShingles2(col(textCol))
          if (params.hasNonNull("eval_path")) {
            // the benchmark as its own table (parquet, host-local trust
            // model like every path input); eval_text names its column
            val eval = spark.read.parquet(params.get("eval_path").asText())
            val evalText = params.path("eval_text").asText(textCol)
            graft.operators.Contamination.decontaminateAgainst(df, col(idCol),
              sh, eval,
              graft.functions.NativeKernels.wordShingles2(col(evalText)),
              params.path("min_ratio").asDouble(0.7))
          } else graft.operators.Contamination.decontaminate(
            df, col(idCol), sh, col(reqParam("eval_column").asText()),
            params.path("min_ratio").asDouble(0.7))
        case "domain_cap" =>
          // the text column holds URLs; at most `cap` docs per host, in
          // the deterministic salted hash order
          graft.operators.Sampling.capPerKey(df,
            TextKernels.urlHost(col(textCol)), col(idCol),
            reqParam("cap").asLong())
        case "nb_train" =>
          // trains the Naive Bayes quality classifier and PERSISTS it at
          // params.model_path (the IndexIO sidecar discipline) — a
          // server-side write, so it sits behind a valid api_key exactly
          // like the "output" branch below
          if (!catalogs.containsKey(masterOf(apiKey(x))) &&
              !adminKey.contains(apiKey(x))) {
            respond(x, 401,
              """{"error":"nb_train writes a model; it requires a valid api_key"}""")
            return
          }
          val modelPath = reqParam("model_path").asText()
          val model = graft.operators.QualityClassifier.train(df,
            graft.functions.NativeKernels.wordTokens(col(textCol)),
            col(reqParam("label_column").asText()),
            params.path("max_vocab").asInt(65536))
          graft.operators.QualityClassifier.save(spark, model, modelPath)
          // result frame = the training summary (the weight table itself
          // lives in the model directory)
          spark.createDataFrame(Seq(
            (modelPath, model.prior, model.weights.size.toLong)))
            .toDF("model_path", "prior", "vocab")
        case "nb_score" =>
          // (id, score) per document against a model persisted by nb_train;
          // optional min_score gates and returns the surviving input rows
          // instead (the classifier-filter stage of CCNet-style curation)
          val model = graft.operators.QualityClassifier.load(spark,
            reqParam("model_path").asText())
          val scores = graft.operators.QualityClassifier.score(df,
            col(idCol),
            graft.functions.NativeKernels.wordTokens(col(textCol)), model)
          if (params.hasNonNull("min_score"))
            df.join(
              scores.where(col("score") >= params.get("min_score").asDouble())
                .select(col("id").as(idCol)),
              Seq(idCol), "left_semi")
          else scores.withColumnRenamed("id", idCol)
        case "minhash_pairs_between" =>
          val right = spark.read.parquet(reqParam("right_path").asText())
          val rightId = params.path("right_id").asText(idCol)
          val rightText = params.path("right_text").asText(textCol)
          graft.operators.Dedup.minhashPairsBetween(
            df, idCol,
            graft.functions.NativeKernels.wordShingles2(col(textCol)),
            right, rightId,
            graft.functions.NativeKernels.wordShingles2(col(rightText)),
            params.path("min_jaccard").asDouble(0.8))
        case "image_hash" =>
          // perceptual hashes of a binary image column (path input only —
          // mounted facet columns are text); "pairs": true returns the
          // banded-Hamming near-dup pairs instead of the hash table
          val dataCol = params.path("data_column").asText("data")
          val hashed = graft.multimodal.Multimodal.imageHash(
            df.select(col(idCol).cast("long").as("id"),
              lit("image").as("kind"), col(dataCol).as("data"))).toDF()
          if (params.path("pairs").asBoolean(false))
            Dedup.hammingPairs(
              hashed.where(col("decoded")).select(col("id"), col("dhash")),
              "id", "dhash", params.path("max_hamming").asInt(3))
          else hashed.withColumnRenamed("id", idCol)
        case "profile" =>
          // per-group corpus profile (exact counters + sketch ESTIMATES;
          // the binary sketches stay server-side — JSON gets numbers)
          val keys = Option(params.get("keys"))
            .map(n => (0 until n.size()).map(i => n.get(i).asText()))
            .getOrElse(Seq.empty)
          val keyCols = if (keys.isEmpty) Seq(lit("all")) else keys.map(col)
          val prof = graft.operators.Profile.profile(df, keyCols,
            col(textCol), graft.functions.NativeKernels.wordTokens(col(textCol)))
          val named = keys.zipWithIndex.foldLeft(prof) { case (d, (k, i)) =>
            d.withColumnRenamed(s"__k$i", k)
          }
          (if (keys.isEmpty) named.withColumnRenamed("__k0", "group") else named)
            .drop("doc_hll", "doc_theta", "vocab_hll")
        case "profile_series" =>
          // time-series fold of a stored partial-profile dir (the path
          // input IS the profile rows): per-batch + cumulative counters
          // and sketch estimates, never rescanning any corpus
          val keys = Option(params.get("keys"))
            .map(n => (0 until n.size()).map(i => n.get(i).asText()))
            .getOrElse(Seq.empty)
          val ser = graft.operators.Profile.profileSeries(df,
            math.max(keys.size, 1),
            params.path("batch_column").asText("batch_id"))
          val named = keys.zipWithIndex.foldLeft(ser) { case (d, (k, i)) =>
            d.withColumnRenamed(s"__k$i", k)
          }
          if (keys.isEmpty) named.withColumnRenamed("__k0", "group") else named
        case "overlap" =>
          // theta-sketch set relations vs another corpus: 1 row of
          // estimates, no join of the two sides
          val other = spark.read.parquet(reqParam("other_path").asText())
          graft.operators.Profile.overlap(df, col(textCol), other,
            col(params.path("other_text").asText(textCol)))
        case "video_frames" =>
          // per-sampled-frame perceptual hashes of an AVI/MJPEG binary
          // column (path input): the video near-dup front end
          val dataCol = params.path("data_column").asText("data")
          graft.multimodal.Multimodal.videoFrameHashes(
              df.select(col(idCol).cast("long").as("id"),
                lit("video").as("kind"), col(dataCol).as("data")),
              everyMs = params.path("every_ms").asLong(500L)).toDF()
            .withColumnRenamed("id", idCol)
        case "video_neardup" =>
          // frame-sequence near-dup pairs (a, b, diagonal, n_match) over
          // an AVI/MJPEG binary column
          val dataCol = params.path("data_column").asText("data")
          val hashed = graft.multimodal.Multimodal.videoFrameHashes(
              df.select(col(idCol).cast("long").as("id"),
                lit("video").as("kind"), col(dataCol).as("data")),
              everyMs = params.path("every_ms").asLong(500L)).toDF()
            .where(col("decoded")).select(col("id"), col("frame_idx"), col("dhash"))
          graft.operators.Dedup.frameSigPairs(hashed, "id", "frame_idx",
            "dhash", params.path("max_hamming").asInt(3),
            params.path("min_match").asLong(2L))
        case "audio_seq" =>
          // windowed audio sequence signatures of a binary column — the
          // containment-detection front end (video_frames' audio twin)
          val dataCol = params.path("data_column").asText("data")
          graft.multimodal.Multimodal.audioSeqSignatures(
              df.select(col(idCol).cast("long").as("id"),
                lit("audio").as("kind"), col(dataCol).as("data")),
              windowMs = params.path("window_ms").asLong(250L)).toDF()
            .withColumnRenamed("id", idCol)
        case "audio_seq_neardup" =>
          // sequence containment pairs (a, b, diagonal, n_match) over a
          // binary audio column
          val dataCol = params.path("data_column").asText("data")
          val sigs = graft.multimodal.Multimodal.audioSeqSignatures(
              df.select(col(idCol).cast("long").as("id"),
                lit("audio").as("kind"), col(dataCol).as("data")),
              windowMs = params.path("window_ms").asLong(250L)).toDF()
            .where(col("decoded"))
            .select(col("id"), col("window_idx"), col("sig"))
          graft.operators.Dedup.frameSigPairs(sigs, "id", "window_idx",
            "sig", params.path("max_hamming").asInt(3),
            params.path("min_match").asLong(2L))
        case "ts_packets" =>
          // MPEG-TS packet walk of a binary column: lattice/PID/PES
          // accounting and PCR-clock durations, no decode
          val dataCol = params.path("data_column").asText("data")
          graft.multimodal.Multimodal.tsPacketStats(
              df.select(col(idCol).cast("long").as("id"),
                lit("video").as("kind"), col(dataCol).as("data"))).toDF()
            .withColumnRenamed("id", idCol)
        case "ogg_pages" =>
          // OGG page walk of a binary column: CRC-verified page/packet
          // counts and granule-position durations, no sample decode
          val dataCol = params.path("data_column").asText("data")
          graft.multimodal.Multimodal.oggPageStats(
              df.select(col(idCol).cast("long").as("id"),
                lit("audio").as("kind"), col(dataCol).as("data"))).toDF()
            .withColumnRenamed("id", idCol)
        case "webm_blocks" =>
          // WebM Cluster/SimpleBlock walk of a binary column: video block
          // + keyframe counts, honest duration, payload bytes, no decode
          val dataCol = params.path("data_column").asText("data")
          graft.multimodal.Multimodal.webmBlockStats(
              df.select(col(idCol).cast("long").as("id"),
                lit("video").as("kind"), col(dataCol).as("data"))).toDF()
            .withColumnRenamed("id", idCol)
        case "mp4_codecs" =>
          // per-track MP4 codec identity of a binary column: stsd fourcc
          // plus SPS-true profile/level/coded dims for AVC tracks
          val dataCol = params.path("data_column").asText("data")
          graft.multimodal.Multimodal.mp4CodecStats(
              df.select(col(idCol).cast("long").as("id"),
                lit("video").as("kind"), col(dataCol).as("data"))).toDF()
            .withColumnRenamed("id", idCol)
        case "mp3_frames" =>
          // MP3 frame-header sequence walk of a binary column: exact frame
          // counts, summed duration, bitrate range + VBR flag, no decode
          val dataCol = params.path("data_column").asText("data")
          graft.multimodal.Multimodal.mp3FrameStats(
              df.select(col(idCol).cast("long").as("id"),
                lit("audio").as("kind"), col(dataCol).as("data"))).toDF()
            .withColumnRenamed("id", idCol)
        case "audio_tags" =>
          // ID3v2 text metadata (title/artist/album) of a binary column —
          // the grouping keys per-artist caps and metadata dedup need
          val dataCol = params.path("data_column").asText("data")
          graft.multimodal.Multimodal.audioTags(
              df.select(col(idCol).cast("long").as("id"),
                lit("audio").as("kind"), col(dataCol).as("data"))).toDF()
            .withColumnRenamed("id", idCol)
        case "video_stats" =>
          // per-clip quality gates (black/flat sampled-frame counts, luma
          // mass) over an AVI/MJPEG binary column
          val dataCol = params.path("data_column").asText("data")
          graft.multimodal.Multimodal.videoStats(
              df.select(col(idCol).cast("long").as("id"),
                lit("video").as("kind"), col(dataCol).as("data")),
              everyMs = params.path("every_ms").asLong(500L)).toDF()
            .withColumnRenamed("id", idCol)
        case "image_stats" =>
          // image quality-gate signals of a binary column (path input)
          val dataCol = params.path("data_column").asText("data")
          graft.multimodal.Multimodal.imageStats(
              df.select(col(idCol).cast("long").as("id"),
                lit("image").as("kind"), col(dataCol).as("data"))).toDF()
            .withColumnRenamed("id", idCol)
        case "audio_stats" =>
          // audio quality-gate signals of a binary PCM column (path input)
          val dataCol = params.path("data_column").asText("data")
          graft.multimodal.Multimodal.audioStats(
              df.select(col(idCol).cast("long").as("id"),
                lit("audio").as("kind"), col(dataCol).as("data"))).toDF()
            .withColumnRenamed("id", idCol)
        case "audio_fp" =>
          // audio fingerprints of a binary PCM column (path input only);
          // "pairs": true returns the banded-Hamming near-dup pairs
          val dataCol = params.path("data_column").asText("data")
          val printed = graft.multimodal.Multimodal.audioFingerprint(
            df.select(col(idCol).cast("long").as("id"),
              lit("audio").as("kind"), col(dataCol).as("data"))).toDF()
          if (params.path("pairs").asBoolean(false))
            Dedup.hammingPairs(
              printed.where(col("decoded")).select(col("id"), col("afp")),
              "id", "afp", params.path("max_hamming").asInt(3))
          else printed.withColumnRenamed("id", idCol)
        case "random_project" =>
          // JL dimensionality reduction: (id, vector) with the array
          // shrunk to params.out_dim via the portable ±1 projection
          val vecCol = params.path("vector_column").asText("embedding")
          val inDim = params.get("in_dim") match {
            case null =>
              // infer from the first row — one cheap driver lookup
              df.select(org.apache.spark.sql.functions.size(col(vecCol)))
                .head.getInt(0)
            case n => n.asInt()
          }
          graft.operators.Embeddings.project(df, col(idCol),
              col(vecCol).cast("array<double>"), inDim,
              reqParam("out_dim").asInt(),
              params.path("seed").asText(""))
            .withColumnRenamed("id", idCol)
        case "semdedup" =>
          val vecCol = params.path("vector_column").asText("embedding")
          val projected = df.withColumn(vecCol, col(vecCol).cast("array<double>"))
          val cents = graft.operators.AnnSearch.kmeans(projected, idCol,
            col(vecCol), params.path("clusters").asInt(16),
            params.path("iters").asInt(5))
          val minCos = params.path("min_cos").asDouble(0.9)
          // split=true routes through the mega-cluster auto-split variant
          // (dedupSplit): identical result on well-balanced clusters,
          // bounded per-block pair work when the request-trained quantizer
          // lands a dominant cluster
          val kept =
            if (params.path("split").asBoolean(false))
              graft.operators.SemDedup.dedupSplit(projected, col(idCol),
                col(vecCol), cents, minCos)
            else graft.operators.SemDedup.dedup(projected, col(idCol),
              col(vecCol), cents, minCos)
          kept.drop(vecCol) // kept rows; the vector payload has no place in JSON
        case "bpe_train" =>
          // trains a BPE merge table and PERSISTS it at params.model_path —
          // a server-side write, gated like nb_train
          if (!catalogs.containsKey(masterOf(apiKey(x))) &&
              !adminKey.contains(apiKey(x))) {
            respond(x, 401,
              """{"error":"bpe_train writes a model; it requires a valid api_key"}""")
            return
          }
          val modelPath = reqParam("model_path").asText()
          val merges = graft.operators.Bpe.train(df,
            graft.functions.NativeKernels.wordTokens(col(textCol)),
            reqParam("num_merges").asInt(),
            params.path("max_words").asInt(1000000),
            params.path("min_pair_count").asLong(2L))
          graft.operators.Bpe.save(spark, merges, modelPath)
          spark.createDataFrame(Seq((modelPath, merges.size.toLong)))
            .toDF("model_path", "merges")
        case "bpe_encode" =>
          // encode against a merge table persisted by IndexTool bpe-train
          // (model_path discipline shared with nb_score): (id, tokens,
          // n_tokens) — the REST twin of the bpe-encode CLI subcommand
          val merges = graft.operators.Bpe.load(spark,
            reqParam("model_path").asText())
          val w = graft.functions.NativeKernels.wordTokens(col(textCol))
          df.select(col(idCol),
            graft.operators.Bpe.tokens(w, merges).as("tokens"),
            graft.operators.Bpe.tokenCount(w, merges).as("n_tokens"))
        case "bpe_token_count" =>
          // count-only twin: the token-budget signal without shipping the
          // token arrays back over the wire
          val merges = graft.operators.Bpe.load(spark,
            reqParam("model_path").asText())
          df.select(col(idCol),
            graft.operators.Bpe.tokenCount(
              graft.functions.NativeKernels.wordTokens(col(textCol)),
              merges).as("n_tokens"))
        case "scrub_pii" =>
          // the PII masking preset over the text column — the no-parameter
          // sibling of scrub (TextKernels.PiiPatterns, fixed order)
          df.select(col(idCol),
            TextKernels.scrubPii(col(textCol)).as(textCol))
        case "gopher" =>
          // the Gopher rule battery: verdicts per document, or with
          // filter=true the surviving input rows (the gate form)
          val minW = params.path("min_words").asLong(50L)
          val maxW = params.path("max_words").asLong(100000L)
          val stops =
            if (params.hasNonNull("stop_words")) {
              val a = params.get("stop_words")
              require(a.isArray && a.size() > 0,
                "params.stop_words must be a non-empty array of words")
              (0 until a.size()).map(a.get(_).asText()).toSeq
            } else graft.operators.QualityRules.StopWords
          if (params.path("filter").asBoolean(false))
            graft.operators.QualityRules.gopherFilter(df, col(textCol),
              minW, maxW, stops)
          else graft.operators.QualityRules.gopher(df, col(idCol),
              col(textCol), minW, maxW, stops)
            .withColumnRenamed("id", idCol)
        case "dsir" =>
          // DSIR importance weights against the in-frame target subset
          // (params.target_where, a boolean SQL expression over the input
          // columns); with params.k also Gumbel-top-k selects
          val tgt = expr(reqParam("target_where").asText())
          val scored = graft.operators.Dsir.weights(df, col(idCol),
            graft.functions.NativeKernels.wordTokens(col(textCol)), tgt,
            params.path("buckets").asInt(10000))
          (if (params.hasNonNull("k"))
            graft.operators.Dsir.resample(scored, col("id"), col("weight"),
              params.get("k").asInt(),
              params.path("temperature").asDouble(1.0))
          else scored).withColumnRenamed("id", idCol)
        case "dsir_train" =>
          // fits the DSIR bucket model and PERSISTS it at
          // params.model_path — a server-side write, gated like nb_train
          if (!catalogs.containsKey(masterOf(apiKey(x))) &&
              !adminKey.contains(apiKey(x))) {
            respond(x, 401,
              """{"error":"dsir_train writes a model; it requires a valid api_key"}""")
            return
          }
          val modelPath = reqParam("model_path").asText()
          val model = graft.operators.Dsir.fit(df,
            graft.functions.NativeKernels.wordTokens(col(textCol)),
            expr(reqParam("target_where").asText()),
            params.path("buckets").asInt(10000))
          graft.operators.Dsir.save(spark, model, modelPath)
          spark.createDataFrame(Seq((modelPath, model.buckets,
              model.rawTotal.toLong, model.tgtTotal.toLong)))
            .toDF("model_path", "buckets", "raw_total", "tgt_total")
        case "dsir_score" =>
          // (id, n_feats, weight) against a model persisted by
          // dsir_train; params.k flips to Gumbel-top-k selection
          val model = graft.operators.Dsir.load(spark,
            reqParam("model_path").asText())
          val scored = graft.operators.Dsir.scoreWith(spark, df,
            col(idCol),
            graft.functions.NativeKernels.wordTokens(col(textCol)), model)
          (if (params.hasNonNull("k"))
            graft.operators.Dsir.resample(scored, col("id"), col("weight"),
              params.get("k").asInt(),
              params.path("temperature").asDouble(1.0))
          else scored).withColumnRenamed("id", idCol)
        case "lm_train" =>
          // fit the bigram LM and PERSIST it at params.model_path — a
          // server-side write, gated like nb_train/dsir_train
          if (!catalogs.containsKey(masterOf(apiKey(x))) &&
              !adminKey.contains(apiKey(x))) {
            respond(x, 401,
              """{"error":"lm_train writes a model; it requires a valid api_key"}""")
            return
          }
          val modelPath = reqParam("model_path").asText()
          graft.operators.BigramLm.fit(spark, df,
            graft.functions.NativeKernels.wordTokens(col(textCol)),
            modelPath, params.path("lambda_ppm").asLong(750000L))
          val meta = graft.operators.IndexIO.readMeta(spark, modelPath).get
          spark.createDataFrame(Seq((modelPath,
              meta.path("total_tokens").asLong(),
              meta.path("vocab").asLong())))
            .toDF("model_path", "total_tokens", "vocab")
        case "lm_score" =>
          // (id, n_bigrams, n_oov, logq) against a model persisted by
          // lm_train; params.min_logq flips to the surviving input rows
          // (the CCNet learned gate)
          val scored = graft.operators.BigramLm.score(spark, df,
            col(idCol),
            graft.functions.NativeKernels.wordTokens(col(textCol)),
            reqParam("model_path").asText())
          if (params.hasNonNull("min_logq"))
            df.join(
              scored.where(col("logq") >= params.get("min_logq").asDouble())
                .select(col("doc_id").as(idCol)),
              Seq(idCol), "left_semi")
          else scored.withColumnRenamed("doc_id", idCol)
        case "lm_bigram" =>
          // interpolated bigram LM quality, self-scored on the input
          // corpus (params.lambda_ppm tunes the bigram/unigram mix)
          graft.operators.TfIdf.bigramQuality(df, col(idCol),
              graft.functions.NativeKernels.wordTokens(col(textCol)),
              params.path("lambda_ppm").asLong(750000L))
            .withColumnRenamed("doc_id", idCol)
        case "quantile_cut" =>
          // CCNet-style corpus-quantile bands over an integral score
          // expression (params.score_expr, SQL over the input columns);
          // cuts_ppm + labels mirror Sampling.quantileBuckets' contract
          val cutsArr = reqParam("cuts_ppm")
          require(cutsArr.isArray && cutsArr.size() > 0,
            "params.cuts_ppm must be a non-empty array of ppm fractions")
          val cuts = (0 until cutsArr.size()).map(cutsArr.get(_).asLong())
          val labArr = reqParam("labels")
          require(labArr.isArray,
            "params.labels must be an array of band names")
          val labs = (0 until labArr.size()).map(labArr.get(_).asText())
          graft.operators.Sampling.quantileBuckets(df,
            expr(reqParam("score_expr").asText()), cuts, labs)
        case "ccnet_keep" =>
          // the literal CCNet keep rule in ONE call (Wenzek et al. 2020
          // §4.3): corpus-quantile bands over the score expression, then a
          // deterministic per-band keep rate — head kept, middle sampled,
          // tail dropped. quantile_cut + sample composed server-side so
          // the band column never round-trips through the client;
          // default_pct 0 drops any band the rates object does not name.
          val cutsArr = reqParam("cuts_ppm")
          require(cutsArr.isArray && cutsArr.size() > 0,
            "params.cuts_ppm must be a non-empty array of ppm fractions")
          val cuts = (0 until cutsArr.size()).map(cutsArr.get(_).asLong())
          val labArr = reqParam("labels")
          require(labArr.isArray,
            "params.labels must be an array of band names")
          val labs = (0 until labArr.size()).map(labArr.get(_).asText())
          import scala.jdk.CollectionConverters._
          val rates = reqParam("rates").fields().asScala
            .map(e => e.getKey -> e.getValue.asInt()).toMap
          require(rates.keySet.subsetOf(labs.toSet),
            s"rates name unknown bands: ${rates.keySet -- labs.toSet}")
          val banded = graft.operators.Sampling.quantileBuckets(df,
            expr(reqParam("score_expr").asText()), cuts, labs)
          graft.operators.Sampling.mix(banded, col("bucket"), col(idCol),
            rates, params.path("default_pct").asInt(0))
        case "dedup_spans" =>
          // corpus-global duplicated n-token spans (discovery form)
          graft.operators.SpanDedup.spans(df, col(idCol),
              graft.functions.NativeKernels.wordTokens(col(textCol)),
              params.path("n").asInt(8),
              params.path("min_count").asLong(2L))
            .withColumnRenamed("id", idCol)
        case "dedup_substr" =>
          // the removal form: every document back, covered tokens cut out
          graft.operators.SpanDedup.removeSpans(df, col(idCol),
              graft.functions.NativeKernels.wordTokens(col(textCol)),
              params.path("n").asInt(8),
              params.path("min_count").asLong(2L))
            .withColumnRenamed("id", idCol)
        case "split" =>
          // deterministic train/val/test assignment; splits is an ARRAY of
          // [name, weight] pairs because boundary order is the contract
          // and JSON objects don't promise one
          val arr = reqParam("splits")
          require(arr.isArray && arr.size() > 0,
            "params.splits must be a non-empty array of [name, weight] pairs")
          val splits = (0 until arr.size()).map { i =>
            val e = arr.get(i)
            require(e.isArray && e.size() == 2,
              s"splits[$i] must be a [name, weight] pair")
            (e.get(0).asText(), e.get(1).asDouble())
          }.toSeq
          graft.operators.Sampling.splitByHash(df, col(idCol), splits)
        case "sample" =>
          // constant pct, per-group rates (rates = {"group": pct}), or a
          // per-row rate column — the three samplers behind one op
          if (params.hasNonNull("rate_column"))
            graft.operators.Sampling.byRate(df, col(idCol),
              col(params.get("rate_column").asText()))
          else if (params.hasNonNull("rates")) {
            import scala.jdk.CollectionConverters._
            val rates = params.get("rates").fields().asScala
              .map(e => e.getKey -> e.getValue.asInt()).toMap
            graft.operators.Sampling.mix(df,
              col(params.path("group_column").asText("source")), col(idCol),
              rates, params.path("default_pct").asInt(100))
          } else
            graft.operators.Sampling.sample(df, col(idCol),
              reqParam("pct").asInt())
      }
      Option(root.get("output")) match {
        case Some(out) =>
          // server-side WRITES sit behind a valid api_key, like /search's
          // file output — an unauthenticated request must not be able to
          // mode("overwrite") an arbitrary host path (a live index
          // directory, another tenant's sink). Reads stay key-less for
          // path inputs, matching /index's trust model.
          val key = masterOf(apiKey(x))
          if (!catalogs.containsKey(key) && !adminKey.contains(apiKey(x))) {
            respond(x, 401, """{"error":"server-side output requires a valid api_key"}""")
            return
          }
          val p = out.path("path").asText("")
          require(p.nonEmpty, """"output" needs "path"""")
          // target_bytes routes the parquet sink through the calibrated
          // sharded writer (uniform ~N-byte files — the shape a curated
          // training corpus ships in) instead of task-shaped part files
          if (out.hasNonNull("target_bytes") &&
              out.path("format").asText("parquet") == "parquet")
            graft.engine.OutputWriter.writeSharded(result, p,
              out.get("target_bytes").asLong())
          else {
            val w = result.write.mode("overwrite")
            out.path("format").asText("parquet") match {
              case "csv" => w.option("header", "true").csv(p)
              case "json" => w.json(p)
              case _ => w.parquet(p)
            }
          }
          val n = spark.read.format(out.path("format").asText("parquet") match {
            case "csv" => "csv"; case "json" => "json"; case _ => "parquet"
          }).option("header", "true").load(p).count()
          respond(x, 200, s"""{"rows":$n,"path":"${jsonEscape(p)}"}""")
        case None =>
          val limit = root.path("limit").asInt(100)
          val rows = result.limit(limit).toJSON.collect()
          respond(x, 200, rows.mkString("[", ",", "]"))
      }
    } catch {
      case e: Exception => respond(x, 400, errorBody(e))
    }
  }

  /** POST /ann: serve a persisted ANN index over REST — the serving twin of
    * the Scala probes, so a non-Scala client can query the vector indexes
    * the ingestion loops maintain. Body:
    *
    * {{{
    * { "action": "search" (default) | "recall",
    *   "path": "/host/path/to/index",      // self-describing: kind from sidecar
    *   "q": [0.1, ...],                    // search: the query vector
    *   "k": 10, "probes": 2,
    *   "sample": 32 }                      // recall: sample size
    * }}}
    *
    * search routes on the sidecar kind (lsh -> multi-probe cosine, ivf ->
    * pruned cosine, ivfpq -> pruned ADC) and returns the k rows as JSON;
    * recall returns `{"recall": r}` from [[graft.operators.AnnIndex
    * .recallProbe]] (LSH/IVF only — an IVF-PQ index stores no vectors; use
    * `ivfPqRecallProbe` from Scala with the source table). Reads are
    * key-less like /pipeline path inputs — same host-local trust model. */
  private def handleAnn(x: HttpExchange): Unit = {
    import graft.operators.{AnnIndex, IndexIO}
    try {
      val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      val path = root.path("path").asText("")
      require(path.nonEmpty, """missing "path"""")
      val kind = IndexIO.readMeta(spark, path).map(_.path("kind").asText())
        .getOrElse(throw new IllegalArgumentException(
          s"no index sidecar at $path"))
      val idCol = spark.read.parquet(path).columns
        .filterNot(c => c == "vec" || c == "codes" ||
          c == AnnIndex.BucketCol || c == graft.operators.IndexIO.BatchCol)
        .headOption.getOrElse(throw new IllegalArgumentException(
          s"cannot infer the id column of the index at $path"))
      root.path("action").asText("search") match {
        case "search" =>
          val qNode = Option(root.get("q")).getOrElse(
            throw new IllegalArgumentException("""search needs "q""""))
          import scala.jdk.CollectionConverters._
          val q = qNode.elements().asScala.map(_.asDouble()).toSeq
          val k = root.path("k").asInt(10)
          val probes = root.path("probes").asInt(0)
          val res = kind match {
            case "lsh" => AnnIndex.lshTopK(spark, path, idCol, q, k,
              probes = probes)
            case "ivf" => AnnIndex.ivfTopK(spark, path, idCol, q, k,
              nProbe = math.max(probes, 1))
            case "ivfpq" => AnnIndex.ivfPqTopK(spark, path, idCol, q, k,
              nProbe = math.max(probes, 1))
            case other => throw new IllegalArgumentException(
              s"unrecognized index kind '$other'")
          }
          respond(x, 200, res.toJSON.collect().mkString("[", ",", "]"))
        case "recall" =>
          val r = AnnIndex.recallProbe(spark, path, idCol,
            root.path("k").asInt(10), math.max(root.path("probes").asInt(1), 1),
            root.path("sample").asInt(32))
          respond(x, 200, s"""{"recall":$r}""")
        case other => throw new IllegalArgumentException(
          s"unknown action '$other' — one of search, recall")
      }
    } catch {
      case e: Exception => respond(x, 400, errorBody(e))
    }
  }

  def start(): Int = {
    server.createContext("/simsearch/api/index", handleIndex _)
    server.createContext("/simsearch/api/ann", handleAnn _)
    server.createContext("/simsearch/api/pipeline", handlePipeline _)
    server.createContext("/simsearch/api/append", handleAppend _)
    server.createContext("/simsearch/api/search", handleSearch _)
    server.createContext("/simsearch/api/calibrate", handleCalibrate _)
    server.createContext("/simsearch/api/catalog", handleCatalog _)
    server.createContext("/simsearch/api/_settings", handleSettings _)
    server.createContext("/simsearch/api/delete", handleDelete _)
    server.createContext("/simsearch/api/unmount", handleUnmount _)
    server.createContext("/simsearch/api/assignKey", handleAssignKey _)
    server.createContext("/simsearch/api/revokeKey", handleRevokeKey _)
    server.createContext("/simsearch/api/listKeys", handleListKeys _)
    // a bounded pool, NOT the default calling-thread dispatcher: with a
    // serial dispatcher one long-running request (a /pipeline job over a
    // large table, a slow federated /search) blocks every other endpoint —
    // a catalog probe, a health check, another tenant's search. Spark
    // schedules concurrent jobs from multiple threads safely; the shared
    // catalog maps are ConcurrentHashMaps. Pool size is a deliberate small
    // constant: each request may fan out its own Spark job, and the
    // cluster, not the HTTP layer, is the unit of parallelism.
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
      r => { val t = new Thread(r, "graft-rest"); t.setDaemon(true); t }))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = server.stop(0)
}
