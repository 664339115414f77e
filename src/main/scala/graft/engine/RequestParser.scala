package graft.engine

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.engine.SimSearchEngine.SearchSpec
import graft.sources.CsvMount.MountSpec

/** JSON request parsing for the reference's mount/search request shapes
  * (§1.3 of SURVEY.md; reference: request/MountRequest.java,
  * request/SearchRequest.java) — the committed fixture files replay
  * directly through this parser.
  */
object RequestParser {

  private val mapper = new ObjectMapper()

  private def readFile(path: String): JsonNode =
    mapper.readTree(new java.io.File(path))

  /** A REST (restapi-type) data source declaration — an ES endpoint or a
    * remote federated instance (reference: request/MountSource.java:1-40;
    * the URL shape decides which, exactly as the reference's connector
    * does: a URL ending `/simsearch/api/search` is another instance,
    * anything else targets an ES index —
    * manager/insitu/HttpRestConnector.java:395-400). */
  final case class RestSource(
      name: String,
      url: String,
      apiKey: Option[String],
      username: Option[String],
      password: Option[String]) {
    def isSimSearchInstance: Boolean =
      url.trim.endsWith("/simsearch/api/search")
    /** Auth headers: an api_key is passed 'as is'; username/password become
      * HTTP basic auth (reference: Coordinator.java:326-335). */
    def headers: Map[String, String] = apiKey.map("api_key" -> _).toMap ++
      (for (u <- username; p <- password) yield "Authorization" ->
        ("Basic " + java.util.Base64.getEncoder.encodeToString(
          s"$u:$p".getBytes(java.nio.charset.StandardCharsets.UTF_8)))).toMap
  }

  /** One search entry (queryable attribute) on a restapi source. */
  final case class RestMount(
      source: RestSource,
      dataset: String,
      operation: String,
      keyColumn: String,
      valueColumn: String)

  /** A fully-routed mount request: csv datasets resolved against their
    * source directories, jdbc datasets routed to [[graft.sources.JdbcMount]]
    * specs, restapi datasets routed to in-situ REST specs (the reference's
    * multi-source request shape mixes all three —
    * data/gdelt/service/simsearch-multiple-sources.py:11). */
  final case class MountRequest(
      dirs: Map[String, String],
      csv: Seq[(String, MountSpec)],
      jdbc: Seq[graft.sources.JdbcMount.JdbcSpec],
      rest: Seq[RestMount] = Seq.empty)

  /** Parse a mount request (sources.json shape), routing each search entry
    * to its source's mount path: csv -> (directory, MountSpec), jdbc ->
    * JdbcSpec (S7/S8), restapi -> RestMount (S9/S10). A search entry
    * referencing an undeclared source fails with a clear message instead
    * of an NPE on the missing `directory` field. */
  def parseMountRequest(path: String): MountRequest = {
    val root = readFile(path)
    val sources = root.get("sources").elements().asScala.toSeq
    def srcType(s: JsonNode): String =
      Option(s.get("type")).map(_.asText()).getOrElse("csv")
    def srcOpt(s: JsonNode, field: String): Option[String] =
      Option(s.get(field)).map(_.asText()).filter(_.nonEmpty)
    val dirs = sources.filter(srcType(_) == "csv").map { s =>
      val name = s.get("name").asText()
      name -> srcOpt(s, "directory").getOrElse(
        throw new IllegalArgumentException(s"csv source '$name' has no directory"))
    }.toMap
    val jdbcSources = sources.filter(srcType(_) == "jdbc")
      .map(s => s.get("name").asText() -> s).toMap
    val restSources = sources.filter(srcType(_) == "restapi").map { s =>
      val name = s.get("name").asText()
      name -> RestSource(name,
        url = srcOpt(s, "url").getOrElse(
          throw new IllegalArgumentException(s"restapi source '$name' has no url")),
        apiKey = srcOpt(s, "api_key"),
        username = srcOpt(s, "username"),
        password = srcOpt(s, "password"))
    }.toMap
    val typeOf = sources.map(s => s.get("name").asText() -> srcType(s)).toMap

    val csvSpecs = scala.collection.mutable.ArrayBuffer[(String, MountSpec)]()
    val jdbcSpecs = scala.collection.mutable.ArrayBuffer[graft.sources.JdbcMount.JdbcSpec]()
    val restSpecs = scala.collection.mutable.ArrayBuffer[RestMount]()
    root.get("search").elements().asScala.foreach { m =>
      def opt(field: String): Option[String] =
        Option(m.get(field)).map(_.asText()).filter(_.nonEmpty)
      val searchCols = m.get("search_column") match {
        case a if a.isArray => a.elements().asScala.map(_.asText()).toSeq
        case v => Seq(v.asText())
      }
      val src = m.get("source").asText()
      if (restSources.contains(src)) {
        restSpecs += RestMount(
          source = restSources(src),
          // dataset is informational for REST mounts (the ES index comes
          // from the URL; federated ignores it) — absent must not NPE
          dataset = opt("dataset").getOrElse(""),
          operation = m.get("operation").asText(),
          keyColumn = opt("key_column").getOrElse("id"),
          valueColumn = searchCols.head)
      } else if (dirs.contains(src)) {
        csvSpecs += src -> MountSpec(
          operation = m.get("operation").asText(),
          dataset = m.get("dataset").asText(),
          keyColumn = m.get("key_column").asText(),
          searchColumns = searchCols,
          aliasColumn = opt("alias_column"),
          separator = opt("separator").getOrElse(","),
          // a vector_dictionary's delimiter splits its vectors: `,` by
          // default (CsvMount.mountVectorDictionary's and the reference's)
          tokenDelimiter = opt("token_delimiter").getOrElse(
            if (m.get("operation").asText() == "vector_dictionary") "," else ";"),
          header = opt("header").forall(_.toBoolean),
          qgram = opt("qgram").map(_.toInt).getOrElse(3),
          normalized = opt("normalized"),
          maxLines = opt("max_lines").map(_.toInt),
          metric = opt("metric"),
          transformBy = opt("transform_by"),
          prefixURL = opt("prefixURL"))
      } else jdbcSources.get(src) match {
        case Some(j) =>
          jdbcSpecs += graft.sources.JdbcMount.JdbcSpec(
            url = srcOpt(j, "url").getOrElse(
              throw new IllegalArgumentException(s"jdbc source '$src' has no url")),
            table = m.get("dataset").asText(),
            keyColumn = opt("key_column").getOrElse("id"),
            valueColumn = searchCols.head,
            operation = m.get("operation").asText(),
            driver = srcOpt(j, "driver"),
            user = srcOpt(j, "username"),
            password = srcOpt(j, "password"),
            tokenDelimiter = opt("token_delimiter").getOrElse(","),
            qgram = opt("qgram").map(_.toInt).getOrElse(3))
        case None => throw new IllegalArgumentException(
          s"search entry references source '$src' of unsupported type " +
            s"'${typeOf.getOrElse(src, "undeclared")}' (supported: csv, jdbc, restapi)")
      }
    }
    MountRequest(dirs, csvSpecs.toSeq, jdbcSpecs.toSeq, restSpecs.toSeq)
  }

  /** Back-compat view of [[parseMountRequest]]: the csv part only. */
  def parseMount(path: String): (Map[String, String], Seq[(String, MountSpec)]) = {
    val r = parseMountRequest(path)
    (r.dirs, r.csv)
  }

  /** Parse AND mount a whole request — the one mount-routing implementation
    * shared by the REST /index and /append handlers and the standalone
    * terminal. Returns (ingested facets, in-situ REST facets). */
  def mountAll(spark: org.apache.spark.sql.SparkSession, path: String)
      : (Seq[graft.api.Facet], Seq[SimSearchEngine.InSituFacet]) =
    mountAll(spark, path, Map.empty)

  private def mountAll(spark: org.apache.spark.sql.SparkSession, path: String,
      priorDicts: Map[String, org.apache.spark.sql.DataFrame])
      : (Seq[graft.api.Facet], Seq[SimSearchEngine.InSituFacet]) = {
    val req = parseMountRequest(path)
    (mountIngested(spark, req, priorDicts ++ mountDicts(spark, req)),
      req.rest.map(mountRest(spark, _)) ++ mountJdbcInSitu(spark, req))
  }

  /** JDBC datasets whose per-query top-M can ship to the database (S7
    * pushdown, Q6): not ingested and SQL-expressible. Everything else (S8
    * ingest, categorical/textual Jaccard) keeps the Spark-side kernel
    * path via [[mountIngested]]. */
  private def mountJdbcInSitu(spark: org.apache.spark.sql.SparkSession,
      req: MountRequest): Seq[SimSearchEngine.InSituFacet] =
    req.jdbc.filter(j => !j.ingest && graft.sources.JdbcMount.supportsPushdown(j))
      .map(graft.sources.JdbcMount.mountInSitu(spark, _))

  /** Pass 1: vector dictionaries (S5). They are vocabularies, not
    * queryable attributes — later entries reference them via transform_by
    * regardless of declaration order. */
  private def mountDicts(spark: org.apache.spark.sql.SparkSession,
      req: MountRequest): Map[String, org.apache.spark.sql.DataFrame] =
    req.csv.filter(_._2.operation == "vector_dictionary").map { case (source, spec) =>
      val dictName = spec.aliasColumn.getOrElse(spec.searchColumns.head)
      dictName -> graft.sources.CsvMount.mountVectorDictionary(spark,
        s"${req.dirs(source)}/${spec.dataset}", spec.separator,
        spec.tokenDelimiter, spec.header)
    }.toMap

  /** Pass 2: queryable attributes. */
  private def mountIngested(spark: org.apache.spark.sql.SparkSession,
      req: MountRequest, dicts: Map[String, org.apache.spark.sql.DataFrame])
      : Seq[graft.api.Facet] =
    req.csv.filter(_._2.operation != "vector_dictionary")
      .map { case (source, spec) =>
        graft.sources.CsvMount.mount(spark, req.dirs(source), spec, dicts)
      } ++ req.jdbc
        .filterNot(j => !j.ingest && graft.sources.JdbcMount.supportsPushdown(j))
        .map(graft.sources.JdbcMount.mount(spark, _))

  /** Parse AND mount a whole request INTO `catalog`: facets, in-situ REST
    * facets, and vector dictionaries — which PERSIST on the catalog, so a
    * later /append request can transform_by a dictionary declared in an
    * earlier one (the reference resolves transform_by against all datasets
    * mounted under the coordinator, not just the current request).
    * @return number of queryable attributes added */
  def mountInto(spark: org.apache.spark.sql.SparkSession, path: String,
      catalog: SimSearchEngine.Catalog): Int = {
    val req = parseMountRequest(path)
    catalog.addDicts(mountDicts(spark, req))
    val ingested = mountIngested(spark, req, catalog.dicts)
    val inSitu = req.rest.map(mountRest(spark, _)) ++ mountJdbcInSitu(spark, req)
    ingested.foreach(catalog.add)
    inSitu.foreach(catalog.add)
    ingested.size + inSitu.size
  }

  private def opFor(operation: String): graft.api.SimOp = operation match {
    case "numerical_topk"   => graft.api.SimOp.Numerical
    case "temporal_topk"    => graft.api.SimOp.Temporal
    case "categorical_topk" => graft.api.SimOp.Categorical
    case "textual_topk"     => graft.api.SimOp.Textual
    case "spatial_knn"      => graft.api.SimOp.Spatial
    case other => throw new IllegalArgumentException(
      s"unsupported restapi operation $other")
  }

  /** Mount one restapi search entry as an in-situ facet (S9/S10). The URL
    * shape picks the client, exactly as the reference's connector does
    * (HttpRestConnector.java:395-400): `…/simsearch/api/search` is a remote
    * federated instance; anything else is treated as an ES index whose
    * `max_result_window` is discovered once here at mount time. */
  def mountRest(spark: org.apache.spark.sql.SparkSession,
      rm: RestMount): SimSearchEngine.InSituFacet = {
    if (rm.source.isSimSearchInstance) {
      val base = rm.source.url.trim.stripSuffix("/search")
      // carry ALL declared auth: api_key plus any basic-auth credentials
      val inst = graft.sources.Federated.Instance(base,
        rm.source.apiKey.getOrElse(""),
        extraHeaders = rm.source.headers - "api_key")
      SimSearchEngine.InSituFacet(rm.valueColumn, rm.operation,
        (spec, m) => graft.sources.Federated.facet(spark, inst, rm.valueColumn,
          restValueJson(spec.value), m, Seq(1.0)))
    } else {
      // ES search URLs look like http://host:9200/<index>/_search?pretty —
      // strip from "/_" to get the index base, then split base/index
      val u = rm.source.url.trim
      val indexBase =
        (if (u.contains("/_")) u.substring(0, u.indexOf("/_")) else u).stripSuffix("/")
      val slash = indexBase.lastIndexOf('/')
      require(slash > "http://".length, s"cannot derive an index from ES url $u")
      val (esBase, index) = (indexBase.substring(0, slash), indexBase.substring(slash + 1))
      val op = opFor(rm.operation)
      val window = graft.sources.EsRestSource.maxResultWindow(
        esBase, index, rm.source.headers)
      SimSearchEngine.InSituFacet(rm.valueColumn, rm.operation,
        (spec, m) => graft.sources.EsRestSource.facet(spark, esBase, index, op,
          rm.keyColumn, rm.valueColumn, restValueText(spec.value), m, Seq(1.0),
          spec.filter, rm.source.headers, window))
    }
  }

  /** Render a SearchSpec value as the text an ES DSL template embeds. */
  private def restValueText(value: Any): String = value match {
    case xs: Seq[_] => xs.mkString(" ")
    case other => other.toString
  }

  /** Render a SearchSpec value as the JSON literal a federated search
    * request carries. */
  private def restValueJson(value: Any): String = value match {
    case xs: Seq[_] => xs.map(x => "\"" + graft.sources.RestClient.jsonEscape(x.toString) + "\"")
      .mkString("[", ",", "]")
    case d: Double => d.toString
    case i: Int => i.toString
    case other => "\"" + graft.sources.RestClient.jsonEscape(other.toString) + "\""
  }

  /** The search request's output block (reference:
    * request/SearchOutput.java:8-35): result format, CSV dialect, optional
    * output file, extra columns to project. */
  final case class OutputSpec(
      format: String = "json",
      delimiter: String = ";",
      quote: String = "\"",
      header: Boolean = true,
      file: Option[String] = None,
      extraColumns: Seq[String] = Seq.empty)

  /** Fully-parsed search request (search.json shape). */
  final case class ParsedSearch(
      k: Int,
      algorithm: String,
      specs: Seq[SearchSpec],
      output: OutputSpec)

  /** Back-compat view of [[parseSearchRequest]]: (k, algorithm, specs,
    * extraColumns). */
  def parseSearch(path: String): (Int, String, Seq[SearchSpec], Seq[String]) = {
    val r = parseSearchRequest(path)
    (r.k, r.algorithm, r.specs, r.output.extraColumns)
  }

  /** Parse a search request (search.json shape). Values may be strings or
    * arrays (token sets); weights are decimal strings, one per
    * combination. */
  def parseSearchRequest(path: String): ParsedSearch = {
    val root = readFile(path)
    val k = root.get("k").asText().toInt
    val algorithm = Option(root.get("algorithm")).map(_.asText()).getOrElse("threshold")
    val output = Option(root.get("output")).map { o =>
      def opt(f: String) = Option(o.get(f)).map(_.asText()).filter(_.nonEmpty)
      OutputSpec(
        format = opt("format").getOrElse("json").toLowerCase,
        // reference defaults (Constants.COLUMN_SEPARATOR = ";"); a
        // present-but-empty delimiter degrades to a single space
        // (OutputWriter.java:42-47)
        // an explicit JSON null falls through to the default, like an
        // absent field (NullNode.asText() would read as the literal "null")
        delimiter = Option(o.get("delimiter")).filter(!_.isNull).map(_.asText()) match {
          case Some("") => " "
          case Some(d) => d
          case None => ";"
        },
        quote = opt("quote").getOrElse("\""),
        header = opt("header").forall(_.toBoolean),
        file = opt("file"),
        extraColumns = Option(o.get("extra_columns"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty))
    }.getOrElse(OutputSpec())
    val specs = root.get("queries").elements().asScala.map { q =>
      val value: Any = q.get("value") match {
        case a if a.isArray => a.elements().asScala.map(_.asText()).toSeq
        case v if v.isNumber => v.asDouble()
        case v => v.asText()
      }
      val weights = Option(q.get("weights"))
        .map(_.elements().asScala.map(_.asText().toDouble).toSeq).getOrElse(Seq.empty)
      SearchSpec(q.get("column").asText(), value, weights,
        decay = Option(q.get("decay")).map(_.asDouble())
          .getOrElse(graft.functions.SimKernels.DefaultDecay),
        scale = Option(q.get("scale")).map(_.asDouble()),
        // per-condition pre-filter, applied as-is against the data
        // (reference: SearchSpecs.filter — SQL condition for ingested/JDBC
        // facets, ES filter context for restapi facets)
        filter = Option(q.get("filter")).map(_.asText()).filter(_.nonEmpty))
    }.toSeq
    ParsedSearch(k, algorithm, specs, output)
  }
}
