package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{AttributeSpec, ColumnStats, Facet, Normalizer, SimOp}
import graft.functions.SimKernels

/** CSV mount path: reads one attribute (facet) per MountSpec into a 2-column
  * DataFrame (id, value), typed by the declared similarity operation —
  * the rebuild of the reference's DataIngestor + per-type readers
  * (reference: manager/DataIngestor.java:69-541,
  * numerical/DoubleNumReader.java:242-305,
  * categorical/TokenSetCollectionReader.java:48-120,
  * spatial/LocationReader.java:110-176, temporal/DateTimeReader.java).
  *
  * Scale note: mounting is a plain `spark.read.csv` scan plus codegen'd
  * column expressions — no driver materialization; the per-attribute frames
  * stay distributed and lazily evaluated. The caller that makes them
  * resident is [[graft.engine.SimSearchEngine.Catalog]]: every facet that
  * enters a catalog is cached and materialised once, at mount.
  */
object CsvMount {

  /** One attribute to mount (reference: request/MountSpecs.java:1-60). */
  final case class MountSpec(
      operation: String,
      dataset: String,
      keyColumn: String,
      searchColumns: Seq[String],
      aliasColumn: Option[String] = None,
      separator: String = ",",
      tokenDelimiter: String = ";",
      header: Boolean = true,
      qgram: Int = 3,
      normalized: Option[String] = None,
      maxLines: Option[Int] = None,
      /** pivot_based distance metric (reference: MountSpecs.metric —
        * Manhattan, Euclidean, Chebyshev, Haversine; Euclidean default). */
      metric: Option[String] = None,
      /** Name of a mounted vector dictionary to transform this keyword
        * attribute through at mount time (reference: MountSpecs.transform_by,
        * applied Coordinator.java:608-643). */
      transformBy: Option[String] = None,
      /** URL prefix for entity identifiers in final results (reference:
        * MountSpecs.prefixURL; read off the name dictionary). */
      prefixURL: Option[String] = None)

  /** The reference's 13 accepted datetime patterns
    * (temporal/DateTimeParser.java:16), translated to Spark's datetime
    * pattern dialect (week-year "YYYY" is invalid in Spark and means the
    * same as "yyyy" for this use; documented divergence). */
  val DatePatterns: Seq[String] = Seq(
    "yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss'Z'",
    "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'", "yyyy-MM-dd HH:mm:ssX",
    "yyyy-MM-dd HH:mm:ss", "yyyyMMddHHmmss", "yyyy-MM-dd HH:mm:ss.SSX",
    "yyyy-MM-dd", "dd/MM-yyyy", "dd/MM/yyyy", "yyyy-MM", "yyyy", "HH:mm:ss")

  /** F7: parse a datetime string through the ordered pattern chain to epoch
    * milliseconds (the reference ingests DATE_TIME as epoch-ms doubles,
    * DataIngestor.java:326-368). */
  def datetimeToEpochMs(c: Column): Column = {
    val ts = coalesce(DatePatterns.map(p => try_to_timestamp(c, lit(p))): _*)
    (unix_micros(ts) / lit(1000L)).cast("double")
  }

  /** Driver-side twin of [[datetimeToEpochMs]] for query values (F9). */
  def parseDatetimeMs(s: String): Option[Double] = {
    val javaPatterns = Seq(
      "yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss'Z'",
      "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'", "yyyy-MM-dd HH:mm:ssX",
      "yyyy-MM-dd HH:mm:ss", "yyyyMMddHHmmss", "yyyy-MM-dd HH:mm:ss.SSX",
      "yyyy-MM-dd", "dd/MM-yyyy", "dd/MM/yyyy", "yyyy-MM", "yyyy", "HH:mm:ss")
    javaPatterns.iterator.flatMap { p =>
      try {
        val fmt = new java.text.SimpleDateFormat(p)
        fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
        fmt.setLenient(false)
        Some(fmt.parse(s).getTime.toDouble)
      } catch { case _: Exception => None }
    }.nextOption()
  }

  /** F8: parse a WKT POINT column into (lon, lat). Non-matching rows yield
    * NULL (regexp_extract returns '' on no match, which would throw under
    * ANSI casting), so the NOT-NULL guard can drop them. */
  def wktPoint(c: Column): (Column, Column) = {
    val num = "([-+0-9.eE]+)"
    def part(i: Int): Column = {
      val x = regexp_extract(c, s"POINT\\s*\\(\\s*$num\\s+$num\\s*\\)", i)
      when(x === "", lit(null)).otherwise(x).cast("double")
    }
    (part(1), part(2))
  }

  /** Driver-side WKT POINT parse for query values (F9). */
  def parseWktPoint(s: String): Option[(Double, Double)] = {
    val m = java.util.regex.Pattern
      .compile("POINT\\s*\\(\\s*([-+0-9.eE]+)\\s+([-+0-9.eE]+)\\s*\\)")
      .matcher(s)
    if (m.find()) Some((m.group(1).toDouble, m.group(2).toDouble)) else None
  }

  /** Ingest statistics for a numerical attribute (A3). The reference's
    * DoubleNumReader computes avg as (max-min)/count — a bug we deliberately
    * do NOT reproduce (documented divergence, SURVEY.md §2.5 A3). */
  def stats(df: DataFrame): ColumnStats = {
    val r = df.agg(count(col("value")), min(col("value")), max(col("value")),
      avg(col("value")), stddev_samp(col("value"))).head
    ColumnStats(r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
      if (r.isNullAt(4)) 0.0 else r.getDouble(4))
  }

  /** Mount one attribute: returns the typed (id, value) facet frame.
    * For numerical facets with `normalized` set, z / unity normalization is
    * applied to the data at mount time (A4, numerical/ZNormal.java:23-26);
    * the same transform must be applied to query values at search time.
    */
  /** S6: remote CSV — the reference streams HTTP/FTP CSVs through the same
    * ingest path as local files (io/DataFileReader.java URL branch). Spark
    * has no http:// Hadoop filesystem, so a remote dataset is spooled to a
    * local temp file once at mount time (= the reference's ingest-on-mount
    * semantics; at cluster scale the spool target would be a shared
    * staging path, or the data would be registered behind an HTTP-capable
    * FileSystem plugin).
    */
  // one spool file per distinct URL for the JVM lifetime: repeated /index
  // or /append mounts of the same remote dataset must not re-download or
  // grow /tmp without bound (the spooled path stays referenced by the lazy
  // mounted frame, so eager per-mount deletion is not an option)
  private val spoolCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def spoolRemote(url: String): String =
    spoolCache.computeIfAbsent(url, { u =>
      val src = java.net.URI.create(u).toURL
      val tmp = java.nio.file.Files.createTempFile("graft-remote-", ".csv")
      val in = src.openStream()
      try java.nio.file.Files.copy(in, tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      tmp.toFile.deleteOnExit()
      tmp.toString
    })

  private def isRemote(directory: String): Boolean =
    Seq("http://", "https://", "ftp://").exists(directory.startsWith)

  def mount(spark: SparkSession, directory: String, spec: MountSpec): Facet =
    mount(spark, directory, spec, Map.empty)

  /** As [[mount]], with the request's mounted vector dictionaries available
    * for `transform_by` resolution (pivot_based transformed attributes). */
  def mount(spark: SparkSession, directory: String, spec: MountSpec,
      dicts: Map[String, DataFrame]): Facet = {
    val path =
      if (isRemote(directory)) spoolRemote(s"${directory.stripSuffix("/")}/${spec.dataset}")
      else s"$directory/${spec.dataset}"
    val raw0 = spark.read
      .option("header", spec.header.toString)
      .option("sep", spec.separator)
      .csv(path)
    val raw = spec.maxLines.map(raw0.limit).getOrElse(raw0) // P5
    val id = col(spec.keyColumn).as("id")
    val name = spec.aliasColumn.getOrElse(spec.searchColumns.head)

    def numericLike(op: SimOp): Facet = {
      val vcol = if (op == SimOp.Temporal)
        datetimeToEpochMs(col(spec.searchColumns.head))
      else col(spec.searchColumns.head).cast("double")
      var df = raw.select(id, vcol.as("value")).na.drop(Seq("id", "value")) // P4
      var norm: Normalizer = Normalizer.None
      var stOpt: Option[ColumnStats] = None
      if (op == SimOp.Numerical) {
        val st = stats(df) // A3: ingest-time stats
        stOpt = Some(st)
        spec.normalized.foreach { n =>
          norm = n match {
            case "z"     => Normalizer.Z
            case "unity" => Normalizer.Unity
            case other   => throw new IllegalArgumentException(s"unknown normalization $other")
          }
          val expr = norm match {
            case Normalizer.Z     => SimKernels.zNorm(col("value"), st.avg, st.stddev)
            case Normalizer.Unity => SimKernels.unityNorm(col("value"), st.avg, st.min, st.max)
            case Normalizer.None  => col("value")
          }
          df = df.select(col("id"), expr.as("value"))
        }
      }
      Facet(AttributeSpec(name, op, spec.tokenDelimiter, spec.qgram, norm, stats = stOpt), df)
    }

    spec.operation match {
      case "numerical_topk" => numericLike(SimOp.Numerical) // S1
      case "temporal_topk"  => numericLike(SimOp.Temporal)  // S4 + F7
      case "categorical_topk" => // S2
        val toks = SimKernels.tokenize(col(spec.searchColumns.head), spec.tokenDelimiter)
        val df = raw.select(id, toks.as("value"))
          .na.drop(Seq("id")).where(size(col("value")) > 0)
        Facet(AttributeSpec(name, SimOp.Categorical, spec.tokenDelimiter, spec.qgram), df)
      case "textual_topk" => // S2 (q-gram sets derived at search time)
        val df = raw.select(id, col(spec.searchColumns.head).as("value"))
          .na.drop(Seq("id", "value")).where(length(col("value")) > 0)
        Facet(AttributeSpec(name, SimOp.Textual, spec.tokenDelimiter, spec.qgram), df)
      case "spatial_knn" => // S3 + F8
        val (lonC, latC) = spec.searchColumns match {
          case Seq(wkt) => wktPoint(col(wkt))
          case Seq(lon, lat) => (col(lon).cast("double"), col(lat).cast("double"))
          case other => throw new IllegalArgumentException(s"bad search_column $other")
        }
        val df = raw.select(id, struct(lonC.as("lon"), latC.as("lat")).as("value"))
          .na.drop(Seq("id")).where(col("value.lon").isNotNull && col("value.lat").isNotNull)
        Facet(AttributeSpec(name, SimOp.Spatial, spec.tokenDelimiter, spec.qgram), df)
      case "pivot_based" => // Q9: multi-metric coordinate attribute
        val metricName = spec.metric.getOrElse("Euclidean").toLowerCase
        spec.transformBy match {
          case Some(dictName) => // mount-time word2vec transform (F11)
            val dict = dicts.getOrElse(dictName, throw new IllegalArgumentException(
              s"transform_by references dictionary '$dictName', which is not " +
                "mounted (declare a vector_dictionary entry with that name first)"))
            val dim = dict.select(size(col("vector"))).head.getInt(0)
            val toks = SimKernels.tokenize(col(spec.searchColumns.head), spec.tokenDelimiter)
            val tokensDf = raw.select(id, toks.as("tokens")).na.drop(Seq("id"))
            // the catalog materialises the derived vectors once, at mount
            // (the reference's ingest-on-mount semantics for transformed
            // data, Coordinator.java:633-637)
            val vecs = graft.operators.Word2Vec.transform(tokensDf, dict, dim)
            // query values stay keywords; the same dictionary maps them into
            // the vector space (a 1-row pass through the SAME transform, so
            // data and query semantics cannot drift)
            val qt = (tokens: Seq[String]) => {
              import spark.implicits._
              graft.operators.Word2Vec
                .transform(Seq((0L, tokens)).toDF("id", "tokens"), dict, dim)
                .head.getSeq[Double](1)
            }
            Facet(AttributeSpec(name, SimOp.Metric(metricName), spec.tokenDelimiter,
              spec.qgram, queryTransform = Some(qt)),
              vecs.select(col("id"), col("vector").as("value")).na.drop(Seq("id")),
              // the reference keeps the raw keywords as a KEYWORD_DICTIONARY
              // lookup for result display; extra-column projection reads
              // these, not the derived vectors
              display = Some(raw.select(id,
                col(spec.searchColumns.head).as("value")).na.drop(Seq("id"))))
          case None => // raw coordinates: 1-2 numeric/datetime columns
            val (coords: Seq[Column], qt: Option[Seq[String] => Seq[Double]]) =
              spec.searchColumns match {
                case Seq(one) =>
                  // the reference's pivot coordinates are doubles or
                  // epoch-ms. The kind is decided ONCE at mount from
                  // sampled values and drives BOTH the ingestion expression
                  // and the query parser, so data and queries always live
                  // in the same space: GDELT's all-digit yyyyMMddHHmmss
                  // timestamps (castable to double!) become epoch-ms on
                  // both sides, never the raw 2.0e13 numeral. Several rows
                  // are sampled and must agree — one dirty first value must
                  // not silently flip the typing of the whole attribute.
                  def isTemporal(s: String): Boolean =
                    parseDatetimeMs(s).isDefined &&
                      (scala.util.Try(s.toDouble).isFailure || s.matches("\\d{14}"))
                  val samples = raw.select(col(one)).na.drop().limit(16)
                    .collect().map(_.getString(0).trim).toSeq
                  val verdicts = samples.map(isTemporal).distinct
                  if (verdicts.size > 1) {
                    val tEx = samples.find(isTemporal).getOrElse("")
                    val nEx = samples.find(!isTemporal(_)).getOrElse("")
                    throw new IllegalArgumentException(
                      s"pivot attribute $name: mixed coordinate kinds in sample " +
                        s"(temporal '$tEx' vs numeric '$nEx') — clean the column " +
                        "or mount the two kinds as separate attributes")
                  }
                  val sampleTemporal = verdicts.headOption.getOrElse(false)
                  val parser: Seq[String] => Seq[Double] =
                    if (sampleTemporal) ts => ts.map(t => parseDatetimeMs(t).getOrElse(
                      throw new IllegalArgumentException(s"unparseable datetime $t")))
                    else ts => ts.map(_.toDouble)
                  (Seq(if (sampleTemporal) datetimeToEpochMs(col(one))
                       else col(one).cast("double")),
                    Some(parser))
                case cols => (cols.map(c => col(c).cast("double")), None)
              }
            val df = raw.select(id, array(coords: _*).as("value"))
              .na.drop(Seq("id"))
              .where(forall(col("value"), x => x.isNotNull))
            Facet(AttributeSpec(name, SimOp.Metric(metricName),
              spec.tokenDelimiter, spec.qgram, queryTransform = qt), df)
        }
      case "name_dictionary" | "keyword_dictionary" =>
        // non-queryable lookup attributes (reference: Constants.NAME_/
        // KEYWORD_DICTIONARY) — serve extra-column projection and, for a
        // name dictionary with prefixURL, the result-id URL formatting
        val df = raw.select(id, col(spec.searchColumns.head).as("value"))
          .na.drop(Seq("id", "value"))
        Facet(AttributeSpec(name, SimOp.Textual, spec.tokenDelimiter, spec.qgram,
          queryable = false, prefixURL = spec.prefixURL), df)
      case other => throw new IllegalArgumentException(s"unknown operation $other")
    }
  }

  /** S5: mount a lookup dictionary (term -> vector of doubles), e.g. the
    * GDELT GloVe dictionary (term;v1,v2,...); non-queryable
    * (lookup/DictionaryReader.java:1-191). */
  def mountVectorDictionary(spark: SparkSession, path: String, separator: String = ";",
      vectorDelimiter: String = ",", header: Boolean = true): DataFrame = {
    val raw = spark.read.option("header", header.toString).option("sep", separator).csv(path)
    val cols = raw.columns
    raw.select(col(cols(0)).as("term"),
        transform(split(col(cols(1)), java.util.regex.Pattern.quote(vectorDelimiter)),
          x => x.cast("double")).as("vector"))
      .na.drop(Seq("term"))
  }
}
