package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.SimOp
import graft.engine.SimSearchEngine.{Catalog, SearchSpec}

/** SQL-like front-end (§3.2 of SURVEY.md) — the rebuild of the reference's
  * SqlParser (reference: engine/SqlParser.java:50-197). Grammar:
  *
  * {{{
  * SELECT *[, extra_col, ...]
  * [FROM instance]
  * WHERE col ~= 'value' [AND col2 ~= 'v2' ...] [AND <boolean filter> ...]
  * [WEIGHTS w1, w2, ...]
  * [ALGORITHM threshold|no_random_access|partial_random_access|pivot_based]
  * [LIMIT k];
  * }}}
  *
  * `~=` marks a similarity condition; all other WHERE conjuncts form a
  * residual boolean filter. Divergence from the reference (documented):
  * the reference IGNORES residual filters on ingested data with a notice
  * (SearchHandler.java:707-713); we apply them uniformly — Spark pushes
  * them into the facet scans.
  */
object SimSql {

  final case class ParsedQuery(
      extraColumns: Seq[String],
      sims: Seq[(String, String)], // (column, raw value)
      weights: Seq[Double],
      algorithm: Option[String],
      k: Int,
      residualFilter: Option[String],
      /** ES filter context from `jsonfilter('…')` WHERE conjuncts
        * (reference: SqlParser.java:124-130, applied :178-186) — carried to
        * in-situ REST facets only; ingested facets take the boolean
        * residual filter instead. */
      jsonFilter: Option[String] = None)

  private val SimCond = """(?i)([\w.]+)\s*~=\s*'([^']*)'""".r
  // placeholder = quoted \u0001<idx>\u0001 -- the sentinel cannot occur in
  // user SQL, so unmasking can never confuse a raw numeric literal in a
  // residual filter (e.g. BETWEEN 1 AND 3.5) with a placeholder index
  private val LitMask = "\u0001(\\d+)\u0001".r

  def parse(sql: String): ParsedQuery = {
    val s0 = sql.trim.stripSuffix(";").replaceAll("\\s+", " ").trim
    require(s0.toUpperCase.startsWith("SELECT"), s"not a SELECT: $s0")
    // mask quoted literals so AND / WEIGHTS / ALGORITHM / LIMIT appearing
    // INSIDE a value (e.g. name ~= 'Bread AND Butter') cannot confuse the
    // keyword grammar; masks are restored into the parsed values below
    val literals = scala.collection.mutable.ArrayBuffer[String]()
    val s = "'([^']*)'".r.replaceAllIn(s0, m => {
      literals += m.group(1)
      "'\u0001" + (literals.size - 1) + "\u0001'"
    })
    def unmask(v: String): String = LitMask.replaceAllIn(v,
      m => scala.util.matching.Regex.quoteReplacement(literals(m.group(1).toInt)))

    def section(name: String): Option[String] = {
      val m = java.util.regex.Pattern
        .compile(s"(?i)\\b$name\\b\\s+(.*?)(?=\\s+\\bWEIGHTS\\b|\\s+\\bALGORITHM\\b|\\s+\\bLIMIT\\b|$$)")
        .matcher(s)
      if (m.find()) Some(m.group(1).trim) else None
    }

    val selectList = s.substring("SELECT".length,
      "(?i)\\b(FROM|WHERE)\\b".r.findFirstMatchIn(s).map(_.start).getOrElse(s.length)).trim
    val extras = selectList.split(",").map(_.trim).filter(c => c.nonEmpty && c != "*").toSeq

    val whereBody = section("WHERE").getOrElse(
      throw new IllegalArgumentException("query has no WHERE clause"))
    // split top-level AND conjuncts, re-merging the AND that belongs to a
    // BETWEEN x AND y predicate
    val rawConjuncts = whereBody.split("(?i)\\bAND\\b").map(_.trim).filter(_.nonEmpty)
    val conjuncts = rawConjuncts.foldLeft(List.empty[String]) { (acc, c) =>
      acc match {
        case h :: t if h.matches("(?is).*\\bBETWEEN\\s+\\S+$") => s"$h AND $c" :: t
        case _ => c :: acc
      }
    }.reverse.toArray
    // jsonfilter('…') conjuncts are neither similarity conditions nor
    // boolean residuals: their JSON payload (single quotes expunged, valid
    // JSON only — the reference's rules) becomes the ES filter context
    val JsonFilterCond = """(?i)^jsonfilter\s*\(\s*'([^']*)'\s*\)$""".r
    val (jsonConds, rest) = conjuncts.partition(c => JsonFilterCond.findFirstIn(c).isDefined)
    val jsonFilters = jsonConds.toSeq.flatMap { c =>
      val payload = unmask(JsonFilterCond.findFirstMatchIn(c).get.group(1)).replace("'", "")
      try { new com.fasterxml.jackson.databind.ObjectMapper().readTree(payload); Some(payload) }
      catch { case _: Exception =>
        System.err.println(s"NOTICE: invalid JSON in jsonfilter, ignored: ${payload.take(120)}")
        None
      }
    }
    val (simConds, residuals) = rest.partition(c => SimCond.findFirstIn(c).isDefined)
    val sims = simConds.toSeq.map { c =>
      val m = SimCond.findFirstMatchIn(c).get
      (m.group(1), unmask(m.group(2)))
    }
    if (sims.isEmpty) // reference: deliberate failure case (queries.sql Q6)
      throw new IllegalArgumentException("query involves no similarity condition (~=)")

    val weights = section("WEIGHTS")
      .map(_.split(",").map(_.trim.toDouble).toSeq).getOrElse(Seq.empty)
    val algorithm = "(?i)\\bALGORITHM\\s+(\\w+)".r.findFirstMatchIn(s).map(_.group(1).toLowerCase)
    val k = "(?i)\\bLIMIT\\s+(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toInt).getOrElse(50) // SqlParser.java:83-86
    val residual = if (residuals.isEmpty) None else Some(unmask(residuals.mkString(" AND ")))
    // a single filter passes through as-is; multiple combine as a JSON
    // ARRAY — ES accepts an array filter context, whereas a bare
    // comma-join of objects would be invalid JSON
    val jsonFilter = jsonFilters match {
      case Seq() => None
      case Seq(one) => Some(one)
      case many => Some(many.mkString("[", ", ", "]"))
    }
    ParsedQuery(extras, sims, weights, algorithm, k, residual, jsonFilter)
  }

  /** A6/F13: join requested extra columns onto a ranked result, formatting
    * temporal values — shared by the SQL front-end and the standalone
    * terminal's JSON search path. */
  def projectExtras(catalog: Catalog, ranked: DataFrame, extras: Seq[String]): DataFrame =
    extras.foldLeft(ranked) { (acc, c) =>
      val f = catalog.get(c)
      // a transformed attribute (mount-time word2vec) displays its ORIGINAL
      // values, not the derived vectors — the reference's KEYWORD_DICTIONARY
      // association (Coordinator.java:608-643)
      val (src, v) = f.display match {
        case Some(d) => (d, col("value"))
        case None => (f.df, f.spec.op match {
          case SimOp.Temporal => // F13: epoch ms -> yyyy-MM-dd HH:mm:ss
            date_format(timestamp_millis(col("value").cast("long")), "yyyy-MM-dd HH:mm:ss")
          case _ => col("value")
        })
      }
      acc.join(src.select(col("id"), v.as(c)), Seq("id"), "left")
    }

  /** Execute a parsed query against a mounted catalog: similarity top-k +
    * extra-column projection (A6) with date formatting (F13). */
  def execute(spark: SparkSession, catalog: Catalog, q: ParsedQuery): DataFrame = {
    val specs = q.sims.zipWithIndex.map { case ((colName, raw), i) =>
      // in-situ (REST) attributes have no local facet frame: type the value
      // by the declared operation and attach the jsonfilter ES context
      val value: Any = catalog.getInSitu(colName) match {
        case Some(is) => is.operation match {
          case "categorical_topk" =>
            raw.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
          case "numerical_topk" => raw.toDouble
          case _ => raw
        }
        case None => catalog.get(colName).spec.op match {
          case SimOp.Categorical =>
            raw.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
          case SimOp.Numerical => raw.toDouble
          case _ => raw
        }
      }
      val w = if (q.weights.isDefinedAt(i)) Seq(q.weights(i)) else Seq.empty
      val filt = if (catalog.getInSitu(colName).isDefined) q.jsonFilter else None
      SearchSpec(colName, value, w, filter = filt)
    }
    val topk = SimSearchEngine.search(spark, catalog, q.k, specs,
      residualFilter = q.residualFilter)
    projectExtras(catalog, topk, q.extraColumns)
  }

  def run(spark: SparkSession, catalog: Catalog, sql: String): DataFrame =
    execute(spark, catalog, parse(sql))
}
