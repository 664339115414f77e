package graft.engine

import org.apache.spark.sql.{DataFrame, Row}

/** Result sinks (S11/S12) — the rebuild of the reference's OutputWriter
  * (reference: engine/OutputWriter.java:33-160) and the REST response shape
  * (engine/SearchResponse.java:1-88, serialized by SimSearchController).
  */
object OutputWriter {

  /** A small ranked result collected ONCE: the single-file sinks and the
    * JSON response below all render from it, so a search request that
    * both writes its output file and answers over HTTP runs its plan once. */
  final case class Collected(columns: Seq[String], rows: Seq[Row])
  object Collected {
    def apply(df: DataFrame): Collected = Collected(df.columns.toSeq, df.collect().toSeq)
  }

  /** S11 (dataset-scale): JSON directory sink (one JSON object per line,
    * Spark-native part files — parallel writers, no single-task funnel).
    * For the search-request output block — which must produce ONE file at
    * the given path, like the reference's PrintStream — use
    * [[writeResults]]. */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Dataset-scale parquet sink with a TARGET SHARD SIZE — the shape a
    * curated training corpus ships in (readers want uniform ~N-GB files;
    * ten thousand 3 MB part files or three 800 GB ones both hurt).
    * One cheap calibration pass estimates bytes/row from a deterministic
    * sample of rendered row sizes — the leading rows of EVERY partition
    * (`monotonically_increasing_id`'s in-partition counter, a narrow
    * filter), not the leading rows of the frame: a corpus sorted or
    * partitioned by source/length would otherwise feed the estimate one
    * unrepresentative slice and the shards would miss targetBytes in
    * either direction. Hash-minimal ids are not needed — the estimate
    * only sizes files, never changes content. Then
    * `maxRecordsPerFile` bounds every task's output file size while
    * `repartition(ceil(totalBytes / targetBytes))` keeps the file COUNT
    * near the target too (without it, 32 near-empty tasks each open a
    * file). Compression is parquet-snappy's job; the estimate works on
    * the uncompressed render, so real files land comfortably under the
    * target — the safe side of the bound. Unless `manifest = false`, the
    * write finishes with a [[writeManifest]] handoff sidecar. */
  def writeSharded(df: DataFrame, path: String, targetBytes: Long,
      sampleRows: Int = 1000, manifest: Boolean = true): Unit = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    // the input is evaluated three times (calibration, count, write) — pin
    // it once so an expensive upstream plan (a full curation pipeline) is
    // not re-executed per pass; disk-backed, since a dataset-scale sink's
    // input rarely fits memory
    val pinned = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nPart = math.max(1, pinned.rdd.getNumPartitions)
      val perPart = math.max(1L, (sampleRows.toLong + nPart - 1) / nPart)
      val sample = calibrationFrame(pinned, perPart)
        .agg(org.apache.spark.sql.functions.sum("sz"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)))
        .head
      val (sampleBytes, sampled) =
        if (sample.isNullAt(0)) (0L, 0L) else (sample.getLong(0), sample.getLong(1))
      if (sampled == 0L) {
        pinned.write.mode("overwrite").parquet(path)
        if (manifest) writeManifest(df.sparkSession, path)
        return
      }
      val bytesPerRow = math.max(1L, sampleBytes / sampled)
      val rowsPerFile = math.max(1L, targetBytes / bytesPerRow)
      val total = pinned.count()
      val nShards = math.max(1L, (total + rowsPerFile - 1) / rowsPerFile).toInt
      pinned.repartition(nShards)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", rowsPerFile)
        .parquet(path)
      if (manifest) writeManifest(df.sparkSession, path)
    } finally pinned.unpersist()
  }

  /** [[writeSharded]]'s calibration sample: the rendered byte size of the
    * leading `perPart` rows of EVERY partition. ORDER MATTERS here — the
    * `monotonically_increasing_id` sample predicate is nondeterministic,
    * so Catalyst will never push it below a projection
    * (`PushPredicateThroughNonJoin` moves only deterministic conjuncts):
    * the filter must be applied DIRECTLY on the input, with the
    * `to_json` render projected ABOVE it, or the "one cheap calibration
    * pass" JSON-renders the entire corpus before dropping all but
    * ~sampleRows rows. Package-visible so OutputWriterSpec can pin that
    * plan shape (Filter strictly below the StructsToJson Project).
    * `monotonically_increasing_id` = (partitionId << 33) | rowInPartition:
    * masking the low 33 bits takes the first perPart rows of every
    * partition — one narrow pass, no shuffle, deterministic for a given
    * partitioning. octet_length, not length: characters under-count
    * multibyte text and the estimate must err toward SMALLER files,
    * never larger. */
  private[graft] def calibrationFrame(pinned: DataFrame, perPart: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id}
    pinned
      .where(monotonically_increasing_id()
        .bitwiseAND(lit((1L << 33) - 1)) < perPart)
      .select(org.apache.spark.sql.functions.octet_length(
        org.apache.spark.sql.functions.to_json(
          org.apache.spark.sql.functions.struct(
            pinned.columns.map(col).toSeq: _*))).as("sz"))
  }

  /** The dataset-handoff manifest: `_graft_manifest.json` written beside
    * the parquet shards (the `_` prefix keeps it out of Spark's file
    * listing, like `_SUCCESS`), carrying what the RECEIVING side of a
    * curated-corpus handoff checks before training starts — row count,
    * total/max file bytes, file count, and the schema — without re-reading
    * the data: the row count is parquet-footer metadata (Spark's count on
    * an unfiltered parquet scan never touches row data), the byte totals
    * come from one file listing. Written through the Hadoop FS API like
    * the index sidecars, so it lands on whatever filesystem the cluster
    * mounts. Shape:
    * `{"rows": N, "bytes": N, "files": N, "max_file_bytes": N,
    *   "written_by": "graft", "schema": <Spark schema JSON>}`. */
  def writeManifest(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(hp).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val df = spark.read.parquet(path)
    val rows = df.count() // footer-only on an unfiltered parquet scan
    val bytes = files.map(_.getLen).sum
    val maxBytes = if (files.isEmpty) 0L else files.map(_.getLen).max
    val manifest = s"""{"rows":$rows,"bytes":$bytes,""" +
      s""""files":${files.length},"max_file_bytes":$maxBytes,""" +
      s""""written_by":"graft","schema":${df.schema.json}}"""
    val out = fs.create(
      new org.apache.hadoop.fs.Path(hp, "_graft_manifest.json"), true)
    try out.write(manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** S11 (dataset-scale): CSV directory sink with the reference's
    * configurable delimiter/quote/header (request/SearchOutput.java:8-29).
    * Parallel part files; see [[writeResults]] for the single-file
    * output-block sink. */
  def writeCsv(df: DataFrame, path: String, delimiter: String = ";",
      quote: String = "\"", header: Boolean = true): Unit =
    df.write.mode("overwrite")
      .option("sep", delimiter).option("quote", quote)
      .option("header", header.toString)
      .csv(path)

  /** S11: render a (small, already top-k) result frame as one CSV string —
    * the reference writes results row-by-row to a single file
    * (OutputWriter.java:115-131), quoting a value only when it collides
    * with the dialect. Embedded quotes double, per RFC 4180. */
  def toCsv(df: DataFrame, delimiter: String = ";", quote: String = "\"",
      header: Boolean = true): String =
    toCsv(Collected(df), delimiter, quote, header)

  def toCsv(result: Collected, delimiter: String, quote: String,
      header: Boolean): String = {
    def render(v: String): String =
      if (quote.nonEmpty && (v.contains(delimiter) || v.contains(quote) ||
          v.contains("\n") || v.contains("\r")))
        quote + v.replace(quote, quote + quote) + quote
      else v
    val cols = result.columns
    val rows = result.rows.map(_.toSeq.map {
      case null => ""
      case s: Seq[_] => s.mkString("[", ", ", "]")
      case v => String.valueOf(v)
    })
    val body = rows.map(_.map(render).mkString(delimiter))
    ((if (header) Seq(cols.map(render).mkString(delimiter)) else Seq.empty) ++ body)
      .mkString("", "\n", "\n")
  }

  /** S11: tabular console/txt rendering of the first n rows; a truncated
    * listing says so instead of silently dropping rows. */
  def toTabular(df: DataFrame, n: Int = 50): String =
    toTabular(Collected(df.columns.toSeq, df.limit(n + 1).collect().toSeq), n)

  def toTabular(result: Collected, n: Int): String = {
    val cols = result.columns
    val rows = result.rows.take(n).map(_.toSeq.map(v => String.valueOf(v)))
    val widths = cols.indices.map(i => (cols(i).length +: rows.map(_(i).length)).max)
    def line(vals: Seq[String]) =
      vals.zip(widths).map { case (v, w) => v.padTo(w, ' ') }.mkString("| ", " | ", " |")
    val body = (line(cols) +: rows.map(r => line(r))).mkString("\n")
    if (result.rows.length > n) body + s"\n... (showing first $n rows)" else body
  }

  /** S11: route a ranked result to the sink declared by a search request's
    * output block (reference: request/SearchOutput.java — json/csv/txt,
    * CSV dialect options). Every format writes ONE file at `file` — the
    * reference opens a PrintStream on the path (OutputWriter.java:58-76),
    * so "file": "out.json" must yield that file, never a Spark part-file
    * directory. The json branch writes the same rendered SearchResponse
    * array the REST endpoint serves. */
  def writeResults(df: DataFrame, out: graft.engine.RequestParser.OutputSpec,
      file: String, extras: Seq[String] = Seq.empty): Unit =
    writeResults(Collected(df), out, file, extras)

  def writeResults(result: Collected, out: graft.engine.RequestParser.OutputSpec,
      file: String, extras: Seq[String]): Unit = {
    val content = out.format match {
      case "csv" => toCsv(result, out.delimiter, out.quote, out.header)
      case "txt" => toTabular(result, 100000)
      case _ => toJsonResponse(result, extras)
    }
    val p = java.nio.file.Paths.get(file)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** S12: serialize a (combo, rank, id, score) result into the reference's
    * SearchResponse JSON shape — one response object per weight combination,
    * each with its rankedResults array. `extras` names projected
    * extra-attribute columns, serialized per result as the reference's
    * `extra_attributes` map (RankedResult.setExtraAttributes). */
  def toJsonResponse(df: DataFrame, extras: Seq[String] = Seq.empty): String =
    toJsonResponse(Collected(df), extras)

  def toJsonResponse(result: Collected, extras: Seq[String]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createArrayNode()
    // The per-result exact flag (reference: RankedResult.setExact) is only
    // computed by the detailed search (RankAggregate tau bound); serialize
    // it when present and OMIT it otherwise — never assert exactness the
    // engine did not establish.
    val hasExact = result.columns.contains("exact")
    // detailed mode also carries one raw per-attribute similarity column per
    // facet, named s_<facet> — serialized as the reference's per-result
    // attributes map (RankedResult.attributes)
    val attrCols = result.columns.filter(_.startsWith("s_"))
    val extraCols = extras.filter(result.columns.contains)
    val byCombo = result.rows
      .map(r => (r.getLong(r.fieldIndex("combo")), r.getLong(r.fieldIndex("rank")),
        String.valueOf(r.get(r.fieldIndex("id"))), r.getDouble(r.fieldIndex("score")),
        if (hasExact) Some(r.getBoolean(r.fieldIndex("exact"))) else None,
        attrCols.map(c => c.stripPrefix("s_") -> r.getDouble(r.fieldIndex(c))),
        extraCols.map(c => c -> r.get(r.fieldIndex(c)))))
      .groupBy(_._1).toSeq.sortBy(_._1)
    byCombo.foreach { case (_, rows) =>
      val resp = mapper.createObjectNode()
      val ranked = mapper.createArrayNode()
      rows.sortBy(_._2).foreach { case (_, rank, id, score, exact, attrs, extraVals) =>
        val o = mapper.createObjectNode()
        o.put("id", id); o.put("rank", rank); o.put("score", score)
        exact.foreach(e => o.put("exact", e))
        if (attrs.nonEmpty) {
          val a = o.putObject("attributes")
          attrs.foreach { case (name, s) => a.put(name, s) }
        }
        if (extraVals.nonEmpty) {
          val ea = o.putObject("extra_attributes")
          def putVal(tgt: com.fasterxml.jackson.databind.node.ObjectNode,
              name: String, v: Any): Unit = v match {
            case null => tgt.putNull(name)
            case d: java.lang.Double => tgt.put(name, d.doubleValue())
            case f: java.lang.Float => tgt.put(name, f.floatValue())
            case l: java.lang.Long => tgt.put(name, l.longValue())
            case i: java.lang.Integer => tgt.put(name, i.intValue())
            case b: java.lang.Boolean => tgt.put(name, b.booleanValue())
            case bd: java.math.BigDecimal => tgt.put(name, bd)
            case s: Seq[_] => // token-set attributes: a real JSON array
              val arr = tgt.putArray(name)
              s.foreach {
                case e: java.lang.Double => arr.add(e.doubleValue())
                case e: java.lang.Long => arr.add(e.longValue())
                case e => arr.add(String.valueOf(e))
              }
            case other => tgt.put(name, String.valueOf(other))
          }
          extraVals.foreach { case (name, v) => putVal(ea, name, v) }
        }
        ranked.add(o)
      }
      resp.set[com.fasterxml.jackson.databind.JsonNode]("rankedResults", ranked)
      root.add(resp)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }
}
