package graft.operators

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ANN indexes: the serving-path complement to [[AnnSearch]].
  *
  * The on-the-fly paths (`lshTopK` / `ivfTopK`) recompute signatures or
  * centroid assignments over the full corpus per query — the right shape for
  * a one-shot batch job, the wrong one for a served index answering many
  * queries. The index build here pays that scan ONCE and writes the corpus
  * `partitionBy(bucket)`; the query path filters on the partition column, so
  * Catalyst prunes at FILE LISTING time and only ~probes/2^nBits (LSH) or
  * nProbe/k (IVF) of the stored corpus is ever read — no signature
  * recomputation, no full scan, just the probed directories.
  *
  * Answers are identical to the on-the-fly paths by construction: the stored
  * bucket is the same [[AnnSearch.signatureRandom]] / [[AnnSearch.ivfCluster]]
  * value the on-the-fly path computes, and the exact cosine re-rank inside
  * the probed buckets is shared ([[AnnSearch.bruteCosineTopK]]).
  *
  * Indexes are SELF-DESCRIBING: the build writes its parameters
  * (nBits/seed/dim, or the centroid list) to `_graft_meta.json` beside the
  * parquet (the `_` prefix keeps it out of Spark's file listing, like
  * `_SUCCESS`), and the query path loads them — so a served index cannot be
  * probed with stale parameters: omitted parameters resolve from the
  * metadata, and an explicit override that disagrees with it fails loudly
  * instead of silently probing the wrong buckets (which would collapse
  * recall with no error). The reference has no persisted-index counterpart —
  * this is part of the large-scale pipeline suite (SURVEY.md §6).
  *
  * Layout: `path/bucket=B/batch=N/part-*.parquet`. The bucket level is the
  * probe-pruning key; the batch level ([[IndexIO]]) is what makes streaming
  * appends replay-idempotent (a re-delivered micro-batch dynamic-overwrites
  * its own directories instead of appending a second copy — a duplicated
  * vector would rank TWICE in a served probe) and gives [[compact]] its
  * commit bookkeeping.
  */
object AnnIndex {

  /** Partition-directory column name for the bucket key. */
  val BucketCol = "bucket"

  /** Index-parameter sidecar file name. */
  val MetaFile = IndexIO.MetaFile

  final case class LshMeta(dim: Int, nBits: Int, seed: Long)

  /** (label, builder) of each index kind, for the error messages. */
  private val Kinds = Map("lsh" -> ("LSH", "buildLsh"), "ivf" -> ("IVF", "buildIvf"),
    "ivfpq" -> ("IVF-PQ", "buildIvfPq"))

  /** The stored sidecar of a `kind` index, parsed; None for a pre-sidecar
    * index, and a loud failure for an index of another kind. */
  private def readKind[T](spark: SparkSession, path: String, kind: String)
      (parse: JsonNode => T): Option[T] =
    IndexIO.readMeta(spark, path).map { n =>
      requireKind(n, path, kind)
      parse(n)
    }

  private def requireKind(n: JsonNode, path: String, kind: String): Unit =
    require(n.path("kind").asText() == kind,
      s"index at $path is a ${n.path("kind").asText()} index, not ${Kinds(kind)._1}")

  private def lshParams(n: JsonNode) =
    LshMeta(n.path("dim").asInt(), n.path("nBits").asInt(), n.path("seed").asLong())

  /** A JSON array of vectors as a Seq of vectors. */
  private def vectors(n: JsonNode): Seq[Seq[Double]] = {
    import scala.jdk.CollectionConverters._
    n.elements().asScala.map(c => c.elements().asScala.map(_.asDouble()).toSeq).toSeq
  }

  private def codebooks(n: JsonNode): Seq[Seq[Seq[Double]]] = {
    import scala.jdk.CollectionConverters._
    n.path("codebooks").elements().asScala.map(vectors).toSeq
  }

  /** Vectors as a JSON array. Double.toString round-trips exactly through
    * Jackson's parse, so stored centroids compare bit-equal with the
    * build's list. */
  private def json(vs: Seq[Seq[Double]]): String =
    vs.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** The stored rows (id, vec | codes, bucket) of `emb` for the index its
    * sidecar `meta` describes — signed, assigned and encoded with the
    * index's OWN parameters, so a build and every later append bucket the
    * same vector the same way. */
  private def indexRows(emb: DataFrame, id: String, vec: Column, path: String,
      meta: JsonNode): DataFrame =
    meta.path("kind").asText() match {
      case "lsh" =>
        val m = lshParams(meta)
        emb.select(col(id), vec.as("vec"),
          AnnSearch.signatureRandom(vec, m.dim, m.nBits, m.seed).as(BucketCol))
      case "ivf" =>
        emb.select(col(id), vec.as("vec"),
          AnnSearch.ivfCluster(vec, vectors(meta.path("centroids"))).as(BucketCol))
      case "ivfpq" =>
        emb.select(col(id),
          graft.functions.NativeKernels.pqEncode(vec, codebooks(meta)).as("codes"),
          AnnSearch.ivfCluster(vec, vectors(meta.path("centroids"))).as(BucketCol))
      case other => throw new IllegalArgumentException(
        s"index sidecar at $path has unrecognized kind '$other' — " +
          "expected 'lsh', 'ivf', or 'ivfpq'")
    }

  /** Write a whole index — the base (`batch=-1`) rows of `emb` under the
    * sidecar `meta`, then the sidecar — the one writer the builds and
    * [[rebuild]] share. Each bucket is co-located before the partitioned
    * write: without that, EVERY task writes a file into every bucket
    * directory it touches — O(tasks x buckets) small files; with it, one
    * task owns a bucket's rows and each directory gets one well-sized file
    * (AQE coalesces the shuffle where buckets are small). The static
    * overwrite clears the whole path, including any stale batch
    * directories and sidecar from a previous index, so the sidecar is
    * written after the parquet commit. */
  private def writeIndex(emb: DataFrame, id: String, vec: Column, path: String,
      meta: String): Unit = {
    val rows = indexRows(emb, id, vec, path,
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(meta))
    IndexIO.writeBatch(rows.repartition(col(BucketCol)), path, None, Seq(BucketCol),
      append = false)
    IndexIO.writeMeta(emb.sparkSession, path, meta)
  }

  /** Build a persisted LSH index: one full scan computing the seeded
    * random-hyperplane signature, written as one directory per bucket
    * (2^nBits directories) plus the (dim, nBits, seed) sidecar. Vectors
    * land in exactly one bucket, so the index is the corpus size, not a
    * replicated copy. */
  def buildLsh(emb: DataFrame, id: String, vec: Column, dim: Int, path: String,
      nBits: Int = 8, seed: Long = 42L): Unit =
    writeIndex(emb, id, vec, path,
      s"""{"kind": "lsh", "dim": $dim, "nBits": $nBits, "seed": $seed}""")

  /** The LSH index's stored build parameters, or None for a pre-sidecar
    * index. */
  def readLshMeta(spark: SparkSession, path: String): Option[LshMeta] =
    readKind(spark, path, "lsh")(lshParams)

  /** Append a vector batch to a persisted index of ANY flavor: the
    * sidecar's `kind` decides between [[appendLsh]], [[appendIvf]] and
    * [[appendIvfPq]] — self-describing indexes exist precisely so
    * ingestion code need not carry build-time parameters (or even know the
    * flavor). */
  def append(emb: DataFrame, id: String, vec: Column, path: String,
      batchId: Option[Long] = None): Unit =
    appendAs(None, emb, id, vec, path, batchId)

  /** The appends' one body, behind the [[IndexIO.appendBatch]] replay guard
    * (which also repairs a crashed compaction swap, so an index stranded
    * at `__old` is restored instead of read as absent): the sidecar, read
    * once, must exist and, for a flavor-specific append, be of that
    * `kind`. */
  private def appendAs(kind: Option[String], emb: DataFrame, id: String, vec: Column,
      path: String, batchId: Option[Long]): Unit =
    IndexIO.appendBatch(emb.sparkSession, path, batchId) { meta =>
      val n = meta.getOrElse(throw new IllegalArgumentException(kind.fold(
        s"no index sidecar at $path — build with buildLsh/buildIvf/buildIvfPq first")(
        k => s"no ${Kinds(k)._1} index metadata at $path — build with ${Kinds(k)._2} first")))
      kind.foreach(requireKind(n, path, _))
      IndexIO.writeBatch(
        indexRows(emb, id, vec, path, n).repartition(col(BucketCol)), // one file per touched bucket
        path, batchId, Seq(BucketCol))
    }

  /** Grow a persisted LSH index with a new vector batch — the ANN twin of
    * the incremental-dedup ingestion loop ([[graft.operators.Dedup]]
    * `writeBandIndex(append = true)`): the batch is signed with the
    * index's OWN stored parameters (no caller parameters to diverge) and
    * appended into the bucket directories; existing data is never
    * re-signed or rewritten, and queries see old and new vectors alike
    * through the same pruned probe. Appending to a path that is not a
    * metadata-carrying LSH index fails loudly.
    *
    * `batchId` (set by the streaming ingestion loop) makes the append
    * REPLAY-IDEMPOTENT: the batch's rows land in its own `batch=<id>`
    * partition directories via dynamic partition overwrite, so an
    * at-least-once re-delivery rewrites the same directories with the same
    * rows — served answers are unchanged by crash recovery. A batchId a
    * compaction already folded into the base no-ops (see [[compact]]). */
  def appendLsh(emb: DataFrame, id: String, vec: Column, path: String,
      batchId: Option[Long] = None): Unit =
    appendAs(Some("lsh"), emb, id, vec, path, batchId)

  /** Query a persisted LSH index with multi-probe: the probe buckets become
    * a partition-column `isin` filter, pruned at file listing — only
    * `probes` of the 2^nBits directories are read. Identical answers to
    * [[AnnSearch.lshTopK]] with the same (nBits, seed, probes).
    *
    * nBits/seed default to the index's own sidecar metadata (0 = unset);
    * an explicit value that DISAGREES with the sidecar throws — probing
    * with stale parameters silently collapses recall, the one failure mode
    * a served index must not have. Pre-sidecar indexes (no metadata file)
    * require both values, as before.
    *
    * Served-probe contract: the k-row answer is computed EAGERLY inside a
    * bounded retry on stale-file failures ([[IndexIO.retryStale]]), so a
    * probe that races a concurrent [[compact]]'s atomic swap re-lists and
    * succeeds instead of surfacing a FileNotFound to the caller — answers
    * before and after a compaction are identical, so any attempt's result
    * is THE result. Eager execution is the right cost model here too: the
    * result is <= k rows, and a serving path should not hand back a lazy
    * plan that re-scans the index every time the caller touches it. */
  def lshTopK(spark: SparkSession, path: String, id: String, q: Seq[Double],
      k: Int, nBits: Int = 0, seed: Long = 0L, probes: Int = 0): DataFrame =
    executeProbe(spark)(lshTopKPlan(spark, path, id, q, k, nBits, seed, probes))

  /** The lazy probe plan behind [[lshTopK]] — package-visible so specs can
    * assert on the scan (partition pruning, probe-set filter). */
  private[graft] def lshTopKPlan(spark: SparkSession, path: String, id: String,
      q: Seq[Double], k: Int, nBits: Int = 0, seed: Long = 0L,
      probes: Int = 0): DataFrame = {
    requireIndexPath(spark, path)
    val meta = readLshMeta(spark, path)
    def resolve[T](name: String, given: T, unset: T, stored: Option[T]): T =
      (given, stored) match {
        case (`unset`, Some(m)) => m
        case (`unset`, None) => throw new IllegalArgumentException(
          s"index at $path has no metadata sidecar — pass $name explicitly")
        case (g, Some(m)) =>
          require(g == m, s"$name = $g disagrees with the index's stored " +
            s"$name = $m (path $path) — probing with stale parameters " +
            "silently returns wrong buckets")
          g
        case (g, None) => g
      }
    val useBits = resolve("nBits", nBits, 0, meta.map(_.nBits))
    val useSeed = resolve("seed", seed, 0L, meta.map(_.seed))
    // 0 = unset: resolve from the session conf, like AnnSearch.lshTopK
    val nProbes =
      if (probes != 0) probes
      else spark.conf.get(graft.api.Knobs.AnnProbes, "1").toInt
    val sigs = AnnSearch.probeBuckets(q, useBits, useSeed, nProbes)
    val probed = spark.read.parquet(path)
      .where(col(BucketCol).isin(sigs: _*))
    AnnSearch.bruteCosineTopK(probed, id, col("vec"), q, k)
  }

  /** Build a persisted IVF index: one full scan assigning each vector to its
    * nearest centroid (the [[AnnSearch.ivfCluster]] kernel — constant-size
    * codegen at any k), one directory per cluster, plus the centroid-list
    * sidecar. Build `centroids` with [[AnnSearch.kmeans]]. */
  def buildIvf(emb: DataFrame, id: String, vec: Column,
      centroids: Seq[Seq[Double]], path: String): Unit =
    writeIndex(emb, id, vec, path, s"""{"kind": "ivf", "centroids": ${json(centroids)}}""")

  /** The IVF index's stored centroid list, or None for a pre-sidecar index. */
  def readIvfCentroids(spark: SparkSession, path: String): Option[Seq[Seq[Double]]] =
    readKind(spark, path, "ivf")(n => vectors(n.path("centroids")))

  /** Grow a persisted IVF index with a new vector batch, assigned with the
    * index's OWN stored centroids — see [[appendLsh]]. The coarse
    * quantizer is intentionally frozen (the standard served-IVF contract:
    * re-training centroids means rebuilding the index; appending must not
    * silently shift cluster boundaries under existing data). `batchId`
    * makes the append replay-idempotent — see [[appendLsh]]. */
  def appendIvf(emb: DataFrame, id: String, vec: Column, path: String,
      batchId: Option[Long] = None): Unit =
    appendAs(Some("ivf"), emb, id, vec, path, batchId)

  /** Query a persisted IVF index: the query's nProbe nearest centroids
    * become the pruned partition set. Identical answers to
    * [[AnnSearch.ivfTopK]] with the same centroid list.
    *
    * `centroids` defaults to the index's sidecar metadata (empty = unset);
    * an explicit list that disagrees with the sidecar throws — see
    * [[lshTopK]] on why stale parameters must fail loudly. Executes
    * eagerly inside the same bounded stale-listing retry as [[lshTopK]],
    * so probes racing a [[compact]] swap never surface a transient
    * failure. */
  def ivfTopK(spark: SparkSession, path: String, id: String,
      q: Seq[Double], k: Int, nProbe: Int,
      centroids: Seq[Seq[Double]] = Seq.empty): DataFrame =
    executeProbe(spark)(ivfTopKPlan(spark, path, id, q, k, nProbe, centroids))

  /** The lazy probe plan behind [[ivfTopK]] — see [[lshTopKPlan]]. */
  private[graft] def ivfTopKPlan(spark: SparkSession, path: String, id: String,
      q: Seq[Double], k: Int, nProbe: Int,
      centroids: Seq[Seq[Double]] = Seq.empty): DataFrame = {
    requireIndexPath(spark, path)
    val stored = readIvfCentroids(spark, path)
    val cs = (centroids, stored) match {
      case (Seq(), Some(m)) => m
      case (Seq(), None) => throw new IllegalArgumentException(
        s"index at $path has no metadata sidecar — pass centroids explicitly")
      case (g, Some(m)) =>
        require(g == m, s"the given centroid list disagrees with the index's " +
          s"stored one (path $path) — probing with stale centroids silently " +
          "returns wrong buckets")
        g
      case (g, None) => g
    }
    val probed = AnnSearch.probeCentroids(q, cs, nProbe)
    val df = spark.read.parquet(path)
      .where(col(BucketCol).isin(probed: _*))
    AnnSearch.bruteCosineTopK(df, id, col("vec"), q, k)
  }

  /** Embedding-space incremental near-duplicate detection: which vectors of
    * a NEW batch are near-identical (cosine >= minCos) to a vector already
    * in the persisted LSH index — the ANN twin of
    * [[Dedup.incrementalPairs]], for corpora deduped by embedding rather
    * than shingles. The batch is signed with the index's OWN stored
    * parameters and BROADCAST into the bucket-partitioned index read,
    * joined on the bucket key: the stored corpus is never re-signed and
    * never shuffled — per batch, one columnar scan of (id, vec, bucket)
    * with exact cosine verification inside the join. Candidate recall is
    * the LSH banding contract: a true near-dup shares the bucket unless it
    * straddles a hyperplane (near-identical vectors rarely do; lower nBits
    * at build time trades probe cost for recall).
    *
    * Output: (a = batch id, b = indexed id, cos rounded to 6 — the
    * [[AnnSearch.bruteCosineTopK]] determinism contract). `excludeBatch`
    * is the streaming replay guard shared with the dedup loops: on a
    * re-delivered micro-batch the first attempt's own rows are excluded
    * from the candidate read. Compose with [[append]] for the
    * admit-only-novel ingestion loop. */
  def incrementalNearDup(batch: DataFrame, id: String, vec: Column,
      path: String, minCos: Double,
      excludeBatch: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    IndexIO.recoverSwap(spark, path)
    val meta = readLshMeta(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no LSH index metadata at $path — build with buildLsh first"))
    val signed = batch.select(col(id).as("a"), vec.as("va"),
      AnnSearch.signatureRandom(vec, meta.dim, meta.nBits, meta.seed)
        .cast("long").as("__bk"))
    nearDupAgainstIndex(signed, id, path, minCos, excludeBatch)
  }

  /** The cross-pair half of [[incrementalNearDup]], over an ALREADY-SIGNED
    * batch frame (columns a, va, __bk) — package-visible so the streaming
    * loop, which needs the signed frame for its in-batch self-join too,
    * signs each micro-batch exactly once. */
  private[graft] def nearDupAgainstIndex(signed: DataFrame, id: String,
      path: String, minCos: Double, excludeBatch: Option[Long]): DataFrame = {
    val idx = IndexIO.excludeBatch(
        signed.sparkSession.read.parquet(path), excludeBatch)
      .select(col(id).as("b"), col("vec").cast("array<double>").as("vb"),
        col(BucketCol).cast("long").as("__bk"))
    // Broadcast the batch ONLY while its optimizer size estimate stays
    // under the session's broadcast threshold. A streaming micro-batch is
    // usually tiny and the hint skips a shuffle of the (much larger)
    // index side — but the hint OVERRIDES autoBroadcastJoinThreshold, so
    // an unconditional one turns a caller handing a corpus-sized "batch"
    // (bulk backfill through the incremental path) into a forced
    // driver-memory-sized broadcast at 100x scale. Over-threshold batches
    // take the planner's choice (shuffle join, AQE re-plan to broadcast
    // at runtime if the real size turns out small — the TfIdf vocab-join
    // rationale).
    val threshold =
      signed.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val batch =
      if (threshold > 0 &&
          signed.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold)
        broadcast(signed)
      else signed
    batch.join(idx, Seq("__bk"))
      .where(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        round(graft.functions.NativeKernels.cosineSim(col("va"), col("vb")), 6)
          .as("cos"))
      .where(col("cos") >= minCos)
  }

  // ------------------------------------------------------------------ IVF-PQ

  /** Build a persisted IVF-PQ index (the FAISS-default shape at corpus
    * scale): each vector is assigned to its nearest coarse centroid (the
    * partition-pruning key, as in [[buildIvf]]) and stored as its m-byte PQ
    * code ([[graft.functions.NativeKernels.pqEncode]]) — the
    * FULL-PRECISION VECTOR IS NOT STORED. At 100 TB this is the point: a
    * 768-dim float corpus is ~3 KB/vector; its IVF-PQ index is m bytes +
    * one int per vector, small enough to serve from memory, while the full
    * vectors stay in the source table for the caller's exact re-rank of
    * the probe's shortlist ([[Quantize.pqSearch]] shape). Train both
    * stages on a sample: `centroids` via [[AnnSearch.kmeans]], `codebooks`
    * via [[Quantize.pqTrain]]. Because no vectors are stored, [[rebuild]]
    * (re-train from stored vectors) and [[recallProbe]] (needs true
    * distances) do not apply to this flavor — gauge recall against the
    * source table instead. */
  def buildIvfPq(emb: DataFrame, id: String, vec: Column,
      centroids: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
      path: String): Unit =
    writeIndex(emb, id, vec, path, s"""{"kind": "ivfpq", "centroids": ${json(centroids)}, """ +
      s""""codebooks": ${codebooks.map(json).mkString("[", ",", "]")}}""")

  /** The IVF-PQ index's stored (centroids, codebooks), or None for a
    * pre-sidecar index. */
  def readIvfPqMeta(spark: SparkSession, path: String)
      : Option[(Seq[Seq[Double]], Seq[Seq[Seq[Double]]])] =
    readKind(spark, path, "ivfpq")(n => (vectors(n.path("centroids")), codebooks(n)))

  /** Grow a persisted IVF-PQ index: the batch is encoded and assigned with
    * the index's OWN stored codebooks and centroids (both frozen, as in
    * [[appendIvf]] — re-training either means rebuilding). `batchId` makes
    * the append replay-idempotent — see [[appendLsh]]. */
  def appendIvfPq(emb: DataFrame, id: String, vec: Column, path: String,
      batchId: Option[Long] = None): Unit =
    appendAs(Some("ivfpq"), emb, id, vec, path, batchId)

  /** Query a persisted IVF-PQ index: the query's nProbe nearest centroids
    * prune the partition listing (as in [[ivfTopK]]); inside the probed
    * buckets each stored CODE is scored by ADC against the query's lookup
    * table ([[Quantize.pqLut]] — m×nCodes doubles built once on the
    * driver) and the top-k by (rounded distance, id) returned. Distances
    * are PQ approximations; for exact ranks, re-rank the returned ids
    * against the full-precision source vectors ([[Quantize.pqSearch]]
    * shape). Executes eagerly under the stale-listing retry like the other
    * flavors. */
  def ivfPqTopK(spark: SparkSession, path: String, id: String,
      q: Seq[Double], k: Int, nProbe: Int): DataFrame =
    executeProbe(spark)(ivfPqTopKPlan(spark, path, id, q, k, nProbe))

  /** The lazy probe plan behind [[ivfPqTopK]] — see [[lshTopKPlan]]. */
  private[graft] def ivfPqTopKPlan(spark: SparkSession, path: String,
      id: String, q: Seq[Double], k: Int, nProbe: Int): DataFrame = {
    requireIndexPath(spark, path)
    val (cs, books) = readIvfPqMeta(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"index at $path has no metadata sidecar — IVF-PQ probes need the " +
          "stored codebooks"))
    val probed = AnnSearch.probeCentroids(q, cs, nProbe)
    spark.read.parquet(path)
      .where(col(BucketCol).isin(probed: _*))
      .select(col(id),
        round(graft.functions.NativeKernels.pqAdcDist(
          col("codes"), Quantize.pqLut(q, books)), 6).as("adc"))
      .orderBy(col("adc"), col(id)).limit(k)
  }

  /** Recall@k gauge for an IVF-PQ index, measured against the SOURCE
    * table — the maintenance loop [[recallProbe]] cannot provide for this
    * flavor, because the index stores only codes and ground truth needs
    * true distances. `source` must hold the full-precision vectors
    * (including the indexed ids); `sampleN` of the INDEX's stored ids
    * (hash-minimal — deterministic) are re-issued as queries, ground truth
    * is exact L2 top-k from one scan of `source` (all queries broadcast),
    * and the served side is the normal pruned ADC probe. The reading
    * captures BOTH loss sources at once — coarse-quantizer drift (wrong
    * bucket pruned) and PQ distortion (wrong ADC rank inside the bucket) —
    * which is what a serving operator actually experiences. When it sags:
    * more nProbe buys back bucket loss; retraining codebooks/centroids
    * and rebuilding ([[buildIvfPq]]) buys back distortion. */
  def ivfPqRecallProbe(spark: SparkSession, path: String, source: DataFrame,
      id: String, vec: Column, k: Int, nProbe: Int,
      sampleN: Int = 32): Double = {
    val queries = IndexIO.retryStale() {
      requireIndexPath(spark, path)
      spark.read.parquet(path)
        .select(col(id).cast("string").as("qid"))
        .orderBy(md5(col("qid")), col("qid")).limit(sampleN)
        .collect().map(_.getString(0))
    }
    if (queries.isEmpty) return 1.0
    val src = source.select(col(id).as("__sid"),
      col(id).cast("string").as("__qid"), vec.as("__v"))
    val qvs = src.where(col("__qid").isin(queries: _*))
      .select(col("__qid"), col("__v"))
      .collect().map(r => (r.getString(0), r.getSeq[Double](1).toSeq))
    // sampled ids absent from the source (e.g. appended after the source
    // snapshot) simply drop out of the sample
    if (qvs.isEmpty) return 1.0
    // ground truth from ONE scan: every sample query broadcasts into the
    // source (the [[recallProbe]] shape — per-query scans would re-read a
    // corpus-sized table sampleN times); ties on distance break by the
    // NATIVE id, matching the served probe's ordering
    import org.apache.spark.sql.expressions.Window
    val qdf = spark.createDataFrame(qvs.toSeq).toDF("qid", "qv")
    val w = Window.partitionBy(col("qid")).orderBy(col("d"), col("__sid"))
    val truth = src.crossJoin(broadcast(qdf))
      .select(col("qid"), col("__sid"), col("__qid"),
        round(graft.functions.NativeKernels.l2Dist(col("__v"), col("qv")), 6)
          .as("d"))
      .withColumn("r", row_number().over(w)).where(col("r") <= k)
      .select(col("qid"), col("__qid")).collect()
      .groupBy(_.getString(0))
      .map { case (q, rs) => q -> rs.map(_.getString(1)).toSet }
    val recalls = qvs.map { case (qid, qv) =>
      val served = ivfPqTopK(spark, path, id, qv, k, nProbe)
        .select(col(id).cast("string")).collect().map(_.getString(0)).toSet
      val t = truth.getOrElse(qid, Set.empty)
      if (t.isEmpty) 1.0 else served.intersect(t).size.toDouble / t.size
    }
    recalls.sum / recalls.length
  }

  /** A probe against a missing index root throws FileNotFoundException —
    * NOT the "no sidecar" IllegalArgumentException — so the retry wrapper
    * classifies the mid-swap window (the root is briefly absent between
    * [[IndexIO.swapDirs]]'s two renames) as transient and re-probes; a
    * genuinely absent index exhausts the bound and surfaces as FNF. */
  private def requireIndexPath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      throw new java.io.FileNotFoundException(s"no index at $path")
  }

  /** Materialize a probe plan under the bounded stale-listing retry and
    * re-wrap the (<= k) rows as a local DataFrame: the plan is re-BUILT on
    * each attempt (the thunk re-lists the index's files), which is what
    * makes the retry effective — re-running the same stale plan would just
    * fail on the same vanished files. */
  private def executeProbe(spark: SparkSession)(plan: => DataFrame): DataFrame =
    IndexIO.retryStale() {
      val df = plan
      spark.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)
    }

  /** Measured recall@k of the SERVED index against brute force, on a
    * deterministic sample of its own stored vectors — the maintenance
    * gauge for quantizer drift: the IVF coarse quantizer is frozen by
    * design ([[appendIvf]]), so appends whose distribution has drifted
    * from the build-time training set scatter true neighbors across
    * buckets the probe never visits, and recall sags SILENTLY (answers
    * stay plausible, nothing errors). Run this periodically; when it
    * sags, [[rebuild]].
    *
    * `sampleN` stored vectors (hash-minimal ids — deterministic and
    * partitioning-independent) are re-issued as queries; ground truth for
    * ALL of them comes from ONE corpus scan (the queries broadcast into
    * it, the same shape as the streaming ANN batch), served answers from
    * the normal pruned probes. Works on either index flavor (`nProbe` =
    * IVF probe count, or LSH multi-probe buckets). Returns mean
    * |served ∩ truth| / k over the sample.
    *
    * Live-index caveat: the gauge reads the index twice (truth scan, then
    * per-query probes); batches committed BETWEEN the two appear in the
    * served answers but not in the truth set and deflate the reading
    * slightly. Against a heavily-appending index, treat readings as a
    * trend across runs, not a single-sample alarm — or pause ingestion
    * for an exact gauge. */
  def recallProbe(spark: SparkSession, path: String, id: String, k: Int,
      nProbe: Int, sampleN: Int = 32): Double = {
    // the sample and ground-truth scans ride through a concurrent
    // compaction swap exactly like the served probes — recall is the one
    // action documented safe to run against a live, compacting index
    val (queries, truth, kind) = IndexIO.retryStale() {
      requireIndexPath(spark, path)
      val kind = IndexIO.readMeta(spark, path).map(_.path("kind").asText())
        .getOrElse(throw new IllegalArgumentException(
          s"no index sidecar at $path — recallProbe needs a self-describing index"))
      require(kind != "ivfpq", "recallProbe needs the stored full-precision " +
        "vectors for ground truth; an IVF-PQ index stores only codes — gauge " +
        "recall against the source table instead")
      // keep the NATIVE id for ordering: the served side's tie-break
      // (bruteCosineTopK) orders by the id's native type, and a
      // string-cast tie-break here would disagree on tied cosines
      // (common among near-duplicate vectors) — reporting false sag on a
      // healthy index
      val stored = spark.read.parquet(path)
        .select(col(id).as("__oid"), col(id).cast("string").as("__qid"),
          col("vec").cast("array<double>").as("v"))
      val queries = stored
        .orderBy(md5(col("__qid")), col("__qid")).limit(sampleN)
        .collect().map(r => (r.getString(1), r.getSeq[Double](2)))
      if (queries.isEmpty) (queries, Map.empty[String, Set[String]], kind)
      else {
        // ground truth: one scan, all sample queries broadcast against it
        import org.apache.spark.sql.expressions.Window
        val qdf = spark.createDataFrame(queries.toSeq).toDF("qid", "qv")
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("__oid"))
        val truth = stored.crossJoin(broadcast(qdf))
          .select(col("qid"), col("__oid"), col("__qid"),
            round(graft.functions.NativeKernels.cosineSim(col("v"), col("qv")), 6)
              .as("cos"))
          .withColumn("r", row_number().over(w)).where(col("r") <= k)
          .select(col("qid"), col("__qid")).collect()
          .groupBy(_.getString(0))
          .map { case (q, rs) => q -> rs.map(_.getString(1)).toSet }
        (queries, truth, kind)
      }
    }
    if (queries.isEmpty) return 1.0
    val recalls = queries.map { case (qid, qv) =>
      val served = (kind match {
        case "lsh" => lshTopK(spark, path, id, qv, k, probes = nProbe)
        case "ivf" => ivfTopK(spark, path, id, qv, k, nProbe)
        case other => throw new IllegalArgumentException(
          s"index sidecar at $path has unrecognized kind '$other'")
      }).select(col(id).cast("string")).collect().map(_.getString(0)).toSet
      val t = truth(qid)
      if (t.isEmpty) 1.0 else served.intersect(t).size.toDouble / t.size
    }
    recalls.sum / recalls.length
  }

  /** Re-train the IVF coarse quantizer from the CURRENT stored vectors and
    * atomically swap in the re-bucketed index — the recovery action when
    * [[recallProbe]] reports drift-induced sag. The centroid count is
    * preserved; every stored vector is re-assigned and the batch
    * partitions fold into the base (a rebuild subsumes a [[compact]]), so
    * run it like an offline compaction: ingestion streams stopped cleanly.
    * Served probes ride through the swap via their stale-listing retry;
    * answers change only in the way a rebuild exists to change them
    * (buckets reflect today's distribution, `compactedThrough` advances so
    * a batch replayed across the rebuild no-ops). */
  def rebuild(spark: SparkSession, path: String, id: String,
      iters: Int = 10, trainPct: Int = 100): Unit = {
    IndexIO.recoverSwap(spark, path)
    val old = readIvfCentroids(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no IVF index metadata at $path — rebuild re-trains an IVF quantizer"))
    val df = spark.read.parquet(path)
    val maxBatch = df.agg(max(col(IndexIO.BatchCol).cast("long"))).head.getLong(0)
    val through = math.max(maxBatch,
      IndexIO.compactedThrough(IndexIO.readMeta(spark, path)))
    val cents = AnnSearch.kmeans(df, id, col("vec"), old.size, iters, trainPct)
    val tmp = path + "__compacting"
    writeIndex(df, id, col("vec"), tmp,
      s"""{"kind": "ivf", "centroids": ${json(cents)}, "compactedThrough": $through}""")
    IndexIO.swapDirs(spark, path, tmp)
  }

  /** Compact a grown index (any flavor): fold every appended batch back
    * into the `batch=-1` base, restoring the build path's one-well-sized-
    * file-per-bucket discipline. Per-batch appends write one file per
    * touched bucket per batch; after thousands of micro-batches each bucket
    * directory holds thousands of small files and LISTING comes to dominate
    * the probe — eroding exactly the file-pruning advantage the index
    * exists for. Answers are unchanged (same rows, same buckets; only file
    * boundaries move).
    *
    * This is [[IndexIO.compact]] over the bucketed table: the rewrite
    * lands in a temp sibling and swaps in atomically, and the sidecar is
    * preserved with `compactedThrough` set so a committed batch re-delivered
    * ACROSS the compaction no-ops. `through` bounds the fold to batchIds
    * <= it: `None` offline, `batchId - 1` from inside an ingestion loop
    * ([[graft.streaming.StreamOps.annIndexAppendStream]] with
    * `compactEvery`) — the two rules are stated in [[IndexIO]].
    *
    * Serving probes ride through the swap: [[lshTopK]]/[[ivfTopK]] execute
    * under a bounded stale-listing retry, so a probe that listed files
    * just before the swap re-lists and answers — answers before and after
    * are identical, so which side of the swap a probe lands on is
    * unobservable. */
  def compact(spark: SparkSession, path: String,
      through: Option[Long] = None): Unit =
    IndexIO.compact(spark, path, through, partitionCols = Seq(BucketCol))
}
