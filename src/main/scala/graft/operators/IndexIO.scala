package graft.operators

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared plumbing for the persisted incremental indexes ([[AnnIndex]],
  * [[Dedup]]'s band/Hamming/fingerprint indexes) and the streaming emission
  * sink: the batch-partition layout that makes streaming appends
  * replay-idempotent, the `_graft_meta.json` sidecar, and the one commit
  * path every such table goes through — [[appendBatch]] to add a batch,
  * [[compact]] to fold batches back into the base.
  *
  * Replay idempotence: `foreachBatch` is at-least-once — after a mid-batch
  * failure Structured Streaming re-delivers the SAME micro-batch (same
  * batchId, same rows). A plain `mode("append")` would write the batch's
  * rows twice, and a twice-appended vector ranks TWICE in a served ANN
  * probe — crash recovery would change answers. Every index therefore
  * carries a `batch=<id>` partition level: a streaming append writes its
  * micro-batch with DYNAMIC partition overwrite keyed on the batchId, so a
  * re-delivery rewrites the same directories with the same rows instead of
  * appending a second copy — idempotent even when the first attempt died
  * mid-write. Batch values: -1 = the base build (and non-streaming manual
  * appends, which are not subject to replay); >= 0 = streaming batchIds.
  *
  * Compaction: per-batch appends accumulate one file per touched partition
  * per batch; after thousands of micro-batches the file listing dominates
  * the probe. [[compact]] folds committed batches back into `batch=-1`
  * (restoring the base build's one-well-sized-file discipline) and records
  * the highest folded batchId as `compactedThrough` in the sidecar; an
  * append whose batchId is <= that value is a committed batch re-delivered
  * across the compaction and no-ops. The fold's `through` bound has two
  * rules, and every compaction entry point follows them:
  *
  *  - Offline, with the ingestion streams STOPPED CLEANLY (a clean stop
  *    commits its last batch, so nothing older can be re-delivered), pass
  *    `through = None` and every batch folds.
  *  - In-loop, from inside batch N's `foreachBatch` (the streams'
  *    `compactEvery`), pass `through = N - 1`: only batches before the
  *    current one are checkpoint-committed. The current batch's partition
  *    must survive so an at-least-once re-delivery still dynamic-overwrites
  *    it, and so the dedup loops' candidate read can still EXCLUDE it —
  *    folded into the base, a replayed batch would match its own rows and
  *    re-emit its in-batch pairs as cross pairs.
  */
private[graft] object IndexIO {

  /** Batch-partition column: -1 = base build, >= 0 = streaming batchIds. */
  val BatchCol = "batch"

  /** Index-parameter sidecar file name (the `_` prefix keeps it out of
    * Spark's file listing, like `_SUCCESS`). */
  val MetaFile = "_graft_meta.json"

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write the sidecar through the Hadoop FS API, so the index works on any
    * filesystem a 1000-executor cluster would use, not just local disk. */
  def writeMeta(spark: SparkSession, path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, MetaFile)
    val out = fs(spark, path).create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def readMeta(spark: SparkSession, path: String)
      : Option[JsonNode] = {
    val p = new org.apache.hadoop.fs.Path(path, MetaFile)
    val f = fs(spark, path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(mapper.readTree(in)) finally in.close()
    }
  }

  /** Highest batchId already folded into the base by a compaction, read
    * from a sidecar; -1 when never compacted (no sidecar, or no field). */
  def compactedThrough(meta: Option[JsonNode]): Long =
    meta.map(_.path("compactedThrough").asLong(-1L)).getOrElse(-1L)

  /** True when `batchId` names a streaming batch that a compaction already
    * folded into the base — the append must no-op, not re-add the rows. */
  private def alreadyCompacted(meta: Option[JsonNode],
      batchId: Option[Long]): Boolean =
    batchId.exists(_ <= compactedThrough(meta))

  /** The sidecar content at `path` with `edit` applied — all other fields
    * preserved; a sidecar-less table starts from `{}`. */
  def editedMeta(spark: SparkSession, path: String)
      (edit: ObjectNode => Unit): String = {
    val node = readMeta(spark, path)
      .collect { case o: ObjectNode => o }
      .getOrElse(mapper.createObjectNode())
    edit(node)
    mapper.writeValueAsString(node)
  }

  /** The replay guard every append to a batch-partitioned table commits
    * through — the indexes' appends and the emission sink alike. A crashed
    * compaction swap is repaired first: with the table stranded at
    * `__old`, the sidecar would read as absent, the guard would pass a
    * batch the compaction already folded, and the write would start a
    * second, disjoint table at the bare path (which the next
    * [[recoverSwap]] then keeps, deleting the stranded history). Then a
    * batch the sidecar's `compactedThrough` already covers no-ops; any
    * other runs `commit`, handed the sidecar read once here (None when the
    * table has none). */
  def appendBatch(spark: SparkSession, root: String, batchId: Option[Long])
      (commit: Option[JsonNode] => Unit): Unit = {
    recoverSwap(spark, root)
    val meta = readMeta(spark, root)
    if (!alreadyCompacted(meta, batchId)) commit(meta)
  }

  /** Commit `df` under the batch partition level: dynamic-overwrite of the
    * batch's own directories when `batchId` is set (replay-idempotent, and
    * `append` is ignored — the batch directory is the unit of commit);
    * otherwise into `batch=-1`, appended to the table or, with `append`
    * false, replacing it. `partitionCols` are the partition levels ABOVE
    * batch (e.g. the ANN bucket). */
  def writeBatch(df: DataFrame, path: String, batchId: Option[Long],
      partitionCols: Seq[String], append: Boolean = true): Unit = {
    val out = df.withColumn(BatchCol, lit(batchId.getOrElse(-1L)))
      .write.partitionBy(partitionCols :+ BatchCol: _*)
    batchId match {
      case Some(_) => out.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").parquet(path)
      case None => out.mode(if (append) "append" else "overwrite").parquet(path)
    }
  }

  /** Exclude a batch's own partition from an index read — on a replayed
    * batch the first attempt's rows may already be committed, and matching
    * against them would re-emit the batch's in-batch pairs as cross pairs. */
  def excludeBatch(df: DataFrame, batchId: Option[Long]): DataFrame =
    batchId.fold(df)(b => df.where(col(BatchCol).cast("long") =!= b))

  /** Compact a batch-partitioned table in place — the one fold-and-swap
    * every index and the sink share. Repairs a previously crashed swap
    * first, so re-running a failed compaction works. Each of `tables`
    * (subdirectories of `root`; "" = the root itself) is rewritten under
    * `<root>__compacting` with batchIds <= `through` (all, when None; see
    * the object doc for which bound a caller passes) folded into
    * `batch=-1` and newer batch partitions carried over; then
    * the highest folded batchId is stamped as `compactedThrough` and the
    * rewrite swaps in atomically ([[swapDirs]]).
    *
    * File layout: with `partitionCols` (the levels above batch, e.g. the
    * ANN bucket) each partition's rows are co-located and land in one
    * file; a flat table is sized to ~one file per `maxPartitionBytes`.
    * `transform` runs over the rows being folded only (the Hamming index's
    * df cap); newer batch partitions are carried over unchanged. A table
    * the fold leaves empty keeps one schema-bearing file under `batch=-1`,
    * so it reads back (and compacts again) as an empty table. */
  private[graft] def compact(spark: SparkSession, root: String,
      through: Option[Long], tables: Seq[String] = Seq(""),
      partitionCols: Seq[String] = Seq.empty,
      transform: DataFrame => DataFrame = identity): Unit = {
    recoverSwap(spark, root)
    val tmp = root + "__compacting"
    def under(dir: String, table: String) = if (table.isEmpty) dir else s"$dir/$table"
    val folded = tables.map { table =>
      val df = spark.read.parquet(under(root, table))
      val maxBatch = df.agg(max(col(BatchCol).cast("long"))).head match {
        case r if r.isNullAt(0) => -1L // an empty table
        case r => r.getLong(0)
      }
      val fold = math.min(through.getOrElse(maxBatch), maxBatch)
      val b = col(BatchCol).cast("long")
      val out = transform(df.where(b <= fold)).withColumn(BatchCol, lit(-1L))
        .unionByName(df.where(b > fold).withColumn(BatchCol, b))
      (if (partitionCols.nonEmpty) out.repartition(partitionCols.map(col): _*)
       else out.repartition(df.queryExecution.analyzed.collectFirst {
         case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
           val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
           math.max(1L, (l.relation.sizeInBytes + maxSplit - 1) / maxSplit).toInt
       }.getOrElse(1)))
        .write.mode("overwrite").partitionBy(partitionCols :+ BatchCol: _*)
        .parquet(under(tmp, table))
      if (!hasData(spark, under(tmp, table)))
        out.limit(0).drop(BatchCol).write.parquet(s"${under(tmp, table)}/$BatchCol=-1")
      fold
    }.max
    writeMeta(spark, tmp, editedMeta(spark, root)(n => n.put("compactedThrough",
      math.max(folded, n.path("compactedThrough").asLong(-1L)))))
    swapDirs(spark, root, tmp)
  }

  /** Atomically replace `path` with the rewritten `tmp`: the old directory
    * moves aside first, so a crash at any point leaves either the old or
    * the new index fully intact (plus at most a leftover `__old`/tmp dir) —
    * and [[recoverSwap]] can always finish or roll back from what remains. */
  def swapDirs(spark: SparkSession, path: String, tmp: String): Unit = {
    val f = fs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    if (f.exists(old)) f.delete(old, true)
    require(f.rename(p, old), s"could not move $path aside for the swap")
    require(f.rename(new org.apache.hadoop.fs.Path(tmp), p),
      s"could not move $tmp into place (old index preserved at $old)")
    f.delete(old, true)
    // The swap happened UNDERNEATH Spark's shared FileStatusCache: a
    // same-session reader (a racing probe, or simply the NEXT compact's
    // own spark.read) can otherwise be served the pre-swap leaf-file list
    // and fail mid-job with FILE_NOT_EXIST on the deleted files. Probes
    // carry [[retryStale]] for the cross-session case; invalidating here
    // makes the in-session case deterministic instead of retry-lucky.
    spark.catalog.refreshByPath(path)
  }

  /** Repair a [[swapDirs]] interrupted between its two renames. Without
    * this, a crash in that window leaves the index only at `<path>__old`,
    * and a bare `exists(path)` bootstrap (the streaming loops') concludes
    * "no index yet" and silently rebuilds a fresh index from the replayed
    * batch alone — the accepted corpus is lost and later batches re-admit
    * duplicates with no error. The on-disk states are unambiguous:
    *
    *  - `path` present: the swap (if any) completed; a leftover `__old` is
    *    the superseded index — delete it. A leftover `__compacting` is a
    *    compact that died BEFORE the swap; the next compact's
    *    `mode("overwrite")` rewrites it, so it is left alone.
    *  - `path` absent, `__old` present, `__compacting` present with its
    *    sidecar: the crash hit between the renames ([[swapDirs]] only moves
    *    `path` aside after `tmp` is fully written, sidecar last) — finish
    *    the swap: `tmp` -> `path`, drop `__old`.
    *  - `path` absent, `__old` present, `__compacting` absent/incomplete:
    *    not reachable from [[swapDirs]]'s ordering, but rolled back
    *    defensively: `__old` -> `path`.
    *
    * Idempotent and cheap (a few `exists` calls) — every index bootstrap
    * and compaction entry point calls it before trusting `exists(path)`. */
  def recoverSwap(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    if (f.exists(p)) { if (f.exists(old)) f.delete(old, true) }
    else if (f.exists(old)) {
      val tmp = new org.apache.hadoop.fs.Path(path + "__compacting")
      if (f.exists(new org.apache.hadoop.fs.Path(tmp, MetaFile))) {
        require(f.rename(tmp, p), s"swap recovery: could not move $tmp to $path")
        f.delete(old, true)
      } else require(f.rename(old, p),
        s"swap recovery: could not restore $old to $path")
      // repaired by rename — drop any cached listing (swapDirs rationale)
      spark.catalog.refreshByPath(path)
    }
  }

  /** True when the failure is a stale file listing — a concurrent
    * [[swapDirs]] renamed the index out from under a reader between its
    * file listing and its scan (or during the listing itself, when the
    * path is briefly absent between the two renames). These are the only
    * failures a probe should retry: the swap window is two renames wide,
    * so one bounded retry re-lists and succeeds. */
  private[graft] def isStaleListing(t: Throwable): Boolean = {
    var c: Throwable = t
    var depth = 0
    while (c != null && depth < 20) {
      c match {
        case _: java.io.FileNotFoundException => return true
        case _ =>
          val m = Option(c.getMessage).getOrElse("")
          if (m.contains("PATH_NOT_FOUND") || m.contains("does not exist") ||
              m.contains("FileNotFoundException")) return true
      }
      c = if (c.getCause eq c) null else c.getCause
      depth += 1
    }
    false
  }

  /** Run `body` with a bounded retry on [[isStaleListing]] failures — the
    * serving-side half of the compaction-swap contract: [[swapDirs]] keeps
    * the index readable except for a two-rename window, and a reader that
    * lands in that window re-lists on the next attempt. Any other failure
    * (and stale failures past the bound) propagate unchanged. */
  private[graft] def retryStale[A](attempts: Int = 6, backoffMs: Long = 25)
      (body: => A): A = {
    var attempt = 1
    while (true) {
      try return body
      catch {
        case t: Throwable if isStaleListing(t) && attempt < attempts =>
          Thread.sleep(backoffMs * attempt)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** True when `path` holds at least one parquet DATA file (not just
    * `_SUCCESS`/sidecars). An index append of an EMPTY batch commits a
    * file-less directory, and `spark.read.parquet` on one throws "unable
    * to infer schema" — so the streaming bootstraps must treat such a
    * directory as "no index yet", not as an index. Short-circuits at the
    * first data file, so the recursive listing stays O(1) on a healthy
    * index. */
  def hasData(spark: SparkSession, path: String): Boolean = {
    val f = fs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    f.exists(p) && {
      val it = f.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val n = it.next().getPath.getName
        found = !(n.startsWith("_") || n.startsWith("."))
      }
      found
    }
  }
}
