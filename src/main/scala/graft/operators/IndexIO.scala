package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared plumbing for the persisted incremental indexes ([[AnnIndex]],
  * [[Dedup]]'s band/fingerprint indexes): the batch-partition layout that
  * makes streaming appends replay-idempotent, the `_graft_meta.json`
  * sidecar, and the compaction rewrite.
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
  * the probe. [[AnnIndex.compact]] / [[Dedup.compactBandIndex]] fold all
  * committed batches back into `batch=-1` (restoring the base build's
  * one-well-sized-file discipline) and record the highest folded batchId as
  * `compactedThrough` in the sidecar; an append whose batchId is <= that
  * value is a committed batch re-delivered across the compaction and
  * no-ops. Compact while ingestion streams are STOPPED CLEANLY (a clean
  * stop commits its last batch, so nothing older can be re-delivered).
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
      : Option[com.fasterxml.jackson.databind.JsonNode] = {
    val p = new org.apache.hadoop.fs.Path(path, MetaFile)
    val f = fs(spark, path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(mapper.readTree(in)) finally in.close()
    }
  }

  /** Highest batchId already folded into the base by a compaction; -1 when
    * never compacted (no sidecar, or no field). */
  def compactedThrough(spark: SparkSession, path: String): Long =
    readMeta(spark, path).map(_.path("compactedThrough").asLong(-1L)).getOrElse(-1L)

  /** True when `batchId` names a streaming batch that a compaction already
    * folded into the base — the append must no-op, not re-add the rows. */
  def alreadyCompacted(spark: SparkSession, path: String,
      batchId: Option[Long]): Boolean =
    batchId.exists(_ <= compactedThrough(spark, path))

  /** The sidecar content with `compactedThrough` set to
    * max(existing, through) — all other fields preserved. A sidecar-less
    * index (band/fingerprint) gets a fresh `{"compactedThrough": N}`. */
  def metaWithCompactedThrough(spark: SparkSession, path: String,
      through: Long): String = {
    val node = readMeta(spark, path)
      .collect { case o: com.fasterxml.jackson.databind.node.ObjectNode => o }
      .getOrElse(mapper.createObjectNode())
    node.put("compactedThrough", math.max(through, node.path("compactedThrough").asLong(-1L)))
    mapper.writeValueAsString(node)
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

  /** Rewrite one batch-partitioned table at `tmp`, folding batchIds <=
    * `through` (all, when None) into `batch=-1` sized to ~one file per
    * `maxPartitionBytes`, newer batch partitions carried over unchanged;
    * returns the highest folded batchId. */
  private[graft] def compactTable(spark: SparkSession,
      dir: String, tmp: String, through: Option[Long],
      transform: DataFrame => DataFrame = identity): Long = {
    val df = spark.read.parquet(dir)
    val maxBatch = df.agg(max(col(BatchCol).cast("long"))).head.getLong(0)
    val fold = math.min(through.getOrElse(maxBatch), maxBatch)
    val nFiles = df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
        math.max(1L, (l.relation.sizeInBytes + maxSplit - 1) / maxSplit).toInt
    }.getOrElse(1)
    val b = col(BatchCol).cast("long")
    transform(df).withColumn(BatchCol, when(b <= fold, lit(-1L)).otherwise(b))
      .repartition(nFiles)
      .write.mode("overwrite").partitionBy(BatchCol).parquet(tmp)
    fold
  }

  /** Compact one flat batch-partitioned table in place: fold committed
    * batches into the base ([[compactTable]]), stamp `compactedThrough` in
    * the sidecar, atomically swap ([[swapDirs]]) — the whole discipline the
    * fingerprint index and the streaming emission sink share. Repairs a
    * previously crashed swap first, so re-running a failed compaction
    * works. */
  private[graft] def compactFlatTable(spark: SparkSession, path: String,
      through: Option[Long]): Unit = {
    recoverSwap(spark, path) // a crashed swap leaves the table at __old
    val tmp = path + "__compacting"
    val folded = compactTable(spark, path, tmp, through)
    writeMeta(spark, tmp, metaWithCompactedThrough(spark, path, folded))
    swapDirs(spark, path, tmp)
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
