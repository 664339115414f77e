package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured Streaming operators for the training-data pipeline. The
  * reference engine has no streaming at all (SURVEY.md §2.7); these are the
  * charter's stream-side additions, built on watermarks + windowed
  * aggregation + watermarked stream dedup so state is bounded and the plan
  * scales out with the shuffle.
  */
object StreamOps {

  /** Sliding/tumbling windowed counts per key with a watermark bound on
    * state. `events` must be a streaming DataFrame with an event-time
    * column. */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
      window: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col(keyCol), col("cnt"))

  /** Streaming exact dedup on a key within the watermark horizon — the
    * stream-side twin of Dedup.exactGroups. State is dropped once the
    * watermark passes, so it is bounded by (arrival rate x horizon). */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, keyCols: Seq[String],
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming near-duplicate suppression (conservative): a document is
    * dropped only when EVERY one of its MinHash band keys was already seen
    * within the watermark horizon — dropDuplicatesWithinWatermark removes
    * duplicate band ROWS, so a document survives if at least one band is
    * novel. P(all b bands collide | similarity s) = s^(r*b), ~1 for exact
    * and extreme near-duplicates, which is what a streaming filter should
    * suppress without false positives. The aggressive drop-on-ANY-band
    * variant needs a windowed per-document band count (group by id, keep
    * when count == b) at the cost of emission delayed to window close;
    * batch dedup (Dedup.minhashPairs) remains the exact-recall path.
    * State = one entry per band key within the horizon. */
  def minhashDedupStream(docs: DataFrame, tsCol: String, idCol: String,
      textCol: String, watermark: String): DataFrame = {
    import graft.functions.TextKernels
    import graft.operators.Dedup
    val sh = graft.functions.NativeKernels.wordShingles2(col(textCol))
    docs
      .select(col(tsCol), col(idCol), posexplode(
        graft.functions.NativeKernels.bandKeys(
          sh, Dedup.NumHashes, Dedup.NumBands, Dedup.RowsPerBand))
        .as(Seq("band", "bv")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("band", "bv")
      .dropDuplicatesWithinWatermark(idCol) // watermark propagates; re-defining it is disallowed
      .select(col(tsCol), col(idCol))
  }

  /** One closed session: emitted when the inactivity gap elapses, either
    * observed in-batch or by event-time state timeout. */
  final case class Session(key: String, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)

  // not `private`: Catalyst's generated (de)serializers need access
  final case class SessionEvent(key: String, ts: java.sql.Timestamp)
  final case class SessionState(start: Long, end: Long, n: Long)

  /** Streaming sessionization with custom state — the stream-side twin of
    * the batch sessionize query, built on `flatMapGroupsWithState` with an
    * event-time timeout: per-key state holds the open session (start, end,
    * count); an event within `gapMs` of the open session extends it, a
    * later event closes and emits it; when the watermark passes
    * (end + gap), the timeout closes the session with no further event.
    * State is one fixed-size record per active key — bounded by key
    * cardinality, not stream length. */
  def sessionizeStream(events: DataFrame, tsCol: String, keyCol: String,
      gapMs: Long, watermark: String): org.apache.spark.sql.Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    def t(ms: Long) = new java.sql.Timestamp(ms)
    events.select(col(keyCol).cast("string").as("key"), col(tsCol).as("ts"))
      .withWatermark("ts", watermark)
      .as[SessionEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(key, t(s.start), t(s.end), s.n))
          } else {
            var closed = List.empty[Session]
            var cur = state.getOption
            it.map(_.ts.getTime).toSeq.sorted.foreach { e =>
              cur = cur match {
                case Some(s) if e - s.end <= gapMs =>
                  // min() so a late-but-within-watermark event arriving in a
                  // LATER batch can still extend the session backwards,
                  // matching the batch twin's sorted-event semantics
                  Some(SessionState(math.min(s.start, e), math.max(s.end, e), s.n + 1))
                case Some(s) =>
                  closed ::= Session(key, t(s.start), t(s.end), s.n)
                  Some(SessionState(e, e, 1))
                case None => Some(SessionState(e, e, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming latest-per-key compaction — the stream-side twin of the
    * batch q_compact (CDC keep-newest-version). A stateful max(struct)
    * aggregate: the kept record never regresses (a stale arrival cannot
    * displace a newer one), and state is one struct per key — bounded by
    * key cardinality, not stream length. Emission caveat: update mode
    * re-emits a key's CURRENT maximum whenever any input arrives for it,
    * including when that input was stale and the maximum is unchanged —
    * consumers must upsert by key, not treat each emitted row as "a newer
    * version arrived". The struct comparison makes the surviving row
    * deterministic when `tiebreakCol` is unique. */
  def compactLatest(events: DataFrame, tsCol: String, keyCol: String,
      tiebreakCol: String, valueCols: Seq[String]): DataFrame = {
    val rec = struct(col(tsCol).as("ts") +: col(tiebreakCol).as("tb") +:
      valueCols.map(col): _*)
    events
      .groupBy(col(keyCol))
      .agg(max(rec).as("m"))
      .select(col(keyCol) +: col("m.ts").as(tsCol) +:
        col("m.tb").as(tiebreakCol) +: valueCols.map(c => col(s"m.$c").as(c)): _*)
  }

  /** Streaming similarity search: answer a STREAM of query vectors against
    * a static vector corpus. Structured Streaming cannot rank arbitrary
    * state incrementally, so this uses the standard foreachBatch shape:
    * each micro-batch of queries BROADCASTS into one scan of the (cached)
    * corpus — all queries in the batch share the scan — scores with the
    * native cosine kernel, and ranks per query.
    *
    * Candidate generation follows the batch ANN operators: by default the
    * corpus is pre-bucketed by [[graft.operators.AnnSearch.signature8]] and
    * a query only scores its own bucket (the q_ann_lsh shape); `brute =
    * true` scores the full corpus per query (exact, the q_ann_cosine
    * shape). The per-query ranking window runs over candidate rows only.
    * Results (query_id, vec_id, cos, rank) append to `writeBatch`
    * ([[parquetSink]] for exactly-once delivery).
    *
    * Cache lifecycle: the prepared corpus projection is cached for the
    * stream's lifetime (every micro-batch scans it) and unpersisted when
    * the returned query terminates; stop the query before starting a
    * replacement to avoid holding two copies. */
  def annStream(queryStream: DataFrame, queryId: String, queryVec: String,
      corpus: DataFrame, corpusId: String, corpusVec: String, k: Int,
      brute: Boolean = false)(writeBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.AnnSearch
    val base = corpus.select(col(corpusId).as("vec_id"), col(corpusVec).as("v"))
    // the LSH signature column only exists on the bucketed path
    val prepared = (if (brute) base
      else base.withColumn("sig", AnnSearch.signature8(col("v")))).cache()
    queryStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val q = batch.select(col(queryId).as("query_id"), col(queryVec).as("qv"))
        .withColumn("qsig", AnnSearch.signature8(col("qv")))
      val joined =
        if (brute) prepared.crossJoin(broadcast(q))
        else prepared.join(broadcast(q), col("sig") === col("qsig"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
      val ranked = joined
        .select(col("query_id"), col("vec_id"),
          round(graft.functions.NativeKernels.cosineSim(col("v"), col("qv")), 6).as("cos"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= k)
      writeBatch(ranked, batchId)
    }.start()
      .tap(q => {
        val spark = corpus.sparkSession
        spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
          override def onQueryStarted(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryProgress(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
          override def onQueryTerminated(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
            if (e.id == q.id) { prepared.unpersist(); spark.streams.removeListener(this) }
        })
      })
  }

  private implicit class Tap[A](private val a: A) extends AnyVal {
    def tap(f: A => Unit): A = { f(a); a }
  }

  /** Streaming vector ingestion into a persisted ANN index
    * ([[graft.operators.AnnIndex]]): each micro-batch is signed with the
    * index's stored sidecar parameters and appended into its bucket
    * directories — the ANN twin of [[incrementalDedupStream]]'s accept
    * step. Works against any flavor: the sidecar's `kind` routes to the
    * LSH, IVF or IVF-PQ append (the IVF quantizer stays frozen by design).
    * Served probes (`AnnIndex.lshTopK`) see every committed batch; the
    * index must exist (`buildLsh`) before the stream starts.
    *
    * The append is keyed on the micro-batch id, so `foreachBatch`'s
    * at-least-once re-delivery after a crash REWRITES the batch's own
    * partition instead of appending a second copy — a duplicated vector
    * would rank twice in a served probe and change answers.
    *
    * `compactEvery` = N > 0 folds the accumulated batch partitions back
    * into the base every N batches ([[graft.operators.AnnIndex.compact]]),
    * keeping files-per-bucket bounded over an unbounded run instead of
    * growing one file per touched bucket per batch forever — see
    * [[ingestLoop]]. */
  def annIndexAppendStream(vectors: DataFrame, idCol: String, vecCol: String,
      indexPath: String, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ingestLoop(vectors, compactEvery)(
      (batch, batchId) => graft.operators.AnnIndex.append(batch, idCol, col(vecCol),
        indexPath, batchId = Some(batchId)),
      graft.operators.AnnIndex.compact(_, indexPath, _))

  /** The one ingestion-loop driver every index-backed stream here runs on:
    * `foreachBatch` runs `body` on each micro-batch, then, every
    * `compactEvery`-th batchId (batch 0 has nothing older to fold),
    * `compact` with `through = batchId - 1` — the in-loop bound
    * [[graft.operators.IndexIO]] states. The compaction runs inside the
    * micro-batch (that interval blocks for its duration — size the cadence
    * to taste); its crash-safety is the atomic swap. */
  private def ingestLoop(input: DataFrame, compactEvery: Int)(
      body: (DataFrame, Long) => Unit,
      compact: (org.apache.spark.sql.SparkSession, Option[Long]) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val ce = resolveCompactEvery(input, compactEvery)
    input.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      body(batch, batchId)
      if (compactDue(ce, batchId)) compact(batch.sparkSession, Some(batchId - 1))
    }.start()
  }

  /** True when the ingestion loop should fold committed batches on this
    * micro-batch: every `compactEvery`-th batchId, skipping batch 0 (there
    * is nothing older to fold). */
  private def compactDue(compactEvery: Int, batchId: Long): Boolean =
    compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0

  /** Resolve a stream's `compactEvery` argument: an explicit value wins;
    * 0 (the default) falls back to the
    * [[graft.api.Knobs.AnnIndexCompactEvery]] session conf — the same
    * SET-table deployment-knob pattern as the dedup checkpoint cadence, so
    * an operator can turn in-loop compaction on without a code change.
    * Negative = explicitly off even when the conf is set.
    *
    * Resolved ONCE, from the DEFINING session, when the stream is built —
    * Structured Streaming hands `foreachBatch` a cloned session whose conf
    * is a snapshot from stream start, so reading the knob per batch would
    * make a live `SET` appear to work while the clone silently kept the
    * old value. The honest contract: the knob applies to streams STARTED
    * after it is set; restart a running stream to change its cadence. */
  private def resolveCompactEvery(df: DataFrame, given: Int): Int =
    if (given != 0) math.max(given, 0)
    else df.sparkSession.conf.get(graft.api.Knobs.AnnIndexCompactEvery, "0").toInt

  /** The per-batch crash contract the index-backed pair loops share
    * ([[dedupBatch]], [[annDedupBatch]], [[signatureBatch]], the frame
    * sequence loops and [[exactBatch]]), written once:
    *
    *  1. repair a crashed compaction swap, then test the `probed` table
    *     for data — a bare exists() would read an index stranded at
    *     `__old` as "no index yet" and silently restart the corpus from
    *     this batch, and a file-less directory (an empty batch's commit)
    *     must likewise read as absent, not wedge every later read on
    *     schema inference;
    *  2. union the in-batch result with the result against the index —
    *     only when the index has data; `vsIndex`'s read must exclude the
    *     in-flight `batchId` (on a replay its first attempt's rows may
    *     already be committed);
    *  3. cache and count the union BEFORE the index grows: the index read
    *     is lazy, and appending first would make the batch collide with
    *     its own just-written rows;
    *  4. emit it to `writeBatch`;
    *  5. `accept` (commit to the index) only a non-empty input — an empty
    *     batch must not commit a file-less directory;
    *  6. unpersist.
    *
    * `prepare` maps the batch to the cached input the steps share; `merge`
    * folds the union before it is pinned. */
  private def pinThenCommit(batch: DataFrame, batchId: Long, indexRoot: String,
      probed: String, writeBatch: (DataFrame, Long) => Unit)(
      inBatch: DataFrame => DataFrame, vsIndex: DataFrame => DataFrame,
      accept: DataFrame => Unit, prepare: DataFrame => DataFrame = identity,
      merge: DataFrame => DataFrame = identity): Unit = {
    val spark = batch.sparkSession
    graft.operators.IndexIO.recoverSwap(spark, indexRoot)
    val hasIndex = graft.operators.IndexIO.hasData(spark, probed)
    val in = prepare(batch).cache()
    try {
      val out = merge(if (hasIndex) inBatch(in).union(vsIndex(in)) else inBatch(in))
        .cache()
      try {
        out.count()
        writeBatch(out, batchId)
        if (!in.isEmpty) accept(in)
      } finally out.unpersist()
    } finally in.unpersist()
  }

  /** EXACTLY-ONCE parquet emission sink for the streaming loops'
    * `writeBatch` parameter — closes the last at-least-once edge of the
    * ingestion story with zero consumer burden.
    *
    * `foreachBatch` is at-least-once: after a mid-batch crash the same
    * micro-batch (same batchId, same rows — the loops' emissions are
    * deterministic and replay-idempotent on the index side) is delivered
    * again, so a plain append sink would hold the batch's rows twice. This
    * sink commits the EMITTED rows through the very replay guard the
    * indexes commit through ([[graft.operators.IndexIO.appendBatch]]):
    * each batch lands in its own `batch=<id>` partition via dynamic
    * partition overwrite, so a re-delivery rewrites its own directories
    * with the same rows — the sink's contents after any number of replays
    * equal the contents of one clean run. An empty batch writes nothing (a
    * file-less parquet directory would wedge later schema inference).
    *
    * Read the sink with [[readSink]]; bound its directory growth over an
    * unbounded run with [[compactSink]] (batches a compaction folded are
    * no-opped on re-delivery via the sidecar's `compactedThrough`, and a
    * sink stranded at `__old` by a crashed compaction is repaired before
    * the write, same as the indexes). The emitted frame must not itself
    * carry a `batch` column. */
  def parquetSink(path: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      require(!batch.columns.contains(graft.operators.IndexIO.BatchCol),
        s"the emitted frame already has a '${graft.operators.IndexIO.BatchCol}' " +
          "column — the sink needs that name for its replay partition")
      graft.operators.IndexIO.appendBatch(batch.sparkSession, path, Some(batchId)) { _ =>
        if (!batch.isEmpty)
          graft.operators.IndexIO.writeBatch(batch, path, Some(batchId), Seq.empty)
      }
    }

  /** The rows a [[parquetSink]] holds, without the internal replay
    * partition column. */
  def readSink(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop(graft.operators.IndexIO.BatchCol)

  /** Fold a [[parquetSink]]'s accumulated batch partitions into its base —
    * the sink twin of the index compactions: per-batch dynamic overwrites
    * leave one directory per batch, and an unbounded run would grow an
    * unbounded listing. Same `through` rules as the index folds
    * ([[graft.operators.IndexIO]]). */
  def compactSink(spark: org.apache.spark.sql.SparkSession, path: String,
      through: Option[Long] = None): Unit =
    graft.operators.IndexIO.compact(spark, path, through)

  /** Streaming incremental near-dup dedup — the production ingestion loop
    * over a persisted band index. Per accepted micro-batch:
    *
    *  1. in-batch pairs: [[graft.operators.Dedup.minhashPairs]] over the
    *     batch alone;
    *  2. corpus pairs: [[graft.operators.Dedup.incrementalPairs]] against
    *     the index built by all PRIOR batches — the stored corpus is never
    *     re-hashed, so per-batch cost is O(batch), not O(corpus);
    *  3. accept: [[graft.operators.Dedup.writeBandIndex]](append = true)
    *     adds this batch's band keys + shingle sets, so every LATER batch —
    *     including a late duplicate of the earliest one — checks against it.
    *
    * The union of all emitted pair sets equals one batch `minhashPairs`
    * over the whole corpus, up to pair orientation (cross pairs emit as
    * (new id, indexed id)) — StreamOpsSpec proves it. The pair frame is
    * materialized BEFORE step 3 appends ([[pinThenCommit]]). `indexPath`
    * must not already exist unless resuming an earlier run of the same
    * stream.
    *
    * Crash recovery: the INDEX is replay-idempotent — the accept step
    * dynamic-overwrites the batch's own `batch=<id>` partition, and the
    * candidate join excludes that partition, so a re-delivered batch
    * leaves the index bit-identical and emits the SAME pair set as the
    * first attempt (StreamOpsSpec proves both). `writeBatch` can therefore
    * see that identical pair set twice (foreachBatch is at-least-once);
    * pass [[parquetSink]] and the delivery is EXACTLY-ONCE end to end — a
    * replay rewrites its own output partition. A hand-rolled sink must
    * upsert by (batchId, pair) or be otherwise idempotent.
    *
    * `compactEvery` = N > 0 folds committed batch partitions into the base
    * every N batches ([[ingestLoop]]). */
  def incrementalDedupStream(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, minJ: Double, compactEvery: Int = 0)
      (writeBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ingestLoop(docs, compactEvery)(
      dedupBatch(_, _, idCol, textCol, indexPath, minJ, writeBatch),
      graft.operators.Dedup.compactBandIndex(_, indexPath, _))

  /** One [[incrementalDedupStream]] micro-batch — package-visible so the
    * replay-idempotence spec can re-deliver a batch exactly as
    * foreachBatch would after a crash. */
  private[graft] def dedupBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, indexPath: String, minJ: Double,
      writeBatch: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.Dedup
    val shingles = graft.functions.NativeKernels.wordShingles2(col(textCol))
    pinThenCommit(batch, batchId, indexPath, s"$indexPath/bands", writeBatch)(
      inBatch = Dedup.minhashPairs(_, idCol, shingles, minJ),
      vsIndex = Dedup.incrementalPairs(_, idCol, shingles, indexPath, minJ,
        excludeBatch = Some(batchId)),
      accept = Dedup.writeBandIndex(_, idCol, shingles, indexPath,
        batchId = Some(batchId)))
  }

  /** Streaming embedding-space dedup — the ANN twin of
    * [[incrementalDedupStream]], for corpora deduped by embedding rather
    * than shingles. Per micro-batch, over a persisted LSH index
    * (`AnnIndex.buildLsh` must run before the stream starts — the sidecar
    * carries the hyperplane parameters every batch signs with):
    *
    *  1. in-batch pairs: bucket self-join of the batch's signatures,
    *     (a < b) orientation, exact cosine >= minCos verified inside;
    *  2. cross pairs: [[graft.operators.AnnIndex.incrementalNearDup]]
    *     against the index built by all PRIOR batches — (a = batch id,
    *     b = indexed id), the stored corpus never re-signed or shuffled;
    *  3. accept: [[graft.operators.AnnIndex.append]] adds the batch's
    *     vectors under its own `batch=<id>` partition.
    *
    * Same crash contract as the shingle loop ([[pinThenCommit]]). Pass
    * [[parquetSink]] as `writeBatch` for exactly-once emission;
    * `compactEvery` folds committed batches ([[ingestLoop]]). */
  def annDedupStream(vectors: DataFrame, idCol: String, vecCol: String,
      indexPath: String, minCos: Double, compactEvery: Int = 0)
      (writeBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ingestLoop(vectors, compactEvery)(
      annDedupBatch(_, _, idCol, vecCol, indexPath, minCos, writeBatch),
      graft.operators.AnnIndex.compact(_, indexPath, _))

  /** One [[annDedupStream]] micro-batch — package-visible for the replay
    * spec, like [[dedupBatch]]. */
  private[graft] def annDedupBatch(batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, indexPath: String, minCos: Double,
      writeBatch: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.{AnnIndex, AnnSearch}
    // sign ONCE, into the cached input: the in-batch self-join and the
    // index cross-check share the signature column (recomputing it per
    // consumer doubles the per-batch projection work)
    def signed(in: DataFrame) =
      in.select(col(idCol).as("a"), col(vecCol).as("va"), col("__bk"))
    pinThenCommit(batch, batchId, indexPath, indexPath, writeBatch)(
      prepare = { b =>
        val meta = AnnIndex.readLshMeta(b.sparkSession, indexPath).getOrElse(
          throw new IllegalArgumentException(
            s"no LSH index metadata at $indexPath — run AnnIndex.buildLsh " +
              "before starting annDedupStream"))
        b.select(col(idCol), col(vecCol),
          AnnSearch.signatureRandom(col(vecCol), meta.dim, meta.nBits, meta.seed)
            .cast("long").as("__bk"))
      },
      inBatch = { in =>
        val x = signed(in)
        val y = x.select(col("__bk"), col("a").as("b"), col("va").as("vb"))
        x.join(y, Seq("__bk")).where(col("a") < col("b"))
          .select(col("a"), col("b"),
            round(graft.functions.NativeKernels.cosineSim(col("va"), col("vb")), 6)
              .as("cos"))
          .where(col("cos") >= minCos)
      },
      vsIndex = in => AnnIndex.nearDupAgainstIndex(signed(in), idCol, indexPath,
        minCos, excludeBatch = Some(batchId)),
      accept = AnnIndex.append(_, idCol, col(vecCol), indexPath, batchId = Some(batchId)))
  }

  /** Streaming SIGNATURE dedup — the 64-bit-signature twin of
    * [[incrementalDedupStream]], for streams whose rows already carry a
    * locality-preserving code: perceptual image dHash or the audio
    * fingerprint (both are plain Dataset transforms, so
    * `Multimodal.imageHash` / `audioFingerprint` compose directly into
    * the streaming graph upstream of this sink), or an
    * externally-computed SimHash. Per micro-batch:
    *
    *  1. in-batch pairs: [[graft.operators.Dedup.hammingPairs]] over the
    *     batch alone ((a < b) orientation);
    *  2. cross pairs: [[graft.operators.Dedup.incrementalHammingPairs]]
    *     against the index built by all PRIOR batches — the stored corpus
    *     is never re-decoded or re-hashed;
    *  3. accept: [[graft.operators.Dedup.writeHammingIndex]] appends the
    *     batch's signatures under its own `batch=<id>` partition.
    *
    * Same crash contract as the shingle loop ([[pinThenCommit]]). Pass
    * [[parquetSink]] as `writeBatch` for exactly-once emission;
    * `compactEvery` folds committed batches ([[ingestLoop]]) via
    * [[graft.operators.Dedup.compactHammingIndex]]. */
  def signatureDedupStream(sigs: DataFrame, idCol: String, sigCol: String,
      indexPath: String, maxHamming: Int = 3, compactEvery: Int = 0)
      (writeBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ingestLoop(sigs, compactEvery)(
      signatureBatch(_, _, idCol, sigCol, indexPath, maxHamming, writeBatch),
      graft.operators.Dedup.compactHammingIndex(_, indexPath, _))

  /** One [[signatureDedupStream]] micro-batch — package-visible for the
    * replay spec, like [[dedupBatch]]. */
  private[graft] def signatureBatch(batch: DataFrame, batchId: Long,
      idCol: String, sigCol: String, indexPath: String, maxHamming: Int,
      writeBatch: (DataFrame, Long) => Unit): Unit = {
    import graft.operators.Dedup
    pinThenCommit(batch, batchId, indexPath, s"$indexPath/bands", writeBatch)(
      inBatch = Dedup.hammingPairs(_, idCol, sigCol, maxHamming),
      vsIndex = Dedup.incrementalHammingPairs(_, idCol, sigCol, indexPath,
        maxHamming, excludeBatch = Some(batchId)),
      accept = Dedup.writeHammingIndex(_, idCol, sigCol, indexPath,
        batchId = Some(batchId)))
  }

  /** Streaming VIDEO near-dup ingestion — the clip-level twin of
    * [[signatureDedupStream]]: each micro-batch of binary video payloads
    * (columns `id`, `kind`, `data`) decodes to sampled-frame dHashes
    * ([[graft.multimodal.Multimodal.videoFrameHashes]] — AVI/MJPEG real
    * pixels, undecodable clips drop out of the signature flow), pairs
    * within the batch AND against the persisted frame-signature corpus
    * ([[graft.operators.Dedup.incrementalFrameSigPairs]] — the stored
    * clips are never re-decoded), reports (a, b, d, n_match) sequence
    * matches to `writeBatch`, then commits its own frames into the index
    * under its batchId partition. Replay-idempotent like every loop here:
    * a re-delivered batch dynamic-overwrites its own partition and
    * excludes it from the probe. Operator-internal band caches release at
    * batch end (CacheScope). `compactEvery` folds the grown index
    * periodically, same crash-safe swap as the signature loop. */
  def videoDedupStream(media: DataFrame, everyMs: Long, indexPath: String,
      maxHamming: Int = 3, minMatch: Long = 2, compactEvery: Int = 0)
      (writeBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ingestLoop(media, compactEvery)(
      videoBatch(_, _, everyMs, indexPath, maxHamming, minMatch, writeBatch),
      graft.operators.Dedup.compactHammingIndex(_, indexPath, _))

  /** One [[videoDedupStream]] micro-batch — package-visible for the
    * replay spec, like [[signatureBatch]]. */
  private[graft] def videoBatch(batch: DataFrame, batchId: Long,
      everyMs: Long, indexPath: String, maxHamming: Int, minMatch: Long,
      writeBatch: (DataFrame, Long) => Unit): Unit =
    frameSeqBatch(batch, batchId, indexPath, maxHamming, minMatch, writeBatch,
      "frame_idx", "dhash") {
      graft.multimodal.Multimodal.videoFrameHashes(_, everyMs).toDF()
    }

  /** The micro-batch body [[videoBatch]] and [[audioSeqBatch]] share
    * ([[pinThenCommit]]): `decode` maps the (id, kind, data) payloads to
    * frames carrying a `decoded` flag, the position column `pos` and the
    * signature column `sig`; undecodable rows drop out, so an
    * all-undecodable batch commits nothing. */
  private def frameSeqBatch(batch: DataFrame, batchId: Long, indexPath: String,
      maxHamming: Int, minMatch: Long, writeBatch: (DataFrame, Long) => Unit,
      pos: String, sig: String)(decode: DataFrame => DataFrame): Unit =
    graft.util.CacheScope.withScope {
      import graft.operators.Dedup
      pinThenCommit(batch, batchId, indexPath, s"$indexPath/bands", writeBatch)(
        prepare = b => decode(b.select(col("id"), col("kind"), col("data")))
          .where(col("decoded")).select(col("id"), col(pos), col(sig)),
        inBatch = Dedup.frameSigPairs(_, "id", pos, sig, maxHamming, minMatch),
        vsIndex = Dedup.incrementalFrameSigPairs(_, "id", pos, sig, indexPath,
          maxHamming, minMatch, excludeBatch = Some(batchId)),
        accept = Dedup.writeFrameSigIndex(_, "id", pos, sig, indexPath,
          batchId = Some(batchId)))
    }

  /** Streaming AUDIO containment near-dup ingestion — the windowed-audio
    * twin of [[videoDedupStream]]: each micro-batch of binary audio
    * payloads (columns `id`, `kind`, `data`) decodes to per-window
    * energy-gradient signatures
    * ([[graft.multimodal.Multimodal.audioSeqSignatures]] — WAV/AIFF/FLAC,
    * undecodable clips drop out of the signature flow), pairs within the
    * batch AND against the persisted window-signature corpus, reports
    * (a, b, d, n_match) sequence matches, then commits its own windows
    * under its batchId partition. Same replay-idempotence, CacheScope
    * release, and `compactEvery` fold as the video loop — they share the
    * composite-key frame-signature index machinery end to end. */
  def audioSeqDedupStream(media: DataFrame, windowMs: Long, indexPath: String,
      maxHamming: Int = 3, minMatch: Long = 2, compactEvery: Int = 0)
      (writeBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ingestLoop(media, compactEvery)(
      audioSeqBatch(_, _, windowMs, indexPath, maxHamming, minMatch, writeBatch),
      graft.operators.Dedup.compactHammingIndex(_, indexPath, _))

  /** One [[audioSeqDedupStream]] micro-batch — package-visible for the
    * replay spec, like [[videoBatch]]. */
  private[graft] def audioSeqBatch(batch: DataFrame, batchId: Long,
      windowMs: Long, indexPath: String, maxHamming: Int, minMatch: Long,
      writeBatch: (DataFrame, Long) => Unit): Unit =
    frameSeqBatch(batch, batchId, indexPath, maxHamming, minMatch, writeBatch,
      "window_idx", "sig") {
      graft.multimodal.Multimodal.audioSeqSignatures(_, windowMs).toDF()
    }

  /** Streaming corpus profiling: every micro-batch appends its
    * [[graft.operators.Profile.partialProfile]] rows (counters + mergeable
    * HLL/Theta sketches) under its own `batch=<id>` partition — an
    * at-least-once replay dynamic-overwrites its own partition instead of
    * double-counting, the same commit discipline as the index loops. The
    * accumulated directory folds to live corpus statistics at ANY moment
    * with [[graft.operators.Profile.mergeProfiles]], reading only profile
    * rows (bytes proportional to groups x batches, never the corpus). */
  def profileStream(docs: DataFrame, textCol: String, keys: Seq[String],
      path: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      profileBatch(batch, batchId, textCol, keys, path)
    }.start()

  /** One [[profileStream]] micro-batch — package-visible for the replay
    * spec, like [[dedupBatch]]. */
  private[graft] def profileBatch(batch: DataFrame, batchId: Long,
      textCol: String, keys: Seq[String], path: String): Unit = {
    if (batch.isEmpty) return // an empty batch must not commit a file-less dir
    val prof = graft.operators.Profile.partialProfile(batch,
      keys.map(col), col(textCol),
      graft.functions.NativeKernels.wordTokens(col(textCol)))
    graft.operators.IndexIO.writeBatch(prof, path, Some(batchId), Seq.empty)
  }

  /** Streaming incremental EXACT dedup — the fingerprint twin of
    * [[incrementalDedupStream]]. Per micro-batch, emits one row
    * (id, fp, keeper) for every batch document that exactly duplicates a
    * previously seen document (keeper = the smallest already-seen or
    * smaller in-batch id with the same fingerprint; an id that is itself
    * the first appearance emits nothing), then appends the batch's
    * fingerprints to the index. Online contract: keeper is the minimum id
    * seen SO FAR — a late-arriving smaller id is flagged as the duplicate
    * of the earlier-seen keeper, not the other way around. Same
    * crash-recovery story as the near-dup loop ([[pinThenCommit]]): the
    * index append is batchId-keyed (replay-idempotent) and the candidate
    * read excludes the batch's own partition, so a re-delivered batch
    * emits the identical row set; [[parquetSink]] turns that into
    * exactly-once delivery, any other `writeBatch` is at-least-once.
    * `compactEvery` folds committed batches every N batches
    * ([[ingestLoop]]). */
  def incrementalExactStream(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, compactEvery: Int = 0)
      (writeBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ingestLoop(docs, compactEvery)(
      exactBatch(_, _, idCol, textCol, indexPath, writeBatch),
      graft.operators.Dedup.compactFingerprintIndex(_, indexPath, _))

  /** One [[incrementalExactStream]] micro-batch — package-visible for the
    * replay-idempotence spec, like [[dedupBatch]]. */
  private[graft] def exactBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, indexPath: String,
      writeBatch: (DataFrame, Long) => Unit): Unit = {
    import graft.functions.TextKernels
    import graft.operators.Dedup
    pinThenCommit(batch, batchId, indexPath, indexPath, writeBatch)(
      // in-batch duplicates: every non-minimum id of a repeated fingerprint
      // (the window runs over one bounded micro-batch, not the corpus)
      inBatch = _.select(col(idCol).as("id"),
          TextKernels.fingerprint(col(textCol)).as("fp"))
        .withColumn("keeper",
          min(col("id")).over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
        .where(col("id") =!= col("keeper")),
      vsIndex = Dedup.incrementalExactBloom(_, idCol, col(textCol), indexPath,
        excludeBatch = Some(batchId)),
      accept = Dedup.writeFingerprintIndex(_, idCol, col(textCol), indexPath,
        batchId = Some(batchId)),
      // a doc can be a dup both in-batch and vs the index: keep ONE row
      // with the smallest keeper (the min id seen so far)
      merge = _.groupBy(col("id"), col("fp")).agg(min(col("keeper")).as("keeper")))
  }

  /** Streaming CURATION loop — the survivor-oriented composition of the
    * ingestion pieces: where [[incrementalDedupStream]] and
    * [[incrementalExactStream]] EMIT duplicate evidence, this loop emits
    * the documents that make it INTO the training corpus. Per micro-batch:
    *
    *  1. quality gate: keep rows passing `quality` (any stateless
    *     predicate over the batch's columns);
    *  2. exact dedup: drop every doc whose fingerprint was already
    *     accepted (vs the fingerprint index) or repeats in-batch (keep
    *     the minimum id);
    *  3. near-dup dedup: drop every doc that near-dups an already-ACCEPTED
    *     doc (vs the band index) or a smaller-id doc of this batch — the
    *     greedy online policy: a doc is dropped even when its in-batch
    *     partner is itself dropped, since both near-dup the same content
    *     (transitive clustering needs the whole corpus; the batch twin
    *     `q_pipeline` shows that policy);
    *  4. accept: append ONLY the survivors' fingerprints and band keys to
    *     the two indexes — the indexes ARE the accepted corpus, so later
    *     batches (and restarts) dedup against what was kept, not against
    *     everything ever seen;
    *  5. emit the surviving rows (all original columns) to `writeBatch`.
    *
    * Crash recovery mirrors the pair loops: both index reads exclude the
    * batch's own partitions and both appends are batchId-keyed dynamic
    * overwrites, so a re-delivered batch computes the identical survivor
    * set and leaves both indexes bit-identical; with [[parquetSink]] as
    * `writeBatch` the accepted-document output is exactly-once too (any
    * other sink sees at-least-once and should upsert by (batchId, id)).
    * `compactEvery` folds both indexes every N batches ([[ingestLoop]]).
    * `indexRoot` must be fresh unless resuming the same stream
    * (`<root>/exact` + `<root>/near`). */
  def curationStream(docs: DataFrame, idCol: String, textCol: String,
      indexRoot: String, minJ: Double, quality: Column,
      compactEvery: Int = 0)(writeBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ingestLoop(docs, compactEvery)(
      curationBatch(_, _, idCol, textCol, indexRoot, minJ, quality, writeBatch),
      (spark, through) => {
        graft.operators.Dedup.compactFingerprintIndex(spark, s"$indexRoot/exact", through)
        graft.operators.Dedup.compactBandIndex(spark, s"$indexRoot/near", through)
      })

  /** One [[curationStream]] micro-batch — package-visible for the
    * replay-idempotence spec, like [[dedupBatch]]. */
  private[graft] def curationBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, indexRoot: String, minJ: Double,
      quality: Column, writeBatch: (DataFrame, Long) => Unit): Unit = {
    import graft.functions.TextKernels
    import graft.operators.Dedup
    val spark = batch.sparkSession
    val exactPath = s"$indexRoot/exact"
    val bandPath = s"$indexRoot/near"
    // swap repair + data-file check — see pinThenCommit; the data-file check
    // matters doubly here: a first batch whose rows ALL fail the quality
    // gate used to commit a file-less index dir, and every later batch's
    // read then threw on schema inference, wedging the stream permanently
    graft.operators.IndexIO.recoverSwap(spark, exactPath)
    graft.operators.IndexIO.recoverSwap(spark, bandPath)
    val hasExact = graft.operators.IndexIO.hasData(spark, exactPath)
    val hasNear = graft.operators.IndexIO.hasData(spark, s"$bandPath/bands")
    val shingles = graft.functions.NativeKernels.wordShingles2(col(textCol))

    val q = batch.where(quality).cache()
    // exact: in-batch keep-min window over the bounded micro-batch, plus
    // the accepted-corpus fingerprint index
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val exactInBatch = q
      .select(col(idCol).as("id"), TextKernels.fingerprint(col(textCol)).as("fp"))
      .withColumn("keeper", min(col("id")).over(w))
      .where(col("id") =!= col("keeper")).select(col("id"))
    val exactDrops = (if (hasExact)
        exactInBatch.union(Dedup.incrementalExactBloom(q, idCol, col(textCol),
          exactPath, excludeBatch = Some(batchId)).select(col("id")))
      else exactInBatch).distinct()
    val s1 = q.join(exactDrops.withColumnRenamed("id", idCol), Seq(idCol),
      "left_anti").cache()
    // near-dup: greedy online drop of the larger in-batch side and of any
    // batch doc pairing with the accepted corpus
    val nearInBatch = Dedup.minhashPairs(s1, idCol, shingles, minJ)
      .select(col("b").as("id"))
    val nearDrops = (if (hasNear)
        nearInBatch.union(Dedup.incrementalPairs(s1, idCol, shingles,
          bandPath, minJ, excludeBatch = Some(batchId)).select(col("a").as("id")))
      else nearInBatch).distinct()
    val accepted = s1.join(nearDrops.withColumnRenamed("id", idCol), Seq(idCol),
      "left_anti").cache()
    try {
      val nAccepted = accepted.count() // pin survivors before the indexes grow
      writeBatch(accepted, batchId)
      // zero survivors: nothing to index, and an empty append would commit
      // the file-less directory hasData exists to defend against
      if (nAccepted > 0) {
        Dedup.writeFingerprintIndex(accepted, idCol, col(textCol), exactPath,
          batchId = Some(batchId))
        Dedup.writeBandIndex(accepted, idCol, shingles, bandPath,
          batchId = Some(batchId))
      }
    } finally { accepted.unpersist(); s1.unpersist(); q.unpersist() }
  }

  /** Streaming windowed top-k preparation: per-window per-key aggregate
    * value sums; the bounded top-k itself is applied by the sink query
    * (complete-mode aggregation or a downstream batch rank over the sink
    * table — Structured Streaming cannot rank incrementally without
    * arbitrary state). */
  def windowedValueSums(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, window: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col(keyCol))
      .agg(sum(col(valueCol)).as("total"))
      .select(col("window.start").as("window_start"), col(keyCol), col("total"))
}
