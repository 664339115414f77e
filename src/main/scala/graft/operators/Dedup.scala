package graft.operators

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{SimKernels, TextKernels}

/** Deduplication operators for training-data pipelines.
  *
  * Scale design (100 TB): candidate generation is ALWAYS bucketed —
  * MinHash band keys (near-dup), exact fingerprints (exact dup), or LSH
  * signatures (embeddings). The only join is an equi-join on the bucket key,
  * which Spark executes as a shuffle on the (small-cardinality-per-bucket)
  * key; no all-pairs/cross join ever touches the full corpus. Verification
  * (exact Jaccard / cosine) runs only on the candidate pairs.
  */
object Dedup {

  val NumHashes = 16
  val NumBands = 4
  val RowsPerBand = 4

  /** Repartition a source that arrives under-split (a single small parquet
    * file plans as ONE partition and would serialize per-row hashing onto
    * one core); a splittable large source already arrives well-split and
    * this is a no-op. Shared by every shingle/fingerprint pipeline.
    *
    * The split estimate reads the file relation's total bytes off the
    * LOGICAL plan (Spark's own split rule: ceil(bytes / maxPartitionBytes))
    * — probing `df.rdd.getNumPartitions` instead would force a full
    * physical planning of the frame and bypass AQE. A frame with no file
    * relation (in-memory test data) is treated as under-split. */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val splits = df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            math.max(1L, (h.location.sizeInBytes + maxSplit - 1) / maxSplit)
          case r => math.max(1L, (r.sizeInBytes + maxSplit - 1) / maxSplit)
        }
    }.getOrElse(1L)
    if (splits < par / 2) df.repartition(par) else df
  }

  /** The guarded (id, g) shingle frame every banded operator starts from:
    * project-and-CACHE first, filter the empties on top of the cached
    * array. The order is a measured 13x: `select(g).where(size(g) > 0)`
    * lets Catalyst push the predicate below the projection, substituting
    * the whole shingle chain into the filter — and higher-order-function
    * chains run interpreted (no whole-stage codegen, no subexpression
    * sharing), so the corpus paid the chain repeatedly per row. Filtering
    * the cached column is an O(1) `size` per row. Returns (cached
    * unfiltered frame — the unpersist handle, guarded frame). */
  private def shingleFrame(docs: DataFrame, id: String, shingles: Column)
      : (DataFrame, DataFrame) = {
    val all = graft.util.CacheScope.register(
      spread(docs).select(col(id).as("id"), shingles.as("g")).cache())
    (all, all.where(size(col("g")) > 0))
  }

  /** (id, g) shingle frame -> (id, band, bv) exploded MinHash band keys:
    * native one-pass band keys, bit-identical to the composed
    * shingleHashes -> minhashSig -> bandKey chain (NativeKernelSpec). */
  private def minhashBands(sh: DataFrame): DataFrame =
    sh.select(col("id"), posexplode(
        graft.functions.NativeKernels.bandKeys(col("g"), NumHashes, NumBands, RowsPerBand))
      .as(Seq("band", "bv")))

  /** Candidate-then-verify over MinHash band rows: the (a = x id,
    * b = y id) pairs of `bx` and `by` that share a (band, bv) key and pass
    * `idCond`, each once, verified by the exact Jaccard of the shingle
    * sets `shA` / `shB`: (a, b, j) with j >= minJ. */
  private def verifyJaccard(bx: DataFrame, by: DataFrame, idCond: Option[Column],
      shA: DataFrame, shB: DataFrame, minJ: Double): DataFrame = {
    val onKey = col("x.band") === col("y.band") && col("x.bv") === col("y.bv")
    bx.as("x").join(by.as("y"), idCond.fold(onKey)(onKey && _))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
      .join(shA.select(col("id").as("a"), col("g").as("ga")), Seq("a"))
      .join(shB.select(col("id").as("b"), col("g").as("gb")), Seq("b"))
      .select(col("a"), col("b"),
        SimKernels.jaccardSimDistinct(col("ga"), col("gb")).as("j"))
      .where(col("j") >= minJ)
  }

  /** Near-duplicate pairs BETWEEN two corpora — (a = left id, b = right
    * id, j) with jaccard >= minJ — the contamination check at NEAR-DUP
    * level: a paraphrased eval item inside a training corpus dilutes the
    * n-gram overlap RATIO on long documents and is invisible to exact
    * dedup, but its shingle set still collides in the banded signature
    * space. Both sides band ONCE; candidates come from the cross band
    * equi-join (never all-pairs); exact Jaccard verifies inside. When one
    * side is a fixed benchmark (the common case) it is batch-sized and
    * the join behaves like [[incrementalPairs]] with the index computed
    * on the fly; ids may overlap between the sides (they are different
    * id spaces — no x < y constraint applies). */
  def minhashPairsBetween(left: DataFrame, idL: String, shinglesL: Column,
      right: DataFrame, idR: String, shinglesR: Column,
      minJ: Double): DataFrame = {
    require(minJ > 0, s"minJ must be positive, got $minJ")
    val (_, shL) = shingleFrame(left, idL, shinglesL)
    val (_, shR) = shingleFrame(right, idR, shinglesR)
    verifyJaccard(minhashBands(shL), minhashBands(shR), None, shL, shR, minJ)
  }

  /** (id, shingles) -> near-duplicate pairs (a, b, j) with Jaccard >= minJ.
    *
    * Plan: shingle -> 16 md5 MinHash signatures -> 4 banded bucket keys ->
    * explode -> self-equi-join on (band, key) with a < b -> distinct pairs ->
    * re-join the shingle sets -> exact Jaccard verification. Probability a
    * true pair with similarity s collides: 1 - (1 - s^4)^4 (~1.0 at s>=0.9).
    */
  def minhashPairs(docs: DataFrame, id: String, shingles: Column, minJ: Double): DataFrame = {
    require(minJ > 0, s"minJ must be positive, got $minJ")
    // Cache the shingle sets and band keys: the LSH self-join and the
    // verification join would otherwise each recompute the signatures per
    // document per side. (At 100 TB scale this intermediate is the one you
    // persist/checkpoint; its size is O(corpus tokens).)
    // Empty shingle sets are excluded up front: band_keys maps them all to
    // the SAME constant key in every band (every signature is null), so n
    // too-short documents would otherwise form an ~n^2/2 candidate
    // self-join — the all-pairs blowup this operator's contract forbids —
    // only for the verify to discard every pair (jaccard with an empty
    // set is 0 < minJ). Same guard as simhashPairs' all-zero fingerprint.
    val (_, sh) = shingleFrame(docs, id, shingles)
    val banded = minhashBands(sh).cache().pipe(graft.util.CacheScope.register(_))
    verifyJaccard(banded, banded, Some(col("x.id") < col("y.id")), sh, sh, minJ)
  }

  // ------------------------------------------------- incremental (indexed)

  /** Persist the MinHash band index of a corpus, enabling INCREMENTAL
    * dedup: new batches check against the stored corpus without
    * recomputing its signatures (the production ingestion shape — the
    * expensive per-document hashing happens once per document ever).
    * Layout: `path/bands` = (band, bv, id) exploded band keys;
    * `path/shingles` = (id, g) for the exact-Jaccard verification join.
    * `append = true` grows an existing index (call after accepting a
    * batch, so the next batch dedups against it too).
    *
    * Both tables carry a `batch` partition level ([[IndexIO]]): a
    * streaming `batchId` writes via dynamic partition overwrite, so an
    * at-least-once re-delivery rewrites its own `batch=<id>` directories
    * instead of appending duplicate band rows (replay-idempotent; `append`
    * is ignored — the batch directory is the unit of commit); without one,
    * batch = -1 with the plain append/overwrite semantics. The append goes
    * through the [[IndexIO.appendBatch]] replay guard: a crashed compaction
    * swap is repaired first, and a batchId a [[compactBandIndex]] already
    * folded into the base no-ops. */
  def writeBandIndex(docs: DataFrame, id: String, shingles: Column,
      path: String, append: Boolean = false, batchId: Option[Long] = None): Unit =
    IndexIO.appendBatch(docs.sparkSession, path, batchId) { _ =>
      // empty shingle sets stay out of the index — they would park the
      // constant all-null band key in every band directory and every later
      // batch's too-short docs would candidate-join against all of them
      // (see minhashPairs; cache-then-filter order per shingleFrame)
      val (shAll, sh) = shingleFrame(docs, id, shingles)
      try {
        def write(df: DataFrame, sub: String): Unit =
          IndexIO.writeBatch(df, s"$path/$sub", batchId, Seq.empty, append)
        // shingles commit FIRST: the two tables are two writes, and a crash
        // between them must fail CLOSED. Orphan shingle rows (shingles
        // committed, bands not) are inert — no band key ever references
        // them. The reverse order would leave band keys whose verify join
        // finds no shingle set, silently discarding that batch's pairs
        // forever. (The streaming batchId path self-heals either way: the
        // replay dynamic-overwrites both tables.)
        write(sh, "shingles")
        write(minhashBands(sh), "bands")
      } finally shAll.unpersist()
    }

  /** Near-duplicate pairs (a = new-batch id, b = indexed corpus id, j)
    * between a NEW batch and a persisted [[writeBandIndex]] corpus. The
    * batch's band keys equi-join the stored band table with an explicit
    * `broadcast` hint: the operator's contract is the ingestion shape — a
    * bounded batch (micro-batch, daily delta) against an unbounded corpus —
    * and the hint makes that plan unconditional instead of depending on
    * whether the batch source carries size statistics (an in-memory or
    * streaming batch has none, and a planner fallback to sort-merge would
    * shuffle the ENTIRE stored band index per batch). A corpus-sized
    * "batch" belongs in [[minhashPairs]], not here. Exact Jaccard verifies
    * against the stored shingle sets; the corpus is never re-hashed.
    * In-batch duplicates are a separate [[minhashPairs]] over the batch
    * alone.
    *
    * `excludeBatch` (set by the streaming loop to the CURRENT batchId)
    * drops that batch's own partition from the index read: on an
    * at-least-once replay the first attempt's append may already be
    * committed, and matching the batch against its own stored keys would
    * re-emit every in-batch pair a second time as a cross pair. */
  def incrementalPairs(newDocs: DataFrame, id: String, shingles: Column,
      indexPath: String, minJ: Double,
      excludeBatch: Option[Long] = None): DataFrame = {
    require(minJ > 0, s"minJ must be positive, got $minJ")
    val spark = newDocs.sparkSession
    // see minhashPairs: empty shingle sets all share one constant band key
    // (cache-then-filter order per shingleFrame)
    val (_, sh) = shingleFrame(newDocs, id, shingles)
    val idx = IndexIO.excludeBatch(
      spark.read.parquet(s"$indexPath/bands"), excludeBatch)
    verifyJaccard(broadcast(minhashBands(sh)), idx, Some(col("x.id") =!= col("y.id")),
      sh, IndexIO.excludeBatch(spark.read.parquet(s"$indexPath/shingles"), excludeBatch),
      minJ)
  }

  /** Drop occurrence rows whose fingerprint is corpus-HOT (df above the
    * boilerplate cap) from an already-cached occurrence stream. Inverted
    * vs the r16 shape: instead of inner-joining the stream with the
    * `df <= maxDf` RARE set — nearly every distinct fingerprint, which
    * the planner was broadcasting wholesale — the stream is filtered
    * against the HOT complement, bounded by occurrences/maxDf at any
    * scale (same kept rows: every fingerprint of the stream has a df, so
    * rare and hot partition it; a null fingerprint matches nothing, so it
    * is dropped once, before any path, as the inner join did). Inside a
    * CacheScope the hot set is
    * MEASURED — the probe job doubles as the materializer of the cached
    * stream, replacing the bare eager count — and, when it has at most
    * [[graft.api.Knobs.DedupHotFpInlineMax]] entries, inlined as a
    * row-local InSet filter: no cap join at all, and the df aggregate
    * runs exactly once (the r16 plan recomputed it under BOTH self-join
    * sides). A larger measured hot set, or an unmeasured (lazy,
    * out-of-scope) composition, anti-joins instead — scale-safe
    * unconditionally. */
  private[graft] def dropHotFingerprints(occ: DataFrame, hot: DataFrame): DataFrame = {
    val inlineMax = occ.sparkSession.conf
      .get(graft.api.Knobs.DedupHotFpInlineMax, "65536").toInt
    val live = occ.where(col("fp").isNotNull)
    val inlined =
      if (graft.util.CacheScope.inScope && inlineMax > 0) {
        val h = hot.where(col("fp").isNotNull)
          .limit(inlineMax + 1).collect().map(_.getLong(0))
        if (h.length <= inlineMax) Some(h.toSeq) else None
      } else {
        // no probe ran: keep the deterministic-cost contract for the
        // scoped consume-now shape (concurrent cold consumers must not
        // race the kernel) with the old dedicated materialization
        if (graft.util.CacheScope.inScope) occ.count()
        None
      }
    inlined match {
      case Some(hs) if hs.isEmpty => live
      case Some(hs) => live.where(!col("fp").isInCollection(hs))
      case None => live.join(hot, Seq("fp"), "left_anti")
    }
  }

  /** Partial-overlap pairs by winnowing fingerprints
    * ([[TextKernels.winnowHashes]] -> [[TextKernels.winnowSelect]]):
    * (a, b, shared) where `shared`
    * counts the selected fingerprints the two documents have in common —
    * the MOSS plagiarism/containment measure. This catches the case the
    * OTHER dedup operators structurally miss: a long passage copied into
    * an otherwise-different document (whole-doc Jaccard dilutes toward 0
    * as the host document grows; winnowing's guarantee is per-substring,
    * not per-document).
    *
    * Scale: fingerprinting is a narrow per-row map; the only join is the
    * equi-join on the fingerprint value. Fingerprints occurring in more
    * than `maxDf` documents are dropped first (the standard MOSS
    * common-code/boilerplate exclusion) — that both removes noise matches
    * and caps the join's per-key fan-out, the same never-all-pairs
    * discipline as the LSH band joins.
    *
    * Parameter note: the guarantee threshold is t = k + w - 1 (any shared
    * run of >= t characters yields a match). Natural-language corpora with
    * small vocabularies share many SHORT substrings by chance, so the
    * defaults use a long gram (k = 16, t = 23 chars ~ 3-4 words) — the
    * classic k = 8 setting floods prose with coincidental matches. */
  def winnowPairs(docs: DataFrame, id: String, text: Column,
      k: Int = 16, w: Int = 8, minShared: Long = 10, maxDf: Long = 20): DataFrame = {
    // fused native hash+select kernel: one projection, no materialized
    // per-gram hash array between phases (bit-identical to the composed
    // winnowHashes -> winnowSelect chain, NativeKernelSpec)
    val fp = spread(docs)
      .select(col(id).as("id"), explode(
        graft.functions.NativeKernels.winnowFingerprints(text, k, w)).as("fp"))
      // cached: the frequency cap's aggregate and the two self-join sides
      // all read it; inside a scope the df-cap probe below is the
      // materializing pass that makes every later consumer a pure cache
      // read (the deterministic-cost contract the bare eager count used
      // to pay a dedicated job for)
      .cache().pipe(graft.util.CacheScope.register(_))
    val hot = fp.groupBy("fp").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf).select(col("fp"))
    val kept = dropHotFingerprints(fp, hot)
    kept.as("x")
      .join(kept.as("y"),
        col("x.fp") === col("y.fp") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** Matched SPANS behind [[winnowPairs]]' counts — MOSS-style triage
    * output: (a, b, a_start, a_end, b_start, b_end, n_fp), one row per
    * contiguous run of shared winnowing fingerprints, i.e. WHICH passage
    * of `a` matches which passage of `b` (1-based inclusive character
    * bounds of the matched k-grams). A reviewer acts on spans; a count
    * only says "look".
    *
    * Plan: the same df-capped fingerprint equi-join as [[winnowPairs]],
    * with positions riding through ([[TextKernels.winnowSelectPos]]); each
    * match lies on an alignment DIAGONAL d = a_pos - b_pos (a verbatim
    * copy keeps d constant across its whole span), and within a
    * (pair, diagonal) group, matches are merged into runs wherever
    * consecutive selected positions sit within k + w characters — the
    * winnowing guarantee bounds intra-run gaps by ~w, so k + w splits
    * coincidental stray matches without splitting true spans. The run
    * window partitions by (pair, diagonal): its shuffle carries only
    * JOINED matches (bounded by the df cap), never the corpus. Runs with
    * fewer than `minFp` shared fingerprints are noise and dropped.
    * Near-verbatim copies whose edits shift the alignment split into one
    * span per unbroken diagonal segment, by design. */
  def winnowSpans(docs: DataFrame, id: String, text: Column,
      k: Int = 16, w: Int = 8, minFp: Long = 3, maxDf: Long = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = spread(docs)
      // fused native hash+positional-select kernel (bit-identical to the
      // composed winnowHashes -> winnowSelectPos chain, NativeKernelSpec)
      .select(col(id).as("id"), explode(
        graft.functions.NativeKernels.winnowFingerprintsPos(text, k, w)).as("s"))
      .select(col("id"), col("s.fp").as("fp"), col("s.pos").as("pos"))
      // cached + materialized by the df-cap probe, see winnowPairs
      .cache().pipe(graft.util.CacheScope.register(_))
    // df = DISTINCT documents (a fingerprint can repeat within one doc at
    // several positions; that must not count toward the boilerplate cap)
    val hot = occ.groupBy("fp").agg(count_distinct(col("id")).as("df"))
      .where(col("df") > maxDf).select(col("fp"))
    val kept = dropHotFingerprints(occ, hot)
    val matches = kept.as("x")
      .join(kept.as("y"),
        col("x.fp") === col("y.fp") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        col("x.pos").as("pa"), col("y.pos").as("pb"),
        (col("x.pos") - col("y.pos")).as("d"))
    val byDiag = Window.partitionBy("a", "b", "d").orderBy("pa")
    val runs = matches
      .withColumn("new_run",
        when(col("pa") - lag(col("pa"), 1).over(byDiag) > k + w, 1).otherwise(0))
      .withColumn("run", sum(col("new_run")).over(
        byDiag.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    runs.groupBy(col("a"), col("b"), col("d"), col("run"))
      .agg(min(col("pa")).as("a_start"), (max(col("pa")) + (k - 1)).as("a_end"),
        min(col("pb")).as("b_start"), (max(col("pb")) + (k - 1)).as("b_end"),
        count(lit(1)).as("n_fp"))
      .where(col("n_fp") >= minFp)
      .select(col("a"), col("b"), col("a_start"), col("a_end"),
        col("b_start"), col("b_end"), col("n_fp"))
  }

  /** Corpus-wide line/paragraph-level exact deduplication — the C4 /
    * RefinedWeb curation step document-level dedup can never see: split
    * every document on `sep`, keep only the FIRST occurrence of each
    * distinct line corpus-wide (first = minimum (document id, position)),
    * and reassemble each document from its surviving lines in their
    * original order. Strips boilerplate repeated across pages — headers,
    * footers, cookie banners, navigation — while leaving each page's
    * unique prose intact. Output: (<id>, n_kept, text); a document whose
    * every line was seen earlier disappears entirely (it contributed
    * nothing new), which is also exact-dedup subsumption: a verbatim
    * duplicate document loses all its lines to the earlier copy.
    * `maxDf` tightens keep-first into drop-everywhere for lines spread
    * across more than `maxDf` documents (the RefinedWeb boilerplate
    * policy); the default keeps every first occurrence.
    *
    * Shape at scale: two shuffles, both map-side combinable — the
    * first-occurrence groupBy on the line partial-aggregates
    * min(struct(id, pos)) before the exchange, so a boilerplate line
    * repeated on a billion pages leaves each map partition ONCE (the
    * reason this is an aggregate and not a row_number window over
    * partitionBy(line), which would shuffle every copy of the heavy
    * hitters to one reducer) — and the reassembly groupBy on the id. No
    * joins: the aggregate's group already carries everything the output
    * needs. */
  def lineDedup(docs: DataFrame, id: String, text: Column,
      sep: String = "\n", maxDf: Long = Long.MaxValue): DataFrame = {
    val lines = spread(docs).select(col(id).as("id"),
      posexplode(split(text, java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    // blank/whitespace-only lines are STRUCTURE, not content: deduping the
    // empty line corpus-wide would strip every document's paragraph breaks
    // except the global first occurrence's. They bypass both the dedup key
    // and the df cap, and every occurrence reassembles in place.
    val content = lines.where(trim(col("line")) =!= "")
    val blanks = lines.where(trim(col("line")) === "")
    content.groupBy(col("line"))
      .agg(min(struct(col("id"), col("pos"))).as("k"),
        count_distinct(col("id")).as("df"))
      // maxDf: a line spread across MORE than maxDf documents is dropped
      // everywhere, first occurrence included — true boilerplate (cookie
      // banners on a million pages) is noise even once, and the cap is
      // free here (df rides the same aggregate)
      .where(col("df") <= maxDf)
      .select(col("k.id").as("id"), col("k.pos").as("pos"), col("line"))
      .unionByName(blanks.select(col("id"), col("pos"), col("line")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line"))).as("text"))
      .select(col("id").as(id), col("n_kept"), col("text"))
  }

  /** (id, tokens) -> near-duplicate pairs (a, b, hamming) with 64-bit
    * SimHash hamming distance <= maxHamming (<= 3 is exhaustive).
    *
    * Plan: one-pass 64-bit SimHash signed bit-sums -> [[hammingPairs]] over
    * the 64-bit code, i.e. the banded core [[bandedCarrierPairs]]: 4 x
    * 16-bit bands, hamming = bit_count(xor) verified INSIDE the join, and
    * the adaptive exact-fingerprint collapse for repeated fingerprints.
    * The 16-bit band space (65536 values/band) keeps buckets sparse at
    * corpus scale — the same never-all-pairs discipline as
    * [[minhashPairs]]. Unlike MinHash (set Jaccard), SimHash hamming
    * tracks weighted feature overlap and runs one cheap verify op per
    * candidate instead of an array intersection. */
  def simhashPairs(docs: DataFrame, id: String, tokens: Column, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, s"4 bands of 16 bits only guarantee capture up to hamming 3, got $maxHamming")
    // Native one-pass fingerprint (bit-identical to the composed
    // simhash64Sums -> simhash64Bands chain, NativeKernelSpec), with the
    // four 16-bit bands composed back into ONE 64-bit code: shuffles and
    // joins key on a long instead of an int array, and the whole operator
    // IS [[hammingPairs]] — same banding (band i = bits [16i, 16i+16)),
    // same verify (bit_count of the 64-bit xor == the per-band sum), same
    // exact-fingerprint collapse, same all-zero contentless-code guard
    // (the zero fingerprint is exactly the all-zero band array).
    val fp = graft.functions.NativeKernels.simhash64(tokens)
    hammingPairs(docs.select(col(id).as("id"), fp.as("sig")), "id", "sig",
      maxHamming)
  }

  /** Near-duplicate pairs (a, b, hamming) over an ARBITRARY 64-bit
    * signature column — the banded-Hamming join [[simhashPairs]] runs on
    * text fingerprints, factored out for signatures computed elsewhere
    * (perceptual image dHash from
    * [[graft.multimodal.Multimodal.imageHash]], an externally-computed
    * SimHash, any 64-bit locality-preserving code). maxHamming <= 3 is
    * exhaustive. The all-zero signature is excluded (the degenerate
    * contentless code — a flat image, an empty document).
    *
    * Plan: [[bandedCarrierPairs]] — the exact-signature collapse or direct
    * banding, chosen by the measured carrier histogram (sig, n). */
  def hammingPairs(sigs: DataFrame, id: String, sig: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, s"4 bands of 16 bits only guarantee capture up to hamming 3, got $maxHamming")
    // Input contract: ONE signature row per id (every producer — one hash
    // per image/clip/document — satisfies it). Under it no pair can
    // repeat, so there is NO distinct over the (possibly cohort-quadratic)
    // output, and no input dedup either. Duplicate input rows would emit
    // duplicate pairs.
    val base = carrierFrame(sigs, id, None, sig)
    // one aggregate yields the carrier histogram steering the adaptive
    // guard, the distinct signatures for the collapse's band join, AND the
    // multi-carrier groups whose hamming-0 SELF pairs ride the expansion
    // joins (cached narrow; its probe job materializes `base` too)
    val sigStats = base.groupBy("sig").agg(count(lit(1)).as("n"))
    val hot = collapseNeeded(sigs,
      measuredMaxima(sigStats, max(col("n"))).map(_.head))
    bandedCarrierPairs(base, sigStats, hot, maxHamming)
  }

  /** Near-duplicate pairs between SEQUENCES of 64-bit signatures —
    * (a, b, d, n_match): documents a < b share `n_match` positions whose
    * signatures lie within `maxHamming`, all on alignment diagonal
    * d = pos_a - pos_b. The video near-dup back end (per-frame dHash
    * sequences from [[graft.multimodal.Multimodal.videoFrameHashes]]):
    * a re-encoded copy matches every sampled frame at d = 0; a trimmed
    * copy matches on one shifted diagonal — the same diagonal-run idea as
    * [[winnowSpans]], with banded-Hamming frame matching in place of
    * fingerprint equality. Works unchanged for any signature sequence
    * (audio energy windows, shingled page hashes).
    *
    * Plan: the matched frame pairs of [[bandedCarrierPairs]] (each
    * emitted exactly once — one signature per (id, pos) is the producers'
    * contract) -> one map-side-combined count per (a, b, diagonal). Never
    * all-pairs; a boilerplate frame shared by k clips costs the collapse's
    * band join ONE row instead of k x 4. The all-zero signature stays
    * excluded. `minMatch` drops coincidental single-frame collisions.
    *
    * `maxDf` is the boilerplate policy (the [[winnowPairs]] df-cap,
    * recall trade documented there): a signature carried by more than
    * `maxDf` DISTINCT documents — a site-wide intro card, a constant
    * white frame, identical silence windows — contributes no match
    * evidence. Without it the carrier expansion of that one signature is
    * k(k-1)/2 frame pairs that minMatch then discards almost entirely;
    * with it the expansion is bounded by maxDf^2 per signature. The
    * default (4096) is far above any genuine re-encode group and far
    * below corpus boilerplate carrier counts; a pair that IS a true
    * near-dup loses only its ultra-common frames' votes and still
    * matches on the rest of its schedule. */
  def frameSigPairs(frames: DataFrame, id: String, pos: String, sig: String,
      maxHamming: Int = 3, minMatch: Long = 2, maxDf: Long = 4096): DataFrame = {
    require(maxHamming <= 3, s"4 bands of 16 bits only guarantee capture up to hamming 3, got $maxHamming")
    require(minMatch >= 1, s"minMatch must be at least 1, got $minMatch")
    require(maxDf >= 1, s"maxDf must be at least 1, got $maxDf")
    val base0 = carrierFrame(frames, id, Some(pos), sig)
    // ONE aggregate serves the boilerplate cap, the distinct-sig frame
    // the collapse's band join runs on, the multi-carrier groups whose
    // same-signature frame pairs ride the same expansion joins as the
    // cross pairs, AND the histograms steering the adaptive guard (df
    // counts DISTINCT documents — a signature repeating within one clip,
    // a static shot, must not count toward the cap).
    val sigStatsAll = base0.groupBy("sig")
      .agg(count_distinct(col("id")).as("df"), count(lit(1)).as("n"))
    // Measured (inside a scope; the probe job materializes base0 too):
    // is the boilerplate cap binding at all, and does any CAP-SURVIVING
    // signature's carrier cohort make band-bucket work quadratic?
    val maxima = measuredMaxima(sigStatsAll, max(col("df")),
      max(when(col("df") <= maxDf, col("n"))))
    // unmeasured -> assume the cap binds and the collapse is needed; a
    // cap that does not bind skips the filter and the semi-join too
    val capNeeded = maxima.forall(_.head > maxDf)
    val sigStats =
      if (capNeeded) sigStatsAll.where(col("df") <= maxDf) else sigStatsAll
    val base =
      if (capNeeded) base0.join(sigStats.select(col("sig")), Seq("sig"), "left_semi")
      else base0
    bandedCarrierPairs(base, sigStats,
        collapseNeeded(frames, maxima.map(_(1))), maxHamming)
      .groupBy(col("a"), col("b"), (col("pa") - col("pb")).as("d"))
      .agg(count(lit(1)).as("n_match"))
      .where(col("n_match") >= minMatch)
  }

  /** The guarded (id, [pos,] sig) projection every banded-Hamming path
    * starts from: positions and signatures cast to long, null and
    * all-zero signatures excluded (the zero code is the degenerate
    * contentless one — k stored or joined zeros would candidate-join each
    * other k times). */
  private[graft] def guardedSigs(df: DataFrame, id: String, pos: Option[String],
      sig: String): DataFrame =
    spread(df)
      .select(col(id).as("id") +: pos.map(col(_).cast("long").as("pos")).toSeq :+
        col(sig).cast("long").as("sig"): _*)
      .where(col("sig").isNotNull && col("sig") =!= 0L)

  /** [[guardedSigs]], cached unless the producer already owns its cache
    * ([[ownsCache]]): the banded operators read it from several consumers
    * (histogram aggregate + join sides). */
  private def carrierFrame(df: DataFrame, id: String, pos: Option[String],
      sig: String): DataFrame = {
    val projected = guardedSigs(df, id, pos, sig)
    if (ownsCache(projected)) graft.util.CacheScope.register(projected.cache())
    else projected
  }

  /** The banded joins read their guarded signature projection from
    * several consumers (histogram aggregate + join sides), so a producer
    * handing a RAW decode/hash chain gets it cached (the deterministic-
    * cost contract — racing cold consumers would re-run the decode per
    * side). A producer whose plan is a TRIVIAL projection/filter over an
    * already-cached relation owns materialization itself: a second cache
    * + materialization job per near-dup stage would be pure overhead.
    * "Trivial" is checked structurally — only column-shuffling Projects
    * (attribute / cast / struct-field / literal expressions), Filters
    * whose condition is a boolean combination of null tests and
    * comparisons over such expressions, and repartitions may sit between
    * the root and the cache. An expensive uncached map ABOVE a deep cache
    * (a decode projection over a cached scan fragment, a higher-order or
    * UDF predicate over a cached frame) still gets the guard. */
  private[graft] def ownsCache(projected: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical
    def trivial(e: Expression): Boolean = e match {
      case _: AttributeReference | _: Literal => true
      case _: Alias | _: Cast | _: GetStructField | _: Not | _: IsNull |
          _: IsNotNull | _: And | _: Or | _: BinaryComparison =>
        e.children.forall(trivial)
      case _ => false
    }
    def rootedInCache(p: logical.LogicalPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
      case pr: logical.Project if pr.projectList.forall(trivial) =>
        rootedInCache(pr.child)
      case f: logical.Filter if trivial(f.condition) => rootedInCache(f.child)
      case r: logical.RepartitionOperation => rootedInCache(r.child)
      case _ => false
    }
    !rootedInCache(projected.queryExecution.withCachedData)
  }

  /** Carrier-histogram probe of the adaptive skew guard: inside a
    * [[graft.util.CacheScope]] (the bench/Verify/service consume-now
    * shape) run ONE narrow aggregate job over the cached `stats` frame —
    * it doubles as the materializer of both `stats` and the signature
    * frame beneath it, replacing the bare eager count the deterministic-
    * cost contract used to pay — and report the measured maxima of the
    * requested aggregate expressions (an empty/all-null aggregate reads
    * as 0). Outside a scope (lazy library composition: no
    * construction-time jobs) returns None and the caller keeps the
    * unconditionally scale-safe collapse path. */
  private def measuredMaxima(stats: DataFrame, aggs: Column*): Option[Seq[Long]] =
    if (!graft.util.CacheScope.inScope) None
    else {
      val st = graft.util.CacheScope.register(stats.cache())
      val r = st.agg(aggs.head, aggs.tail: _*).head
      Some(aggs.indices.map(i => if (r.isNullAt(i)) 0L else r.getLong(i)))
    }

  /** The adaptive guard's decision from the measured largest carrier
    * cohort of any signature: collapse when it passes
    * Knobs.DedupHotSigCarriers (a threshold <= 0 always collapses).
    * Unmeasured (None, outside a scope), the collapse stays on. */
  private def collapseNeeded(df: DataFrame, maxCarriers: Option[Long]): Boolean = {
    val t = df.sparkSession.conf.get(graft.api.Knobs.DedupHotSigCarriers, "1024").toLong
    maxCarriers.forall(m => t <= 0 || m > t)
  }

  /** The banded-Hamming core of [[hammingPairs]] and [[frameSigPairs]]:
    * the matched carrier pairs (a, b, [pa, pb,] hamming), a < b, of a
    * guarded (id, [pos,] sig) frame ([[guardedSigs]]), given its carrier
    * histogram `sigStats` (sig, n, ...) and the guard's decision `hot`
    * ([[collapseNeeded]]). Each pair is emitted once (one signature per
    * id, or per (id, pos), is the producers' contract): no distinct.
    * Pigeonhole: two signatures within hamming 3 agree on at least one of
    * the 4 x 16-bit bands, so maxHamming <= 3 misses nothing, and both
    * paths keep a pair from its first agreeing band only
    * ([[firstAgreeingBandOnly]]): their outputs are identical.
    *
    * Hot — the exact-signature collapse (the hot-band skew guard): the
    * band join runs over DISTINCT signatures, verifying hamming =
    * bit_count(xor) INSIDE the join ([[distinctSigPairs]]); verified
    * signature pairs, plus the hamming-0 self pair of each multi-carrier
    * signature, expand back to carrier pairs through two linear joins on
    * the signature. A boilerplate signature (a constant white frame, a
    * site-wide intro card) with k carriers costs the band join ONE row,
    * not k per band, and its k(k-1)/2 carrier pairs come from a plain
    * sig-equi join AQE can skew-split.
    *
    * Cold — direct banding: when the MEASURED histogram shows no cohort
    * past the threshold, the collapse's aggregate and expansion joins are
    * pure overhead; the carrier rows are banded, self-equi-joined on
    * (band, value) with a < b and verified row-locally. */
  private def bandedCarrierPairs(base: DataFrame, sigStats: DataFrame,
      hot: Boolean, maxHamming: Int): DataFrame = {
    val seq = base.columns.contains("pos")
    if (hot) {
      val selfPairs = sigStats.where(col("n") >= 2)
        .select(col("sig").as("sa"), col("sig").as("sb"), lit(0L).as("hamming"))
      val sigPairs = distinctSigPairs(sigStats.select(col("sig")), maxHamming)
        .union(selfPairs)
      def side(s: String) = base.select(col("sig").as(s"s$s") +:
        col("id").as(s"i$s") +: (if (seq) Seq(col("pos").as(s"q$s")) else Nil): _*)
      val flip = col("ia") < col("ib")
      def ordered(x: String, y: String, as: String, bs: String) = Seq(
        when(flip, col(x)).otherwise(col(y)).as(as),
        when(flip, col(y)).otherwise(col(x)).as(bs))
      sigPairs.join(side("a"), "sa").join(side("b"), "sb")
        .where((col("sa") =!= col("sb") && col("ia") =!= col("ib")) ||
          (col("sa") === col("sb") && col("ia") < col("ib")))
        .select(ordered("ia", "ib", "a", "b") ++
          (if (seq) ordered("qa", "qb", "pa", "pb") else Nil) :+ col("hamming"): _*)
    } else {
      val banded = bandRows(base)
      banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
            col("x.id") < col("y.id"))
        .where(firstAgreeingBandOnly(col("x.sig"), col("y.sig"), col("x.band")))
        .select(Seq(col("x.id").as("a"), col("y.id").as("b")) ++
          (if (seq) Seq(col("x.pos").as("pa"), col("y.pos").as("pb")) else Nil) :+
          bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).cast("long").as("hamming"): _*)
        .where(col("hamming") <= maxHamming)
    }
  }

  /** Band `j` (bits [16j, 16j+16)) of a 64-bit signature. */
  private def bandVal(sig: Column, j: Int): Column =
    shiftrightunsigned(sig, j * 16).bitwiseAND(lit(0xffffL))

  /** Fan a frame with a 64-bit `sig` column out to its 4 16-bit band rows
    * (band, bv), every input column riding along — the one band explode
    * of the core's direct path, [[sigBandCandidates]] and the Hamming
    * index writer and probe. */
  private def bandRows(df: DataFrame): DataFrame = {
    val keep = df.columns.map(col)
    df.select(keep :+ explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"), bandVal(col("sig"), i).as("bv"))): _*)).as("bb"): _*)
      .select(keep :+ col("bb.band") :+ col("bb.bv"): _*)
  }

  /** Keep a band-`band` collision only when the two signatures DISAGREE
    * in every band j < band: a pair within hamming <= 3 collides in 1..4
    * bands, and exactly one copy — the first agreeing band's — survives
    * this row-local filter, eliminating the distinct pass (an Exchange +
    * two HashAggregates over every verified pair) the banded joins once
    * paid (r16; the output set is provably identical). */
  private def firstAgreeingBandOnly(sa: Column, sb: Column, band: Column): Column =
    (0 until 3).map(j => band <= j || bandVal(sa, j) =!= bandVal(sb, j))
      .reduce(_ && _)

  /** Candidate pairs (sa, sb), sa < sb, of a one-column `sig` frame of
    * DISTINCT 64-bit signatures that collide in at least one of the 4 x
    * 16-bit bands — the pre-verify stage of [[distinctSigPairs]], exposed
    * separately so specs and [[graft.ScaleProbe]] can count exactly the
    * verify work the banded join performs: the count is bounded by
    * distinct-signature pairs per bucket, independent of how many
    * carriers each signature has. */
  private[graft] def sigBandCandidates(distinctSigs: DataFrame): DataFrame = {
    val ex = bandRows(distinctSigs)
    ex.as("x")
      .join(ex.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.sig") < col("y.sig"))
      .select(col("x.sig").as("sa"), col("y.sig").as("sb"), col("x.band").as("band"))
  }

  /** Verified near-dup signature pairs (sa, sb, hamming), sa < sb, over a
    * one-column `sig` frame of DISTINCT 64-bit signatures: band candidates
    * ([[sigBandCandidates]]) -> bit_count(xor) verify INSIDE the join.
    * Each pair survives only from its FIRST agreeing band
    * ([[firstAgreeingBandOnly]]): exactly one copy per pair, zero extra
    * shuffles. */
  private[graft] def distinctSigPairs(distinctSigs: DataFrame, maxHamming: Int): DataFrame = {
    sigBandCandidates(distinctSigs)
      .where(firstAgreeingBandOnly(col("sa"), col("sb"), col("band")))
      .select(col("sa"), col("sb"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Persist the banded-Hamming index of a 64-bit-signature corpus,
    * enabling INCREMENTAL signature near-dup ([[incrementalHammingPairs]])
    * for whatever computed the signatures — perceptual image dHash, audio
    * fingerprints, SimHash: the production ingestion shape, where the
    * expensive per-row decode/hash happens once per row ever. Layout:
    * `path/bands` = (band, bv, id, sig) — the full signature RIDES the
    * band rows (8 bytes x 4 bands per row; signatures need no second
    * verification table the way MinHash shingle sets do), so the probe is
    * ONE equi-join with the bit_count verify inline. All-zero signatures
    * stay out (the [[hammingPairs]] contentless-code guard — k stored
    * zeros would candidate-join every later contentless row k times).
    *
    * Same commit discipline as [[writeBandIndex]]: a `batch` partition
    * level via [[IndexIO]] — streaming batchIds write as dynamic partition
    * overwrites (replay-idempotent), batch = -1 otherwise, behind the same
    * replay guard. */
  def writeHammingIndex(sigs: DataFrame, id: String, sig: String,
      path: String, append: Boolean = false, batchId: Option[Long] = None): Unit =
    IndexIO.appendBatch(sigs.sparkSession, path, batchId)(_ => IndexIO.writeBatch(
      bandedSigs(sigs, id, sig), s"$path/bands", batchId, Seq.empty, append))

  /** (id, sig, band, bv) exploded band rows of a signature frame, zero
    * signatures excluded — shared by the index writer and the probe. */
  private def bandedSigs(sigs: DataFrame, id: String, sig: String): DataFrame =
    bandRows(guardedSigs(sigs, id, None, sig))

  /** Near-duplicate pairs (a = new-batch id, b = indexed id, hamming)
    * between a NEW batch's 64-bit signatures and a persisted
    * [[writeHammingIndex]] corpus — the signatures are never recomputed
    * for the stored side. Pigeonhole capture is exhaustive at
    * maxHamming <= 3, exactly as in [[hammingPairs]].
    *
    * The batch side is broadcast ONLY while its optimizer size estimate
    * stays under the session's broadcast threshold (the
    * [[AnnIndex.nearDupAgainstIndex]] rationale: a micro-batch skips
    * shuffling the unbounded index side, but the hint OVERRIDES
    * `autoBroadcastJoinThreshold`, and a bulk backfill pushed through the
    * incremental path must fall back to the planner's shuffle join with
    * AQE free to re-plan). `excludeBatch` drops the current streaming
    * batch's own partition on replay, as in [[incrementalPairs]]. */
  def incrementalHammingPairs(batch: DataFrame, id: String, sig: String,
      indexPath: String, maxHamming: Int = 3,
      excludeBatch: Option[Long] = None): DataFrame = {
    require(maxHamming <= 3, s"4 bands of 16 bits only guarantee capture up to hamming 3, got $maxHamming")
    val spark = batch.sparkSession
    val banded = bandedSigs(batch, id, sig)
    val idx = IndexIO.excludeBatch(
      spark.read.parquet(s"$indexPath/bands"), excludeBatch)
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val probe =
      if (threshold > 0 &&
          banded.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold)
        broadcast(banded)
      else banded
    probe.as("x")
      .join(idx.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.id") =!= col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Position base for the composite (document, position) key the
    * frame-sequence index rides on: positions must stay below it, and
    * document ids below Long.MaxValue / PosBase (~2^43 — ample for any
    * media id space). 2^20 matches the frame-sampling `maxFrames` cap. */
  val PosBase: Long = 1L << 20

  /** Build the composite (document, position) key, ENFORCING the contract
    * the decode side assumes: 0 <= pos < [[PosBase]] (a position at or
    * past the base would alias into the next document's key space) and
    * 0 <= id < Long.MaxValue / [[PosBase]] (a negative id composes to a
    * negative key whose `div`/`pmod` recovery disagree — id -1 at pos 0
    * would decode as id 0 — and an oversized id overflows the multiply).
    * Violations raise per-row instead of silently producing wrong
    * near-dup pairs; the predicate is one codegen'd comparison per row.
    * The `filter(assert_true(..).isNull)` form survives column pruning —
    * an unused withColumn would be optimized away. */
  private def compositeKey(df: DataFrame, id: String, pos: String,
      sig: String): DataFrame = {
    val idc = col(id).cast("long")
    val posc = col(pos).cast("long")
    val ok = idc.geq(0L) && idc.lt(Long.MaxValue / PosBase) &&
      posc.geq(0L) && posc.lt(PosBase)
    df.filter(assert_true(ok, concat_ws(" ",
        lit(s"composite frame key out of contract (need 0 <= pos < $PosBase, 0 <= id < ${Long.MaxValue / PosBase}): id"),
        col(id), lit("pos"), col(pos))).isNull)
      .select((idc * PosBase + posc).as("cid"),
        col(sig).cast("long").as("csig"))
  }

  /** Persist the banded-Hamming index of a SEQUENCE-signature corpus
    * (per-frame video dHashes, windowed audio signatures): each (id, pos,
    * sig) row is stored under the composite key id * [[PosBase]] + pos
    * (contract enforced — see [[compositeKey]]), so the EXISTING Hamming
    * index machinery — batchId partitions, swap recovery,
    * [[compactHammingIndex]] — serves frame sequences unchanged.
    * Probe with [[incrementalFrameSigPairs]]. */
  def writeFrameSigIndex(frames: DataFrame, id: String, pos: String,
      sig: String, path: String, append: Boolean = false,
      batchId: Option[Long] = None): Unit = {
    val comp = compositeKey(spread(frames), id, pos, sig)
    writeHammingIndex(comp, "cid", "csig", path, append, batchId)
  }

  /** Near-duplicate SEQUENCE pairs (a = new-batch id, b = indexed id, d,
    * n_match) between a NEW batch's frame signatures and a persisted
    * [[writeFrameSigIndex]] corpus — the incremental form of
    * [[frameSigPairs]], the production ingestion shape for video: each
    * incoming clip's sampled-frame hashes probe the stored corpus
    * (never re-decoded), and a clip matching an indexed one on a
    * consistent alignment diagonal with >= `minMatch` frames is a
    * re-encode (d = 0) or trim (d != 0) of it. Positions recover from the
    * composite key by exact integer div/mod; same-document frame matches
    * (replay, self-similar clips) are excluded. */
  def incrementalFrameSigPairs(batch: DataFrame, id: String, pos: String,
      sig: String, indexPath: String, maxHamming: Int = 3,
      minMatch: Long = 2, excludeBatch: Option[Long] = None): DataFrame = {
    require(minMatch >= 1, s"minMatch must be at least 1, got $minMatch")
    val comp = compositeKey(spread(batch), id, pos, sig)
    incrementalHammingPairs(comp, "cid", "csig", indexPath, maxHamming,
        excludeBatch)
      // `div`, not `/`: long division through Spark's double `/` loses
      // bits past the 53-bit mantissa on large composite keys
      .select(expr(s"a div ${PosBase}L").as("a"),
        pmod(col("a"), lit(PosBase)).as("pa"),
        expr(s"b div ${PosBase}L").as("b"),
        pmod(col("b"), lit(PosBase)).as("pb"))
      .where(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"), (col("pa") - col("pb")).as("d"))
      .agg(count(lit(1)).as("n_match"))
      .where(col("n_match") >= minMatch)
  }

  /** Fold a grown [[writeHammingIndex]] index's batch partitions back to
    * well-sized base files — the single-table sibling of
    * [[compactBandIndex]], same crash-safe swap and `compactedThrough`
    * bookkeeping (a committed batch re-delivered across the compaction
    * no-ops).
    *
    * `maxDf` is the INDEX-SIDE boilerplate policy (the [[frameSigPairs]]
    * df-cap applied where the incremental path can afford it — at
    * compaction, when the whole table is being rewritten anyway): a
    * signature carried by more than `maxDf` DISTINCT stored ids is
    * corpus boilerplate (a constant intro frame, identical silence
    * windows) whose band rows cost every future
    * [[incrementalHammingPairs]] probe batch_carriers x index_carriers
    * candidate rows; capping drops it from the index entirely. Recall
    * trade: dropped signatures never match again — for frame-sequence
    * indexes a true near-dup still matches on its non-boilerplate
    * frames, exactly as in [[frameSigPairs]]. The cap counts and drops
    * only the rows the compaction folds; batches newer than `through` carry
    * over unchanged. Default None = unchanged behavior. */
  def compactHammingIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, through: Option[Long] = None,
      maxDf: Option[Long] = None): Unit =
    IndexIO.compact(spark, path, through, Seq("bands"),
      transform = maxDf.fold(identity[DataFrame] _) { cap => df =>
        val keep = df.groupBy("sig")
          .agg(count_distinct(col("id")).as("df"))
          .where(col("df") <= cap).select(col("sig"))
        df.join(keep, Seq("sig"))
      })

  /** Exact-duplicate groups by normalized-text fingerprint:
    * (fp, cnt, keeper = min id). */
  def exactGroups(docs: DataFrame, id: String, text: Column): DataFrame =
    docs.select(col(id).as("id"), TextKernels.fingerprint(text).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("cnt"), min(col("id")).as("keeper"))
      .where(col("cnt") > 1)

  /** Persist the exact-dup fingerprint index — the exact twin of
    * [[writeBandIndex]]: (fp, id) written once, `append = true` per
    * accepted batch, `batchId` for replay-idempotent streaming appends
    * (the batch's `batch=<id>` directory is the unit of commit), behind
    * the [[IndexIO.appendBatch]] replay guard. */
  def writeFingerprintIndex(docs: DataFrame, id: String, text: Column,
      path: String, append: Boolean = false, batchId: Option[Long] = None): Unit =
    IndexIO.appendBatch(docs.sparkSession, path, batchId)(_ => IndexIO.writeBatch(
      spread(docs).select(TextKernels.fingerprint(text).as("fp"), col(id).as("id")),
      path, batchId, Seq.empty, append))

  /** Exact duplicates of a NEW batch against a persisted
    * [[writeFingerprintIndex]] corpus: (id, fp, keeper = min indexed id
    * with the same fingerprint). One fingerprint pass over the batch plus
    * one equi-join against the stored (fp, id) table — the corpus text is
    * never re-read or re-hashed; the min runs over matched rows only.
    * `excludeBatch` — see [[incrementalPairs]]: on a replay the batch's
    * own committed fingerprints must not make it its own keeper. */
  def incrementalExact(newDocs: DataFrame, id: String, text: Column,
      indexPath: String, excludeBatch: Option[Long] = None): DataFrame = {
    val fps = spread(newDocs)
      .select(col(id).as("id"), TextKernels.fingerprint(text).as("fp"))
    // same unconditional batch-side broadcast as incrementalPairs: the
    // stored (fp, id) table must never shuffle per ingestion batch
    broadcast(fps).join(IndexIO.excludeBatch(
          newDocs.sparkSession.read.parquet(indexPath), excludeBatch)
        .select(col("fp"), col("id").as("__idx_id")), Seq("fp"))
      .groupBy(col("id"), col("fp"))
      .agg(min(col("__idx_id")).as("keeper"))
  }

  /** Bloom sidecar file name (the `_` prefix keeps it out of Spark's file
    * listing, like the meta sidecar). */
  private[graft] val BloomFile = "_graft_bloom"

  /** Build (or refresh) the fingerprint index's Bloom-filter sidecar: one
    * membership summary over every stored fingerprint, plus a `bloomUpTo`
    * high-water mark (the highest batchId the filter covers) in the meta
    * sidecar. [[incrementalExactBloom]] then answers "is this fingerprint
    * possibly stored?" from the broadcast filter for batches <= the mark
    * and from a partition-pruned read of only the newer `batch=` partitions
    * — so a NOVEL ingestion batch (the common case on a live crawl) never
    * scans the stored index at all.
    *
    * Sizing: `expectedItems` defaults to the stored row count (one count
    * job); at 1% fpp the filter costs ~1.2 bytes/item — ~1.2 GB per billion
    * stored docs, a broadcast-sized summary of a corpus whose (fp, id)
    * table is 50x that. Rebuild cadence: [[compactFingerprintIndex]]
    * refreshes an existing bloom automatically (folding batches into the
    * base would otherwise strand the high-water mark); manual `batch=-1`
    * appends (`writeFingerprintIndex(append = true)` without a batchId)
    * require a manual rebuild, since they land BELOW the mark. */
  def writeFingerprintBloom(spark: org.apache.spark.sql.SparkSession,
      path: String, fpp: Double = 0.01): Unit = {
    IndexIO.recoverSwap(spark, path)
    require(IndexIO.hasData(spark, path),
      s"no fingerprint index data at $path — build with writeFingerprintIndex first")
    val df = spark.read.parquet(path)
    val upTo = df.agg(max(col(IndexIO.BatchCol).cast("long"))).head match {
      case r if r.isNullAt(0) => -1L
      case r => r.getLong(0)
    }
    val n = df.count()
    val bf = df.stat.bloomFilter("fp", math.max(n, 1L), fpp)
    val p = new org.apache.hadoop.fs.Path(path, BloomFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try bf.writeTo(out) finally out.close()
    IndexIO.writeMeta(spark, path, IndexIO.editedMeta(spark, path)(_.put("bloomUpTo", upTo)))
  }

  /** The stored bloom + its high-water mark, if one was built. */
  private[graft] def readFingerprintBloom(
      spark: org.apache.spark.sql.SparkSession, path: String)
      : Option[(org.apache.spark.util.sketch.BloomFilter, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path, BloomFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val bf = try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
        finally in.close()
      val upTo = IndexIO.readMeta(spark, path)
        .map(_.path("bloomUpTo").asLong(-1L)).getOrElse(-1L)
      Some((bf, upTo))
    }
  }

  /** [[incrementalExact]] with a Bloom prefilter — identical answers, but a
    * batch whose fingerprints all miss the filter (AND have no match in the
    * post-bloom `batch=` partitions) skips the stored-index scan entirely.
    * The decomposition: the broadcast bloom soundly covers partitions
    * `batch <= bloomUpTo`; newer partitions are joined directly through a
    * partition-pruned read (they are exactly the streaming appends since
    * the last bloom build/compaction — bounded by the compaction cadence).
    * Bloom FALSE POSITIVES only send extra rows into the verify join (the
    * join discards them); false negatives cannot occur for covered
    * partitions, so no duplicate is ever missed. Falls back to the plain
    * join when no bloom sidecar exists. */
  def incrementalExactBloom(newDocs: DataFrame, id: String, text: Column,
      indexPath: String, excludeBatch: Option[Long] = None): DataFrame = {
    val spark = newDocs.sparkSession
    readFingerprintBloom(spark, indexPath) match {
      case None => incrementalExact(newDocs, id, text, indexPath, excludeBatch)
      case Some((bf, upTo)) =>
        // the batch-side fingerprint projection runs up to three times
        // (emptiness probe + the two joins) — all batch-bounded narrow
        // maps, deliberately not cached so an unbounded streaming loop
        // never accumulates per-batch cache entries
        val fps = spread(newDocs)
          .select(col(id).as("id"), TextKernels.fingerprint(text).as("fp"))
        val bc = spark.sparkContext.broadcast(bf)
        val possible = fps.where(
          graft.functions.NativeKernels.bloomMightContain(col("fp"), bc))
        val idx = IndexIO.excludeBatch(spark.read.parquet(indexPath), excludeBatch)
        val b = col(IndexIO.BatchCol).cast("long")
        val recent = idx.where(b > upTo).select(col("fp"), col("id").as("__idx_id"))
        val recentMatches = broadcast(fps).join(recent, Seq("fp"))
          .select(col("id"), col("fp"), col("__idx_id"))
        // one cheap batch-only job decides whether the covered portion of
        // the index needs reading at all — the novel-batch fast path
        val oldMatches =
          if (possible.limit(1).isEmpty)
            fps.select(col("id"), col("fp"), col("id").as("__idx_id")).limit(0)
          else broadcast(possible).join(
            idx.where(b <= upTo).select(col("fp"), col("id").as("__idx_id")),
            Seq("fp")).select(col("id"), col("fp"), col("__idx_id"))
        oldMatches.unionByName(recentMatches)
          .groupBy(col("id"), col("fp"))
          .agg(min(col("__idx_id")).as("keeper"))
    }
  }

  /** Compact a grown [[writeBandIndex]] index: fold every appended batch of
    * both tables back into `batch=-1`, rewritten to well-sized files (one
    * per ~`maxPartitionBytes`), and atomically swap ([[IndexIO.compact]];
    * same rationale and crash-safety as [[AnnIndex.compact]]).
    * `compactedThrough` in the root-level sidecar makes a committed batch
    * re-delivered across the compaction a no-op. `through` bounds the fold
    * to batchIds <= it — `None` offline, `batchId - 1` in-loop, by the two
    * rules stated in [[IndexIO]]. */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      through: Option[Long] = None): Unit =
    IndexIO.compact(spark, path, through, Seq("bands", "shingles"))

  /** Compact a grown [[writeFingerprintIndex]] index — the single-table
    * twin of [[compactBandIndex]]. An existing Bloom sidecar is REBUILT
    * after the swap: the fold moves batches <= `through` into the base,
    * and a stale `bloomUpTo` high-water mark would make
    * [[incrementalExactBloom]]'s "newer partitions" read miss them. (The
    * rewrite drops the old bloom file with the old directory, so a crash
    * between swap and rebuild degrades to the plain-join fallback — never
    * to a stale bloom.) A swap stranded at `__old` is repaired before the
    * bloom is looked for, or the index would read as bloom-less. */
  def compactFingerprintIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      through: Option[Long] = None): Unit = {
    IndexIO.recoverSwap(spark, path)
    val hadBloom = readFingerprintBloom(spark, path).isDefined
    IndexIO.compact(spark, path, through)
    if (hadBloom) writeFingerprintBloom(spark, path)
  }

  /** Connected components over a near-duplicate pair list: (node, cluster)
    * where cluster = the minimum node id reachable through the pair graph.
    * This is the step that turns pairwise near-dup hits into dedup GROUPS —
    * at corpus scale a document can be near-duplicate to many others and
    * the keep-one-per-group decision needs the transitive closure, not the
    * pair list.
    *
    * Algorithm: distributed min-label propagation — every round each node
    * adopts the minimum label among itself and its neighbours (one
    * equi-join + one map-side-combining min aggregation per round, both
    * plain shuffles on the node id). Rounds needed = graph diameter.
    * Near-duplicate graphs are clique-like (a dup group collides in most
    * bands), so the diameter is small (1-3) and this outperforms the
    * O(log n)-round star-contraction algorithms that pay bigger constants
    * per round; the `maxRounds` guard bounds pathological chain graphs.
    * Each round materializes and caches its label frame and unpersists the
    * previous one, so RECOMPUTATION stays one round deep — but the logical
    * plan still nests one join per round, and a high-diameter graph would
    * grow it without bound (planner time, task-binary size, and a full
    * lineage replay if an executor loses cached blocks). Every
    * `checkpointEvery` rounds the label frame is therefore checkpointed —
    * reliably when `sparkContext.setCheckpointDir` is configured (the
    * 100 TB setting), else `localCheckpoint` — which cuts the plan back to
    * a materialized-RDD scan.
    */
  def clusters(pairs: DataFrame, a: String = "a", b: String = "b",
               maxRounds: Int = 50, localEdgeLimit: Long = 2000000L,
               checkpointEvery: Int = 0): DataFrame = {
    // 0 = unset: resolve from the session conf (deployment knob). Default
    // 5: each propagation round references the previous labels TWICE
    // (join + union), so the logical plan grows ~2^rounds between
    // checkpoints — 2^5 leaf copies stays cheap to analyze and stringify
    // (plan-description events), while 2^10 measurably is not
    val ckptEvery =
      if (checkpointEvery != 0) checkpointEvery
      else pairs.sparkSession.conf
        .get(graft.api.Knobs.DedupCheckpointEvery, "5").toInt
    require(ckptEvery > 0,
      s"checkpointEvery must be positive, got $ckptEvery " +
        "(use a value > maxRounds to effectively disable checkpointing)")
    // duplicate edges are harmless to a min-aggregation, so no distinct()
    // pass; near-dup pair generators emit unique (a < b) pairs anyway.
    // The symmetric edge view is built as two scans of ONE pinned pair
    // frame: caching the union instead (the historical shape) made its
    // cold materialization run the whole upstream pair-generation chain —
    // the banded candidate join plus the exact verify join — once PER
    // UNION BRANCH, i.e. twice, on every clustering query. The pin's
    // count doubles as the edge count the local/distributed decision
    // needs (the union counts each pair in both directions: 2x).
    val p = graft.util.CacheScope.register(
      pairs.select(col(a).as("x0"), col(b).as("y0")).cache())
    val nPairs = p.count()
    val e = p.select(col("x0").as("x"), col("y0").as("y"))
      .union(p.select(col("y0").as("x"), col("x0").as("y")))
    // Size-gated local fast path — the same philosophy as Spark's broadcast
    // join: when the EDGE LIST (not the corpus) fits on the driver, a local
    // union-find beats rounds of tiny distributed jobs by orders of
    // magnitude. Near-dup graphs are sparse (pairs, not documents), so even
    // 100 TB corpora often land here; the propagation loop below covers the
    // genuinely large case. Non-integral ids reach it through the
    // map-to-long recursion below.
    val idType = e.schema("x").dataType
    val integral = idType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    if (!integral) {
      // Non-integral ids (strings, UUIDs): assign each distinct node a
      // unique long ONCE and recurse — the long propagation reuses the
      // same-job SUM convergence test below instead of paying a
      // changed-labels join per round, and a small graph now reaches the
      // local union-find fast path too. monotonically_increasing_id is
      // only stable within one materialization, so the mapping is pinned
      // (reliable checkpoint when a dir is set, else localCheckpoint)
      // before it feeds two joins. The contract's representative (cluster
      // = MIN original id) is restored by one final aggregation — the min
      // LONG label is not the min ORIGINAL id.
      val spark = pairs.sparkSession
      val nodesRaw = e.select(col("x")).distinct()
        .withColumn("__nid", monotonically_increasing_id())
      val nodes =
        if (spark.sparkContext.getCheckpointDir.isDefined) nodesRaw.checkpoint()
        else nodesRaw.localCheckpoint()
      val eh = e
        .join(nodes.select(col("x"), col("__nid").as("xid")), "x")
        .join(nodes.select(col("x").as("y"), col("__nid").as("yid")), "y")
        .select(col("xid"), col("yid"))
      val mapped = clusters(eh, "xid", "yid", maxRounds, localEdgeLimit, ckptEvery)
      val withOrig = mapped
        .join(nodes.select(col("__nid").as("n"), col("x").as("__orig")), "n")
      val reps = withOrig.groupBy(col("c")).agg(min(col("__orig")).as("__repr"))
      val out = withOrig.join(reps, "c")
        .select(col("__orig").as("n"), col("__repr").as("c"))
      p.unpersist()
      return out
    }
    val nEdges = 2 * nPairs // both directions, matching the union's count
    if (nEdges <= localEdgeLimit) {
      // union-find is direction-blind: collect the pinned HALF the
      // symmetric view doubles (half the driver transfer and memory)
      val edges = p.select(col("x0").cast("long"), col("y0").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(v: Long): Long = {
        var r = v
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = v // path compression
        while (parent.getOrElse(c, c) != r) { val p = parent(c); parent(c) = r; c = p }
        r
      }
      edges.foreach { case (x, y) =>
        parent.getOrElseUpdate(x, x); parent.getOrElseUpdate(y, y)
        val (rx, ry) = (find(x), find(y))
        if (rx != ry) parent(rx) = ry
      }
      val nodes = parent.keys.toArray
      val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
      nodes.foreach { n =>
        val r = find(n)
        minOfRoot(r) = math.min(minOfRoot.getOrElse(r, n), n)
      }
      p.unpersist()
      val spark = pairs.sparkSession
      import spark.implicits._
      val out = nodes.sorted.map(n => (n, minOfRoot(find(n)))).toSeq
        .toDF("n", "c")
      return out.select(col("n").cast(idType).as("n"), col("c").cast(idType).as("c"))
    }
    // Loop partitioning derived from the MEASURED edge count (scale-
    // adaptive, not a constant): tiny forced-distributed graphs run
    // single-task rounds instead of paying the session's full shuffle
    // width per round, while a graph past edgesPerPartition x shuffle
    // partitions uses the session setting unchanged. Keying the cached
    // edge frame by the join key ONCE makes every round's join
    // exchange-free on the edge side (the loop-invariant shuffle was paid
    // per round before); when loopParts equals the session width the
    // round aggregate's output partitioning (n, loopParts) then matches
    // the next round's join requirement, so the only per-round exchange
    // left is the label aggregate itself.
    val sess = pairs.sparkSession
    val edgesPerPart = math.max(1L, sess.conf
      .get(graft.api.Knobs.DedupEdgesPerPartition, "1000000").toLong)
    val sessParts = sess.sessionState.conf.numShufflePartitions
    val loopParts = math.max(1, math.min(
      ((nEdges + edgesPerPart - 1) / edgesPerPart).toInt, sessParts))
    val ek = graft.util.CacheScope.register(
      e.repartition(loopParts, col("y")).cache())
    // keep the small-loopParts repartition BELOW the distinct so the
    // aggregate satisfies its distribution from it (no second exchange)
    var labels = ek.select(col("x").as("n"))
      .repartition(loopParts, col("n")).distinct()
      .select(col("n"), col("n").as("c")).cache()
    // Convergence test in the SAME job that materializes the round (ids
    // are integral here — the non-integral branch above mapped-and-
    // recursed): labels are monotonically non-increasing per node over a
    // fixed node set, so the label sum strictly decreases until the
    // fixpoint — one exact decimal aggregate per round replaces a count +
    // a changed-rows join.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("c").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = labelSum(labels) // null when empty -> 1 round
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val joined = ek.as("e").join(labels.as("l"), col("e.y") === col("l.n"))
        .select(col("e.x").as("n"), col("l.c").as("c"))
        .union(labels)
      // below the session width, pin the aggregate to loopParts via an
      // explicit repartition (the map-side partial aggregate it forfeits
      // only matters when the per-round data is big — exactly when
      // loopParts == sessParts and this branch is skipped)
      val next = (if (loopParts < sessParts)
          joined.repartition(loopParts, col("n")) else joined)
        .groupBy("n").agg(min("c").as("c"))
        .cache()
      val s = labelSum(next)
      converged = java.util.Objects.equals(s, prevSum)
      prevSum = s
      labels.unpersist()
      round += 1
      labels = if (!converged && round % ckptEvery == 0) {
        // truncate the lineage so the plan never nests more than
        // checkpointEvery joins; reliable checkpoint when a dir is set
        val cp =
          if (pairs.sparkSession.sparkContext.getCheckpointDir.isDefined)
            next.checkpoint()
          else next.localCheckpoint()
        next.unpersist()
        cp
      } else next
    }
    if (!converged)
      // best-effort is silent corruption for the downstream keep-one-per-
      // cluster step: a chain longer than maxRounds reports one true
      // duplicate group as several clusters and duplicates survive
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"label propagation stopped at maxRounds=$maxRounds before " +
          "convergence — the pair graph's diameter exceeds the bound and " +
          "some clusters are split; raise maxRounds")
    ek.unpersist()
    p.unpersist()
    graft.util.CacheScope.register(labels)
  }
}
