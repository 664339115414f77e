package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-facet rank aggregation: the rebuild of the reference's
  * Threshold / NRA / PRA aggregators
  * (reference: ranking/RankAggregator.java:29-277,
  * ranking/ThresholdRanking.java:189-289,
  * ranking/NoRandomAccessRanking.java:64-269,
  * ranking/PartialRandomAccessRanking.java:112-316).
  *
  * Batch-Spark plan (SURVEY.md §7.2): the union of the per-facet top-M
  * candidate id-sets is scored EXACTLY against every facet ("random access"
  * becomes a broadcast join), then one global top-k per weight combination.
  * This yields scores at least as exact as TA and strictly more exact than
  * NRA/PRA, which may emit lower-bound scores — the reference itself patches
  * estimated scores to exact ones when collecting stats
  * (SearchHandler.java:759-767).
  *
  * Scale design (100 TB): each facet's top-M is a shuffle-free
  * TakeOrderedAndProject over the facet scan; the candidate id-set
  * (<= M * |facets| <= 50k * facets rows) is broadcast ONCE, to a join
  * above the union of the per-facet exact-scoring streams, so the facet
  * scans stream against it and no large table is ever shuffled; the final
  * group-by/top-k runs over candidate rows only. A local facet whose cached
  * top-M list holds every candidate (the list exhausted the facet, or it is
  * the query's only facet) is scored from that list: the second full scan
  * is paid only by facets the lists do not cover.
  */
object RankAggregate {

  /** Exact weighted top-k over the candidate union.
    *
    * @param facets  bound facets; `weightPerCombo` must have `nCombos` entries each
    * @param k       result size per combination (reference caps at K_MAX=50,
    *                Constants.java:42)
    * @param m       per-facet candidate list size (reference: k * 1000,
    *                SearchHandler.java:318-320)
    * @return columns (combo: int, rank: int, id, score: double) — `score`
    *         rounded to 6 decimals; ranking order is (rounded score desc, id)
    *         so results are bit-deterministic across engines.
    */
  /** As [[topK]] but additionally returns one raw (unrounded) decayed
    * similarity column per facet, named `s_<facetName>` — the reference's
    * per-attribute scores in RankedResult.attributes
    * (engine/processor/RankedResult.java:14-176). */
  def topKDetailed(spark: SparkSession, facets: Seq[BoundFacet], k: Int, m: Int,
      topMsIn: Option[Seq[DataFrame]] = None): DataFrame =
    run(spark, facets, k, m, detailed = true, topMsIn)

  /** `topMsIn`: pre-computed (and ideally cached) per-facet top-M candidate
    * frames, positionally matching `facets` — callers that already scanned
    * each facet for calibration (the engine's search path) pass them so
    * phase 1 reads the caches instead of re-scanning every facet. Each list
    * must be the facet's (d, id)-ordered top-`m` (similarity-descending for
    * a pre-scored facet): phase 2 scores a facet from its list alone when
    * the list has fewer than `m` rows or is the only one. */
  def topK(spark: SparkSession, facets: Seq[BoundFacet], k: Int, m: Int,
      topMsIn: Option[Seq[DataFrame]] = None): DataFrame =
    run(spark, facets, k, m, detailed = false, topMsIn)

  /** One facet of a [[topKSharedScan]] query: a distance COLUMN over the
    * shared source (instead of a standalone dist frame). */
  final case class SharedFacet(
      name: String,
      dist: org.apache.spark.sql.Column,
      weightPerCombo: Seq[Double],
      decay: Double = graft.functions.SimKernels.DefaultDecay,
      jaccard: Boolean = false)

  /** As [[topK]] for facets sharing ONE source frame, with a FUSED exact-
    * scoring phase: because every facet is a distance COLUMN over the same
    * source and ids are unique in it, the per-candidate facet scores need no
    * per-facet stream + union + pivot aggregation — one broadcast-semi pass
    * over the source computes every `s_i` side by side. Plan effect vs
    * [[topK]] over per-facet projections of the same frame: |facets| scans
    * + union + HashAggregate (+ its Exchange) collapse into ONE scan and
    * zero aggregates; at cluster scale that is |facets| full corpus passes
    * → 1. Results are bit-identical for the shared-source shape (each
    * candidate id appears exactly once per facet stream either way, so the
    * pivot's conditional sum was a no-op re-expression of the same decayed
    * similarity — asserted row-for-row against [[topK]] in OperatorSpec).
    * PRECONDITION: the facet distance expressions must be null-free over
    * the source (the mount contract, P4 na.drop) — [[run]]'s pivot
    * coalesces a missing facet score to 0.0, while the fused weighted sum
    * would carry a null distance into a null score.
    * Phase 1 stays the per-facet codegen'd TakeOrderedAndProject over the
    * (typically cached) source. */
  def topKSharedScan(spark: SparkSession, source: DataFrame,
      id: org.apache.spark.sql.Column, facets: Seq[SharedFacet],
      k: Int, m: Int, detailed: Boolean = false): DataFrame = {
    require(facets.nonEmpty)
    val nCombos = facets.head.weightPerCombo.size
    require(facets.forall(_.weightPerCombo.size == nCombos))
    facets.foreach(f => f.weightPerCombo.foreach(w =>
      require(w > 0 && w <= 1, s"weight $w out of (0,1] for facet ${f.name}")))
    // Phase 1: deterministic per-facet top-M, one TakeOrderedAndProject
    // per facet over the shared source (cached by the caller), cached so
    // calibration and the candidate union read each list once.
    val topMs = facets.map(f => graft.util.CacheScope.register(
      FacetSearch.topM(source.select(id.as("id"),
        f.dist.cast("double").as("d")), m).cache()))
    val kth = kthDistances(facets.indices.map(i => i -> topMs(i)), k)
    val scales = facets.indices.map { i =>
      val dk = kth.getOrElse(i, 0.0)
      if (dk <= 0.0) 1.0 else dk
    }
    val cands = topMs.map(_.select(col("id"))).reduce(_ union _).distinct()
    // Phase 2 (fused): one broadcast-semi pass computes all facet scores.
    val simCols = facets.zip(scales).zipWithIndex.map { case ((f, sc), i) =>
      val d = f.dist.cast("double")
      val s =
        if (f.jaccard) graft.functions.SimKernels.decaySimJaccard(d, f.decay, lit(sc))
        else graft.functions.SimKernels.decaySim(d, f.decay, lit(sc))
      s.as(s"s_$i")
    }
    val pivoted = source.select((id.as("id") +: simCols): _*)
      .join(broadcast(cands), Seq("id"))
    // TA-style exactness bound for detailed mode — same derivation as
    // [[run]]'s sMth, restricted to the shared-source facet shape (no
    // pre-scored facets possible here).
    lazy val sMth: Seq[Double] = {
      val stats = listStats(topMs)
      facets.zip(scales).zipWithIndex.map { case ((f, sc), i) =>
        val (n, maxd, _) = stats.getOrElse(i, (0L, 0.0, 0.0))
        if (n < m) 0.0
        else if (f.jaccard && maxd == 1.0) 0.0
        else math.exp(-f.decay * maxd / sc)
      }
    }
    finish(pivoted, facets.map(f => (f.name, f.weightPerCombo)), k, nCombos,
      detailed, if (detailed) Some(sMth) else None)
  }

  private def run(spark: SparkSession, facets: Seq[BoundFacet], k: Int, m: Int,
      detailed: Boolean, topMsIn: Option[Seq[DataFrame]] = None): DataFrame = {
    require(facets.nonEmpty)
    val nCombos = facets.head.weightPerCombo.size
    require(facets.forall(_.weightPerCombo.size == nCombos))
    facets.foreach(f => f.weightPerCombo.foreach(w =>
      require(w > 0 && w <= 1,
        s"weight $w out of (0,1] for facet ${f.name}"))) // reference: weights/Validator.java:14-22 (1.0 admitted — the reference's own golden query uses it)
    // mixed-source queries make heterogeneous id types a real hazard: the
    // candidate union would silently widen (bigint 7 vs string "007" never
    // matching back) — fail fast and make the caller cast to a common type
    val idTypes = facets.map(_.dist.schema("id").dataType).distinct
    require(idTypes.size == 1,
      s"facet id types must match, got ${idTypes.mkString(", ")}; cast ids to a common type")

    // Phase 1: deterministic per-facet candidates. Each top-M is one
    // shuffle-free TakeOrderedAndProject scan; the (<= m)-row result is
    // cached so both the scale calibration and the candidate union read it
    // without re-scanning the facet. Cache lifetime: entries are small
    // (<= m rows) and MEMORY_AND_DISK, so a long-lived session sheds them
    // via LRU eviction; they cannot be unpersisted here because the
    // returned DataFrame is lazy and still references them — a consuming
    // CacheScope.withScope releases them right after its action instead.
    // pre-scored (NRA) facets rank by similarity DESC — their list is the
    // entire knowledge of the facet (no random access)
    val topMs = topMsIn.getOrElse(facets.map(f =>
      graft.util.CacheScope.register(
        (if (f.preScored) f.dist.orderBy(col("d").desc, col("id")).limit(m)
         else FacetSearch.topM(f.dist, m)).cache())))
    // Calibrate every facet's scale in ONE Spark job ([[kthDistances]]).
    // The reference runs one thread per facet for the same reason
    // (SearchHandler.java:717-720); one tagged job beats |facets| separate
    // jobs on per-job overhead and populates all the topM caches in a
    // single pass.
    val kth = kthDistances(facets.indices.filter { i =>
      facets(i).scale.isEmpty && !facets(i).preScored // NRA facets have no distance to calibrate
    }.map(i => i -> topMs(i)), k)
    val scales = facets.zipWithIndex.map { case (f, i) =>
      f.scale.getOrElse {
        val dk = kth.getOrElse(i, 0.0) // absent = empty facet -> guard
        if (dk <= 0.0) 1.0 else dk
      }
    }
    val cands = topMs.map(_.select(col("id"))).reduce(_ union _).distinct()
    // (count, max d, min d) of every cached list, in one tagged job that
    // runs at most once, before phase 2: it decides which facets phase 2
    // scores from their list and, in detailed mode, bounds the unseen
    // entities (sMth below)
    lazy val stats = listStats(topMs)
    // A list holds every candidate's facet row when it exhausted the facet
    // (fewer than m rows) or when it is the query's only list (the
    // candidates ARE its ids).
    def listCovers(i: Int): Boolean =
      facets.size == 1 || stats.get(i).forall(_._1 < m)

    // Phase 2: exact score for every candidate on every facet; ids missing
    // from a facet simply contribute no row => similarity 0 in the sum
    // below, matching the reference's missing-value contract
    // (RankAggregator.java:239-242). The per-facet streams are unioned and
    // the union joins the broadcast candidate set ONCE ("random access"
    // becomes one broadcast-semi join over the facet scans). A local facet
    // whose cached list covers the candidates is scored from that list, so
    // only facets their lists do not cover are scanned a second time.
    // When every stream is a list, every row is already a candidate and
    // the join is skipped.
    val perFacet = facets.zipWithIndex.map { case (f, i) =>
      // NRA facets join their bounded ranked list (their whole knowledge);
      // full facets stream their complete decayed scores; bounded facets
      // WITH random access complete their list by looking up the
      // candidates it misses — the reference's in-situ look-up step
      // (SimSearchJdbcQuery.java:216,332 for JDBC; ranking/randomaccess/
      // NumericalValueFinder.java:25-41 for REST). A pre-scored facet's
      // lookup returns ids already ON its similarity scale (no decay
      // applies); a distance facet's lookup rows decay with its scale.
      // The missing-id collect is bounded by the candidate union
      // (<= m * |facets|), the same bound every other calibration read
      // carries.
      def missingIds: Seq[Any] = cands
        .join(topMs(i).select(col("id")), Seq("id"), "left_anti")
        .collect().map(_.get(0)).toSeq
      // Guard on the fetched rows: a source that returns ids already in the
      // ranked list — or the same id twice WITHIN one fetch (only
      // misbehaving remotes do either, but the cost of one is a silently
      // corrupted score) — would double-count in the conditional-sum pivot
      // below, which relies on AT MOST ONE row per (id, facet). The
      // internal dropDuplicates plus the anti-join re-establish the
      // invariant at <= m x m cost; which of two CONFLICTING values a
      // broken remote sent survives is unspecified (there is no right
      // answer to pick).
      def dedupFetched(fetched: DataFrame): DataFrame =
        fetched.dropDuplicates("id")
          .join(topMs(i).select(col("id")), Seq("id"), "left_anti")
      val stream =
        if (f.preScored) {
          val list = topMs(i).select(col("id"), col("d").as("s"))
          f.lookup match {
            case Some(fetch) =>
              val missing = missingIds
              if (missing.isEmpty) list
              else list.union(dedupFetched(fetch(missing).toDF("id", "s")))
            case None => list
          }
        }
        else f.lookup match {
          case Some(fetch) =>
            val missing = missingIds
            val dist = topMs(i).select(col("id"), col("d"))
            val completed =
              if (missing.isEmpty) dist
              else dist.union(dedupFetched(fetch(missing).toDF("id", "d")))
            FacetSearch.decayedWithScale(f.copy(dist = completed), scales(i))
          case None if listCovers(i) =>
            FacetSearch.decayedWithScale(f.copy(dist = topMs(i)), scales(i))
          case None => FacetSearch.decayedWithScale(f, scales(i))
        }
      stream.select(col("id"), lit(i).as("f"), col("s"))
    }
    val listsOnly = facets.indices.forall(i =>
      facets(i).lookup.isEmpty && (facets(i).preScored || listCovers(i)))
    val union = perFacet.reduce(_ union _)
    val all =
      if (listsOnly) union
      else union.join(broadcast(cands), Seq("id"))

    // Pivot to one row per candidate with one similarity column per facet.
    // Each conditional sum collapses at most ONE row, so it is exact and
    // order-independent; the weighted score is then a fixed-order expression
    // (w_0*s_0 + w_1*s_1 + ...) / (w_0 + w_1 + ...) — bit-deterministic and
    // reproducible by a left-associative SQL expression in any engine.
    val pivotCols: Seq[Column] = facets.indices.map(i =>
      coalesce(sum(when(col("f") === i, col("s"))), lit(0.0)).as(s"s_$i"))
    val pivoted = all.groupBy(col("id")).agg(pivotCols.head, pivotCols.tail: _*)

    // Per-combo global top-k (driver loop over <= nCombos small sorts;
    // each is TakeOrderedAndProject over candidate rows only). Missing
    // facet => s_i = 0, the reference's missing-value contract (A1).
    // TA-style exactness bound (detailed mode only): an entity OUTSIDE the
    // candidate union scores at most tau = sum_f w_f * s_f(M-th) / sum w —
    // the decayed similarity of each facet's M-th candidate bounds every
    // unseen entity's facet similarity (decay is monotone in distance). A
    // result with score >= tau is provably in the true top-k; mirrors the
    // reference's per-result `exact` flag (RankedResult.setExact).
    // Full facets bound unseen entities via the decayed M-th DISTANCE
    // (max d), pre-scored facets directly via the M-th (minimum) listed
    // SIMILARITY.
    lazy val sMth: Seq[Double] =
      facets.zip(scales).zipWithIndex.map { case ((f, sc), i) =>
        val (n, maxd, mind) = stats.getOrElse(i, (0L, 0.0, 0.0))
        if (f.preScored) {
          // the remote's fetch bound is ITS OWN m (not this aggregation's),
          // so a short list proves nothing about exhaustion — always bound
          // unseen entities by the minimum listed similarity; an empty
          // list means the remote found no matches at all
          if (n == 0) 0.0 else mind
        }
        else if (n < m) 0.0 // candidate list exhausted the facet: no unseen entities
        else if (f.jaccard && maxd == 1.0) 0.0
        else math.exp(-f.decay * maxd / sc)
      }

    finish(pivoted, facets.map(f => (f.name, f.weightPerCombo)), k, nCombos,
      detailed, if (detailed) Some(sMth) else None)
  }

  /** The k-th smallest distance d_k of each indexed `(id, d)` stream, in
    * ONE Spark job: each stream's deterministic top-k is tagged with its
    * index, the tagged lists are unioned, and max(d) is taken per index
    * (boundary ties make the value independent of which tied ids the limit
    * keeps). Only (f, d) is unioned, so streams with different id types
    * still combine. An index whose stream is empty is absent from the
    * result. Callers turn d_k into their own decay scale. */
  private[graft] def kthDistances(dists: Seq[(Int, DataFrame)], k: Int): Map[Int, Double] =
    if (dists.isEmpty) Map.empty
    else dists.map { case (i, dist) =>
      FacetSearch.topM(dist, k).select(lit(i).as("f"), col("d"))
    }.reduce(_ union _)
      .groupBy(col("f")).agg(max(col("d")).as("dk"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

  /** (row count, max d, min d) of each candidate list, keyed by position,
    * in ONE tagged Spark job. A list with no rows is absent. */
  private def listStats(lists: Seq[DataFrame]): Map[Int, (Long, Double, Double)] =
    lists.zipWithIndex.map { case (tm, i) =>
      tm.select(lit(i).as("f"), col("d"))
    }.reduce(_ union _)
      .groupBy(col("f"))
      .agg(count(lit(1)).as("n"), max(col("d")).as("maxd"), min(col("d")).as("mind"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap

  /** Shared ranking tail: pivoted (id, s_0..s_n) -> per-combo global top-k.
    * All combos in ONE pass: per-combo scores become an exploded
    * (combo, score) column pair, ranked by a single window partitioned by
    * combo. A per-combo union of branches would re-execute the whole
    * pivot subtree once per combination (Spark unions share no common
    * subexpressions) and sort each branch on a single partition.
    *
    * Detailed mode carries the per-facet `s_<i>` columns through the
    * explode and the window, so the ranked rows keep their own facet
    * scores: re-joining them to `pivoted` would evaluate the pivot subtree
    * (every facet's exact-scoring scan and the aggregation) a second time. */
  private def finish(pivoted: DataFrame, facetMeta: Seq[(String, Seq[Double])],
      k: Int, nCombos: Int, detailed: Boolean,
      sMthOpt: Option[Seq[Double]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scoreCols: Seq[Column] = (0 until nCombos).map { c =>
      val ws = facetMeta.map(_._2(c))
      val num = facetMeta.zipWithIndex
        .map { case ((_, wpc), i) => lit(wpc(c)) * col(s"s_$i") }
        .reduce(_ + _) // left-assoc
      round(num / lit(ws.sum), 6)
    }
    val w = Window.partitionBy(col("combo")).orderBy(col("score").desc, col("id"))
    val carried: Seq[Column] =
      if (detailed) facetMeta.indices.map(i => col(s"s_$i")) else Seq.empty
    val base = pivoted
      .select(col("id") +: carried :+
        posexplode(array(scoreCols: _*)).as(Seq("combo", "score")): _*)
      .select(Seq(col("combo").cast("long").as("combo"), col("id"), col("score")) ++
        carried: _*)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .withColumn("rank", col("rank").cast("long"))
    if (!detailed) base
    else {
      val sMth = sMthOpt.get
      val taus = (0 until nCombos).map { c =>
        val ws = facetMeta.map(_._2(c))
        ws.zip(sMth).map { case (wf, s) => wf * s }.sum / ws.sum
      }
      val exact = col("score") >=
        element_at(array(taus.map(lit): _*), col("combo").cast("int") + 1)
      // disambiguate duplicate facet names (the same column may be queried
      // twice with different values/weights): a repeated name would yield
      // two identically-named s_ columns and serializers would silently
      // drop one facet's score
      val names = facetMeta.map(_._1)
      val perFacetCols = facetMeta.zipWithIndex.map { case ((nm, _), i) =>
        val n = if (names.count(_ == nm) > 1) s"s_${nm}_$i" else s"s_$nm"
        col(s"s_$i").as(n)
      }
      base.select(Seq(col("id"), col("combo"), col("score"), col("rank"),
        exact.as("exact")) ++ perFacetCols: _*)
    }
  }
}
