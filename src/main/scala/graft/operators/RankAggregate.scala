package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.{SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-facet rank aggregation: the rebuild of the reference's
  * Threshold / NRA / PRA aggregators
  * (reference: ranking/RankAggregator.java:29-277,
  * ranking/ThresholdRanking.java:189-289,
  * ranking/NoRandomAccessRanking.java:64-269,
  * ranking/PartialRandomAccessRanking.java:112-316).
  *
  * The union of the per-facet top-M candidate id-sets is scored EXACTLY
  * against every facet, then ranked once per weight combination. This
  * yields scores at least as exact as TA and strictly more exact than
  * NRA/PRA, which may emit lower-bound scores — the reference itself patches
  * estimated scores to exact ones when collecting stats
  * (SearchHandler.java:759-767).
  *
  * Plan (the reference's "N parallel top-M scans → one merge operator"):
  *  - phase 1 is ONE Spark job: every facet's deterministic top-M list is a
  *    shuffle-free TakeOrderedAndProject, and the tagged union of the lists
  *    is collected;
  *  - phase 2 is at most one more job: only facets whose list does not hold
  *    every candidate (and random-access lookups of ids a bounded list
  *    misses) are scanned again, restricted by a membership filter over
  *    the candidate ids that travels as one packed array
  *    ([[graft.functions.NativeKernels.inKeys]]), and collected;
  *  - everything else — scale calibration ([[kthScale]]), list stats, the
  *    candidate set, the exactness bound, scoring and ranking — runs on the
  *    driver.
  * The driver holds at most m·|facets| candidates (m <= K_MAX·1000, the
  * reference's in-memory bound, Constants.java:42-44), and the result is a
  * local DataFrame.
  */
object RankAggregate {

  /** One facet's collected top-M list: (id, d) rows, ids as Spark returns
    * them, `d` null where the facet's distance is null. Pre-scored lists
    * hold similarities in `d`. */
  type TopList = IndexedSeq[(Any, java.lang.Double)]

  /** Exact weighted top-k over the candidate union.
    *
    * @param facets  bound facets; `weightPerCombo` must have `nCombos` entries each
    * @param k       result size per combination (reference caps at K_MAX=50,
    *                Constants.java:42)
    * @param m       per-facet candidate list size (reference: k * 1000,
    *                SearchHandler.java:318-320)
    * @param lists   the facets' lists, already collected by [[collectLists]]
    *                (callers that read them first, to calibrate scales or
    *                estimate weights, pass them on); None collects them here
    * @return columns (combo: long, id, score: double, rank: long) — `score`
    *         rounded to 6 decimals; ranking order is (rounded score desc, id)
    *         so results are bit-deterministic across engines.
    */
  def topK(spark: SparkSession, facets: Seq[BoundFacet], k: Int, m: Int,
      lists: Option[Seq[TopList]] = None): DataFrame =
    aggregate(spark, facets, k, m, detailed = false, lists)

  /** As [[topK]] but additionally returns the per-result `exact` flag and
    * one raw (unrounded) decayed similarity column per facet, named
    * `s_<facetName>` — the reference's per-attribute scores in
    * RankedResult.attributes (engine/processor/RankedResult.java:14-176). */
  def topKDetailed(spark: SparkSession, facets: Seq[BoundFacet], k: Int, m: Int,
      lists: Option[Seq[TopList]] = None): DataFrame =
    aggregate(spark, facets, k, m, detailed = true, lists)

  /** Phase 1: every facet's deterministic top-`m` list in ONE Spark job.
    * Each list is a shuffle-free TakeOrderedAndProject over the facet scan
    * ((d, id) ascending; similarity descending for a pre-scored facet, whose
    * list is its whole knowledge); the lists are tagged with their facet's
    * position, unioned and collected. */
  def collectLists(facets: Seq[BoundFacet], m: Int): Seq[TopList] = {
    require(facets.nonEmpty)
    // mixed-source queries make heterogeneous id types a real hazard: the
    // candidate union would silently widen (bigint 7 vs string "007" never
    // matching back) — fail fast and make the caller cast to a common type
    val idTypes = facets.map(_.dist.schema("id").dataType).distinct
    require(idTypes.size == 1,
      s"facet id types must match, got ${idTypes.mkString(", ")}; cast ids to a common type")
    val rows = facets.zipWithIndex.map { case (f, i) =>
      (if (f.preScored) f.dist.orderBy(col("d").desc, col("id")).limit(m)
       else FacetSearch.topM(f.dist, m))
        .select(lit(i).as("f"), col("id"), col("d").cast("double"))
    }.reduce(_ union _).collect().groupBy(_.getInt(0))
    facets.indices.map(i => rows.getOrElse(i, Array.empty[Row]).toIndexedSeq
      .map(r => (r.get(1), r.get(2).asInstanceOf[java.lang.Double])))
  }

  /** The facet scale calibrated from its list: `times` x the k-th candidate
    * distance d_k, or 1.0 when d_k is zero or absent (an all-exact-match or
    * empty prefix). d_k is the largest d among the list's first k rows in
    * (d, id) order — nulls first — as a max(d) over the top-k reads it.
    *
    * The reference fixes each facet's decay scale to the k-th candidate
    * distance once k candidates are seen (ingested/NumericalSimSearch.java:
    * 244-246, SpatialSimSearch.java:129-137, CategoricalSimSearch.java:
    * 300-311). The operator keeps that plain d_k (`times` = 1); the engine
    * takes k·d_k (`times` = k), see SimSearchEngine.search. This is the one
    * place a scale is derived: every caller reads it off a list from
    * [[collectLists]], so no calibration runs a Spark job of its own. */
  private[graft] def kthScale(list: TopList, k: Int, times: Int): Double = {
    val prefix = math.min(k, list.size) - list.count(_._2 == null)
    val ds = list.flatMap(r => Option(r._2)).map(_.doubleValue).sorted(Ordering.Double.TotalOrdering)
    val dk = if (prefix <= 0) 0.0 else ds(prefix - 1)
    if (dk <= 0.0) 1.0 else times * dk
  }

  /** Decayed similarity of distance `d` — SimKernels.decaySim /
    * decaySimJaccard evaluated on the driver, bit-identical to Spark's:
    * the same (-λ·d)/scale order, the same scale <= 0 guard and the
    * StrictMath.exp that Spark's `exp` calls. Jaccard distance 1 scores 0. */
  private[graft] def decayed(d: Double, decay: Double, scale: Double, jaccard: Boolean): Double =
    if (jaccard && d == 1.0) 0.0
    else StrictMath.exp(-decay * d / (if (scale <= 0.0) 1.0 else scale))

  /** Similarity of each row of `f`'s list: the listed similarity for a
    * pre-scored facet, the decayed distance on `f.scale` otherwise; a null
    * d scores 0, the missing-value contract (RankAggregator.java:239-242). */
  private[graft] def scores(f: BoundFacet, list: TopList): IndexedSeq[Double] = list.map(r => score(f, r._2))

  private def score(f: BoundFacet, d: java.lang.Double): Double =
    if (d == null) 0.0
    else if (f.preScored) d
    else decayed(d, f.decay, f.scale.getOrElse(1.0), f.jaccard)

  /** Spark's `round(x, 6)` for a double: HALF_UP on the shortest decimal
    * representation; NaN and infinities pass through. */
  private[graft] def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** Phase 2 and the ranking tail over the facets' `lists` (collected
    * here when not given). */
  private def aggregate(spark: SparkSession, facets0: Seq[BoundFacet], k: Int, m: Int,
      detailed: Boolean, given: Option[Seq[TopList]]): DataFrame = {
    require(facets0.nonEmpty)
    val nCombos = facets0.head.weightPerCombo.size
    require(facets0.forall(_.weightPerCombo.size == nCombos))
    facets0.foreach(f => f.weightPerCombo.foreach(w =>
      require(w > 0 && w <= 1,
        s"weight $w out of (0,1] for facet ${f.name}"))) // reference: weights/Validator.java:14-22 (1.0 admitted — the reference's own golden query uses it)
    val lists = given.getOrElse(collectLists(facets0, m))
    val facets = facets0.zip(lists).map { case (f, l) =>
      if (f.preScored || f.scale.isDefined) f else f.copy(scale = Some(kthScale(l, k, 1)))
    }
    val idField = facets.head.dist.schema("id")
    val toKey = CatalystTypeConverters.createToCatalystConverter(idField.dataType)
    val order = TypeUtils.getInterpretedOrdering(idField.dataType)
    // candidate id (Spark's internal form, compared as Spark groups it) ->
    // slot; hash equality where Spark itself uses it (InSet's own rule)
    val slot: java.util.Map[Any, Integer] =
      if (TypeUtils.typeWithProperEquals(idField.dataType)) new java.util.HashMap
      else new java.util.TreeMap(order)
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    for (l <- lists; (id, _) <- l if id != null)
      slot.computeIfAbsent(toKey(id), _ => { ids += id; ids.size - 1 })
    val keys = ids.map(toKey).toIndexedSeq
    val sims = Array.fill(ids.size, facets.size)(0.0)
    def add(i: Int, id: Any, d: java.lang.Double): Unit = if (id != null) {
      val c = slot.get(toKey(id))
      if (c != null) sims(c)(i) += score(facets(i), d)
    }

    // A list holds every candidate's facet row when it exhausted the facet
    // (fewer than m rows) or when it is the query's only list (the
    // candidates ARE its ids). Facets with random access (bounded lists)
    // look up the candidates their list misses instead of being scanned —
    // the reference's in-situ look-up step (SimSearchJdbcQuery.java:216,332
    // for JDBC; ranking/randomaccess/NumericalValueFinder.java:25-41 for
    // REST); a pre-scored list without it is the facet's whole knowledge.
    val uncovered = facets.indices.filter(i => facets(i).lookup.isEmpty &&
      !facets(i).preScored && facets.size > 1 && lists(i).size >= m)
    val missing = facets.indices.flatMap { i =>
      facets(i).lookup.map { _ =>
        val listed = lists(i).map(r => toKey(r._1)).toSet
        i -> ids.filterNot(id => listed(toKey(id))).toSeq
      }
    }.filter(_._2.nonEmpty)
    facets.indices.filterNot(uncovered.contains)
      .foreach(i => lists(i).foreach { case (id, d) => add(i, id, d) })
    lazy val inCands = graft.functions.NativeKernels.inKeys(col("id"), keys, idField.dataType)
    val phase2 = (if (ids.isEmpty) Nil else uncovered.map { i =>
        facets(i).dist.where(inCands).select(lit(i).as("f"), col("id"), col("d"))
      }) ++
      missing.map { case (i, ms) =>
        facets(i).lookup.get(ms).toDF("id", "d").select(lit(i).as("f"), col("id"), col("d"))
      }
    if (phase2.nonEmpty) {
      // a looked-up row counts once per id and never for an id already
      // listed: a remote that returns either (only misbehaving ones do)
      // would otherwise double-count a facet; which of two conflicting
      // values such a remote sent survives is unspecified
      val seen = missing.map { case (i, _) =>
        i -> scala.collection.mutable.Set.from(lists(i).map(r => toKey(r._1)))
      }.toMap
      phase2.map(_.select(col("f"), col("id").cast(idField.dataType), col("d").cast("double")))
        .reduce(_ union _).collect().foreach { r =>
          val (i, id) = (r.getInt(0), r.get(1))
          if (seen.get(i).forall(_.add(toKey(id))))
            add(i, id, r.get(2).asInstanceOf[java.lang.Double])
        }
    }

    // TA-style exactness bound (detailed mode only): an entity OUTSIDE the
    // candidate union scores at most tau = sum_f w_f * s_f(M-th) / sum w —
    // the decayed similarity of each facet's M-th candidate bounds every
    // unseen entity's facet similarity (decay is monotone in distance). A
    // result with score >= tau is provably in the true top-k; mirrors the
    // reference's per-result `exact` flag (RankedResult.setExact).
    val sMth = facets.zip(lists).map { case (f, l) =>
      val ds = l.flatMap(r => Option(r._2)).map(_.doubleValue)
      if (f.preScored) {
        // the remote's fetch bound is ITS OWN m (not this aggregation's),
        // so a short list proves nothing about exhaustion — always bound
        // unseen entities by the minimum listed similarity; an empty list
        // means the remote found no matches at all
        if (l.isEmpty) 0.0 else ds.minOption(Ordering.Double.TotalOrdering).getOrElse(0.0)
      }
      else if (l.size < m) 0.0 // candidate list exhausted the facet: no unseen entities
      else score(f, ds.maxOption(Ordering.Double.TotalOrdering).getOrElse(0.0): Double)
    }
    rankTail(spark, idField, ids.toIndexedSeq, keys, order, sims,
      facets.map(_.weightPerCombo), k, detailed, sMth, facets.map(_.name))
  }

  /** The candidates that can reach the top `k` once `raw` is rounded:
    * every one whose rounded score is at least round6(t), t the k-th
    * largest raw score, and possibly a few more. round6 is monotone, so at
    * least k candidates round to round6(t) or above, and one that rounds
    * below it ranks below them all. A rounding moves a finite value by at
    * most 5e-7 plus an ulp or two, so testing the raw score against
    * round6(t) - (1e-6 + 4 ulp(t)) rounds nothing. NaN and the infinities
    * order as Spark orders them (NaN above +Inf). */
  private[graft] def rankWindow(raw: Array[Double], k: Int): Array[Int] = {
    val n = raw.length
    if (n <= k) return Array.range(0, n)
    val sorted = raw.clone()
    java.util.Arrays.sort(sorted) // Double.compare: -0.0 < 0.0, NaN last
    val t = sorted(n - k)
    val bound = if (t.isNaN || t.isInfinite) t else round6(t) - (1e-6 + 4 * math.ulp(t))
    Array.range(0, n).filter(j => SQLOrderingUtil.compareDoubles(raw(j), bound) >= 0)
  }

  /** The one ranking tail: per weight combination, the left-associative
    * weighted mean (w_0*s_0 + w_1*s_1 + ...) / sum w, rounded as Spark's
    * `round(x, 6)`, ranked by (score desc, id asc) in Spark's ordering of
    * the id type, top `k` kept. Only the candidates of [[rankWindow]] are
    * rounded and sorted. Returns a local DataFrame: (combo, id, score,
    * rank), or in detailed mode (id, combo, score, rank, exact,
    * s_<facet>...), where a facet name queried twice gets `s_<name>_<i>`
    * columns so no facet's score is dropped by a serializer. */
  private def rankTail(spark: SparkSession, idField: StructField, ids: IndexedSeq[Any],
      keys: IndexedSeq[Any], order: Ordering[Any], sims: Array[Array[Double]],
      weights: Seq[Seq[Double]], k: Int, detailed: Boolean, sMth: Seq[Double],
      names: Seq[String]): DataFrame = {
    val rows = weights.head.indices.flatMap { c =>
      val ws = weights.map(_(c))
      val wsum = ws.sum
      val w = ws.toArray
      val raw = sims.map { s =>
        var acc = w(0) * s(0)
        var i = 1
        while (i < w.length) { acc += w(i) * s(i); i += 1 }
        acc / wsum
      }
      val window = rankWindow(raw, k)
      val scores = new Array[Double](raw.length)
      window.foreach(j => scores(j) = round6(raw(j)))
      val tau = ws.zip(sMth).map { case (wf, s) => wf * s }.sum / wsum
      window.sortWith { (a, b) =>
        val bySc = SQLOrderingUtil.compareDoubles(scores(b), scores(a))
        if (bySc != 0) bySc < 0 else order.lt(keys(a), keys(b))
      }.take(k).zipWithIndex.map { case (j, r) =>
        if (!detailed) Row(c.toLong, ids(j), scores(j), r + 1L)
        else Row.fromSeq(Seq(ids(j), c.toLong, scores(j), r + 1L,
          SQLOrderingUtil.compareDoubles(scores(j), tau) >= 0) ++ sims(j))
      }
    }
    val base = Seq(StructField("combo", LongType, nullable = false), idField,
      StructField("score", DoubleType), StructField("rank", LongType, nullable = false))
    val schema =
      if (!detailed) StructType(base)
      else StructType(Seq(idField, base(0), base(2), base(3), StructField("exact", BooleanType)) ++
        names.zipWithIndex.map { case (nm, i) =>
          StructField(if (names.count(_ == nm) > 1) s"s_${nm}_$i" else s"s_$nm",
            DoubleType, nullable = false)
        })
    spark.createDataFrame(rows.asJava, schema)
  }
}
