package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{Algorithm, Facet, Limits, Normalizer, SimOp}
import graft.functions.{NativeKernels, SimKernels}
import graft.operators.{BoundFacet, RankAggregate}
import graft.sources.CsvMount

/** The search front-end over a mounted catalog — the rebuild of the
  * reference's SearchHandler (reference: engine/SearchHandler.java:193-752).
  *
  * Execution (SURVEY.md §7.2): one distance stream per queried attribute,
  * per-facet top-M candidates, exact scoring of the candidate union, global
  * top-k per weight combination.
  */
object SimSearchEngine {

  /** One per-attribute query condition
    * (reference: request/SearchSpecs.java:8-26).
    * `value`: Double ("max" via string keyword F12), String (temporal /
    * textual / WKT point), or Seq[String] (token set).
    * `weights`: one entry per weight combination (R5). */
  final case class SearchSpec(
      column: String,
      value: Any,
      weights: Seq[Double],
      decay: Double = SimKernels.DefaultDecay,
      scale: Option[Double] = None,
      filter: Option[String] = None)

  /** An in-situ (no-random-access) mounted attribute — an ES index or a
    * remote federated instance reached over REST (S9/S10, reference:
    * Coordinator.java:325-359). No (id, value) frame exists locally; the
    * attribute's entire per-query knowledge is the pre-scored ranked list
    * its `build` function fetches at search time (the NRA restriction the
    * reference enforces for REST sources, SearchHandler.java:296-307).
    * `build(spec, m)` returns a preScored [[BoundFacet]] with placeholder
    * weights `Seq(1.0)`; [[search]] substitutes the real per-combo weights. */
  final case class InSituFacet(
      name: String,
      operation: String,
      build: (SearchSpec, Int) => graft.operators.BoundFacet,
      /** Random-access VALUE retrieval for sources that support it (S7
        * JDBC pushdown — the reference's single/multi-value retrieval
        * templates, insitu/SimSearchJdbcQuery.java:175-177): fetch the
        * typed (id, value) rows for a bounded id set, enabling the
        * similarity matrix (A5) over in-situ attributes. None = no value
        * access (REST NRA sources) — the matrix rejects those clearly. */
      values: Option[Seq[Any] => org.apache.spark.sql.DataFrame] = None,
      /** A LAZY Spark-side kernel twin of the in-situ attribute, where one
        * exists (S7 JDBC pushdown: the remote table is scannable, so the
        * twin is just an unevaluated JDBC frame). [[search]] routes
        * residual-filtered queries through it — the pushed `LIMIT M`
        * bounds the remote list BEFORE a cross-attribute filter could
        * apply, so filtering the bounded list can starve the top-k — and
        * [[Catalog.get]] serves it for projection / filter references.
        * None for REST sources, which genuinely have no scannable values
        * (the reference's hard NRA restriction). */
      local: Option[Facet] = None)

  /** Mounted-attribute catalog with listing (A8), append (the reference's
    * /append endpoint) and removal (A9). Holds both ingested facets
    * ((id, value) frames) and in-situ REST attributes.
    *
    * The catalog owns facet RESIDENCY — the reference's ingest-on-mount
    * (its attributes are read once into in-memory per-attribute maps and
    * every query is answered from those). Every facet that enters it, by
    * the constructor or [[add]], is cached and materialised once, at
    * mount; searches then read the cached columns instead of re-reading
    * and re-parsing the source. Answers are therefore a snapshot taken at
    * mount: a later change to the source shows only after the attribute
    * is mounted again. A replaced or [[remove]]d facet is unpersisted, and
    * [[close]] releases everything the catalog still holds. In-situ
    * attributes (and their lazy Spark-side twins) stay remote. */
  final class Catalog(initial: Seq[Facet],
      initialInSitu: Seq[InSituFacet] = Seq.empty) {
    /** Per-instance settings — one per catalog, like the reference's
      * per-api_key Coordinator (InstanceSettings.java). */
    val settings = new graft.api.InstanceSettings
    // @volatile: the REST service handles requests on a pool, so a mount
    // on one thread must be visible to a search on another. Mutation is
    // reference-swap of immutable maps — a concurrent reader sees either
    // the old or the new catalog, never a torn one.
    @volatile private var facets: Map[String, Facet] =
      initial.map(f => f.spec.name -> Resident.hold(f)).toMap
    @volatile private var inSitu: Map[String, InSituFacet] =
      initialInSitu.map(f => f.name -> f).toMap
    def get(name: String): Facet = facets.getOrElse(name,
      // pushed-JDBC in-situ attributes carry a lazy Spark-side twin, so
      // projection and boolean filters referencing them keep working
      // exactly as they did on the pre-pushdown mount path
      inSitu.get(name).flatMap(_.local).getOrElse(
        throw new IllegalArgumentException(
          if (inSitu.contains(name))
            s"attribute $name is mounted in-situ (REST) — it has no local " +
              "values; it can be queried but not projected/filtered locally"
          else s"attribute $name is not mounted")))
    def getInSitu(name: String): Option[InSituFacet] = inSitu.get(name)
    /** (name, operation) in the reference's operation vocabulary
      * (numerical_topk, ..., pivot_based; dictionaries list as such). */
    def list: Seq[(String, String)] =
      (facets.values.map { f =>
        val op = (f.spec.op, f.spec.queryable) match {
          case (_, false)                 => "dictionary"
          case (SimOp.Numerical, _)       => "numerical_topk"
          case (SimOp.Temporal, _)        => "temporal_topk"
          case (SimOp.Categorical, _)     => "categorical_topk"
          case (SimOp.Textual, _)         => "textual_topk"
          case (SimOp.Spatial, _)         => "spatial_knn"
          case (SimOp.Metric(_), _)       => "pivot_based"
        }
        f.spec.name -> op
      } ++ inSitu.values.map(f => f.name -> f.operation)).toSeq.sorted
    // mutators synchronize: += on a volatile var is read-modify-write, and
    // the REST pool can run two /append handlers at once — without the
    // lock one mount silently loses. Reads stay lock-free (volatile
    // reference to an immutable map); mounts are rare, contention is nil.
    /** Mount `f`, replacing a facet of the same name. The replaced facet
      * is released BEFORE the new one is materialised: a re-mount of the
      * same source would otherwise find the old snapshot still cached
      * under the same plan and keep serving it. If materialisation fails
      * the attribute ends up unmounted and the error propagates. */
    def add(f: Facet): Unit = synchronized {
      facets.get(f.spec.name).foreach { old =>
        facets -= f.spec.name
        Resident.release(old)
      }
      facets += (f.spec.name -> Resident.hold(f))
    }
    def add(f: InSituFacet): Unit = synchronized { inSitu += (f.name -> f) }
    /** @return whether the attribute was mounted (callers surface 404 on false) */
    def remove(name: String): Boolean = synchronized {
      val had = facets.contains(name) || inSitu.contains(name)
      facets.get(name).foreach(Resident.release)
      facets -= name
      inSitu -= name
      had
    }
    /** Unmount everything and release the resident facets. The catalog is
      * empty afterwards; a search still in flight on it recomputes any
      * released partition from the source. */
    def close(): Unit = synchronized {
      facets.values.foreach(Resident.release)
      facets = Map.empty
      inSitu = Map.empty
      dictStore = Map.empty
    }
    def size: Int = facets.size + inSitu.size
    /** Vector dictionaries mounted into this catalog — kept so a LATER
      * mount request (/append) can transform_by a dictionary declared in an
      * earlier one, matching the reference's per-coordinator dictionary
      * registry (Coordinator findIdentifier over all mounted datasets). */
    @volatile private var dictStore: Map[String, DataFrame] = Map.empty
    def dicts: Map[String, DataFrame] = dictStore
    def addDicts(d: Map[String, DataFrame]): Unit =
      synchronized { dictStore ++= d }
    /** URL prefix for result entity identifiers, read off a mounted name
      * dictionary (reference: SearchResponseFormat — prefixURL comes from
      * the non-queryable names dataset). Deterministic under multiple
      * prefixed dictionaries: the lexicographically first attribute wins. */
    def namePrefix: Option[String] =
      facets.values.toSeq
        .filter(f => !f.spec.queryable && f.spec.prefixURL.isDefined)
        .sortBy(_.spec.name).headOption.flatMap(_.spec.prefixURL)
  }

  /** Facet residency shared by every [[Catalog]] in the JVM. Spark keys
    * its cache by plan, so two catalogs mounting the same source with the
    * same spec share ONE cache entry (and one snapshot). Each holder is
    * counted per plan, and the entry is unpersisted when its last holder
    * releases it — an /unmount in one tenant must not evict another
    * tenant's facet. */
  private object Resident {
    private val holders =
      scala.collection.mutable.HashMap.empty[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int]

    private def key(df: DataFrame) = df.queryExecution.analyzed.canonicalized

    /** Cache `f`'s frame and materialise it (one count, outside the lock:
      * a slow mount must not stall another catalog's release). */
    def hold(f: Facet): Facet = {
      synchronized {
        val k = key(f.df)
        f.df.cache()
        holders(k) = holders.getOrElse(k, 0) + 1
      }
      try f.df.count()
      catch { case e: Throwable => release(f); throw e }
      f
    }

    def release(f: Facet): Unit = synchronized {
      val k = key(f.df)
      holders.get(k) match {
        case Some(n) if n > 1 => holders(k) = n - 1
        case _ =>
          holders -= k
          f.df.unpersist(blocking = false)
      }
    }
  }

  /** Format result ids as URL identifiers when the catalog mounts a name
    * dictionary with prefixURL (reference: Assistant.formatURL, minus its
    * hardcoded 12-character ATOKA truncation — documented divergence). */
  def applyIdPrefix(catalog: Catalog, ranked: DataFrame): DataFrame =
    catalog.namePrefix match {
      case Some(p) =>
        ranked.withColumn("id", concat(lit(p), col("id").cast("string")))
      case None => ranked
    }

  val KMax = Limits.KMax                     // reference: Constants.java:42
  val InflationFactor = Limits.InflationFactor // reference: Constants.java:44

  /** Build the (id, d) distance stream for one facet/query pair, applying
    * the facet's boolean pre-filter (P2 — works on ingested data here,
    * unlike the reference which ignores it with a notice,
    * SearchHandler.java:707-713).
    *
    * Every query value enters the stream by reference
    * ([[NativeKernels.queryValue]], [[NativeKernels.querySetJaccardDist]]),
    * never as a literal, so the generated code of a stream depends only on
    * the facet and the request's shape: a request with new values reuses
    * the code an earlier request of its class compiled. */
  private def distStream(f: Facet, spec: SearchSpec): DataFrame = {
    val base = spec.filter.map(f.df.where).getOrElse(f.df)
    val v = col("value")
    val d: Column = f.spec.op match {
      case SimOp.Numerical =>
        val q = spec.value match {
          // F12: "max" reads the facet frame, whose values are ALREADY in
          // the mount-time-normalized space — do not re-normalize it
          case "max" =>
            val row = f.df.agg(max(v)).head
            if (row.isNullAt(0)) throw new IllegalArgumentException(
              s"attribute ${f.spec.name} has no values — cannot resolve " +
                """the "max" query keyword""")
            row.getDouble(0)
          case other =>
            val q0 = other match {
              case x: Double => x
              case x: Int => x.toDouble
              case x: String => x.toDouble
              case bad => throw new IllegalArgumentException(s"bad numeric query $bad")
            }
            // normalize the RAW query value with the mount-time transform (A4)
            (f.spec.normalizer, f.spec.stats) match {
              case (Normalizer.Z, Some(st)) => if (st.stddev == 0) 0.0 else (q0 - st.avg) / st.stddev
              case (Normalizer.Unity, Some(st)) => if (st.max == st.min) 0.0 else (q0 - st.avg) / (st.max - st.min)
              case _ => q0
            }
        }
        SimKernels.absDist(v, NativeKernels.queryValue(q))
      case SimOp.Temporal =>
        val q = spec.value match {
          case s: String => CsvMount.parseDatetimeMs(s)
            .getOrElse(throw new IllegalArgumentException(s"unparseable datetime ${spec.value}"))
          case x: Double => x
          case other => throw new IllegalArgumentException(s"bad temporal query $other")
        }
        SimKernels.absDist(v, NativeKernels.queryValue(q))
      case SimOp.Categorical =>
        val toks = spec.value match {
          case xs: Seq[_] => xs.map(_.toString)
          case s: String => s.split(java.util.regex.Pattern.quote(f.spec.tokenDelim))
            .map(_.trim).filter(_.nonEmpty).distinct.toSeq
          case other => throw new IllegalArgumentException(s"bad token-set query $other")
        }
        NativeKernels.querySetJaccardDist(v, toks)
      case SimOp.Textual =>
        val q = spec.value.toString
        val qGrams = (if (q.length < f.spec.qgram) Seq(q)
          else q.sliding(f.spec.qgram).toSeq).distinct
        NativeKernels.queryQgramJaccardDist(v, qGrams, f.spec.qgram)
      case SimOp.Spatial =>
        val (qLon, qLat) = spec.value match {
          case s: String => CsvMount.parseWktPoint(s)
            .getOrElse(throw new IllegalArgumentException(s"unparseable WKT ${spec.value}"))
          case (a: Double, b: Double) => (a, b)
          case other => throw new IllegalArgumentException(s"bad spatial query $other")
        }
        SimKernels.geoDistDeg(v.getField("lon"), v.getField("lat"),
          NativeKernels.queryValue(qLon), NativeKernels.queryValue(qLat))
      case SimOp.Metric(mname) => // Q9: pivot_based coordinate attribute
        // the attribute's queryTransform (set at mount) types string query
        // values the same way the DATA was typed: word2vec for transformed
        // keyword attributes, datetime-chain for temporal coordinates,
        // numeric parse otherwise — so "20191104084500" on a timestamp
        // pivot becomes epoch-ms, never the raw 2.0e13 numeral
        def viaTransform(ts: Seq[String]): Seq[Double] =
          f.spec.queryTransform.map(_(ts)).getOrElse(
            throw new IllegalArgumentException(
              s"attribute ${f.spec.name} takes a numeric vector query"))
        val qvec: Seq[Double] = spec.value match {
          case d: Double => Seq(d)
          case i: Int => Seq(i.toDouble)
          case vs: Seq[_] if vs.nonEmpty && vs.forall(x =>
              x.isInstanceOf[Double] || x.isInstanceOf[Int]) =>
            vs.map { case d: Double => d; case i: Int => i.toDouble }
          case vs: Seq[_] =>
            // a JSON array arrives as strings — numbers read as the vector,
            // anything else is a keyword set for the dictionary transform
            val strs = vs.map(_.toString)
            if (strs.nonEmpty &&
                strs.forall(p => scala.util.Try(p.trim.toDouble).isSuccess))
              strs.map(_.trim.toDouble)
            else viaTransform(strs)
          case s: String if CsvMount.parseWktPoint(s).isDefined =>
            val (lon, lat) = CsvMount.parseWktPoint(s).get
            Seq(lon, lat)
          case s: String if f.spec.queryTransform.isDefined =>
            viaTransform(s.split(java.util.regex.Pattern.quote(f.spec.tokenDelim))
              .map(_.trim).filter(_.nonEmpty).toSeq)
          case s: String => // comma-separated vector literal, or a datetime
            // for a 1-dim epoch-ms coordinate mounted without a transform
            val parts = s.split(",").map(_.trim).toSeq
            if (parts.forall(p => scala.util.Try(p.toDouble).isSuccess))
              parts.map(_.toDouble)
            else CsvMount.parseDatetimeMs(s).map(Seq(_)).getOrElse(
              throw new IllegalArgumentException(s"unparseable metric query $s"))
          case other => throw new IllegalArgumentException(s"bad metric query $other")
        }
        val qc = NativeKernels.queryVector(qvec)
        mname match {
          case "euclidean" => NativeKernels.l2Dist(v, qc)
          case "manhattan" => NativeKernels.l1Dist(v, qc)
          case "chebyshev" => SimKernels.chebyshevDist(v, qc)
          case "haversine" =>
            require(qvec.size == 2, s"haversine query needs (lon, lat), got $qvec")
            SimKernels.haversineDeg(element_at(v, 1), element_at(v, 2),
              NativeKernels.queryValue(qvec(0)), NativeKernels.queryValue(qvec(1)))
          case other => throw new IllegalArgumentException(s"unsupported metric $other")
        }
      case other => throw new IllegalArgumentException(s"unsupported op $other")
    }
    base.select(col("id"), d.as("d"))
  }

  /** R7: weight auto-estimation for a facet with no user weights — the p-th
    * percentile of the facet's candidate scores with p = 100 - 100k/n,
    * linearly interpolated
    * (reference: weights/Estimator.java:145-189 proc(k), invoked from
    * RankAggregator.java:167-192). The scores are the facet's collected
    * top-M list, so estimation reads no data of its own. */
  def estimateWeight(scores: Seq[Double], k: Int): Double = {
    val n = scores.size
    if (n == 0) return 1.0
    val p = math.max(0.0, 1.0 - k.toDouble / n)
    val idx = p * (n - 1)
    val lo = math.floor(idx).toInt
    val frac = idx - math.floor(idx)
    val sorted = scores.sorted(Ordering.Double.TotalOrdering)
    val est = if (lo + 1 >= n) sorted(lo) else sorted(lo) + (sorted(lo + 1) - sorted(lo)) * frac
    math.min(1.0, math.max(1e-9, est))
  }

  /** P3: cross-attribute residual boolean filter — restrict the searchable
    * entities to those satisfying `filter` over the referenced mounted
    * attributes. The reference can only push such filters to in-situ
    * sources and IGNORES them on ingested data with a notice
    * (SearchHandler.java:707-713); we apply them uniformly by semi-joining
    * an eligible-id set built from the referenced facets. */
  private def eligibleIds(catalog: Catalog, filter: String): DataFrame = {
    val referenced = catalog.list.map(_._1).filter(name =>
      java.util.regex.Pattern.compile(s"\\b${java.util.regex.Pattern.quote(name)}\\b")
        .matcher(filter).find())
    require(referenced.nonEmpty, s"filter references no mounted attribute: $filter")
    // FULL OUTER join across the referenced attributes: an entity missing
    // one attribute must still be judged by the predicate (its value is
    // NULL there) — an inner join would silently exclude an entity that
    // satisfies `price > 5 OR rating > 4` just because it has no rating
    // row. SQL null semantics then do the right thing for every
    // connective: a NULL comparison is not-true, so AND-only filters keep
    // exactly the inner join's answer, while OR and IS [NOT] NULL branches
    // can rescue partially-mounted entities.
    val joined = referenced.map { name =>
      catalog.get(name).df.select(col("id"), col("value").as(name))
    }.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    joined.where(expr(filter)).select(col("id"))
  }

  /** Bind `specs` to facets, in spec order, with no weights and no scale
    * yet (both are filled in from the collected lists, [[resolve]]) —
    * shared by [[search]], [[similarityMatrix]] and the federated
    * calibration path ([[calibrationDistances]]).
    *
    * In-situ attributes come in two shapes (S7/S9/S10):
    *  - preScored (ES / federated REST): the remote returns a ranked
    *    SIMILARITY list — skip the distance/scale machinery entirely (NRA).
    *  - distance-based (JDBC pushdown): the remote evaluates
    *    `ORDER BY distance LIMIT m` and returns a bounded (id, d) list;
    *    the engine calibrates scale / decays it exactly like an ingested
    *    facet. The list is read once, by the phase-1 collect. */
  private def bind(catalog: Catalog, m: Int, specs: Seq[SearchSpec],
      eligible: Option[DataFrame]): Seq[BoundFacet] = {
    def restrict(dist: DataFrame) =
      eligible.map(e => dist.join(e, Seq("id"), "left_semi")).getOrElse(dist)
    specs.map { s =>
      catalog.getInSitu(s.column)
        // A residual filter composed with a remotely-BOUNDED top-M list
        // is unsound: eligible candidates ranked below M remotely never
        // cross the wire, so semi-joining the bounded list can starve
        // the top-k. Route such queries through the exact Spark-side
        // twin (the eligible semi-join then lands BEFORE the top-M
        // bound). REST facets have no twin and keep their documented
        // NRA semantics.
        .filterNot(is => eligible.isDefined && is.local.isDefined) match {
        case Some(is) =>
          val bf = is.build(s, m)
          bf.copy(dist = restrict(bf.dist))
        case None =>
          val f = catalog.get(s.column)
          require(f.spec.queryable, s"attribute ${s.column} is not queryable") // P6
          BoundFacet(s.column, restrict(distStream(f, s)), Seq.empty, s.decay,
            jaccard = f.spec.op == SimOp.Categorical || f.spec.op == SimOp.Textual)
      }
    }
  }

  /** Per-facet local top-k candidate DISTANCES, ascending — phase 1 of the
    * federated two-phase scale negotiation
    * ([[graft.sources.Federated.search]]): the k-th smallest candidate
    * distance over a horizontally sharded corpus is computable exactly
    * from each shard's local k smallest (the union's k smallest are
    * contained in the union of the per-shard k smallest), so a coordinator
    * can pin every shard to the single-instance calibration scale
    * (k * global d_k) before scoring. The distances are the non-null ones
    * of each facet's collected top-k list. preScored facets (ES /
    * federated NRA lists) carry no distances and are omitted, and so is a
    * facet with no candidates; a facet returns fewer than k values when
    * its candidate set is smaller.
    *
    * Keyed by QUERY INDEX, not column: two specs may query the same
    * column with different values (and therefore different distance
    * distributions), and a column-keyed map would collapse them — the
    * federated negotiation would then pin both facets' scales from one
    * facet's k-th distance, diverging from the single-instance scores it
    * exists to match. */
  def calibrationDistances(spark: SparkSession, catalog: Catalog, k: Int,
      specs: Seq[SearchSpec]): Map[Int, Seq[Double]] = {
    require(specs.nonEmpty, "no query conditions")
    val m = if (specs.size > 1) InflationFactor * k else k
    val need = bind(catalog, m, specs, None).zipWithIndex.filterNot(_._1.preScored)
    if (need.isEmpty) Map.empty
    else need.map(_._2).zip(RankAggregate.collectLists(need.map(_._1), k)).map { case (i, l) =>
      i -> l.flatMap(r => Option(r._2)).map(_.doubleValue).sorted.toSeq
    }.filter(_._2.nonEmpty).toMap
  }

  /** The bound facets with their calibrated scales and per-combination
    * weights, the lists they were calibrated from, and the list size m:
    * everything [[RankAggregate.topK]] takes. One Spark job, the phase-1
    * collect ([[RankAggregate.collectLists]]).
    *
    * Scale calibration: when no explicit scale is given, the decay scale of
    * each facet is set to k * (k-th candidate distance). The reference's
    * code reads as plain k-th distance (NumericalSimSearch.java:244-246),
    * but its committed golden fixture (data/gdelt/standalone/
    * search_results.json) is only reproduced — to 1e-9, on every score of
    * both weight combinations — by k * d_k; we match the fixture's
    * observable behavior and document the divergence from the code-as-read.
    * The degenerate all-exact-match prefix keeps the plain 1.0 guard (no
    * multiplier). */
  private def resolve(catalog: Catalog, k: Int, specs: Seq[SearchSpec],
      residualFilter: Option[String]): (Seq[BoundFacet], Seq[RankAggregate.TopList], Int) = {
    require(specs.nonEmpty, "no query conditions")
    require(specs.size == 1 || k <= KMax, s"k > $KMax for multi-attribute query") // A2
    val nCombos = math.max(1, specs.map(_.weights.size).max)
    val m = if (specs.size > 1) InflationFactor * k else k
    val unresolved = bind(catalog, m, specs, residualFilter.map(eligibleIds(catalog, _)))
    val lists = RankAggregate.collectLists(unresolved, m)
    val facets = unresolved.zip(lists).zip(specs).map { case ((bf, list), s) =>
      val f = if (bf.preScored) bf
        else bf.copy(scale = Some(s.scale.getOrElse(RankAggregate.kthScale(list, k, k))))
      val ws =
        if (s.weights.size == nCombos) s.weights
        else if (s.weights.size == 1) Seq.fill(nCombos)(s.weights.head)
        else if (s.weights.nonEmpty) throw new IllegalArgumentException(
          s"attribute ${s.column} supplies ${s.weights.size} weights but the " +
            s"query evaluates $nCombos combinations — every attribute must " +
            "supply one weight per combination (or exactly one, broadcast " +
            "to all)")
        else Seq.fill(nCombos)(estimateWeight(RankAggregate.scores(f, list), k)) // R7
      f.copy(weightPerCombo = ws)
    }
    (facets, lists, m)
  }

  /** Top-k multi-attribute search. Returns [[RankAggregate.topK]]'s
    * (combo, id, score, rank), or [[RankAggregate.topKDetailed]]'s columns
    * when `detailed`, as a local DataFrame.
    *
    * Every facet's top-M list is collected in ONE Spark job ([[resolve]]);
    * the scale calibration and R7 weight estimation read the collected
    * lists, and the aggregation scans again only the facets whose list
    * does not hold every candidate — a request runs at most two jobs. Every
    * aggregation algorithm the reference offers (threshold, no / partial
    * random access, pivot based) computes the same top-k on exact scores,
    * and this exact candidate-union plan supersedes them all, so
    * `algorithm` is ignored ([[graft.api.Algorithm]]). */
  def search(spark: SparkSession, catalog: Catalog, k: Int,
      specs: Seq[SearchSpec], residualFilter: Option[String] = None,
      detailed: Boolean = false,
      algorithm: Algorithm = Algorithm.Threshold): DataFrame = {
    val _ = algorithm
    val (facets, lists, m) = resolve(catalog, k, specs, residualFilter)
    if (detailed) RankAggregate.topKDetailed(spark, facets, k, m, Some(lists))
    else RankAggregate.topK(spark, facets, k, m, Some(lists))
  }

  /** A5: k x k pairwise weighted similarity over a set of result entities
    * (reference: engine/processor/ResultMatrix.java:62-124; skipped there
    * when k > 50 — enforced here too). Uses the same per-facet decay scales
    * as [[search]] (combo 0 weights). */
  def similarityMatrix(spark: SparkSession, catalog: Catalog, k: Int,
      specs: Seq[SearchSpec]): DataFrame = {
    require(k <= KMax, s"similarity matrix capped at K_MAX=$KMax")
    // In-situ attributes participate when their source supports value
    // retrieval (S7 JDBC pushdown — the reference matrixes in-situ
    // attributes from its random-access value cache, ResultMatrix over the
    // lookup); REST NRA sources have no value access and are rejected.
    val inSituByIdx: Map[Int, InSituFacet] = specs.zipWithIndex
      .flatMap { case (s, i) => catalog.getInSitu(s.column).map(i -> _) }.toMap
    inSituByIdx.values.foreach(f => require(f.values.isDefined,
      s"attribute ${f.name} is mounted in-situ without value retrieval — " +
        "a similarity matrix needs attribute values"))
    def opOf(i: Int): SimOp = inSituByIdx.get(i) match {
      case Some(f) => f.operation match {
        case "numerical_topk" => SimOp.Numerical
        case "temporal_topk"  => SimOp.Temporal
        case other => throw new IllegalArgumentException(
          s"in-situ operation $other not matrixable")
      }
      case None => catalog.get(specs(i).column).spec.op
    }
    // the matrix decays with the scales the search calibrates from its
    // collected lists; the ranked result is local, so its collect and the
    // |facets| joins below re-run nothing
    val (facets, lists, m) = resolve(catalog, k, specs, None)
    val scalesByIdx = facets.map(_.scale.getOrElse(1.0))
    val ids = RankAggregate.topK(spark, facets, k, m, Some(lists))
      .where(col("combo") === 0).select(col("id"))
    // value retrieval for in-situ facets: one bounded (<= K_MAX) id collect
    // feeds every remote value fetch
    val idSeq: Seq[Any] = ids.collect().map(_.get(0)).toSeq
    // zero results => an empty k x k matrix, same graceful degradation as
    // the local-facet path (the remote value fetch would reject an empty
    // IN list)
    if (idSeq.isEmpty) {
      import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
      val idType = ids.schema("id").dataType
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("lid", idType), StructField("rid", idType),
          StructField("sim", DoubleType))))
    }
    val withVals = specs.zipWithIndex.foldLeft(ids) { case (acc, (s, i)) =>
      val vf = inSituByIdx.get(i) match {
        case Some(f) => f.values.get(idSeq)
        case None => catalog.get(s.column).df
      }
      acc.join(vf.select(col("id"), col("value").as(s"v$i")), Seq("id"), "left")
    }
    val a = withVals.select(col("id").as("lid") +:
      specs.indices.map(i => col(s"v$i").as(s"a$i")): _*)
    val b = withVals.select(col("id").as("rid") +:
      specs.indices.map(i => col(s"v$i").as(s"b$i")): _*)
    val sims = specs.zipWithIndex.map { case (s, i) =>
      val op = opOf(i)
      val scale = scalesByIdx(i)
      val d: Column = op match {
        case SimOp.Numerical | SimOp.Temporal => SimKernels.absDist(col(s"a$i"), col(s"b$i"))
        case SimOp.Categorical => SimKernels.jaccardDistDistinct(col(s"a$i"), col(s"b$i"))
        case SimOp.Textual =>
          val q = catalog.get(s.column).spec.qgram
          SimKernels.jaccardDistDistinct(
            SimKernels.qgrams(col(s"a$i"), q), SimKernels.qgrams(col(s"b$i"), q))
        case SimOp.Spatial => SimKernels.geoDistDeg(
          col(s"a$i").getField("lon"), col(s"a$i").getField("lat"),
          col(s"b$i").getField("lon"), col(s"b$i").getField("lat"))
        case other => throw new IllegalArgumentException(s"unsupported op $other")
      }
      val jac = op == SimOp.Categorical || op == SimOp.Textual
      val sim = if (jac) SimKernels.decaySimJaccard(d, s.decay, lit(scale))
        else SimKernels.decaySim(d, s.decay, lit(scale))
      coalesce(sim, lit(0.0)) // missing value => similarity 0
    }
    val ws = specs.map(_.weights.headOption.getOrElse(1.0))
    val num = ws.zip(sims).map { case (w, s) => lit(w) * s }.reduce(_ + _)
    a.crossJoin(b).select(col("lid"), col("rid"),
      round(num / lit(ws.sum), 6).as("sim")).orderBy(col("lid"), col("rid"))
  }
}
