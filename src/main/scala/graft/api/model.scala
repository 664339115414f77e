package graft.api

import org.apache.spark.sql.{Column, DataFrame}

/** Query/config model mirroring the reference API surface (SURVEY.md §1.3;
  * reference: request/MountRequest.java, request/SearchRequest.java).
  * Re-expressed as Scala case classes; a facet = one attribute of the
  * entity profile, stored as a 2-column DataFrame (id, value).
  */

/** Similarity operation kinds (reference: operations named in
  * request/MountSpecs.java — numerical_topk, temporal_topk, categorical_topk,
  * textual_topk, spatial_knn, pivot_based). */
sealed trait SimOp
object SimOp {
  case object Numerical   extends SimOp  // value: Double
  case object Temporal    extends SimOp  // value: Timestamp (scored as epoch seconds)
  case object Categorical extends SimOp  // value: Array[String] token set
  case object Textual     extends SimOp  // value: String, compared via q-grams
  case object Spatial     extends SimOp  // value: struct(lon: Double, lat: Double)
  /** Multi-metric "pivot_based" facet: value Array[Double], one of the Lp /
    * haversine / jaccard metrics (reference: pivoting/metrics/). */
  case class Metric(name: String) extends SimOp
}

/** Normalization applied to a numerical facet at mount time
  * (reference: numerical/{ZNormal,UnityNormal}.java). */
sealed trait Normalizer
object Normalizer {
  case object None  extends Normalizer
  case object Z     extends Normalizer
  case object Unity extends Normalizer
}

/** Ingest-time statistics of a numerical attribute (A3; reference:
  * numerical/DoubleNumReader.java:24-56 — without reproducing its
  * avg=(max-min)/count bug). Needed at query time to normalize the query
  * value with the same transform applied to the data (A4). */
case class ColumnStats(count: Long, min: Double, max: Double, avg: Double, stddev: Double)

/** Descriptor of one mounted attribute — the rebuild's DatasetIdentifier
  * (reference: manager/DatasetIdentifier.java:1-231). */
case class AttributeSpec(
    name: String,
    op: SimOp,
    tokenDelim: String = ",",
    qgram: Int = 3,
    normalizer: Normalizer = Normalizer.None,
    queryable: Boolean = true,
    stats: Option[ColumnStats] = None,
    /** Mount-time word2vec transform (`transform_by`): maps a keyword-set
      * QUERY value into the attribute's vector space with the same
      * dictionary that transformed the data — so a user still queries the
      * transformed attribute by keywords, exactly as in the reference
      * (Coordinator.java:608-643 + Word2VectorTransformer applied to the
      * query value). */
    queryTransform: Option[Seq[String] => Seq[Double]] = None,
    /** URL prefix combined with entity ids in final results (reference:
      * MountSpecs.prefixURL; applied by Assistant.formatURL — minus its
      * hardcoded 12-character ATOKA truncation, a documented divergence). */
    prefixURL: Option[String] = None)

/** A mounted attribute: spec + its (id, value) DataFrame. The `df` must have
  * exactly two columns named `id` and `value`. `display` optionally holds
  * the ORIGINAL (pre-transform) values for output projection — the
  * reference's transformed-attribute association, where the raw keyword set
  * is remounted as a KEYWORD_DICTIONARY lookup and shown in results while
  * the derived vectors serve the queries (Coordinator.java:608-643). */
case class Facet(spec: AttributeSpec, df: DataFrame,
    display: Option[DataFrame] = None)

/** Rank-aggregation algorithm selector. All three aggregation algorithms of
  * the reference (threshold / no_random_access / partial_random_access,
  * ranking/{Threshold,NoRandomAccess,PartialRandomAccess}Ranking.java)
  * compute the same top-k on exact scores; our batch plan computes exact
  * scores for the full candidate union, which is an exact superset of all
  * three (see SURVEY.md §7.2), so the selector selects nothing:
  * `SimSearchEngine.search` takes it and ignores it. The request grammar
  * still parses it (`ParsedSearch.algorithm`, SQL `ALGORITHM`). Only the
  * benchmark harness (perfbench `SearchServe`) still passes it.
  */
sealed trait Algorithm
object Algorithm {
  case object Threshold           extends Algorithm
  case object NoRandomAccess      extends Algorithm
  case object PartialRandomAccess extends Algorithm
  case object PivotBased          extends Algorithm
  def parse(s: String): Algorithm = s.toLowerCase match {
    case "no_random_access"      => NoRandomAccess
    case "partial_random_access" => PartialRandomAccess
    case "pivot_based"           => PivotBased
    case _                       => Threshold
  }
}

/** Session-conf knobs — the deployment surface for library parameters that
  * would otherwise be code-level only. A caller passing the documented
  * sentinel (0) resolves the value from the SparkSession conf, so a REST
  * service or notebook tunes these via `spark.conf.set` / spark-defaults
  * without touching call sites. */
object Knobs {
  /** Checkpoint cadence of the distributed near-dup clustering loop
    * ([[graft.operators.Dedup]]); int > 0, default 5 (the plan doubles
    * per round between checkpoints, so the cadence bounds plan size at
    * ~2^cadence leaf copies). */
  val DedupCheckpointEvery = "spark.graft.dedup.checkpointEvery"
  /** Multi-probe bucket count of LSH ANN search
    * ([[graft.operators.AnnSearch]]); int >= 1, default 1. */
  val AnnProbes = "spark.graft.ann.probes"
  /** Stratified-sampling salt width in hex digits (16^width window
    * partitions per stratum, [[graft.operators.Sampling.stratified]]);
    * int in [1, 8], default 2. */
  val SampleSaltWidth = "spark.graft.sample.saltWidth"
  /** In-loop compaction cadence of the streaming index-append loops
    * ([[graft.streaming.StreamOps]]): fold committed batch partitions into
    * the base every N micro-batches; int >= 0, default 0 = never. Applies
    * when the stream's own `compactEvery` argument is left at 0, and is
    * read ONCE when the stream is built — SET before starting the stream;
    * restart a running stream to change its cadence. */
  val AnnIndexCompactEvery = "spark.graft.annindex.compactEvery"
  /** Edge rows per partition of the distributed clustering loop
    * ([[graft.operators.Dedup.clusters]]): the loop's shuffle partition
    * count is ceil(measured edges / this), clamped to the session's
    * shuffle-partition setting — partitions sized by the data, not a
    * constant (a 32-partition loop over a thousand edges pays 32 tasks of
    * pure overhead per round; a fixed small count would starve a trillion-
    * edge graph). long > 0, default 1,000,000 (~tens of MB of (long, long)
    * rows per task). */
  val DedupEdgesPerPartition = "spark.graft.dedup.edgesPerPartition"
  /** Hot-signature carrier threshold of the banded-Hamming joins
    * ([[graft.operators.Dedup.hammingPairs]]/`frameSigPairs`): the
    * exact-signature collapse (the 100 TB skew guard) engages only when
    * the measured carrier histogram shows a signature with MORE than this
    * many carriers — below it the operators band the carrier rows
    * directly, skipping the collapse's two expansion joins (identical
    * output either way). Sizing: a k-carrier signature puts all k band
    * rows of a band in ONE join bucket (one task), costing ~k^2/2
    * row-local verify comparisons per band — at the default 1024 that is
    * <= ~2M cheap codegen comparisons per bucket (well under a second),
    * while genuine corpus boilerplate (a constant white frame, a
    * site-wide intro card at 100 TB) has k orders of magnitude past it
    * and gets the collapse. long, default 1024; <= 0 forces the collapse
    * path unconditionally. */
  val DedupHotSigCarriers = "spark.graft.dedup.hotSigCarriers"
  /** Inline-filter bound of the winnowing df-cap
    * ([[graft.operators.Dedup.winnowPairs]]/`winnowSpans`): inside a
    * consume-now scope the MEASURED corpus-hot fingerprint set (df above
    * the boilerplate cap) is collected and applied as a row-local InSet
    * filter when it has at most this many entries — the fingerprint
    * stream then never joins against the cap set and the df aggregate
    * runs once (the probe) instead of once per self-join side. A larger
    * measured hot set falls back to a broadcast-friendly anti-join
    * (scale-safe at any size). int > 0, default 65536 (~0.5 MB of longs
    * on the driver); <= 0 disables inlining. */
  val DedupHotFpInlineMax = "spark.graft.dedup.hotFpInlineMax"
  /** All deployment knobs with their defaults — the set a REST tenant sees
    * under /_settings and the console's `SET` accepts. */
  val AllWithDefaults: Seq[(String, String)] = Seq(
    DedupCheckpointEvery -> "5", AnnProbes -> "1", SampleSaltWidth -> "2",
    AnnIndexCompactEvery -> "0", DedupEdgesPerPartition -> "1000000",
    DedupHotSigCarriers -> "1024", DedupHotFpInlineMax -> "65536")
}

object Limits {
  /** Max k for multi-attribute queries (reference: Constants.java:42 K_MAX). */
  val KMax = 50
  /** Per-facet candidate inflation: M = k * this (reference: Constants.java:44). */
  val InflationFactor = 1000
}

/** Mutable per-instance settings (reference: InstanceSettings.java). Only
  * `query_timeout` exists so far (reference: Constants.java:51
  * RANKING_MAX_TIME): the SQL terminal's `SET query_timeout <ms>;` records
  * it and /_settings serves it back, but the batch plans stay EXACT — this
  * engine has no ranking loop to cut short, so the knob is acknowledged
  * console-parity state, never an approximation trigger (SURVEY §4).
  * Scoped PER CATALOG (the reference keeps one InstanceSettings per api_key
  * Coordinator): the engine's Catalog carries the live field; the console
  * writes its own catalog's value and each REST tenant serves its own. */
final class InstanceSettings {
  @volatile var queryTimeoutMs: Long = 0L
}
