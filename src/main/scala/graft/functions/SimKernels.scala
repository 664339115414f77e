package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Similarity / distance kernel library.
  *
  * Pure Catalyst column expressions (no UDFs) so every kernel stays inside
  * whole-stage codegen and is usable at 100 TB scale. The batch queries
  * and their DuckDB oracles compose these; the served `/search` scores
  * through native twins in [[NativeKernels]] instead, bit-identical to the
  * composed forms: query values bound by reference (`queryValue`,
  * `queryVector`) and one compiled query-set Jaccard kernel
  * (`querySetJaccardDist`, `queryQgramJaccardDist`) in place of
  * [[jaccardDistDistinct]] against a literal array. Semantics mirror the
  * reference engine's kernels (see SURVEY.md §2.6):
  *
  *  - absolute numeric distance   (reference: measure/NumericalDistance.java:28-52)
  *  - Jaccard distance over sets  (reference: measure/CategoricalDistance.java:33-77)
  *  - Euclidean-degrees geo dist  (reference: measure/SpatialDistance.java:36-60 —
  *    the class is named "Haversine" but computes planar distance in degrees;
  *    we keep both, clearly named)
  *  - Haversine in decimal degrees (reference: pivoting/metrics/HaversineDistance.java:80-117)
  *  - L1 / L2 / Linf over double arrays (reference: pivoting/metrics/{Manhattan,Euclidean,Chebyshev}Distance.java)
  *  - exponential decay similarity sim = exp(-lambda * d / scale)
  *    (reference: measure/DecayedSimilarity.java:42-99, lambda default 0.05)
  *  - q-gram tokenization (reference: TokenSetCollectionReader.java:15-16, q=3)
  */
object SimKernels {

  /** Reference default decay constant (Constants.java:38). */
  val DefaultDecay: Double = 0.05

  // ---------------------------------------------------------------- numeric

  /** |v - q| */
  def absDist(v: Column, q: Column): Column = abs(v - q)

  /** Timestamp to fractional epoch seconds (exact for ms-precision data). */
  def epochSec(ts: Column): Column = ts.cast("double")

  /** Temporal distance in seconds between two timestamps. */
  def temporalDist(ts: Column, q: Column): Column =
    abs(epochSec(ts) - epochSec(q))

  // ------------------------------------------------------------------- sets

  /** Jaccard similarity |a ∩ b| / |a ∪ b| over token arrays (set semantics:
    * duplicates ignored). Empty-union pairs score 0. A null array (missing
    * attribute) also scores 0 — the reference's missing-value contract
    * (reference: RankAggregator.java:239-242). */
  def jaccardSim(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni   = size(array_union(a, b)).cast("double")
    coalesce(when(uni === 0.0, lit(0.0)).otherwise(inter / uni), lit(0.0))
  }

  /** Jaccard distance 1 - sim. */
  def jaccardDist(a: Column, b: Column): Column =
    lit(1.0) - jaccardSim(a, b)

  /** Jaccard similarity for arrays KNOWN to be distinct (tokenize/qgrams
    * output): |∩| / (|a| + |b| - |∩|) — same exact value as [[jaccardSim]]
    * but skips materializing the union array, which roughly halves the cost
    * of a wide set-similarity scan. */
  def jaccardSimDistinct(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni   = size(a).cast("double") + size(b).cast("double") - inter
    coalesce(when(uni === 0.0, lit(0.0)).otherwise(inter / uni), lit(0.0))
  }

  /** Jaccard distance over known-distinct arrays. */
  def jaccardDistDistinct(a: Column, b: Column): Column =
    lit(1.0) - jaccardSimDistinct(a, b)

  /** Split a delimited string into a distinct, trimmed, non-empty token set
    * (reference: categorical/TokenSet + TokenSetCollectionReader.java:48-120).
    * The delimiter is a literal string, not a regex (Pattern.quote), so
    * delimiters like "|", "+", "." behave as users expect. Divergence from
    * the reference (which passes the delimiter to String.split as a regex
    * and does not trim): documented, deliberate. */
  def tokenize(s: Column, delim: String): Column =
    array_distinct(filter(
      transform(split(s, java.util.regex.Pattern.quote(delim)), t => trim(t)),
      t => t =!= ""))

  /** Sliding q-grams of a string as a distinct token set. Empty/null strings
    * yield an empty set (the reference's ingestion skips empty values and
    * Lucene NGramTokenizer(q,q) emits no grams below length q); non-empty
    * strings shorter than q yield the whole string as a single gram —
    * a documented divergence that keeps short values queryable. */
  def qgrams(s: Column, q: Int): Column = {
    val n = greatest(length(s) - (q - 1), lit(1))
    when(s.isNull || length(s) === 0, array().cast("array<string>"))
      .otherwise(array_distinct(transform(sequence(lit(1), n), i => s.substr(i, lit(q)))))
  }

  // ---------------------------------------------------------------- spatial

  /** Planar Euclidean distance in degrees — bit-compatible with the
    * reference's rank-aggregation geo distance (SpatialDistance.java:36-60,
    * which despite its docstring calls JTS Geometry.distance). */
  def geoDistDeg(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val dx = lon1 - lon2
    val dy = lat1 - lat2
    sqrt(dx * dx + dy * dy)
  }

  /** Great-circle angle in decimal degrees (NOT meters) — mirrors the pivot
    * path's HaversineDistance.calc (HaversineDistance.java:42-61) which
    * returns Math.toDegrees(angle). Deliberate divergences from the
    * reference, both documented: (1) the reference applies cos/sin to the
    * FIRST ordinate, which its own docs label lon — i.e. lat/lon roles
    * swapped; we use the textbook (correct) formula. (2) the reference
    * clamps sqrt(a) to 1 before asin (line 54); we do the same via
    * least(), since FP rounding near antipodal points can push a above 1
    * and an unclamped asin would return NaN and poison top-k ordering. */
  def haversineDeg(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val dLat = radians(lat2 - lat1) / 2
    val dLon = radians(lon2 - lon1) / 2
    val a = sin(dLat) * sin(dLat) +
      cos(radians(lat1)) * cos(radians(lat2)) * sin(dLon) * sin(dLon)
    degrees(lit(2.0) * asin(least(sqrt(a), lit(1.0))))
  }

  // ----------------------------------------------------------- double[] Lp

  /** Element-wise fold helpers are ordered (left-to-right), so results are
    * deterministic and reproducible by an ordered fold in any engine. */
  private def foldSum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** L1 (Manhattan) distance over two equal-length double arrays. */
  def l1Dist(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => abs(x - y)))

  /** L2 (Euclidean) distance. */
  def l2Dist(a: Column, b: Column): Column =
    sqrt(foldSum(zip_with(a, b, (x, y) => (x - y) * (x - y))))

  /** Linf (Chebyshev) distance. */
  def chebyshevDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => abs(x - y)), lit(0.0),
      (acc, x) => greatest(acc, x))

  /** Ordered dot product. */
  def dot(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => x * y))

  /** Euclidean norm. */
  def l2Norm(a: Column): Column = sqrt(foldSum(transform(a, x => x * x)))

  /** Cosine similarity; zero-norm vectors score 0. */
  def cosineSim(a: Column, b: Column): Column = {
    val d  = dot(a, b)
    val na = l2Norm(a)
    val nb = l2Norm(b)
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(d / (na * nb))
  }

  /** Cosine distance 1 - sim. */
  def cosineDist(a: Column, b: Column): Column = lit(1.0) - cosineSim(a, b)

  // ------------------------------------------------------------------ decay

  /** Decayed similarity sim = exp(-lambda * d / scale); scale <= 0 guards to 1.
    * (reference: measure/DecayedSimilarity.java:42-99). */
  def decaySim(d: Column, lambda: Double, scale: Column): Column = {
    val s = when(scale <= 0.0 || scale.isNull, lit(1.0)).otherwise(scale)
    exp(lit(-lambda) * d / s)
  }

  /** Jaccard-specific decay: distance exactly 1 (disjoint sets) scores 0
    * (reference quirk: DecayedSimilarity.java:42-99 special case). */
  def decaySimJaccard(d: Column, lambda: Double, scale: Column): Column =
    when(d === 1.0, lit(0.0)).otherwise(decaySim(d, lambda, scale))

  // ---------------------------------------------------------- normalization

  /** Z-normalization (v - mean) / stddev (reference: numerical/ZNormal.java:23-26).
    * Divergence (deliberate, documented): a degenerate distribution
    * (stddev = 0) maps to constant 0 here, where the reference would emit
    * +/-Infinity. The driver-side Double stats come from an `agg` result
    * (single-row collect), not a data scan. */
  def zNorm(v: Column, mean: Double, stddev: Double): Column =
    if (stddev == 0.0) lit(0.0) else (v - mean) / stddev

  /** Unity normalization (v - mean) / (max - min)
    * (reference: numerical/UnityNormal.java:53-56). Same degenerate-case
    * divergence as [[zNorm]]: max = min maps to constant 0. */
  def unityNorm(v: Column, mean: Double, min: Double, max: Double): Column =
    if (max == min) lit(0.0) else (v - mean) / (max - min)
}
