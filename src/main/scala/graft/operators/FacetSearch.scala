package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.SimKernels

/** One bound facet of a top-k multi-attribute similarity query: a per-attribute
  * distance stream, i.e. the rebuild of the reference's leaf operators
  * (reference: ingested/NumericalSimSearch.java:89-391,
  * ingested/CategoricalSimSearch.java:91-323, ingested/SpatialSimSearch.java:88-143).
  *
  * `dist` must have exactly two columns: `id` (entity key, any orderable type)
  * and `d` (distance, DoubleType). Building `dist` is the caller's job —
  * typically `attr.select(col(key).as("id"), kernel(...).as("d"))` with one of
  * the [[graft.functions.SimKernels]] kernels, so the whole stream stays a pure
  * codegen'd column expression over the source scan (filters/pruning push down
  * to the parquet reader via Catalyst).
  */
final case class BoundFacet(
    name: String,
    dist: DataFrame,
    weightPerCombo: Seq[Double],
    decay: Double = SimKernels.DefaultDecay,
    scale: Option[Double] = None,
    jaccard: Boolean = false,
    // A no-random-access facet (ES in-situ / federated remote): `dist`'s
    // `d` column already IS the similarity (higher = better, bounded list
    // of at most the remote's top-M). Candidates outside the list score 0 —
    // the reference's NRA lower-bound semantics for in-situ REST sources
    // (SearchHandler.java:296-307). decay/scale/jaccard are ignored.
    preScored: Boolean = false,
    // Random-access lookup for a BOUNDED facet: given candidate ids absent
    // from `dist`, fetch their exact (id, d) rows from the source — the
    // rebuild of the reference's in-situ lookup step
    // (insitu/SimSearchJdbcQuery.java:177 multi-value retrieval template
    // for JDBC; ranking/randomaccess/NumericalValueFinder.java:25-41 for
    // REST). For a distance facet (S7 JDBC pushdown) the rows are raw
    // distances, decayed by the aggregator with the facet's scale; for a
    // preScored facet (S9 ES) they are already similarities on the list's
    // own scale and join it as-is. The id set is bounded by the candidate
    // union (<= m * |facets| <= 50k), the same driver-side bound the
    // reference's in-memory lookup carries. None = no random access
    // (value-less sources, and full local facets which never need it —
    // their `dist` stream is complete).
    lookup: Option[Seq[Any] => DataFrame] = None)

object FacetSearch {

  /** Deterministic per-facet top-M candidate list, ordered by (distance, id).
    * Spark plans this as TakeOrderedAndProject: each task keeps a size-M heap,
    * the driver merges 1 partial result per partition — no shuffle, scales to
    * arbitrarily large facet tables as long as M stays bounded
    * (M = k * INFLATION_FACTOR <= 50_000, reference: Constants.java:44).
    * [[RankAggregate.collectLists]] collects every facet's list in one job,
    * and the facet's decay scale is read off it ([[RankAggregate.kthScale]]).
    */
  def topM(dist: DataFrame, m: Int): DataFrame =
    dist.orderBy(col("d"), col("id")).limit(m)
}
