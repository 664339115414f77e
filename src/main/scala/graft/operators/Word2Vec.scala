package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** F11: word2vec set embedding — transform a keyword-set attribute into the
  * mean of its tokens' dictionary vectors
  * (reference: lookup/Word2VectorTransformer.java:42-97, applied at mount by
  * Coordinator.java:608-643).
  *
  * Reference semantics reproduced exactly:
  *  - dictionary keys are lower-case; tokens are lower-cased for lookup;
  *  - compound tokens ("new+york") average their components' vectors
  *    (recursively in the reference; one level suffices since components
  *    cannot contain '+' again);
  *  - missing tokens/components contribute a zero vector but still count in
  *    the divisor (vec = sum(found) / |tokens|);
  *  - an empty token set maps to a NaN vector.
  *
  * Plan shape (100 TB-safe): explode tokens -> broadcast-join the (small)
  * dictionary -> per-dimension partial sums via groupBy(id, pos) — one
  * shuffle keyed by entity id, no driver materialization.
  */
object Word2Vec {

  /** @param tokensDf (id, tokens: array<string>)
    * @param dict     (term, vector: array<double>) — lower-case terms
    * @param dim      vector dimensionality */
  def transform(tokensDf: DataFrame, dict: DataFrame, dim: Int): DataFrame = {
    val d = dict.select(col("term").as("_t"), col("vector").as("_v"))
    val terms = tokensDf.select(col("id"), size(col("tokens")).as("ntok"),
      explode(col("tokens")).as("term"))
    val comps = terms.select(col("id"), col("ntok"),
      size(split(col("term"), "\\+")).as("ncomp"),
      explode(split(col("term"), "\\+")).as("c"))
    // dim-length dictionary vectors are the join-boundary contract: the
    // parallel dim sums below read element_at(_v, 1..dim), and a SHORT
    // vector would silently contribute null dimensions (and throw under
    // spark.sql.ansi.enabled) where the old posexplode shape produced a
    // short output vector. Enforce loudly instead of diverging — on the
    // matched rows only, so a ragged entry no document uses stays inert.
    val joined = comps.join(broadcast(d), lower(col("c")) === col("_t"))
      .withColumn("_v", when(size(col("_v")) >= dim, col("_v"))
        .otherwise(raise_error(concat(lit(s"word2vec: dictionary vector shorter than dim=$dim for term "),
          col("_t")))))
    // one aggregation with `dim` parallel sums instead of posexplode (a
    // dim-x row blow-up) -> (id, pos) aggregate -> (id) collect_list +
    // sort: same addends per (id, dimension), one exchange instead of
    // two, no array re-assembly. Summation order within a dimension is
    // partition-dependent either way; callers round to 6 decimals, the
    // library-wide discipline that absorbs the <= 1-ulp spread.
    val dimSums = (0 until dim).map(j =>
      sum(element_at(col("_v"), j + 1) / (col("ncomp") * col("ntok"))).as(s"_x$j"))
    val dims = joined
      .groupBy(col("id"))
      .agg(dimSums.head, dimSums.tail: _*)
      .select(col("id"),
        array((0 until dim).map(j => col(s"_x$j")): _*).as("vec"))
    val zeros = array_repeat(lit(0.0), dim)
    val nans = array_repeat(lit(Double.NaN), dim)
    tokensDf.select(col("id"), size(col("tokens")).as("ntok"))
      .join(dims, Seq("id"), "left")
      .select(col("id"),
        when(col("ntok") === 0, nans)
          .otherwise(coalesce(col("vec"), zeros)).as("vector"))
  }
}
