package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.SimKernels
import graft.operators.{BoundFacet, FacetSearch, RankAggregate}

/** The driver-side ranking tail of [[RankAggregate]] against Spark's own
  * expressions: every score, similarity and rank must be bit-identical to
  * what the SQL formulation of the aggregation computes — decayed
  * similarity by SimKernels' column expressions, the left-associative
  * weighted mean, `round(x, 6)`, and row_number over (score desc, id). */
class RankTailSpec extends SparkTestBase {
  import spark.implicits._

  private val decay = SimKernels.DefaultDecay

  /** The aggregation written in Spark: per-facet top-m lists, scale =
    * guarded d_k of the top-k, similarity columns, candidate pivot with a
    * missing facet at 0, and one ranked row set per weight combination.
    * Rows: (combo, rank, id, score, s_0, s_1, ...). */
  private def sparkRanked(facets: Seq[BoundFacet], k: Int, m: Int): Seq[Row] = {
    val sims = facets.zipWithIndex.map { case (f, i) =>
      val s =
        if (f.preScored) col("d")
        else {
          val scale = f.scale.getOrElse {
            val dk = FacetSearch.topM(f.dist, k).agg(max(col("d"))).head
            if (dk.isNullAt(0) || dk.getDouble(0) <= 0.0) 1.0 else dk.getDouble(0)
          }
          if (f.jaccard) SimKernels.decaySimJaccard(col("d"), f.decay, lit(scale))
          else SimKernels.decaySim(col("d"), f.decay, lit(scale))
        }
      f.dist.select(col("id"), s.as(s"s_$i"))
    }
    val cands = facets.map { f =>
      (if (f.preScored) f.dist.orderBy(col("d").desc, col("id")).limit(m)
       else FacetSearch.topM(f.dist, m)).select(col("id"))
    }.reduce(_ union _).distinct()
    val pivoted = sims.foldLeft(cands)((acc, s) => acc.join(s, Seq("id"), "left"))
      .select(col("id") +: facets.indices.map(i =>
        coalesce(col(s"s_$i"), lit(0.0)).as(s"s_$i")): _*)
    val sCols = facets.indices.map(i => col(s"s_$i"))
    facets.head.weightPerCombo.indices.map { c =>
      val ws = facets.map(_.weightPerCombo(c))
      val num = ws.zipWithIndex.map { case (w, i) => lit(w) * col(s"s_$i") }.reduce(_ + _)
      pivoted.select(Seq(lit(c.toLong).as("combo"), col("id"),
        round(num / lit(ws.sum), 6).as("score")) ++ sCols: _*)
    }.reduce(_ union _)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("combo")).orderBy(col("score").desc, col("id"))).cast("long"))
      .where(col("rank") <= k)
      .select(Seq(col("combo"), col("rank"), col("id"), col("score")) ++ sCols: _*)
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))
  }

  /** RankAggregate's rows in the same layout, its s_ columns by position. */
  private def driverRanked(facets: Seq[BoundFacet], k: Int, m: Int): Seq[Row] = {
    val got = RankAggregate.topKDetailed(spark, facets, k, m)
    val sNames = got.columns.drop(5).toSeq
    got.select(Seq(col("combo"), col("rank"), col("id"), col("score")) ++ sNames.map(col): _*)
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))
  }

  /** Doubles compared by their bits: 0.1234565 and its HALF_UP neighbour
    * differ in one ulp, which `==` on a tolerance would hide. */
  private def bits(rows: Seq[Row]): Seq[Seq[Any]] = rows.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  })

  test("decayed similarity: bit-identical to SimKernels' exp(-λ*d/s), scale " +
    "guard and Jaccard d = 1 included") {
    val ds = Seq(0.0, 1e-12, 0.3, 1.0, 1.0000000000000002, 2.5, 17.125, 1234.5678, 1e300)
    val scales = Seq(-2.0, 0.0, 1e-9, 0.37, 1.0, 3.0, 250.0)
    for (jac <- Seq(false, true); sc <- scales) {
      val df = ds.toDF("d")
      val spark0 = df.select(
        (if (jac) SimKernels.decaySimJaccard(col("d"), decay, lit(sc))
         else SimKernels.decaySim(col("d"), decay, lit(sc))).as("s"))
        .collect().map(_.getDouble(0)).toSeq
      val driver = ds.map(RankAggregate.decayed(_, decay, sc, jac))
      assert(driver.map(java.lang.Double.doubleToRawLongBits) ==
        spark0.map(java.lang.Double.doubleToRawLongBits), (jac, sc, driver, spark0))
    }
  }

  test("round6 is Spark's round(x, 6) on half-way points, not the binary " +
    "value's rounding") {
    val xs = Seq(0.1234565, 0.0000005, 0.0000015, 0.9999995, 2.5e-7, 0.4999995,
      0.1 + 0.2, 1.0 / 3.0, -0.0000005)
    // the adversarial part: rounding the exact binary value would go the
    // other way on some of these
    assert(xs.exists(x => new java.math.BigDecimal(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue != RankAggregate.round6(x)))
    val sparkRounded = xs.toDF("x").select(round(col("x"), 6)).collect().map(_.getDouble(0)).toSeq
    assert(xs.map(RankAggregate.round6) == sparkRounded)
  }

  test("ranked rows: bit-identical to the Spark SQL aggregation — string ids " +
    "tied on score in UTF-8 order, Jaccard d = 1, zero and absent d_k, a " +
    "missing facet value, two specs on one column") {
    // "ﬁ" (U+FB01) and "😀" (U+1F600) tie everywhere. Spark orders strings by
    // their UTF-8 bytes (EF AC 81 < F0 9F 98 80); Java's String.compareTo
    // orders UTF-16 units and puts the surrogate pair of "😀" first.
    val (lig, smile) = ("ﬁ", "😀")
    assert(smile.compareTo(lig) < 0)
    val plain = (0 until 14).map(i => s"id$i")
    val rnd = new scala.util.Random(5)
    val x = (plain.map(_ -> math.rint(rnd.nextDouble() * 40) / 4) ++
      Seq(lig -> 0.0, smile -> 0.0)).toDF("id", "d")
    // the same column queried a second time, as a Jaccard facet: some ids
    // disjoint (d = 1), a third of them missing
    val xJac = (plain.zipWithIndex.collect {
      case (id, i) if i % 3 != 0 => id -> (if (i % 4 == 0) 1.0 else (i % 5) / 5.0)
    } ++ Seq(lig -> 0.2, smile -> 0.2)).toDF("id", "d")
    // every one of the k nearest at distance 0: d_k = 0, scale guard 1.0
    val zero = (plain.map(id => id -> (if (id < "id4") 0.0 else 3.0)) ++
      Seq(lig -> 0.0, smile -> 0.0)).toDF("id", "d")
    // an empty facet: no d_k at all
    val none = Seq.empty[(String, Double)].toDF("id", "d")
    val facets = Seq(
      BoundFacet("x", x, Seq(0.4, 0.1)),
      BoundFacet("x", xJac, Seq(0.3, 0.6), jaccard = true),
      BoundFacet("zero", zero, Seq(0.2, 0.2)),
      BoundFacet("none", none, Seq(0.1, 0.1)))
    for ((k, m) <- Seq((5, 6), (4, 100))) {
      val driver = driverRanked(facets, k, m)
      assert(bits(driver) == bits(sparkRanked(facets, k, m)), driver)
      // both combinations rank the tied pair side by side, "ﬁ" first
      for (c <- Seq(0L, 1L)) {
        val ranks = driver.filter(_.getLong(0) == c).map(r => r.getString(2) -> r.getLong(1)).toMap
        assert(ranks(smile) == ranks(lig) + 1, driver)
      }
    }
    val cols = RankAggregate.topKDetailed(spark, facets, 3, 6).columns.toSeq
    assert(cols == Seq("id", "combo", "score", "rank", "exact",
      "s_x_0", "s_x_1", "s_zero", "s_none"))
  }

  test("ranked rows: weighted means on 6-decimal half-way points round as " +
    "Spark rounds them") {
    // pre-scored facets carry their similarities as given, so the weighted
    // mean of equal values is the value itself: each row's score is a
    // half-way point of round(x, 6)
    val halfway = Seq(0.1234565, 0.0000005, 0.0000015, 0.9999995, 0.4999995, 0.2500005)
    val s0 = halfway.zipWithIndex.map { case (v, i) => i.toLong -> v }.toDF("id", "d")
    val s1 = halfway.zipWithIndex.map { case (v, i) => i.toLong -> v }.toDF("id", "d")
    val facets = Seq(
      BoundFacet("p", s0, Seq(0.5, 0.25), preScored = true),
      BoundFacet("q", s1, Seq(0.5, 0.75), preScored = true))
    val driver = driverRanked(facets, 6, 10)
    assert(bits(driver) == bits(sparkRanked(facets, 6, 10)), driver)
    assert(driver.filter(_.getLong(0) == 0).map(r => r.getLong(2) -> r.getDouble(3)).toMap ==
      Map(0L -> 0.123457, 1L -> 0.000001, 2L -> 0.000002, 3L -> 1.0,
        4L -> 0.5, 5L -> 0.250001))
  }

  /** Pre-scored facets over the same ids: facet f scores id i with
    * `scores(f)(i)`, so the weighted means are whatever the test needs. */
  private def preScored(ids: Seq[Long], scores: Seq[Seq[Double]], weights: Seq[Seq[Double]]) =
    scores.zip(weights).zipWithIndex.map { case ((ss, ws), f) =>
      BoundFacet(s"p$f", ids.zip(ss).toDF("id", "d"), ws, preScored = true)
    }

  test("ranking window: rounding only the candidates that can reach the " +
    "top k ranks exactly as rounding every candidate — near-ties at the 6th " +
    "decimal, scores far above 1, NaN and infinities, k >= candidates") {
    val rnd = new scala.util.Random(11)
    val n = 240
    val ids = rnd.shuffle((0 until n).map(_.toLong * 7 + 3))
    // clustered on and around the half-way points of round(x, 6), off by
    // an ulp or a few 1e-12 either way: many candidates tie after rounding
    // at the k-th score, and the tie is broken by id
    def nearTies(base: Double) = Seq.fill(n)(base + rnd.nextInt(6) * 5e-7 +
      (rnd.nextInt(3) - 1) * (if (rnd.nextBoolean()) math.ulp(base) else 1e-12))
    // ES-style scores far above 1, with the same half-way clustering
    def large(base: Double) = Seq.fill(n)(base + rnd.nextInt(4) * 5e-7 + rnd.nextInt(3) * 1e-9)
    val special = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    def withSpecial(xs: Seq[Double], every: Int) =
      xs.zipWithIndex.map { case (x, i) => if (i % every == 0) special(i / every % 3) else x }
    val cases = Seq(
      "near ties" -> preScored(ids, Seq(nearTies(0.1234555), nearTies(0.1234555)),
        Seq(Seq(0.3, 1.0), Seq(0.7, 1.0))),
      "one facet" -> preScored(ids, Seq(nearTies(0.4999985)), Seq(Seq(1.0))),
      "far above 1" -> preScored(ids, Seq(large(12.3456785), large(98765.4321005)),
        Seq(Seq(0.5, 0.2), Seq(0.5, 0.9))),
      "NaN and infinities" -> preScored(ids, Seq(withSpecial(nearTies(0.25), 7), nearTies(0.25)),
        Seq(Seq(0.5), Seq(0.5))),
      "mostly NaN and infinities" -> preScored(ids, Seq(withSpecial(large(3.0), 2), large(3.0)),
        Seq(Seq(0.5), Seq(0.5))))
    for ((name, facets) <- cases; k <- Seq(1, 5, 20, n, n + 10)) {
      val driver = driverRanked(facets, k, 10 * n)
      assert(driver.size == facets.head.weightPerCombo.size * math.min(k, n), (name, k))
      assert(bits(driver) == bits(sparkRanked(facets, k, 10 * n)), (name, k, driver.take(5)))
    }
  }

  test("ranking window: spread-out scores round a window of the candidates, " +
    "and the window holds every one that ties the k-th after rounding") {
    val raw = Array.tabulate(1000)(i => i * 1e-5) ++ Array(0.0099905, 0.0099895)
    val window = RankAggregate.rankWindow(raw, 5)
    assert(window.length < 20, window.toSeq)
    val kth = raw.map(RankAggregate.round6).sorted(Ordering.Double.TotalOrdering).reverse(4)
    val reaching = raw.indices.filter(j => RankAggregate.round6(raw(j)) >= kth)
    assert(reaching.forall(window.contains), (reaching, window.toSeq))
    assert(RankAggregate.rankWindow(raw, raw.length).length == raw.length)
  }
}
