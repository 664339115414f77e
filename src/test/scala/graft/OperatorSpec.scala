package graft

import org.apache.spark.sql.functions._

import graft.functions.{SimKernels, TextKernels}
import graft.operators._

/** Operator tests, including the brute-force top-k oracle for the
  * rank-aggregation plan (FIXTURES.md test pyramid, tier 4). */
class OperatorSpec extends SparkTestBase {
  import spark.implicits._

  test("FacetSearch.topM: deterministic under ties (ordered by d then id)") {
    val dist = Seq((3L, 1.0), (1L, 1.0), (2L, 0.5), (4L, 1.0)).toDF("id", "d")
    val got = FacetSearch.topM(dist, 3).select("id").as[Long].collect().toSeq
    assert(got == Seq(2L, 1L, 3L))
  }

  test("RankAggregate.kthScale: k-th distance; all-zero prefix guards to 1.0") {
    // read off a list from collectLists; nulls sort first, times = k
    def list(rows: Seq[(Long, java.lang.Double)], k: Int) =
      RankAggregate.collectLists(Seq(BoundFacet("f", rows.toDF("id", "d"), Seq(1.0))), k).head
    val dist = Seq[(Long, java.lang.Double)]((1L, 0.0), (2L, 2.0), (3L, 5.0))
    assert(RankAggregate.kthScale(list(dist, 2), 2, 1) == 2.0)
    val zeros = Seq[(Long, java.lang.Double)]((1L, 0.0), (2L, 0.0))
    assert(RankAggregate.kthScale(list(zeros, 2), 2, 1) == 1.0)
    // a null distance takes a place in the top-k prefix: d_k is the
    // largest d among the first k rows, as max(d) over the top-k reads it
    val nulls = Seq[(Long, java.lang.Double)]((1L, null), (2L, 1.0), (3L, 4.0))
    assert(list(nulls, 3).head._2 == null)
    assert(RankAggregate.kthScale(list(nulls, 3), 2, 1) == 1.0)
    assert(RankAggregate.kthScale(list(nulls, 3), 3, 1) == 4.0)
    assert(RankAggregate.kthScale(list(Seq((1L, null), (2L, null)), 2), 2, 1) == 1.0)
    // the engine's k * d_k; the all-zero guard stays 1.0, unmultiplied
    assert(RankAggregate.kthScale(list(dist, 2), 2, 2) == 4.0)
    assert(RankAggregate.kthScale(list(zeros, 2), 2, 2) == 1.0)
    assert(RankAggregate.kthScale(IndexedSeq.empty, 2, 2) == 1.0)
  }

  test("RankAggregate.topK matches a brute-force oracle (2 facets, exact scoring)") {
    val rnd = new scala.util.Random(7)
    val n = 60
    val v0 = (0 until n).map(i => i.toLong -> rnd.nextDouble() * 100)
    val v1 = (0 until n).map(i => i.toLong -> rnd.nextDouble() * 10)
    val (q0, q1) = (50.0, 5.0)
    val f0 = v0.toDF("id", "v").select(col("id"), abs(col("v") - q0).as("d"))
    val f1 = v1.toDF("id", "v").select(col("id"), abs(col("v") - q1).as("d"))
    val k = 5
    val facets = Seq(
      BoundFacet("f0", f0, Seq(0.6)), BoundFacet("f1", f1, Seq(0.4)))
    val got = RankAggregate.topK(spark, facets, k, n)
      .orderBy("rank").select("id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // brute force in plain Scala with the same semantics
    def kth(ds: Seq[Double]) = { val s = ds.sorted.take(k); if (s.max <= 0) 1.0 else s.max }
    val s0 = kth(v0.map(x => math.abs(x._2 - q0)))
    val s1 = kth(v1.map(x => math.abs(x._2 - q1)))
    val exp = (0 until n).map { i =>
      val a = math.exp(-0.05 * math.abs(v0(i)._2 - q0) / s0)
      val b = math.exp(-0.05 * math.abs(v1(i)._2 - q1) / s1)
      val sc = BigDecimal((0.6 * a + 0.4 * b) / (0.6 + 0.4))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (i.toLong, sc)
    }.sortBy { case (id, sc) => (-sc, id) }.take(k)
    assert(got == exp)
  }

  test("CacheScope.parallel: results in order, registrations land in the " +
      "enclosing scope, failures propagate") {
    val df1 = Seq(1, 2).toDF("a").cache()
    val df2 = Seq(3).toDF("a").cache()
    var seen: Seq[Int] = Nil
    graft.util.CacheScope.withScope {
      seen = graft.util.CacheScope.parallel(Seq(
        () => { graft.util.CacheScope.register(df1); df1.count().toInt },
        () => { graft.util.CacheScope.register(df2); df2.count().toInt }))
    }
    assert(seen == Seq(2, 1))
    // scope closed -> both unpersisted (storage level NONE)
    assert(df1.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(df2.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    val boom = intercept[RuntimeException] {
      graft.util.CacheScope.parallel(Seq(
        () => 1,
        () => throw new RuntimeException("chain failed")))
    }
    assert(boom.getMessage == "chain failed")
  }

  test("RankAggregate.topKDetailed: s_<facet> values and exact flags match " +
    "a brute-force recomputation (3 facets, 2 combos, jaccard, missing ids)") {
    // plus inputs whose cached lists cover the candidates: every facet's,
    // one facet's beside two longer ones, and a single facet's
    val rnd = new scala.util.Random(23)
    val n = 60
    // f0 numeric, f1 jaccard (some disjoint d = 1.0), f2 covers 2 ids in 3
    val d0 = (0 until n).map(i => i.toLong -> rnd.nextDouble() * 50)
    val d1 = (0 until n).map(i => i.toLong ->
      (if (i % 7 == 0) 1.0 else math.rint(rnd.nextDouble() * 20) / 20))
    val d2 = (0 until n).filter(_ % 3 != 0).map(i => i.toLong -> rnd.nextDouble() * 5)
    val ws = Seq(Seq(0.6, 0.2), Seq(0.3, 0.9), Seq(0.5, 0.5))
    val jac = Seq(false, true, false)
    val decay = SimKernels.DefaultDecay
    def round6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    /** Runs topKDetailed over facets 0..data.size-1 and compares it with a
      * plain-Scala recomputation; returns the ranked rows and candidates. */
    def check(data: Seq[Seq[(Long, Double)]], k: Int, m: Int,
        ws: Seq[Seq[Double]] = ws, jac: Seq[Boolean] = jac) = {
      val names = data.indices.map(i => s"s_f$i")
      val facets = data.indices.map(i => BoundFacet(s"f$i", data(i).toDF("id", "d"),
        ws(i), jaccard = jac(i)))
      val got = RankAggregate.topKDetailed(spark, facets, k, m)
      assert(got.columns.toSeq == Seq("id", "combo", "score", "rank", "exact") ++ names)

      // brute force in plain Scala: per-facet (d, id)-ordered top-m, scale =
      // k-th candidate distance, exact scores over the candidate union
      val topMs = data.map(_.sortBy { case (id, d) => (d, id) }.take(m))
      val scales = topMs.map { tm =>
        val dk = tm.take(k).map(_._2).max
        if (dk <= 0) 1.0 else dk
      }
      def sim(i: Int, d: Double): Double =
        if (jac(i) && d == 1.0) 0.0 else StrictMath.exp(-decay * d / scales(i))
      val cands = topMs.flatMap(_.map(_._1)).distinct
      val sims: Map[Long, Seq[Double]] = cands.map { id =>
        id -> data.indices.map(i => data(i).find(_._1 == id).map(r => sim(i, r._2)).getOrElse(0.0))
      }.toMap
      // an unseen entity's facet similarity is bounded by the M-th candidate's
      val sMth = data.indices.map { i =>
        val maxd = topMs(i).map(_._2).max
        if (topMs(i).size < m) 0.0
        else if (jac(i) && maxd == 1.0) 0.0
        else StrictMath.exp(-decay * maxd / scales(i))
      }
      val expected = (0 until 2).flatMap { c =>
        val w = data.indices.map(ws(_)(c))
        val tau = w.zip(sMth).map { case (a, b) => a * b }.sum / w.sum
        cands.map { id =>
          val s = sims(id)
          (id, round6(w.zip(s).map { case (a, b) => a * b }.reduce(_ + _) / w.sum))
        }.sortBy { case (id, sc) => (-sc, id) }.take(k).zipWithIndex.map {
          case ((id, sc), r) => (c.toLong, r + 1L, id, sc, sc >= tau, sims(id))
        }
      }
      val rows = got.collect().map(r => (r.getAs[Long]("combo"), r.getAs[Long]("rank"),
        r.getAs[Long]("id"), r.getAs[Double]("score"), r.getAs[Boolean]("exact"),
        names.map(r.getAs[Double](_))))
        .sortBy(r => (r._1, r._2)).toSeq
      assert(rows.map(r => (r._1, r._2, r._3, r._4, r._5)) ==
        expected.map(e => (e._1, e._2, e._3, e._4, e._5)))
      rows.zip(expected).foreach { case (g, e) =>
        g._6.zip(e._6).foreach { case (a, b) => assert(math.abs(a - b) <= 1e-12, (g, e)) }
      }
      (rows, cands)
    }

    // every list shorter than its facet: all three facets scanned again
    val (rows, cands) = check(Seq(d0, d1, d2), 5, 8)
    // the fixture exercises both flag values and a candidate f2 lacks
    assert(rows.exists(_._5) && rows.exists(!_._5), rows)
    assert(cands.exists(_ % 3 == 0))
    // m >= every facet's rows: every facet is scored from its list
    check(Seq(d0, d1, d2), 5, n)
    // one list (f2's 7 rows) exhausts its facet beside two longer facets
    val short2 = d2.filter(_._1 < 11)
    assert(short2.size == 7)
    check(Seq(d0, d1, short2), 5, 8)
    // a single facet: its list holds every candidate, whatever m is
    check(Seq(d0), 5, 5)
    check(Seq(d1), 3, 10)
    // three distance columns of one source, the third a Jaccard distance,
    // under two weight combinations; topK ranks as topKDetailed does
    val src = new scala.util.Random(11)
    val cols = (0 until 80).map(i => (i.toLong, math.abs(src.nextDouble() * 100 - 50.0),
      math.abs(src.nextDouble() * 10 - 5.0), if (i % 3 == 0) 0.25 else if (i % 3 == 1) 1.0 else 0.6))
    val shared = Seq(cols.map(r => r._1 -> r._2), cols.map(r => r._1 -> r._3),
      cols.map(r => r._1 -> r._4))
    val sharedWs = Seq(Seq(0.5, 0.2), Seq(0.3, 0.2), Seq(0.2, 0.6))
    val sharedJac = Seq(false, false, true)
    val (sharedRows, _) = check(shared, 7, 25, sharedWs, sharedJac)
    assert(sharedRows.exists(_._5) && sharedRows.exists(!_._5), sharedRows)
    val plain = RankAggregate.topK(spark, shared.indices.map(i => BoundFacet(s"f$i",
      shared(i).toDF("id", "d"), sharedWs(i), jaccard = sharedJac(i))), 7, 25)
      .orderBy("combo", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(1), r.getDouble(2))).toSeq
    assert(plain == sharedRows.map(r => (r._1, r._2, r._3, r._4)))
  }

  test("RankAggregate: missing facet value contributes similarity 0") {
    val f0 = Seq((1L, 0.0), (2L, 1.0)).toDF("id", "d")
    val f1 = Seq((1L, 5.0)).toDF("id", "d") // id 2 missing here
    val facets = Seq(BoundFacet("a", f0, Seq(0.5)), BoundFacet("b", f1, Seq(0.5)))
    val rows = RankAggregate.topK(spark, facets, 2, 10)
      .select("id", "score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // id 1: (0.5*exp(0) + 0.5*exp(-0.05*5/5)) / 1 ; id 2: (0.5*exp(-0.05*1/1) + 0) / 1
    val exp1 = BigDecimal(0.5 * 1.0 + 0.5 * math.exp(-0.05))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp2 = BigDecimal(0.5 * math.exp(-0.05))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows(1L) == exp1 && rows(2L) == exp2)
  }

  test("RankAggregate: a pre-scored (NRA) facet mixes with a full facet; unseen ids score 0") {
    // full facet: distances for ids 1..6 (scale pinned to 1.0, decay d=0 -> sim 1)
    val dists = Seq((1L, 0.0), (2L, 1.0), (3L, 2.0), (4L, 3.0), (5L, 4.0), (6L, 5.0))
    val full = BoundFacet("local", dists.toDF("id", "d"), Seq(0.5), scale = Some(1.0))
    // NRA facet: a remote ranked list covering only ids 2, 7 (id 7 is
    // outside the full facet entirely)
    val nra = BoundFacet("remote", Seq((2L, 0.9), (7L, 0.8)).toDF("id", "d"),
      Seq(0.5), preScored = true)
    val got = RankAggregate.topK(spark, Seq(full, nra), 10, 10)
      .select("id", "score").as[(Long, Double)].collect().toMap
    def decay(d: Double) = math.exp(-SimKernels.DefaultDecay * d)
    def expect(d: Double, s: Double) = BigDecimal((0.5 * decay(d) + 0.5 * s) / 1.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(2L) == expect(1.0, 0.9))          // both facets contribute
    assert(got(1L) == expect(0.0, 0.0))          // unseen by the NRA list -> 0
    assert(got(7L) == BigDecimal(0.5 * 0.8).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) // unseen by the full facet -> 0
    // all candidates from both lists are ranked
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("RankAggregate: weight validation rejects out-of-range weights") {
    val f0 = Seq((1L, 0.0)).toDF("id", "d")
    val facets = Seq(BoundFacet("a", f0, Seq(1.5)), BoundFacet("b", f0, Seq(0.5)))
    intercept[IllegalArgumentException] {
      RankAggregate.topK(spark, facets, 1, 10)
    }
  }

  test("Dedup.exactGroups: finds crafted duplicate groups") {
    val docs = Seq(
      (1L, "Hello, world!"), (2L, "hello WORLD"), (3L, "unique text"),
      (4L, "Another doc"), (5L, "another DOC!!")).toDF("doc_id", "text")
    val got = Dedup.exactGroups(docs, "doc_id", col("text"))
      .select("keeper", "cnt").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 4L -> 2L))
  }

  test("Dedup.lineDedup: boilerplate lines survive only at their first " +
    "(id, pos) occurrence; a fully-subsumed doc disappears") {
    val docs = Seq(
      (1L, "HEADER\nalpha prose\nFOOTER"),
      (2L, "HEADER\nbeta prose\nbeta prose\nFOOTER"), // within-doc repeat too
      (3L, "HEADER\nFOOTER"), // nothing unique -> vanishes
      (4L, "gamma prose\nHEADER")).toDF("doc_id", "text")
    val got = Dedup.lineDedup(docs, "doc_id", col("text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got == Map(
      1L -> ((3L, "HEADER\nalpha prose\nFOOTER")),
      2L -> ((1L, "beta prose")), // one copy of the repeat, boilerplate gone
      4L -> ((1L, "gamma prose"))))
    // maxDf = 3: HEADER (df 4) is dropped EVERYWHERE, FOOTER (df 3) still
    // keeps its first occurrence
    val capped = Dedup.lineDedup(docs, "doc_id", col("text"), maxDf = 3L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(capped == Map(
      1L -> ((2L, "alpha prose\nFOOTER")),
      2L -> ((1L, "beta prose")),
      4L -> ((1L, "gamma prose"))))
  }

  test("Packing.budgetSelect: best quality first, PREFIX semantics at the " +
    "budget boundary, quality ties broken by id") {
    import graft.operators.Packing
    val rows = Seq((2L, 10L, 0.9), (1L, 10L, 0.9), (3L, 10L, 0.5), (4L, 5L, 0.1))
      .toDF("id", "n_tok", "q")
    val got = Packing.budgetSelect(rows, col("id"), col("n_tok"), col("q"), 25L)
      .select("id", "cum_tok").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // order (q desc, id): 1 (cum 10), 2 (20), 3 (30 > 25 stops the
    // prefix), 4 (35) excluded too — budget selection is a prefix, not a
    // knapsack backfill with small late documents
    assert(got == Set((1L, 10L), (2L, 20L)), got.toString)
  }

  test("Dedup.minhashPairs: finds a crafted near-duplicate, skips unrelated docs") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 30).map(i => if (i == 30) "zz" else s"w$i").mkString(" ")
    val other = (100 to 130).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val sh = TextKernels.wordShingles2(TextKernels.wordTokens(col("text")))
    val pairs = Dedup.minhashPairs(docs, "doc_id", sh, 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("AnnSearch.signature8: Column and Scala mirrors agree") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 20).map(i => i.toLong -> Seq.fill(16)(rnd.nextDouble() * 2 - 1))
    val df = vecs.toDF("id", "v")
    val got = df.select(col("id"), AnnSearch.signature8(col("v")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.foreach { case (id, v) =>
      assert(got(id) == AnnSearch.signature8(v), s"id $id")
    }
  }

  test("AnnSearch.bruteCosineTopK: self-similarity ranks first") {
    val rnd = new scala.util.Random(13)
    val vecs = (0 until 25).map(i => i.toLong -> Seq.fill(8)(rnd.nextDouble() * 2 - 1))
    val df = vecs.toDF("id", "v")
    val q = vecs(7)._2
    val top = AnnSearch.bruteCosineTopK(df, "id", col("v"), q, 3).collect()
    assert(top.head.getLong(0) == 7L && top.head.getDouble(1) == 1.0)
  }
}
