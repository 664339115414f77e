package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.functions.{NativeKernels, SimKernels}

/** The native codegen'd kernels must be BIT-IDENTICAL to the higher-order-
  * function reference implementations (same sequential accumulation order)
  * — this is what keeps the DuckDB oracles valid after the swap. */
class NativeKernelSpec extends SparkTestBase {
  import spark.implicits._

  private def randomPairs(n: Int, dim: Int) = {
    val rnd = new scala.util.Random(31)
    (0 until n).map { i =>
      (i.toLong, Seq.fill(dim)(rnd.nextDouble() * 2 - 1), Seq.fill(dim)(rnd.nextDouble() * 2 - 1))
    }.toDF("id", "a", "b")
  }

  test("cosine/l1/l2: native == higher-order-function versions, bit for bit") {
    val df = randomPairs(200, 64)
    val cmp = df.select(
      (NativeKernels.cosineSim(col("a"), col("b")) === SimKernels.cosineSim(col("a"), col("b"))).as("c"),
      (NativeKernels.l2Dist(col("a"), col("b")) === SimKernels.l2Dist(col("a"), col("b"))).as("l2"),
      (NativeKernels.l1Dist(col("a"), col("b")) === SimKernels.l1Dist(col("a"), col("b"))).as("l1"))
      .collect()
    assert(cmp.forall(r => r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2)))
  }

  test("native kernels: zero-norm guard and null propagation") {
    val df = Seq(
      (1L, Some(Seq(0.0, 0.0)), Some(Seq(1.0, 2.0))),
      (2L, Option.empty[Seq[Double]], Some(Seq(1.0, 2.0)))
    ).toDF("id", "a", "b")
    val rows = df.select(col("id"), NativeKernels.cosineSim(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(rows(1L) == 0.0)
    assert(rows(2L) == null) // null array -> null (nullIntolerant)
  }

  test("native kernels run inside whole-stage codegen") {
    // a local-relation plan collapses to LocalTableScan; use a real source
    val dir = java.nio.file.Files.createTempDirectory("graft-nk").toString
    randomPairs(10, 8).write.mode("overwrite").parquet(s"$dir/p")
    val df = spark.read.parquet(s"$dir/p")
    val plan = df.select(NativeKernels.cosineSim(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen stage
    assert(plan.contains("*(1) Project"), plan.take(300))
    assert(plan.contains("cosine_sim_native"))
  }

  test("band_keys_native is bit-identical to the composed TextKernels chain") {
    import graft.functions.TextKernels
    import graft.operators.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      // include the empty-shingle edge: a sub-2-token text yields no shingles
      .select(col("doc_id"), col("text"))
      .union(Seq((99990L, Some("one")), (99991L, Some("")),
        (99992L, Option.empty[String])).toDF("doc_id", "text"))
    val sh = TextKernels.wordShingles2(TextKernels.wordTokens(col("text")))
    val hv = TextKernels.shingleHashes(sh)
    val sigs = (0 until Dedup.NumHashes).map(i => TextKernels.minhashSig(hv, i))
    val composed = array((0 until Dedup.NumBands)
      .map(b => TextKernels.bandKey(sigs, b, Dedup.RowsPerBand)): _*)
    val native = graft.functions.NativeKernels.bandKeys(
      sh, Dedup.NumHashes, Dedup.NumBands, Dedup.RowsPerBand)
    // null-SAFE comparison: a native-NULL-vs-composed-value divergence must
    // COUNT as a mismatch, not be filtered by three-valued logic
    val mismatches = docs.select(col("doc_id"), composed.as("c"), native.as("n"))
      .where(not(col("c") <=> col("n"))).count()
    assert(mismatches == 0)
  }

  test("word_shingles2_native is bit-identical to the composed " +
    "tokenize+shingle chain, corpus and adversarial edges alike") {
    import graft.functions.TextKernels
    val rnd = new scala.util.Random(17)
    val alphabet = Seq("a", "bb", "ccc", "a", "Ж", "日本", "x\ty", "z\n", " ", "", "  ")
    val fuzz = (0 until 300).map { i =>
      (10000L + i, Some((0 until rnd.nextInt(12))
        .map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString(" ")))
    }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .union((Seq((99990L, Some("one")), (99991L, Some("")),
        (99992L, Option.empty[String]), (99993L, Some("  double  space ")),
        (99994L, Some("rep rep rep rep")), // duplicate shingles -> distinct
        (99995L, Some(" lead and trail "))) ++ fuzz).toDF("doc_id", "text"))
    val composed = TextKernels.wordShingles2(TextKernels.wordTokens(col("text")))
    val native = NativeKernels.wordShingles2(col("text"))
    val mismatches = docs.select(col("doc_id"), composed.as("c"), native.as("n"))
      .where(not(col("c") <=> col("n"))).count()
    assert(mismatches == 0)
  }

  test("word_tokens_native is bit-identical to the composed chain") {
    import graft.functions.TextKernels
    val rnd = new scala.util.Random(19)
    val alphabet = Seq("a", "bb", "ccc", "Ж", "日本", "x\ty", "z\n", " ", "", "  ")
    val fuzz = (0 until 300).map { i =>
      (20000L + i, Some((0 until rnd.nextInt(12))
        .map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString(" ")))
    }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .union((Seq((99990L, Some("")), (99991L, Option.empty[String]),
        (99992L, Some("  a  b  ")), (99993L, Some("dup dup dup"))) ++ fuzz)
        .toDF("doc_id", "text"))
    val mismatches = docs.select(col("doc_id"),
        TextKernels.wordTokens(col("text")).as("c"),
        NativeKernels.wordTokens(col("text")).as("n"))
      .where(not(col("c") <=> col("n"))).count()
    assert(mismatches == 0)
  }

  test("word_shingles2_native runs inside whole-stage codegen") {
    // non-literal source, so constant folding can't collapse the plan
    val df = spark.range(3).selectExpr("concat('a b c ', id) AS t")
      .select(NativeKernels.wordShingles2(col("t")).as("g"))
    // the `*(n)` prefix is the WholeStageCodegen marker in the short form
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
    assert(df.as[Seq[String]].head() == Seq("a b", "b c", "c 0"))
  }

  test("winnow_select_native (plain and positional) is bit-identical to " +
    "the composed TextKernels chain, including short/empty/null texts") {
    import graft.functions.TextKernels
    for ((k, w) <- Seq((16, 8), (8, 4), (4, 1))) {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text"))
        // edges: shorter than k (single clamped window), empty, null, and
        // a repetitive text full of tied minima (leftmost-tie semantics)
        .union(Seq((99990L, Some("abc")), (99991L, Some("")),
          (99992L, Option.empty[String]),
          (99993L, Some("ababababababababababababababab")),
          (99994L, Some("x" * 40))).toDF("doc_id", "text"))
        .select(col("doc_id"), TextKernels.winnowHashes(col("text"), k).as("hv"))
        // materialize hv: projection collapse would otherwise inline the
        // md5 chain into all four selection twins AND the filter — the
        // O(n^2) re-evaluation trap the two-phase production pattern
        // exists to avoid (this test took minutes without the barrier)
        .cache()
      val mm = docs.select(col("doc_id"),
          TextKernels.winnowSelect(col("hv"), w).as("c"),
          NativeKernels.winnowSelect(col("hv"), w).as("n"),
          TextKernels.winnowSelectPos(col("hv"), w).as("cp"),
          NativeKernels.winnowSelectPos(col("hv"), w).as("np"))
        .where(not(col("c") <=> col("n")) || not(col("cp") <=> col("np")))
        .count()
      docs.unpersist()
      assert(mm == 0, s"k=$k w=$w diverged")
    }
  }

  test("winnow_fingerprints_native (plain and positional) is bit-identical " +
    "to the composed winnowHashes -> select chain, incl. multi-byte UTF-8") {
    import graft.functions.TextKernels
    for ((k, w) <- Seq((16, 8), (8, 4), (4, 1))) {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text"))
        // edges: shorter than k, empty, null, tied minima, and multi-byte
        // chars (the fused kernel slices UTF-8 bytes at CHAR boundaries —
        // this pins substr's character semantics, not byte semantics)
        .union(Seq((99990L, Some("abc")), (99991L, Some("")),
          (99992L, Option.empty[String]),
          (99993L, Some("ababababababababababababababab")),
          (99994L, Some("x" * 40)),
          (99995L, Some("héllo wörld — çafé über ñoño 漢字かな한글 test")),
          (99996L, Some("€" * 30))).toDF("doc_id", "text"))
      val composed = docs
        .select(col("doc_id"), TextKernels.winnowHashes(col("text"), k).as("hv"))
        .cache() // materialization barrier, see the test above
      val c = composed.select(col("doc_id"),
        NativeKernels.winnowSelect(col("hv"), w).as("c"),
        NativeKernels.winnowSelectPos(col("hv"), w).as("cp"))
      val n = docs.select(col("doc_id"),
        NativeKernels.winnowFingerprints(col("text"), k, w).as("n"),
        NativeKernels.winnowFingerprintsPos(col("text"), k, w).as("np"))
      val mm = c.join(n, Seq("doc_id"))
        .where(not(col("c") <=> col("n")) || not(col("cp") <=> col("np")))
        .count()
      composed.unpersist()
      assert(mm == 0, s"k=$k w=$w diverged")
    }
  }

  test("winnow_fingerprints_native runs inside whole-stage codegen") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nkwf").toString
    Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/p")
    val df = spark.read.parquet(s"$dir/p")
      .select(NativeKernels.winnowFingerprints(col("text"), 8, 4))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan.take(300))
    assert(plan.contains("winnow_fingerprints_native"))
  }

  test("winnow_select_native runs inside whole-stage codegen") {
    // feed a MATERIALIZED hash array: the composed winnowHashes chain is
    // higher-order lambdas (no codegen), which is exactly why production
    // callers materialize it in its own projection first
    val dir = java.nio.file.Files.createTempDirectory("graft-nkw").toString
    Seq((1L, Seq(5L, 3L, 8L, 1L, 9L))).toDF("doc_id", "hv")
      .write.mode("overwrite").parquet(s"$dir/p")
    val df = spark.read.parquet(s"$dir/p")
      .select(NativeKernels.winnowSelect(col("hv"), 2))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan.take(300))
    assert(plan.contains("winnow_select_native"))
  }

  test("nearest_centroid_native is bit-identical to the composed literal argmin") {
    import graft.operators.AnnSearch
    val rnd = new scala.util.Random(47)
    val dim = 8
    // k = 24 is above the composed-dispatch cutoff, so this compares the two
    // implementations directly; include a DUPLICATE centroid to pin the
    // first-index-wins tie rule, and a zero vector for the degenerate case
    val base = (0 until 23).map(_ => Seq.fill(dim)(rnd.nextDouble() * 4 - 2))
    val cents = base :+ base(5)
    val df = ((0 until 300).map(i =>
        (i.toLong, Seq.fill(dim)(rnd.nextDouble() * 4 - 2))) :+
        (300L, base(5)) :+ (301L, Seq.fill(dim)(0.0)))
      .toDF("id", "v")
    val mismatches = df.select(
        AnnSearch.ivfClusterComposed(col("v"), cents).as("c"),
        graft.functions.NativeKernels.nearestCentroid(col("v"), cents).as("n"))
      .where(not(col("c") <=> col("n"))).count()
    assert(mismatches == 0)
    // a row sitting ON the duplicated centroid resolves to its FIRST index
    assert(df.where(col("id") === 300L)
      .select(graft.functions.NativeKernels.nearestCentroid(col("v"), cents))
      .head.getInt(0) == 5)
    // null vector propagates null
    val withNull = Seq((1L, Option.empty[Seq[Double]])).toDF("id", "v")
    assert(withNull.select(
      graft.functions.NativeKernels.nearestCentroid(col("v"), cents)).head.isNullAt(0))
  }

  test("nearest_centroid_native runs inside whole-stage codegen") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nc").toString
    randomPairs(10, 8).write.mode("overwrite").parquet(s"$dir/p")
    val df = spark.read.parquet(s"$dir/p")
    val cents = (0 until 32).map(c => Seq.fill(8)(c * 0.25 - 4.0))
    val plan = df.select(
        graft.functions.NativeKernels.nearestCentroid(col("a"), cents))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan.take(300))
    assert(plan.contains("nearest_centroid_native"))
  }

  test("random_project_native: matches a plain Scala matrix multiply, " +
    "portable signs are balanced, short/long/null inputs behave") {
    import graft.operators.Embeddings
    val signs = Embeddings.projectionSigns(16, 64)
    // the matrix is a pure function of (seed, j, i): regenerating it gives
    // the identical rows, a different seed does not
    assert(signs == Embeddings.projectionSigns(16, 64))
    assert(signs != Embeddings.projectionSigns(16, 64, seed = "other"))
    // md5 bits are unbiased: the ±1 mix should be roughly even
    val plus = signs.flatten.count(_ == 1)
    assert(plus > 400 && plus < 624, s"sign balance off: $plus/1024 are +1")
    val rnd = new scala.util.Random(7)
    val rows = (0 until 50).map(i => (i.toLong, Seq.fill(64)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("id", "v")
    val got = df.select(col("id"),
        NativeKernels.randomProject(col("v"), signs).as("y"))
      .as[(Long, Seq[Double])].collect().toMap
    // reference: same ascending-i accumulation in plain Scala
    val sqrtK = math.sqrt(16.0)
    rows.foreach { case (id, v) =>
      val want = (0 until 16).map { j =>
        var s = 0.0
        var i = 0
        while (i < 64) { s += signs(j)(i) * v(i); i += 1 }
        s / sqrtK
      }
      assert(got(id) == want, s"row $id")
    }
    // JL sanity: relative pairwise-distance distortion is bounded on avg
    val vecs = rows.map(_._2.toArray)
    def d(a: Array[Double], b: Array[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val proj = rows.map(r => got(r._1).toArray)
    val distortions = for (i <- 0 until 20; j <- (i + 1) until 20) yield
      math.abs(d(proj(i), proj(j)) / d(vecs(i), vecs(j)) - 1.0)
    assert(distortions.sum / distortions.size < 0.25,
      s"mean JL distortion ${distortions.sum / distortions.size}")
    // short vector: missing tail sums as zero; long vector: tail ignored
    val edge = Seq((1L, Seq(1.0, -2.0)), (2L, Seq.fill(70)(0.5)))
      .toDF("id", "v")
      .select(col("id"), NativeKernels.randomProject(col("v"), signs).as("y"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(edge(1L) == (0 until 16).map(j =>
      (signs(j)(0) * 1.0 + signs(j)(1) * -2.0) / sqrtK))
    assert(edge(2L) == (0 until 16).map(j =>
      (0 until 64).map(i => signs(j)(i) * 0.5).sum / sqrtK))
    // null vector -> null output (nullIntolerant)
    val n = Seq((1L, Option.empty[Seq[Double]])).toDF("id", "v")
      .select(NativeKernels.randomProject(col("v").cast("array<double>"), signs))
      .collect()
    assert(n(0).isNullAt(0))
  }

  test("random_project_native runs inside whole-stage codegen") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rp").toString
    randomPairs(10, 8).write.mode("overwrite").parquet(s"$dir/p")
    val df = spark.read.parquet(s"$dir/p")
    val signs = graft.operators.Embeddings.projectionSigns(4, 8)
    val plan = df.select(
        graft.functions.NativeKernels.randomProject(col("a"), signs))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan.take(300))
    assert(plan.contains("random_project_native"))
  }

  test("compress_ratio: repetitive text compresses below prose; deterministic; null-safe") {
    val df = Seq(
      (1L, Some("the " * 200)),                                  // highly repetitive
      (2L, Some((0 until 200).map(i => s"w${i * 7919 % 9973}").mkString(" "))), // varied
      (3L, Option.empty[String])).toDF("id", "s")
    val got = df.select(col("id"),
        graft.functions.NativeKernels.compressRatio(col("s")).as("r"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L).get < got(2L).get, s"repetitive must compress better: $got")
    assert(got(1L).get > 0.0 && got(2L).get < 1.2)
    assert(got(3L).isEmpty) // null propagates
    // determinism across evaluations
    val again = df.where(col("id") === 1L)
      .select(graft.functions.NativeKernels.compressRatio(col("s"))).head.getDouble(0)
    assert(again == got(1L).get)
  }

  test("simhash_bands_native is bit-identical to the composed TextKernels chain") {
    import graft.functions.TextKernels
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), TextKernels.wordTokens(col("text")).as("w"))
      // edges: empty token array, null array, a null token mid-array
      .union(Seq(
        (99990L, Some(Seq("one"))),
        (99991L, Some(Seq.empty[String])),
        (99992L, Option.empty[Seq[String]])).toDF("doc_id", "w"))
      .union(spark.sql("SELECT 99993L AS doc_id, array('a', CAST(NULL AS STRING), 'b') AS w"))
    val composed = TextKernels.simhash64Bands(TextKernels.simhash64Sums(col("w")))
      .cast("array<int>")
    val native = graft.functions.NativeKernels.simhashBands(col("w"))
    val mismatches = docs.select(col("doc_id"), composed.as("c"), native.as("n"))
      .where(not(col("c") <=> col("n"))).count()
    assert(mismatches == 0)
  }

  test("char_bigram_counts_native: entropy over the counts is bit-identical " +
    "to the composed quadratic form, including the substr edges") {
    // the composed chain this kernel replaces (filter-per-distinct-gram)
    def composedEnt(text: org.apache.spark.sql.Column) = {
      val grams = transform(
        sequence(lit(1), greatest(length(text) - 1, lit(1))),
        i => text.substr(i, lit(2)))
      val n = size(grams).cast("double")
      -aggregate(transform(array_distinct(grams),
          g => size(filter(grams, x => x === g)).cast("double")),
        lit(0.0), (acc, c) => acc + c / n * log2(c / n))
    }
    def nativeEnt(text: org.apache.spark.sql.Column) = {
      val n = greatest(length(text) - 1, lit(1)).cast("double")
      -aggregate(transform(
          graft.functions.NativeKernels.charBigramCounts(text),
          c => c.cast("double")),
        lit(0.0), (acc, c) => acc + c / n * log2(c / n))
    }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
      // edges: empty text (one empty gram), single char, multibyte chars
      // (code-point slicing, not bytes), null text
      .union(Seq(Some(""), Some("x"), Some("café été"),
        Option.empty[String]).toDF("text"))
    val mismatches = docs
      .select(composedEnt(col("text")).as("c"), nativeEnt(col("text")).as("n"))
      .where(not(col("c") <=> col("n"))).count()
    assert(mismatches == 0)
    // and the count arrays themselves: first-appearance order
    val counts = spark.range(1)
      .select(graft.functions.NativeKernels.charBigramCounts(lit("ababa")).as("c"))
      .head.getSeq[Int](0)
    assert(counts == Seq(2, 2)) // "ab" x2 then "ba" x2
  }

  test("cut_spans_native: two-pointer cut over sorted disjoint spans — " +
    "head/middle/tail cuts, abutting spans, clamping, empties, null") {
    def cut(toks: Seq[String], spans: Seq[(Long, Long)]): String =
      spark.range(1).select(graft.functions.NativeKernels.cutSpans(
          typedLit(toks),
          typedLit(spans).cast("array<struct<s:bigint,e:bigint>>")).as("t"))
        .head.getString(0)
    val t = Seq("a", "b", "c", "d", "e", "f")
    assert(cut(t, Seq((0L, 2L))) == "c d e f")           // head
    assert(cut(t, Seq((2L, 4L))) == "a b e f")           // middle
    assert(cut(t, Seq((4L, 6L))) == "a b c d")           // tail
    assert(cut(t, Seq((0L, 2L), (4L, 6L))) == "c d")     // two spans
    assert(cut(t, Seq((0L, 3L), (3L, 6L))) == "")        // abutting cover-all
    assert(cut(t, Seq((4L, 99L))) == "a b c d")          // end clamps
    assert(cut(t, Seq.empty) == "a b c d e f")           // no spans
    assert(cut(Seq.empty, Seq((0L, 2L))) == "")          // no tokens
    val nulled = spark.sql(
      "SELECT cast(null as array<string>) toks, " +
        "array(named_struct('s', 0L, 'e', 1L)) sp")
      .select(graft.functions.NativeKernels.cutSpans(col("toks"), col("sp")))
      .head
    assert(nulled.isNullAt(0))
  }

  test("window_fingerprints_native is byte-identical to the composed " +
    "unhex(md5(concat_ws(' ', slice(...)))) chain, including null tokens " +
    "and short documents") {
    import graft.functions.TextKernels
    val n = 8
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), TextKernels.wordTokens(col("text")).as("w"))
      .union(Seq(
        (99990L, Some(Seq("just", "seven", "tokens", "is", "too", "few", "x"))),
        (99991L, Some(Seq.empty[String])),
        (99992L, Option.empty[Seq[String]])).toDF("doc_id", "w"))
      // a null token mid-array: concat_ws skips it (separator included)
      .union(spark.sql("SELECT 99993L AS doc_id, " +
        "array('a','b','c', CAST(NULL AS STRING), 'd','e','f','g','h') AS w"))
    val composed = when(size(col("w")) < n, expr("cast(array() as array<binary>)"))
      .otherwise(transform(sequence(lit(0), size(col("w")) - lit(n)),
        i => unhex(md5(concat_ws(" ", slice(col("w"), i + 1, lit(n)))))))
    val native = graft.functions.NativeKernels.windowFingerprints(col("w"), n)
    // null input: composed yields null through the when/otherwise too
    val mismatches = docs.select(col("doc_id"), composed.as("c"), native.as("nv"))
      .where(not(col("c") <=> col("nv"))).count()
    assert(mismatches == 0)
  }

  test("nfc_normalize_native: decomposed sequences compose, ASCII and " +
    "already-normalized text pass through IDENTICALLY (fast paths), " +
    "null stays null, codegen runs") {
    def norm(s: String): String = spark.range(1)
      .select(graft.functions.NativeKernels.nfcNormalize(lit(s)).as("n"))
      .head.getString(0)
    // e + U+0301 -> U+00E9; A + U+030A -> U+00C5; o + U+0308 -> U+00F6
    assert(norm("caf" + "e\u0301") == "caf\u00e9")
    assert(norm("A\u030Angstro\u0308m") == "\u00c5ngstr\u00f6m")
    // fast paths: ASCII and already-composed non-ASCII pass through
    assert(norm("plain ascii text") == "plain ascii text")
    assert(norm("caf\u00e9 d\u00e9j\u00e0") == "caf\u00e9 d\u00e9j\u00e0")
    val nulled = spark.sql("SELECT cast(null as string) s")
      .select(graft.functions.NativeKernels.nfcNormalize(col("s")))
      .head
    assert(nulled.isNullAt(0))
    // wide batch through codegen: normalize(decomposed twin) == composed
    import spark.implicits._
    val frame = (0 until 500).map(i => s"caf\u00e9 $i \u00c5")
      .toDF("c")
      .withColumn("d", regexp_replace(
        regexp_replace(col("c"), "\u00e9", "e\u0301"), "\u00c5", "A\u030A"))
    val bad = frame.where(
      graft.functions.NativeKernels.nfcNormalize(col("d")) =!= col("c")).count()
    assert(bad == 0)
  }

  // ------------------------------------------------------- served /search

  /** Rows of `df` projected through `native` and `composed` as raw double
    * bits: twice, once over the local relation (the optimizer folds it,
    * evaluating both interpreted) and once over an RDD scan (whole-stage
    * codegen). */
  private def bitPairs(df: org.apache.spark.sql.DataFrame, native: org.apache.spark.sql.Column,
      composed: org.apache.spark.sql.Column): Seq[(Any, Long, Long)] = {
    val viaRdd = spark.createDataFrame(df.rdd, df.schema)
    for (frame <- Seq(df, viaRdd); r <- frame.select(col("id"), native, composed).collect().toSeq)
      yield (r.get(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))
  }

  test("query-set Jaccard (token arrays) is bit-identical to " +
    "jaccardDistDistinct against a literal array: duplicates and nulls in " +
    "rows, duplicate query tokens, null and empty rows") {
    val rnd = new scala.util.Random(17)
    val alphabet = Seq("a", "b", "c", "dd", "é", "😀", "")
    def tokens(n: Int) = Seq.fill(n)(
      if (rnd.nextInt(9) == 0) null else alphabet(rnd.nextInt(alphabet.size)))
    val rows = (0 until 300).map { i =>
      (i.toLong, if (i % 37 == 0) null else tokens(rnd.nextInt(6)))
    }
    val df = rows.toDF("id", "a")
    val queries = Seq(Seq("a"), Seq("a", "a", "b"), Seq("😀", "é", "zz"),
      alphabet, Seq("", "c", "c", "dd"), Seq.empty) ++ Seq.fill(5)(tokens(1 + rnd.nextInt(5)).filter(_ != null))
    for (q <- queries) {
      val got = bitPairs(df, NativeKernels.querySetJaccardDist(col("a"), q),
        SimKernels.jaccardDistDistinct(col("a"), array(q.map(lit): _*)))
      assert(got.forall(g => g._2 == g._3), (q, got.filter(g => g._2 != g._3).take(5)))
    }
    // a null row is the empty set: distance 1.0, never null
    val nullRow = df.where(col("a").isNull)
      .select(NativeKernels.querySetJaccardDist(col("a"), Seq("a"))).collect()
    assert(nullRow.nonEmpty && nullRow.forall(_.getDouble(0) == 1.0))
  }

  test("query-set Jaccard (q-grams of a string) is bit-identical to " +
    "jaccardDistDistinct(qgrams(...)) against a literal array: null, empty " +
    "and short strings, multi-byte and astral characters, repeated grams") {
    val rnd = new scala.util.Random(23)
    val chars = Seq("a", "b", "n", " ", "é", "中", "😀", "𝔸")
    def str(n: Int) = Seq.fill(n)(chars(rnd.nextInt(chars.size))).mkString
    val edge = Seq(null, "", "a", "ab", "😀", "😀𝔸", "aaaa", "banana", "中中中中", "é😀é😀é")
    val df = (edge ++ Seq.fill(300)(str(rnd.nextInt(12))))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "s")
    for (q <- Seq(1, 2, 3)) {
      // query grams the way the engine cuts them from a query string, and
      // hand-made sets with duplicates
      val fromQuery = Seq("banana", "a", "😀𝔸x", "中中", "é😀é") ++ Seq.fill(4)(str(1 + rnd.nextInt(8)))
      val sets = fromQuery.map(v => (if (v.length < q) Seq(v) else v.sliding(q).toSeq).distinct) ++
        Seq(Seq("an", "an", "na"), Seq("aaa", "aaa"), Seq("😀"))
      for (qs <- sets) {
        val got = bitPairs(df, NativeKernels.queryQgramJaccardDist(col("s"), qs, q),
          SimKernels.jaccardDistDistinct(SimKernels.qgrams(col("s"), q), array(qs.map(lit): _*)))
        assert(got.forall(g => g._2 == g._3), (q, qs, got.filter(g => g._2 != g._3).take(5)))
      }
    }
  }

  test("in_keys == InSet over the same keys: string, long, int, decimal and " +
    "binary ids, a null id, and a description that names only the count") {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.InSet
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(41)
    val cases: Seq[(DataType, Int => Any)] = Seq(
      StringType -> (i => s"k${i % 97}😀"),
      LongType -> (i => (i % 97).toLong * 1000003L),
      IntegerType -> (i => i % 97),
      DecimalType(12, 3) -> (i => new java.math.BigDecimal(i % 97).movePointLeft(3)),
      BinaryType -> (i => Array[Byte]((i % 97).toByte, 7)))
    for ((dt, value) <- cases) {
      val schema = StructType(Seq(StructField("id", dt)))
      val rows = (0 until 200).map(i => org.apache.spark.sql.Row(if (i == 5) null else value(i))) :+
        org.apache.spark.sql.Row(null)
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      val toKey = CatalystTypeConverters.createToCatalystConverter(dt)
      val keys = (0 until 97).filter(_ => rnd.nextBoolean()).map(i => toKey(value(i)))
      val inSet = GraftColumnBridge.column(InSet(GraftColumnBridge.expression(col("id")), keys.toSet))
      val inKeys = NativeKernels.inKeys(col("id"), keys, dt)
      for (frame <- Seq(df, spark.createDataFrame(rows.asJava, schema))) {
        val got = frame.select(inKeys, inSet).collect()
        assert(got.forall(r => r.get(0) == r.get(1)), (dt, got.filter(r => r.get(0) != r.get(1)).take(3)))
        assert(got.count(_.isNullAt(0)) == 2 && got.exists(r => !r.isNullAt(0) && r.getBoolean(0)))
      }
      val plan = df.where(inKeys).queryExecution.executedPlan.toString
      assert(plan.contains(s"IN (${keys.size} keys)"), plan)
    }
  }
}
