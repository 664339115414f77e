package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

/** Generator for `fixtures/gdelt_synth/`: a seeded, GDELT-shaped synthetic
  * corpus laid out like the reference's `data/gdelt` sample (FIXTURES.md
  * §1-2), so the specs that only need GDELT-shaped INPUT run on committed
  * data:
  *
  *  - `sample.csv` — 1000 articles with the §1 header: `;` token sets,
  *    quoted comma-bearing `locations`, `yyyyMMddHHmmss` timestamps,
  *    continuous sentiments in [0, 10), lon/lat with a cluster near the
  *    golden query point (-74.94, 42.15). The first row is the article
  *    `20190201151500-2748` whose organizations are exactly `cnn`;
  *  - `glove_dictionary.csv` — `term;glove_vector`, 50 doubles per term;
  *  - `standalone/sources.json` — the five attributes of §2 under a csv
  *    source whose directory is `./data/gdelt/` (specs rewrite it);
  *  - `standalone/search.json` — the golden k=5, two-combination request;
  *  - `standalone/sources_pivot.json` — the dictionary plus five
  *    pivot_based attributes (Euclidean position and GloVe-transformed
  *    organizations; Manhattan timestamp and sentiments);
  *  - `standalone/search_expected.json` — the answer to search.json,
  *    computed by [[expected]]: a brute-force loop over the rows that
  *    follows the documented scoring (per attribute the top-M by
  *    (distance, id) with M = 1000·k, scale = k × the k-th distance or 1.0
  *    when that is 0, exp decay 0.05 with a Jaccard distance of 1 scoring
  *    0, the weighted mean rounded half-up to 6 decimals, ranks by
  *    (score desc, id)). It never calls the engine.
  *
  * The generator refuses a corpus that would make a spec vacuous (see
  * [[refuseVacuous]]), checks that two renders are identical, and lists
  * the files whose bytes a run changed (none, on a rerun over the
  * committed output; GdeltFixtureSpec asserts that).
  *
  * Run once: `sbt "Test/runMain graft.GenGdeltFixture"`, commit the output. */
object GenGdeltFixture {

  val Dir: Path = Paths.get("fixtures", "gdelt_synth")

  /** Absolute path of the committed fixture, as the specs mount it. */
  def path: String = Dir.toAbsolutePath.toString

  /** Rank-1 id of weight combination `combo` in the committed
    * `standalone/search_expected.json`. */
  def expectedTop(combo: Int): String =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Dir.resolve("standalone/search_expected.json").toFile)
      .get(combo).get("rankedResults").get(0).get("id").asText()
  val Rows = 1000
  private val Seed = 20191104L
  val Dim = 50

  /** The sample's first article, described by GdeltGoldenSpec and
    * Word2VecSpec. */
  val FirstId = "20190201151500-2748"

  val Header = "article_id,positive_sentiment,negative_sentiment,organizations," +
    "persons,locations,timestamp,longitude,latitude"

  final case class Article(id: String, positive: String, negative: String,
      organizations: Seq[String], persons: Seq[String], locations: Seq[String],
      timestamp: String, longitude: String, latitude: String) {
    def csvLine: String = Seq(id, positive, negative, organizations.mkString(";"),
      persons.mkString(";"), "\"" + locations.mkString(";") + "\"", timestamp,
      longitude, latitude).mkString(",")
  }

  /** One condition of the golden request: weights per combination. */
  final case class Cond(column: String, value: Either[Seq[String], String],
      weights: Seq[Double])

  val K = 5
  val GoldenQuery: Seq[Cond] = Seq(
    Cond("persons", Left(Seq("joe biden", "donald trump")), Seq(1.0, 0.8)),
    Cond("timestamp", Right("2019-11-04 08:45:00"), Seq(1.0, 0.4)),
    Cond("position", Right("POINT(-74.94 42.15)"), Seq(1.0, 0.7)))

  // (token, draw weight); no token contains ',' or ';'
  private val Persons = Seq(
    "donald trump" -> 12, "joe biden" -> 6, "nancy pelosi" -> 4, "mike pence" -> 3,
    "elizabeth warren" -> 3, "bernie sanders" -> 3, "adam schiff" -> 2,
    "rudy giuliani" -> 2, "hunter biden" -> 2, "volodymyr zelensky" -> 2,
    "boris johnson" -> 2, "vladimir putin" -> 2, "mitch mcconnell" -> 2,
    "emmanuel macron" -> 1, "angela merkel" -> 1, "xi jinping" -> 1,
    "kim jong un" -> 1, "justin trudeau" -> 1, "andrew cuomo" -> 1,
    "bill de blasio" -> 1, "pete buttigieg" -> 1, "kamala harris" -> 1,
    "william barr" -> 1, "mike pompeo" -> 1, "jeff bezos" -> 1, "elon musk" -> 1,
    "greta thunberg" -> 1, "lebron james" -> 1, "tom brady" -> 1)

  private val Organizations = Seq(
    "cnn" -> 6, "white house" -> 5, "united nations" -> 4, "reuters" -> 4,
    "congress" -> 4, "senate" -> 3, "fbi" -> 3, "nato" -> 3, "nasdaq" -> 3,
    "pentagon" -> 2, "federal reserve" -> 2, "european union" -> 2,
    "supreme court" -> 2, "google" -> 2, "facebook" -> 2, "twitter" -> 2,
    "world bank" -> 1, "caesars palace" -> 1, "new york times" -> 1,
    "washington post" -> 1, "associated press" -> 1, "cia" -> 1, "apple" -> 1,
    "microsoft" -> 1, "amazon" -> 1, "boeing" -> 1, "tesla" -> 1, "walmart" -> 1,
    "bbc" -> 1, "nbc" -> 1, "huawei" -> 1, "netflix" -> 1, "uber" -> 1,
    "house" -> 1)

  /** Dictionary vocabulary: every one-word organization plus the words of
    * the compound ones and a few fillers — multi-word organizations stay
    * out-of-vocabulary as whole tokens, as in GloVe. */
  private val Vocabulary: Seq[String] = (Organizations.map(_._1).filterNot(_.contains(" ")) ++
    Organizations.map(_._1).filter(_.contains(" ")).flatMap(_.split(" ")) ++
    Seq("president", "government", "election", "market", "trade", "war",
      "police", "court", "news", "state")).distinct

  // (location, lon, lat, draw weight): the first four sit near the golden
  // query point (-74.94, 42.15)
  private val Places = Seq(
    ("Delaware County, New York, United States", -74.9668, 42.1979, 2),
    ("Margaretville, New York, United States", -74.6482, 42.1487, 1),
    ("Walton, New York, United States", -75.1291, 42.1695, 1),
    ("Oneonta, New York, United States", -75.0652, 42.4529, 1),
    ("Washington, District of Columbia, United States", -77.0364, 38.8951, 12),
    ("New York, New York, United States", -74.0060, 40.7128, 8),
    ("Albany, New York, United States", -73.7562, 42.6526, 3),
    ("Tijuana, Baja California, Mexico", -117.017, 32.5333, 2),
    ("Los Angeles, California, United States", -118.244, 34.0522, 4),
    ("Chicago, Illinois, United States", -87.6501, 41.85, 3),
    ("Toronto, Ontario, Canada", -79.4163, 43.7001, 2),
    ("London, London, City of, United Kingdom", -0.1167, 51.5, 5),
    ("Paris, Ile-de-France, France", 2.3333, 48.8667, 3),
    ("Berlin, Berlin, Germany", 13.4, 52.5167, 2),
    ("Kiev, Kyyiv, Misto, Ukraine", 30.5167, 50.4333, 4),
    ("Moscow, Moskva, Russia", 37.6156, 55.7522, 3),
    ("Beijing, Beijing, China", 116.388, 39.9289, 3),
    ("Tokyo, Tokyo, Japan", 139.751, 35.685, 1),
    ("Sydney, New South Wales, Australia", 151.2, -33.8833, 1))

  private val Compact = DateTimeFormatter.ofPattern("yyyyMMddHHmmss")

  private def epochMs(t: LocalDateTime): Double =
    t.toEpochSecond(ZoneOffset.UTC) * 1000.0

  private def fmt(pattern: String, x: Double): String =
    String.format(Locale.ROOT, pattern, Double.box(x))

  private def pick[T](rnd: scala.util.Random, xs: Seq[(T, Int)]): T = {
    val r = rnd.nextInt(xs.map(_._2).sum)
    xs(xs.scanLeft(0)(_ + _._2).tail.indexWhere(r < _))._1
  }

  private def pickSet(rnd: scala.util.Random, xs: Seq[(String, Int)]): Seq[String] = {
    val n = rnd.nextDouble() match { case u if u < 0.5 => 1 case u if u < 0.85 => 2 case _ => 3 }
    Iterator.continually(pick(rnd, xs)).distinct.take(n).toSeq
  }

  private def sentiment(rnd: scala.util.Random, mean: Double, sd: Double): String = {
    val x = mean + sd * rnd.nextGaussian()
    fmt("%.14f", math.min(9.9, if (x < 0) -0.3 * x else x))
  }

  def articles(): Seq[Article] = {
    val rnd = new scala.util.Random(Seed)
    // distinct id suffixes; 2748 is reserved for the first article
    val suffixes = rnd.shuffle((1 to 4000).filter(_ != 2748).toVector)
    val start = LocalDateTime.of(2019, 2, 1, 0, 0)
    val nov2 = LocalDateTime.of(2019, 11, 2, 0, 0)
    (0 until Rows).map { i =>
      // 45% of the articles fall within two days of the golden query's
      // 2019-11-04; the rest spread over Feb-Nov 2019, in 15-minute slots
      val ts =
        if (i == 0) LocalDateTime.of(2019, 2, 1, 15, 15)
        else if (rnd.nextDouble() < 0.45) nov2.plusMinutes(15L * rnd.nextInt(5 * 96))
        else start.plusMinutes(15L * rnd.nextInt(303 * 96))
      val (place, lon, lat) = {
        val p = pick(rnd, Places.map(p => p -> p._4))
        (p._1, p._2, p._3)
      }
      val country = place.split(", ").last
      val locations = if (rnd.nextBoolean()) Seq(place, country) else Seq(place)
      val stamp = ts.format(Compact)
      Article(
        id = s"$stamp-${if (i == 0) 2748 else suffixes(i)}",
        positive = sentiment(rnd, 2.3, 1.3),
        negative = sentiment(rnd, 2.9, 1.5),
        organizations = if (i == 0) Seq("cnn") else pickSet(rnd, Organizations),
        persons = pickSet(rnd, Persons),
        locations = locations,
        timestamp = stamp,
        longitude = fmt("%.4f", lon + (rnd.nextDouble() - 0.5) * 0.1),
        latitude = fmt("%.4f", lat + (rnd.nextDouble() - 0.5) * 0.1))
    }
  }

  /** term -> 50 seeded doubles, as `glove_dictionary.csv` renders them. */
  def dictionary(): Seq[(String, Seq[String])] = {
    val rnd = new scala.util.Random(Seed + 1)
    Vocabulary.map(t => t -> Seq.fill(Dim)(fmt("%.5f", 0.4 * rnd.nextGaussian())))
  }

  private def jaccardDist(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains).toDouble
    val uni = a.size + b.size - inter
    1.0 - (if (uni == 0.0) 0.0 else inter / uni)
  }

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Brute-force answer to [[GoldenQuery]] over `rows`: per combination,
    * the (id, score) list in rank order. */
  def expected(rows: Seq[Article]): Seq[Seq[(String, Double)]] = {
    import scala.math.Ordering.Double.TotalOrdering
    val ids = rows.map(_.id)
    val dists: Seq[IndexedSeq[Double]] = GoldenQuery.map { c =>
      (c.column, c.value) match {
        case ("persons", Left(q)) =>
          rows.map(r => jaccardDist(r.persons.toSet, q.toSet)).toIndexedSeq
        case ("timestamp", Right(q)) =>
          val qm = epochMs(LocalDateTime.parse(q,
            DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")))
          rows.map(r => math.abs(epochMs(LocalDateTime.parse(r.timestamp, Compact)) - qm))
            .toIndexedSeq
        case ("position", Right(q)) =>
          val Array(qx, qy) = q.stripPrefix("POINT(").stripSuffix(")").split(" ")
            .map(_.toDouble)
          rows.map { r =>
            val dx = r.longitude.toDouble - qx
            val dy = r.latitude.toDouble - qy
            math.sqrt(dx * dx + dy * dy)
          }.toIndexedSeq
        case other => throw new IllegalArgumentException(s"no oracle for $other")
      }
    }
    val m = if (GoldenQuery.size > 1) 1000 * K else K
    val byDist = dists.map(ds => rows.indices.sortBy(i => (ds(i), ids(i))))
    val scales = dists.zip(byDist).map { case (ds, order) =>
      val dk = order.take(K).map(ds).max
      if (dk <= 0.0) 1.0 else K * dk
    }
    val candidates = byDist.flatMap(_.take(m)).distinct
    val jaccard = GoldenQuery.map(_.column == "persons")
    val nCombos = GoldenQuery.map(_.weights.size).max
    (0 until nCombos).map { c =>
      val ws = GoldenQuery.map(_.weights(c))
      candidates.map { e =>
        val sims = GoldenQuery.indices.map { f =>
          val d = dists(f)(e)
          if (jaccard(f) && d == 1.0) 0.0 else math.exp(-0.05 * d / scales(f))
        }
        val num = ws.zip(sims).map { case (w, s) => w * s }.reduceLeft(_ + _)
        ids(e) -> round6(num / ws.sum)
      }.sortBy { case (id, s) => (-s, id) }.take(K)
    }
  }

  /** Fail unless every spec reading the corpus has something to check. */
  def refuseVacuous(rows: Seq[Article], dict: Seq[(String, Seq[String])],
      answer: Seq[Seq[(String, Double)]]): Unit = {
    def refuse(cond: Boolean, why: String): Unit =
      require(cond, s"gdelt_synth would make a spec vacuous: $why")
    refuse(rows.map(_.id).distinct.size == rows.size, "article ids are not unique")
    refuse(rows.head.id == FirstId && rows.head.timestamp == "20190201151500" &&
      rows.head.organizations == Seq("cnn"), s"the first row is not $FirstId with {cnn}")
    val golden = Set("joe biden", "donald trump")
    // Federated.facet asks a remote persons list for 20 positive scores
    refuse(rows.count(_.persons.exists(golden)) >= 20,
      "fewer than 20 rows share a person with {joe biden, donald trump}")
    // the P3 residual filter positive_sentiment > 2.75 must keep some rows
    // and drop others
    val pos = rows.map(_.positive.toDouble)
    refuse(pos.exists(_ > 2.75) && pos.exists(_ <= 2.75),
      "positive_sentiment > 2.75 does not split the rows")
    // /pipeline exact_groups over persons needs a repeated set
    refuse(rows.map(_.persons).distinct.size < rows.size, "no persons set repeats")
    refuse(Seq("cnn", "united", "nations", "house").forall(dict.map(_._1).contains),
      "the dictionary misses a term the specs query")
    // the specs compare the engine's rank-1 id with the oracle's: a tie at
    // 6 decimals would leave the rank-1 id to summation order
    answer.zipWithIndex.foreach { case (ranked, c) =>
      refuse(ranked.size == K && ranked(0)._2 - ranked(1)._2 > 5e-7,
        s"combination $c: rank 1 is not strictly ahead of rank 2: $ranked")
    }
  }

  private def q(s: String): String = "\"" + s + "\""

  /** One search entry over `sample.csv`. */
  private def csvEntry(op: String, column: String, extra: String = ""): String =
    s"""    {"operation": ${q(op)}, "source": "localPath1", "dataset": "sample.csv",""" +
      s"""\n     "header": "true", "separator": ",", "key_column": "article_id",""" +
      s"""\n     "search_column": $column$extra}"""

  private def sourcesJson(entries: Seq[String]): String =
    "{\n  \"sources\": [\n" +
      "    {\"name\": \"localPath1\", \"type\": \"csv\", \"directory\": \"./data/gdelt/\"}\n" +
      "  ],\n  \"search\": [\n" + entries.mkString(",\n") + "\n  ]\n}\n"

  private val Position = """["longitude", "latitude"]"""

  def sources: String = sourcesJson(Seq(
    csvEntry("spatial_knn", Position, """, "alias_column": "position""""),
    csvEntry("categorical_topk", q("persons"), """, "token_delimiter": ";""""),
    csvEntry("temporal_topk", q("timestamp")),
    csvEntry("numerical_topk", q("positive_sentiment")),
    csvEntry("numerical_topk", q("negative_sentiment"))))

  def sourcesPivot: String = {
    def pivot(column: String, metric: String, extra: String = "") =
      csvEntry("pivot_based", column, s""", "metric": ${q(metric)}$extra""")
    sourcesJson(Seq(
      """    {"operation": "vector_dictionary", "source": "localPath1",""" +
        """ "dataset": "glove_dictionary.csv",""" +
        "\n" + """     "header": "true", "separator": ";", "token_delimiter": ",",""" +
        """ "key_column": "term", "search_column": "glove_vector"}""",
      pivot(Position, "Euclidean", """, "alias_column": "position""""),
      pivot(q("organizations"), "Euclidean",
        """, "token_delimiter": ";", "transform_by": "glove_vector""""),
      pivot(q("timestamp"), "Manhattan"),
      pivot(q("positive_sentiment"), "Manhattan"),
      pivot(q("negative_sentiment"), "Manhattan")))
  }

  def search: String = {
    val conds = GoldenQuery.map { c =>
      val value = c.value.fold(_.map(q).mkString("[", ", ", "]"), q)
      s"""    {"column": ${q(c.column)}, "value": $value,""" +
        s""" "weights": ${c.weights.map(w => q(w.toString)).mkString("[", ", ", "]")}}"""
    }
    s"""{\n  "k": "$K",\n  "algorithm": "threshold",\n  "queries": [\n""" +
      conds.mkString(",\n") + "\n  ]\n}\n"
  }

  def searchExpected(answer: Seq[Seq[(String, Double)]]): String =
    answer.zipWithIndex.map { case (ranked, c) =>
      val rows = ranked.zipWithIndex.map { case ((id, s), i) =>
        s"""      {"rank": ${i + 1}, "id": ${q(id)}, "score": $s}"""
      }
      s"""  {"combo": $c, "weights": ${GoldenQuery.map(_.weights(c)).mkString("[", ", ", "]")},""" +
        "\n   \"rankedResults\": [\n" + rows.mkString(",\n") + "\n   ]}"
    }.mkString("[\n", ",\n", "\n]\n")

  /** Every fixture file: path relative to [[Dir]] -> content. */
  def render(): Seq[(String, String)] = {
    val rows = articles()
    val dict = dictionary()
    val answer = expected(rows)
    refuseVacuous(rows, dict, answer)
    Seq(
      "sample.csv" -> (Header +: rows.map(_.csvLine)).mkString("", "\n", "\n"),
      "glove_dictionary.csv" -> ("term;glove_vector" +: dict.map { case (t, v) =>
        s"$t;${v.mkString(",")}" }).mkString("", "\n", "\n"),
      "standalone/sources.json" -> sources,
      "standalone/search.json" -> search,
      "standalone/sources_pivot.json" -> sourcesPivot,
      "standalone/search_expected.json" -> searchExpected(answer))
  }

  /** Files of [[Dir]] whose committed bytes differ from `files`. */
  def stale(files: Seq[(String, String)]): Seq[String] = files.collect {
    case (rel, body) if !Files.isRegularFile(Dir.resolve(rel)) ||
      !java.util.Arrays.equals(Files.readAllBytes(Dir.resolve(rel)),
        body.getBytes(StandardCharsets.UTF_8)) => rel
  }

  def main(args: Array[String]): Unit = {
    val files = render()
    require(render() == files, "two renders differ: the generator is not deterministic")
    val changed = stale(files)
    files.foreach { case (rel, body) =>
      val p = Dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, body.getBytes(StandardCharsets.UTF_8))
    }
    println(s"wrote ${files.size} files under $Dir; changed: " +
      (if (changed.isEmpty) "none" else changed.mkString(", ")))
  }
}
