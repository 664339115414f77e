package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.engine.SimSearchEngine
import graft.engine.SimSearchEngine.{Catalog, SearchSpec}
import graft.sources.CsvMount
import graft.sources.CsvMount.MountSpec

/** Golden replay of the reference's committed standalone fixture:
  * mounts data/gdelt/sample.csv per sources.json, runs search.json, and
  * compares ids + ranks exactly and aggregate scores to 1e-9 against
  * search_results.json (FIXTURES.md §2 comparison policy). The replay needs
  * the reference's own files; the mount checks read the GDELT-shaped
  * fixtures/gdelt_synth ([[GenGdeltFixture]]).
  */
class GdeltGoldenSpec extends SparkTestBase {

  private val gdelt = "/root/reference/data/gdelt"

  test("GDELT golden: the committed fixture files replay end-to-end (ids, ranks, aggregate AND per-attribute scores)") {
    // parse the reference's own request JSONs — no hand-translated specs
    val (dirs, mountSpecs) =
      graft.engine.RequestParser.parseMount(s"$gdelt/standalone/sources.json")
    val dataDir = "/root/reference/" + dirs("localPath1").stripPrefix("./")
    val catalog = new Catalog(mountSpecs.map { case (_, spec) => CsvMount.mount(spark, dataDir, spec) })
    assert(catalog.size == 5)

    val (k, algorithm, specs, _) =
      graft.engine.RequestParser.parseSearch(s"$gdelt/standalone/search.json")
    assert(k == 5 && algorithm == "threshold" && specs.size == 3)

    val rows = SimSearchEngine.search(spark, catalog, k, specs, detailed = true).collect()
    val res = rows.map { r =>
      (r.getLong(r.fieldIndex("combo")), r.getLong(r.fieldIndex("rank")),
        r.getString(r.fieldIndex("id")), r.getDouble(r.fieldIndex("score")),
        specs.map(s => s.column -> r.getDouble(r.fieldIndex(s"s_${s.column}"))).toMap)
    }.groupBy(_._1)

    val golden = new ObjectMapper()
      .readTree(new java.io.File(s"$gdelt/standalone/search_results.json"))
    assert(golden.size() == 2)
    (0 until 2).foreach { combo =>
      val exp = golden.get(combo).get("rankedResults")
      val got = res(combo.toLong).sortBy(_._2)
      assert(got.size == exp.size(), s"combo $combo size")
      (0 until exp.size()).foreach { i =>
        val e = exp.get(i)
        val (_, rank, id, score, attrScores) = got(i)
        assert(id == e.get("id").asText(), s"combo $combo rank ${i + 1} id")
        assert(rank == e.get("rank").asLong(), s"combo $combo rank ${i + 1}")
        // our engine rounds the aggregate score to 6 decimals by design
        assert(math.abs(score - e.get("score").asDouble()) < 5e-7,
          s"combo $combo rank ${i + 1} score $score vs ${e.get("score").asDouble()}")
        // per-attribute scores are unrounded -> 1e-9 (FIXTURES.md policy)
        e.get("attributes").elements().asScala.foreach { a =>
          val name = a.get("name").asText()
          assert(math.abs(attrScores(name) - a.get("score").asDouble()) < 1e-9,
            s"combo $combo rank ${i + 1} attribute $name")
        }
      }
    }
  }

  test("mount: numerical ingest stats present; datetime chain parses compact format") {
    val f = CsvMount.mount(spark, GenGdeltFixture.path,
      MountSpec("numerical_topk", "sample.csv", "article_id", Seq("positive_sentiment")))
    val st = f.spec.stats.get
    assert(st.count > 900 && st.min >= 0.0 && st.max > st.min && st.stddev > 0)

    val t = CsvMount.mount(spark, GenGdeltFixture.path,
      MountSpec("temporal_topk", "sample.csv", "article_id", Seq("timestamp")))
    val ms = t.df.where(org.apache.spark.sql.functions.col("id") === "20190201151500-2748")
      .head.getDouble(1)
    // 2019-02-01 15:15:00 UTC epoch ms
    assert(ms == 1549034100000.0)
  }

  test("mount: WKT point parsing and driver-side twins") {
    assert(CsvMount.parseWktPoint("POINT(-74.94 42.15)") == Some((-74.94, 42.15)))
    assert(CsvMount.parseWktPoint("POINT ( -74.94   42.15 )") == Some((-74.94, 42.15)))
    assert(CsvMount.parseWktPoint("LINESTRING(0 0, 1 1)") == None)
    assert(CsvMount.parseDatetimeMs("20190201151500") == Some(1.5490341e12))
    assert(CsvMount.parseDatetimeMs("2019-02-01T15:15:00") == Some(1.5490341e12))
    assert(CsvMount.parseDatetimeMs("not a date") == None)
  }
}
