package graft

import graft.engine.{RequestParser, SimSearchEngine}
import graft.engine.SimSearchEngine.Catalog
import graft.sources.CsvMount

/** The committed GDELT-shaped fixture (fixtures/gdelt_synth) is what
  * [[GenGdeltFixture]] renders, and the engine's answer to its golden
  * request equals the generator's brute-force answer. */
class GdeltFixtureSpec extends SparkTestBase {

  test("fixtures/gdelt_synth equals a fresh GenGdeltFixture render byte for byte") {
    val stale = GenGdeltFixture.stale(GenGdeltFixture.render())
    assert(stale.isEmpty, s"regenerate with Test/runMain graft.GenGdeltFixture: $stale")
  }

  test("golden search over gdelt_synth: ids, ranks and scores equal the brute-force oracle") {
    val dir = GenGdeltFixture.path
    val (_, mountSpecs) = RequestParser.parseMount(s"$dir/standalone/sources.json")
    val catalog = new Catalog(mountSpecs.map { case (_, spec) => CsvMount.mount(spark, dir, spec) })
    try {
      val (k, _, specs, _) = RequestParser.parseSearch(s"$dir/standalone/search.json")
      val got = SimSearchEngine.search(spark, catalog, k, specs).collect()
        .map(r => (r.getLong(r.fieldIndex("combo")).toInt, r.getLong(r.fieldIndex("rank")),
          r.getString(r.fieldIndex("id")), r.getDouble(r.fieldIndex("score"))))
        .groupBy(_._1)
      val expected = GenGdeltFixture.expected(GenGdeltFixture.articles())
      assert(got.keySet == expected.indices.toSet)
      expected.zipWithIndex.foreach { case (ranked, c) =>
        val mine = got(c).sortBy(_._2).toSeq
        assert(mine.map(_._2) == (1 to ranked.size).map(_.toLong), s"combo $c ranks")
        assert(mine.map(r => (r._3, r._4)) == ranked, s"combo $c")
      }
    } finally catalog.close()
  }
}
