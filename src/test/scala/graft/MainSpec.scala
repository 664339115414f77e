package graft

import java.io.{BufferedReader, ByteArrayOutputStream, PrintStream, StringReader}
import java.nio.charset.StandardCharsets

/** Drives the standalone terminal (reference: Runner.java menu) through a
  * scripted session: mount the GDELT-shaped fixture (fixtures/gdelt_synth),
  * list the catalog, run the golden search, use the SQL terminal, delete an
  * attribute, exit. */
class MainSpec extends SparkTestBase {

  test("scripted standalone session: mount -> catalog -> search -> SQL -> delete") {
    val gdelt = GenGdeltFixture.path
    // rewrite the committed sources.json to this host's absolute path
    val sources = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$gdelt/standalone/sources.json")), StandardCharsets.UTF_8)
      .replace("./data/gdelt/", gdelt)
    val tmp = java.nio.file.Files.createTempFile("graft-sources", ".json")
    java.nio.file.Files.write(tmp, sources.getBytes(StandardCharsets.UTF_8))
    val script = Seq(
      "1", tmp.toString,                    // mount
      "3",                                  // catalog
      "4", s"$gdelt/standalone/search.json",// golden search
      "5",                                  // SQL terminal
      "\\d",
      "SELECT * WHERE persons ~= 'joe biden, donald trump' LIMIT 3",
      "SET query_timeout 20000;",           // reference console parity
      "SET nonsense 1;",
      "not-sql",
      "\\q",
      "2", "persons",                       // delete
      "2", "persons",                       // delete again -> not mounted
      "0"                                   // exit
    ).mkString("\n")
    val outBuf = new ByteArrayOutputStream()
    try {
      Main.repl(spark, new BufferedReader(new StringReader(script)),
        new PrintStream(outBuf, true, "UTF-8"))
    } finally java.nio.file.Files.delete(tmp)
    val out = outBuf.toString("UTF-8")
    assert(out.contains("Mounted 5 attribute(s)"), out.take(500))
    assert(out.contains("position: Spatial") || out.contains("position: spatial"),
      out.take(800))
    // golden search: combination 0's rank-1 id, as the brute-force oracle
    // in GenGdeltFixture ranked it (standalone/search_expected.json)
    assert(out.contains(GenGdeltFixture.expectedTop(0)))
    assert(out.contains("\"exact\""))
    // SQL terminal: listing, a ranked result table, and the non-SQL rejection
    assert(out.contains("SQL > "))
    assert(out.contains("| score"), out)
    assert(out.contains("SQL terminal accepts SELECT statements only."))
    // SET query_timeout: the reference's acknowledgement (Runner.java:166),
    // recorded into the catalog's per-instance settings, results stay exact
    assert(out.contains("Query timeout set to 20000 ms."))
    assert(out.contains("Unknown setting"))
    assert(out.contains("SQL terminal closed."))
    assert(out.contains("Removed persons."))
    assert(out.contains("Attribute persons is not mounted."))
  }
}
