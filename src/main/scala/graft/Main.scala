package graft

import java.io.{BufferedReader, PrintStream}

import org.apache.spark.sql.SparkSession

import graft.engine.{OutputWriter, RequestParser, SimSearchEngine, SimSql}
import graft.engine.SimSearchEngine.Catalog

/** Standalone interactive terminal — the rebuild of the reference's
  * console entry point (reference: Runner.java:116-173, README.md
  * "Standalone execution"): a numbered menu for mount / delete / catalog /
  * search plus a SQL terminal accepting the `~=` SELECT dialect with `\d`
  * (list attributes) and `\q` (quit). The REPL reads from an injected
  * reader and writes to an injected stream so the whole surface is
  * drivable by tests.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val spark = graft.util.LocalSession("graft-simsearch")
    spark.sparkContext.setLogLevel("WARN")
    try repl(spark, new BufferedReader(new java.io.InputStreamReader(System.in)), System.out)
    finally spark.stop() // even when stdin dies mid-session
  }

  private val Menu =
    "**********Choose a number corresponding to a functionality:**********\n" +
      "1: MOUNT SOURCES; 2: DELETE SOURCES; 3: CATALOG; 4: SEARCH; " +
      "5: SQL TERMINAL; 0: EXIT. Your choice: "

  /** Drive one interactive session over `in`/`out`; returns on EOF or 0. */
  def repl(spark: SparkSession, in: BufferedReader, out: PrintStream): Unit = {
    val catalog = new Catalog(Seq.empty)
    var running = true
    def prompt(msg: String): Option[String] = {
      out.print(msg)
      Option(in.readLine()).map(_.trim).filter(_.nonEmpty)
    }
    while (running) {
      out.print(Menu)
      Option(in.readLine()).map(_.trim) match {
        case None | Some("0") => running = false
        case Some("1") =>
          prompt("Path to the mount request (sources.json): ").foreach { path =>
            try {
              val n = RequestParser.mountInto(spark, path, catalog)
              out.println(s"Mounted $n attribute(s); " +
                s"catalog now holds ${catalog.size}.")
            } catch {
              case e: Exception => out.println(s"Mount failed: ${e.getMessage}")
            }
          }
        case Some("2") =>
          prompt("Attribute to remove: ").foreach { name =>
            if (catalog.remove(name)) out.println(s"Removed $name.")
            else out.println(s"Attribute $name is not mounted.")
          }
        case Some("3") =>
          if (catalog.size == 0) out.println("Catalog is empty.")
          else catalog.list.foreach { case (n, op) => out.println(s"$n: $op") }
        case Some("4") =>
          prompt("Path to the search request (search.json): ").foreach { path =>
            // one request scope: the engine's per-request caches are
            // released once the answer is printed and written
            try graft.util.CacheScope.withScope {
              val req = RequestParser.parseSearchRequest(path)
              val res = SimSearchEngine.search(spark, catalog, req.k, req.specs,
                detailed = true)
              // the prefixURL id formatting applies AFTER the extras join —
              // prefixed ids would no longer match the facet frames; ONE
              // collected result serves the JSON response, the A6 table, and
              // the file sink
              val extras = req.output.extraColumns
              val result = OutputWriter.Collected(SimSearchEngine.applyIdPrefix(catalog,
                if (extras.isEmpty) res else SimSql.projectExtras(catalog, res, extras)))
              out.println(OutputWriter.toJsonResponse(result, extras))
              if (extras.nonEmpty) out.println(OutputWriter.toTabular(result, 1000))
              // S11: the request's output block routes results to a file
              // sink (reference: request/SearchOutput.java file/format)
              req.output.file.foreach { f =>
                OutputWriter.writeResults(result, req.output, f, extras)
                out.println(s"Results written to $f (${req.output.format}).")
              }
            } catch {
              case e: Exception => out.println(s"Search failed: ${e.getMessage}")
            }
          }
        case Some("5") =>
          out.println("Entering SQL terminal for SELECT queries. " +
            "Type \\d to list queryable attributes. Type \\q to exit.")
          var sqlMode = true
          while (sqlMode) {
            out.print("SQL > ")
            Option(in.readLine()).map(_.trim) match {
              case None => sqlMode = false
              case Some(q) if q.startsWith("\\q") => sqlMode = false
              case Some(q) if q.startsWith("\\d") =>
                catalog.list.foreach { case (n, op) => out.println(s"$n: $op") }
              case Some("") => ()
              case Some(q) if q.toUpperCase.startsWith("SELECT") =>
                // k <= 50 per combo; 1000 covers every legal combo count
                try graft.util.CacheScope.withScope(
                  out.println(OutputWriter.toTabular(SimSql.run(spark, catalog, q), 1000)))
                catch { case e: Exception => out.println(s"Query failed: ${e.getMessage}") }
              case Some(q) if q.toLowerCase.startsWith("set") =>
                // reference console parity (Runner.java:160-167):
                // `SET query_timeout <ms>;` is recorded and acknowledged.
                // Results remain exact — there is no ranking loop to cut
                // short (see api.InstanceSettings; scoped to THIS catalog).
                // Deployment knobs (session conf, /_settings "knobs" block)
                // are settable by their conf key: `SET spark.graft.* <v>;`.
                val tokens = q.stripSuffix(";").trim.split("\\s+")
                val knobKeys = graft.api.Knobs.AllWithDefaults.map(_._1).toSet
                if (tokens.length == 3 && tokens(1).toLowerCase == "query_timeout" &&
                    scala.util.Try(tokens(2).toLong).isSuccess) {
                  catalog.settings.queryTimeoutMs = tokens(2).toLong
                  out.println(s"Query timeout set to ${tokens(2).toLong} ms.")
                } else if (tokens.length == 3 && knobKeys.contains(tokens(1)) &&
                    scala.util.Try(tokens(2).toInt).isSuccess) {
                  spark.conf.set(tokens(1), tokens(2))
                  out.println(s"${tokens(1)} set to ${tokens(2)}.")
                } else out.println("Unknown setting. Supported: SET query_timeout " +
                  s"<ms>; ${knobKeys.toSeq.sorted.map(k => s"SET $k <n>;").mkString(" ")}")
              case Some(_) =>
                out.println("SQL terminal accepts SELECT statements only.")
            }
          }
          out.println("SQL terminal closed.")
        case Some(other) =>
          out.println(s"Unknown choice: $other")
      }
    }
    catalog.close() // the session ends: release the resident attributes
  }
}
