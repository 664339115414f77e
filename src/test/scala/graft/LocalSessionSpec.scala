package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.util.LocalSession

class LocalSessionSpec extends AnyFunSuite {

  private def settings(env: Map[String, String], props: Map[String, String] = Map.empty,
      processors: Int = 6): Map[String, String] =
    LocalSession.settings(env, props, processors).toMap

  test("SPARK_GRAFT_CPUS sizes the local master and the shuffle partitions") {
    val s = settings(Map("SPARK_GRAFT_CPUS" -> "3"))
    assert(s("spark.master") == "local[3]")
    assert(s("spark.sql.shuffle.partitions") == "3")
    assert(s("spark.sql.session.timeZone") == "UTC")
    assert(s("spark.ui.enabled") == "false")
  }

  test("unset SPARK_GRAFT_CPUS falls back to the available processors") {
    val s = settings(Map.empty, processors = 5)
    assert(s("spark.master") == "local[5]")
    assert(s("spark.sql.shuffle.partitions") == "5")
  }

  test("SPARK_MASTER replaces the local master") {
    val s = settings(Map("SPARK_MASTER" -> "spark://head:7077", "SPARK_GRAFT_CPUS" -> "8"))
    assert(s("spark.master") == "spark://head:7077")
    assert(s("spark.sql.shuffle.partitions") == "8")
  }

  test("an already-configured spark.master is left alone") {
    val s = settings(Map("SPARK_MASTER" -> "local[2]"), props = Map("spark.master" -> "yarn"))
    assert(!s.contains("spark.master"))
    assert(s("spark.sql.shuffle.partitions") == "6")
  }

  test("the factory is the only session builder under src/main") {
    val sources = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def uses(p: Path): Int = "SparkSession\\.builder\\(\\)".r
      .findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8")).size
    val hits = sources.map(p => p -> uses(p)).filter(_._2 > 0)
    assert(hits.map(_._2).sum == 1 &&
      hits.head._1.endsWith(Paths.get("graft/util/LocalSession.scala")), hits.toString)
  }
}
