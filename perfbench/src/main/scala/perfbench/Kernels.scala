package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NativeKernels

/** Kernel layer: ns per row of the native kernels, each timed as a single
  * projection over a cached generated input, minus a scan-only projection
  * of the same input column (best of three each). */
object Kernels {

  private val Words = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def best(f: => Unit): Double =
    (1 to 3).map { _ => val t0 = System.nanoTime(); f; System.nanoTime() - t0 }.min.toDouble

  def run(spark: SparkSession, cfg: Main.Config): Seq[(String, Double)] = {
    val n = if (cfg.smoke) 5000L else 50000L
    val words = array(Words.map(lit): _*)
    val rnd = new scala.util.Random(7)
    val centroids = Seq.fill(16)(Seq.fill(64)(rnd.nextGaussian()))
    val books = Seq.fill(8)(Seq.fill(16)(Seq.fill(8)(rnd.nextGaussian())))
    val input = spark.range(0, n, 1, cfg.nproc)
      .select(
        concat_ws(" ", transform(sequence(lit(1), lit(20) + col("id") % 40),
          i => element_at(words, (pmod(hash(col("id"), i), lit(Words.size)) + 1).cast("int"))))
          .as("text"),
        transform(sequence(lit(0), lit(63)), i => sin(col("id") * 0.37 + i)).as("vec"))
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("shingles", NativeKernels.wordShingles2(col("text")))
      .cache()
    input.count()
    val kernels: Seq[(String, String, Column)] = Seq(
      ("simhash64", "tokens", NativeKernels.simhash64(col("tokens"))),
      ("bandKeys", "shingles", NativeKernels.bandKeys(col("shingles"), 16, 4, 4)),
      ("wordShingles2", "text", NativeKernels.wordShingles2(col("text"))),
      ("winnowFingerprints", "text", NativeKernels.winnowFingerprints(col("text"), 5, 4)),
      ("charBigramCounts", "text", NativeKernels.charBigramCounts(col("text"))),
      ("nearestCentroid", "vec", NativeKernels.nearestCentroid(col("vec"), centroids)),
      ("pqEncode", "vec", NativeKernels.pqEncode(col("vec"), books)),
      ("compressRatio", "text", NativeKernels.compressRatio(col("text"))))
    val out = kernels.map { case (name, in, k) =>
      val base = best(noop(input.select(col(in))))
      val withKernel = best(noop(input.select(k.as("k"))))
      s"functions.$name.ns_per_row" -> (withKernel - base) / n
    }
    input.unpersist()
    out
  }
}
