package graft

import org.apache.spark.sql.functions._

import graft.functions.SimKernels
import graft.operators.Word2Vec
import graft.sources.CsvMount

class Word2VecSpec extends SparkTestBase {
  import spark.implicits._

  private def vecOf(df: org.apache.spark.sql.DataFrame, id: Long): Seq[Double] =
    df.where(col("id") === id).head.getSeq[Double](1)

  private def messagesOf(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messagesOf(x.getCause))

  test("transform: mean of found vectors; missing tokens count in the divisor") {
    val dict = Seq(("alpha", Seq(1.0, 2.0)), ("beta", Seq(3.0, 4.0)))
      .toDF("term", "vector")
    val docs = Seq(
      (1L, Seq("alpha", "beta")),        // mean of both
      (2L, Seq("ALPHA")),                // case-insensitive lookup
      (3L, Seq("alpha", "missing")),     // missing counts in divisor
      (4L, Seq.empty[String]),           // empty -> NaN vector
      (5L, Seq("nothing", "here"))       // no matches -> zero vector
    ).toDF("id", "tokens")
    val out = Word2Vec.transform(docs, dict, 2)
    assert(vecOf(out, 1L) == Seq(2.0, 3.0))
    assert(vecOf(out, 2L) == Seq(1.0, 2.0))
    assert(vecOf(out, 3L) == Seq(0.5, 1.0)) // (1,2)/2
    assert(vecOf(out, 4L).forall(_.isNaN))
    assert(vecOf(out, 5L) == Seq(0.0, 0.0))
  }

  test("transform: a dictionary vector shorter than dim fails loudly " +
    "instead of yielding silent null dimensions") {
    val dict = Seq(("alpha", Seq(1.0, 2.0)), ("short", Seq(9.0)))
      .toDF("term", "vector")
    val docs = Seq((1L, Seq("alpha", "short"))).toDF("id", "tokens")
    val e = intercept[Exception] {
      Word2Vec.transform(docs, dict, 2).collect()
    }
    assert(messagesOf(e).exists(_.contains("shorter than dim")), e.toString)
  }

  test("transform: the dim contract binds matched terms only — a ragged " +
    "row no document uses is inert, a used one still fails") {
    val dict = Seq(("alpha", Seq(1.0, 2.0)), ("unused", Seq(9.0)), ("short", Seq(7.0)))
      .toDF("term", "vector")
    val clean = Seq((1L, Seq("alpha", "missing"))).toDF("id", "tokens")
    assert(vecOf(Word2Vec.transform(clean, dict, 2), 1L) == Seq(0.5, 1.0))
    val ragged = Seq((1L, Seq("alpha")), (2L, Seq("new+SHORT"))).toDF("id", "tokens")
    val e = intercept[Exception] {
      Word2Vec.transform(ragged, dict, 2).collect()
    }
    assert(messagesOf(e).exists(_.contains("shorter than dim=2 for term short")), e.toString)
  }

  test("transform: compound '+' tokens average their components") {
    val dict = Seq(("new", Seq(2.0)), ("york", Seq(4.0))).toDF("term", "vector")
    val docs = Seq((1L, Seq("new+york")), (2L, Seq("new+missing"))).toDF("id", "tokens")
    val out = Word2Vec.transform(docs, dict, 1)
    assert(vecOf(out, 1L) == Seq(3.0)) // (2+4)/2 components, /1 token
    assert(vecOf(out, 2L) == Seq(1.0)) // 2/2 components, /1 token
  }

  test("GloVe dictionary mount + transform over GDELT organizations") {
    val dict = CsvMount.mountVectorDictionary(spark,
      s"${GenGdeltFixture.path}/glove_dictionary.csv")
    assert(dict.head.getSeq[Double](1).size == 50)
    val cnn = dict.where(col("term") === "cnn").head.getSeq[Double](1)

    val orgs = spark.read.option("header", "true").csv(s"${GenGdeltFixture.path}/sample.csv")
      .select(col("article_id").as("id"),
        SimKernels.tokenize(col("organizations"), ";").as("tokens"))
      .na.drop(Seq("id"))
    val out = Word2Vec.transform(orgs, dict, 50)
    // first sample article's organizations = exactly {cnn} -> its GloVe vector
    val v = out.where(col("id") === "20190201151500-2748").head.getSeq[Double](1)
    assert(v == cnn)
  }
}
