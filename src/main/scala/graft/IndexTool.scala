package graft

import org.apache.spark.sql.SparkSession

/** Operational CLI for the persisted indexes — the spark-submit entry point
  * for the maintenance actions an operator schedules against a serving
  * deployment without writing Scala (the reference ships its operations as
  * runnable mains; this build's index lifecycle deserves the same):
  *
  * {{{
  * spark-submit --class graft.IndexTool app.jar compact <path> [--through N]
  * spark-submit --class graft.IndexTool app.jar compact-band <path> [--through N]
  * spark-submit --class graft.IndexTool app.jar compact-fp <path> [--through N]
  * spark-submit --class graft.IndexTool app.jar compact-sink <path> [--through N]
  * spark-submit --class graft.IndexTool app.jar recall <path> <idCol> [--k 10] [--nprobe 4] [--sample 32]
  * spark-submit --class graft.IndexTool app.jar recall-pq <path> <idCol> --source <parquet> [--vec embedding]
  * spark-submit --class graft.IndexTool app.jar rebuild <path> <idCol> [--iters 10] [--train-pct 100]
  * spark-submit --class graft.IndexTool app.jar recover <path>
  * spark-submit --class graft.IndexTool app.jar bloom <path> [--fpp 0.01]
  * spark-submit --class graft.IndexTool app.jar bpe-train <modelPath> --source <parquet>
  * spark-submit --class graft.IndexTool app.jar bpe-encode <modelPath> --source <parquet> --out <parquet>
  * spark-submit --class graft.IndexTool app.jar nb-train <modelPath> --source <parquet> --label <boolCol>
  * spark-submit --class graft.IndexTool app.jar nb-score <modelPath> --source <parquet> --out <parquet>
  * spark-submit --class graft.IndexTool app.jar scrub-pii <src> --out <parquet>
  * spark-submit --class graft.IndexTool app.jar clean <src> --out <parquet>
  * spark-submit --class graft.IndexTool app.jar gopher <src> --out <parquet> [--filter]
  * spark-submit --class graft.IndexTool app.jar split <src> --out <parquet> --splits train:98,val:1,test:1
  * }}}
  *
  * `compact` folds an ANN index's streamed batch partitions into the base;
  * `compact-band` / `compact-fp` / `compact-sink` are the dedup-index and
  * emission-sink twins. `recall` prints the served recall@k of an ANN index
  * on a stored-vector sample (the drift gauge; exits nonzero below
  * `--min`, so a cron can alert). `rebuild` re-trains an IVF quantizer
  * from the stored vectors and atomically swaps. `recover` repairs a
  * compaction swap interrupted by a crash (every library entry point does
  * this automatically — the command exists for explicit operator runbooks).
  * `bloom` builds/refreshes a fingerprint index's Bloom prefilter sidecar
  * ([[graft.operators.Dedup.writeFingerprintBloom]]) so the ingestion
  * loops' exact-dedup check skips the stored-index scan on novel batches.
  * `bpe-train`/`bpe-encode` train a BPE merge table to a persisted model
  * directory and batch-encode a corpus with it; `nb-train`/`nb-score` are
  * the quality-classifier twins (train to a model sidecar, score a corpus
  * against a stored model). `scrub-pii`/`clean`/`gopher`/`split` are the
  * batch curation passes (PII masking, NFC + control-strip cleaning, the
  * Gopher rule battery as verdicts or a filter, deterministic
  * train/val/test labeling) parquet-to-parquet — the spark-submit twins
  * of the /pipeline ops for a cluster-sized corpus.
  * All actions assume ingestion streams are stopped cleanly, except
  * `recall`, which serves concurrently by design. Prints one JSON line per
  * action for log scraping. */
object IndexTool {

  private def opt(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { println(usage); sys.exit(2) }
    val spark = graft.util.LocalSession(s"graft-index-tool-${args.head}")
    try {
      val rc = run(spark, args)
      if (rc != 0) sys.exit(rc)
    } finally spark.stop()
  }

  /** Package-visible so the spec can drive commands against a test
    * session; returns the process exit code. */
  private[graft] def run(spark: SparkSession, args: Array[String]): Int = {
    val through = opt(args, "--through").map(_.toLong)
    // positional operand count per action: a forgotten <path>/<idCol> must
    // print usage and exit 2, not throw ArrayIndexOutOfBounds at an
    // operator mid-runbook
    val needed = args.head match {
      case "recall" | "recall-pq" | "rebuild" => 3
      case _ => 2
    }
    if (args.length < needed || args.take(needed).exists(_.startsWith("--"))) {
      System.err.println(s"missing operand for '${args.head}'\n$usage")
      return 2
    }
    args.head match {
      case "compact" =>
        graft.operators.AnnIndex.compact(spark, args(1), through)
        println(s"""{"action":"compact","path":"${args(1)}"}"""); 0
      case "compact-band" =>
        graft.operators.Dedup.compactBandIndex(spark, args(1), through)
        println(s"""{"action":"compact-band","path":"${args(1)}"}"""); 0
      case "compact-fp" =>
        graft.operators.Dedup.compactFingerprintIndex(spark, args(1), through)
        println(s"""{"action":"compact-fp","path":"${args(1)}"}"""); 0
      case "compact-sink" =>
        graft.streaming.StreamOps.compactSink(spark, args(1), through)
        println(s"""{"action":"compact-sink","path":"${args(1)}"}"""); 0
      case "recall" =>
        val k = opt(args, "--k").fold(10)(_.toInt)
        val nProbe = opt(args, "--nprobe").fold(4)(_.toInt)
        val sample = opt(args, "--sample").fold(32)(_.toInt)
        val min = opt(args, "--min").fold(0.0)(_.toDouble)
        val r = graft.operators.AnnIndex.recallProbe(spark, args(1), args(2),
          k, nProbe, sample)
        println(s"""{"action":"recall","path":"${args(1)}","k":$k,""" +
          s""""nprobe":$nProbe,"recall":$r}""")
        if (r < min) 3 else 0
      case "rebuild" =>
        val iters = opt(args, "--iters").fold(10)(_.toInt)
        val trainPct = opt(args, "--train-pct").fold(100)(_.toInt)
        graft.operators.AnnIndex.rebuild(spark, args(1), args(2), iters, trainPct)
        println(s"""{"action":"rebuild","path":"${args(1)}"}"""); 0
      case "recall-pq" =>
        val src = opt(args, "--source").getOrElse {
          System.err.println(s"recall-pq needs --source <parquet>\n$usage")
          return 2
        }
        val vecCol = opt(args, "--vec").getOrElse("embedding")
        val k = opt(args, "--k").fold(10)(_.toInt)
        val nProbe = opt(args, "--nprobe").fold(4)(_.toInt)
        val sample = opt(args, "--sample").fold(32)(_.toInt)
        val min = opt(args, "--min").fold(0.0)(_.toDouble)
        val r = graft.operators.AnnIndex.ivfPqRecallProbe(spark, args(1),
          spark.read.parquet(src), args(2),
          org.apache.spark.sql.functions.col(vecCol).cast("array<double>"),
          k, nProbe, sample)
        println(s"""{"action":"recall-pq","path":"${args(1)}","k":$k,""" +
          s""""nprobe":$nProbe,"recall":$r}""")
        if (r < min) 3 else 0
      case "recover" =>
        graft.operators.IndexIO.recoverSwap(spark, args(1))
        println(s"""{"action":"recover","path":"${args(1)}"}"""); 0
      case "bloom" =>
        val fpp = opt(args, "--fpp").fold(0.01)(_.toDouble)
        graft.operators.Dedup.writeFingerprintBloom(spark, args(1), fpp)
        println(s"""{"action":"bloom","path":"${args(1)}","fpp":$fpp}"""); 0
      case "bpe-train" =>
        val src = opt(args, "--source").getOrElse {
          System.err.println(s"bpe-train needs --source <parquet>\n$usage")
          return 2
        }
        val textCol = opt(args, "--text").getOrElse("text")
        val merges = graft.operators.Bpe.train(
          spark.read.parquet(src),
          graft.functions.NativeKernels.wordTokens(
            org.apache.spark.sql.functions.col(textCol)),
          opt(args, "--merges").fold(1000)(_.toInt),
          opt(args, "--max-words").fold(1000000)(_.toInt),
          opt(args, "--min-pair").fold(2L)(_.toLong))
        graft.operators.Bpe.save(spark, merges, args(1))
        println(s"""{"action":"bpe-train","path":"${args(1)}",""" +
          s""""merges":${merges.size}}"""); 0
      case "bpe-encode" =>
        val src = opt(args, "--source").getOrElse {
          System.err.println(s"bpe-encode needs --source <parquet>\n$usage")
          return 2
        }
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"bpe-encode needs --out <parquet>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.col
        val merges = graft.operators.Bpe.load(spark, args(1))
        val idCol = opt(args, "--id").getOrElse("id")
        val textCol = opt(args, "--text").getOrElse("text")
        val words = graft.functions.NativeKernels.wordTokens(col(textCol))
        spark.read.parquet(src)
          .select(col(idCol),
            graft.operators.Bpe.tokens(words, merges).as("tokens"),
            graft.operators.Bpe.tokenCount(words, merges).as("n_tokens"))
          .write.mode("overwrite").parquet(out)
        println(s"""{"action":"bpe-encode","path":"${args(1)}",""" +
          s""""out":"$out"}"""); 0
      case "nb-train" =>
        val src = opt(args, "--source").getOrElse {
          System.err.println(s"nb-train needs --source <parquet>\n$usage")
          return 2
        }
        val labelCol = opt(args, "--label").getOrElse {
          System.err.println(s"nb-train needs --label <boolCol>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.col
        val textCol = opt(args, "--text").getOrElse("text")
        val model = graft.operators.QualityClassifier.train(
          spark.read.parquet(src),
          graft.functions.NativeKernels.wordTokens(col(textCol)),
          col(labelCol), opt(args, "--max-vocab").fold(65536)(_.toInt))
        graft.operators.QualityClassifier.save(spark, model, args(1))
        println(s"""{"action":"nb-train","path":"${args(1)}",""" +
          s""""vocab":${model.weights.size},"prior":${model.prior}}"""); 0
      case "nb-score" =>
        val src = opt(args, "--source").getOrElse {
          System.err.println(s"nb-score needs --source <parquet>\n$usage")
          return 2
        }
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"nb-score needs --out <parquet>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.col
        val model = graft.operators.QualityClassifier.load(spark, args(1))
        val idCol = opt(args, "--id").getOrElse("id")
        graft.operators.QualityClassifier.score(
          spark.read.parquet(src),
          col(idCol),
          graft.functions.NativeKernels.wordTokens(
            col(opt(args, "--text").getOrElse("text"))),
          model)
          // score() names its key 'id'; give the caller back THEIR column
          // name, as bpe-encode and the service's nb_score branch do
          .withColumnRenamed("id", idCol)
          .write.mode("overwrite").parquet(out)
        println(s"""{"action":"nb-score","path":"${args(1)}",""" +
          s""""out":"$out"}"""); 0
      case "scrub-pii" | "clean" =>
        // batch curation passes parquet -> parquet: the spark-submit twins
        // of the /pipeline scrub_pii op and TextKernels.cleanText (the
        // REST service is a single host; a 100 TB pass ships as a job)
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"${args.head} needs --out <parquet>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.col
        val idCol = opt(args, "--id").getOrElse("id")
        val textCol = opt(args, "--text").getOrElse("text")
        val pass =
          if (args.head == "scrub-pii")
            graft.functions.TextKernels.scrubPii(col(textCol))
          else graft.functions.TextKernels.cleanText(col(textCol))
        spark.read.parquet(args(1))
          .select(col(idCol), pass.as(textCol))
          .write.mode("overwrite").parquet(out)
        println(s"""{"action":"${args.head}","path":"${args(1)}",""" +
          s""""out":"$out"}"""); 0
      case "gopher" =>
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"gopher needs --out <parquet>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.col
        val idCol = opt(args, "--id").getOrElse("id")
        val textCol = opt(args, "--text").getOrElse("text")
        val minW = opt(args, "--min-words").fold(50L)(_.toLong)
        val maxW = opt(args, "--max-words").fold(100000L)(_.toLong)
        val stops = opt(args, "--stop-words")
          .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(graft.operators.QualityRules.StopWords)
        val src = spark.read.parquet(args(1))
        val result =
          if (args.contains("--filter"))
            graft.operators.QualityRules.gopherFilter(src, col(textCol),
              minW, maxW, stops)
          else graft.operators.QualityRules.gopher(src, col(idCol),
              col(textCol), minW, maxW, stops)
            .withColumnRenamed("id", idCol)
        result.write.mode("overwrite").parquet(out)
        println(s"""{"action":"gopher","path":"${args(1)}","out":"$out",""" +
          s""""filter":${args.contains("--filter")}}"""); 0
      case "split" =>
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"split needs --out <parquet>\n$usage")
          return 2
        }
        val spec = opt(args, "--splits").getOrElse {
          System.err.println(
            s"split needs --splits name:weight,name:weight\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.col
        val idCol = opt(args, "--id").getOrElse("id")
        val splits = spec.split(",").toSeq.map { part =>
          val Array(name, w) = part.split(":", 2)
          (name.trim, w.trim.toDouble)
        }
        graft.operators.Sampling.splitByHash(
            spark.read.parquet(args(1)), col(idCol), splits)
          .write.mode("overwrite").parquet(out)
        println(s"""{"action":"split","path":"${args(1)}","out":"$out",""" +
          s""""splits":"$spec"}"""); 0
      case "quantile-cut" =>
        // corpus-quantile bands (the CCNet head/middle/tail cut) over an
        // integral score expression evaluated against the input columns
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"quantile-cut needs --out <parquet>\n$usage")
          return 2
        }
        val scoreExpr = opt(args, "--score-expr").getOrElse {
          System.err.println(
            s"quantile-cut needs --score-expr <integral sql expr>\n$usage")
          return 2
        }
        val cuts = opt(args, "--cuts").getOrElse {
          System.err.println(
            s"quantile-cut needs --cuts ppm,ppm,...\n$usage")
          return 2
        }.split(",").toSeq.map(_.trim.toLong)
        val labels = opt(args, "--labels").getOrElse {
          System.err.println(
            s"quantile-cut needs --labels name,name,...\n$usage")
          return 2
        }.split(",").toSeq.map(_.trim)
        graft.operators.Sampling.quantileBuckets(
            spark.read.parquet(args(1)),
            org.apache.spark.sql.functions.expr(scoreExpr), cuts, labels)
          .write.mode("overwrite").parquet(out)
        println(s"""{"action":"quantile-cut","path":"${args(1)}",""" +
          s""""out":"$out","cuts":"${cuts.mkString(",")}"}"""); 0
      case "dsir" =>
        // DSIR importance weights against the in-frame target subset; with
        // --k also Gumbel-top-k selects the training set
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"dsir needs --out <parquet>\n$usage")
          return 2
        }
        val tgtWhere = opt(args, "--target-where").getOrElse {
          System.err.println(
            s"dsir needs --target-where <bool SQL expr>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.{col, expr}
        val idCol = opt(args, "--id").getOrElse("id")
        val textCol = opt(args, "--text").getOrElse("text")
        val scored = graft.operators.Dsir.weights(
          spark.read.parquet(args(1)), col(idCol),
          graft.functions.NativeKernels.wordTokens(col(textCol)),
          expr(tgtWhere), opt(args, "--buckets").fold(10000)(_.toInt))
        val result = opt(args, "--k") match {
          case Some(k) => graft.operators.Dsir.resample(scored, col("id"),
            col("weight"), k.toInt,
            opt(args, "--temperature").fold(1.0)(_.toDouble))
          case None => scored
        }
        result.withColumnRenamed("id", idCol)
          .write.mode("overwrite").parquet(out)
        println(s"""{"action":"dsir","path":"${args(1)}","out":"$out",""" +
          s""""selected":${opt(args, "--k").isDefined}}"""); 0
      case "dsir-train" =>
        // fit the DSIR bucket model from a parquet corpus and persist it
        // (the nb-train twin): <modelPath> is the positional operand
        val src = opt(args, "--source").getOrElse {
          System.err.println(s"dsir-train needs --source <parquet>\n$usage")
          return 2
        }
        val tgtWhere = opt(args, "--target-where").getOrElse {
          System.err.println(
            s"dsir-train needs --target-where <bool SQL expr>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.{col, expr}
        val model = graft.operators.Dsir.fit(spark.read.parquet(src),
          graft.functions.NativeKernels.wordTokens(
            col(opt(args, "--text").getOrElse("text"))),
          expr(tgtWhere), opt(args, "--buckets").fold(10000)(_.toInt))
        graft.operators.Dsir.save(spark, model, args(1))
        println(s"""{"action":"dsir-train","model":"${args(1)}",""" +
          s""""buckets":${model.buckets},""" +
          s""""raw_total":${model.rawTotal.toLong},""" +
          s""""tgt_total":${model.tgtTotal.toLong}}"""); 0
      case "dsir-score" =>
        // score a corpus against a persisted model; --k selects
        val src = opt(args, "--source").getOrElse {
          System.err.println(s"dsir-score needs --source <parquet>\n$usage")
          return 2
        }
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"dsir-score needs --out <parquet>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.col
        val idCol = opt(args, "--id").getOrElse("id")
        val model = graft.operators.Dsir.load(spark, args(1))
        val scored = graft.operators.Dsir.scoreWith(spark,
          spark.read.parquet(src), col(idCol),
          graft.functions.NativeKernels.wordTokens(
            col(opt(args, "--text").getOrElse("text"))), model)
        val result = opt(args, "--k") match {
          case Some(k) => graft.operators.Dsir.resample(scored, col("id"),
            col("weight"), k.toInt,
            opt(args, "--temperature").fold(1.0)(_.toDouble))
          case None => scored
        }
        result.withColumnRenamed("id", idCol)
          .write.mode("overwrite").parquet(out)
        println(s"""{"action":"dsir-score","model":"${args(1)}",""" +
          s""""out":"$out","selected":${opt(args, "--k").isDefined}}"""); 0
      case "lm-train" =>
        // fit the persisted bigram LM from a parquet corpus (the CCNet
        // fit-on-trusted half): <modelPath> is the positional operand
        val src = opt(args, "--source").getOrElse {
          System.err.println(s"lm-train needs --source <parquet>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.col
        graft.operators.BigramLm.fit(spark, spark.read.parquet(src),
          graft.functions.NativeKernels.wordTokens(
            col(opt(args, "--text").getOrElse("text"))),
          args(1), opt(args, "--lambda-ppm").fold(750000L)(_.toLong))
        println(s"""{"action":"lm-train","model":"${args(1)}",""" +
          s""""source":"$src"}"""); 0
      case "lm-score" =>
        // score a corpus against a persisted bigram LM (the
        // score-the-crawl half): (id, n_bigrams, n_oov, logq)
        val src = opt(args, "--source").getOrElse {
          System.err.println(s"lm-score needs --source <parquet>\n$usage")
          return 2
        }
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"lm-score needs --out <parquet>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.col
        val idCol = opt(args, "--id").getOrElse("id")
        graft.operators.BigramLm.score(spark, spark.read.parquet(src),
            col(idCol),
            graft.functions.NativeKernels.wordTokens(
              col(opt(args, "--text").getOrElse("text"))), args(1))
          .withColumnRenamed("doc_id", idCol)
          .write.mode("overwrite").parquet(out)
        println(s"""{"action":"lm-score","model":"${args(1)}",""" +
          s""""out":"$out"}"""); 0
      case "dedup-substr" =>
        // corpus-global duplicate-span removal (--spans emits the
        // discovery form instead of cutting)
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"dedup-substr needs --out <parquet>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.col
        val idCol = opt(args, "--id").getOrElse("id")
        val textCol = opt(args, "--text").getOrElse("text")
        val n = opt(args, "--n").fold(8)(_.toInt)
        val minCount = opt(args, "--min-count").fold(2L)(_.toLong)
        val src = spark.read.parquet(args(1))
        val toks = graft.functions.NativeKernels.wordTokens(col(textCol))
        val result =
          if (args.contains("--spans"))
            graft.operators.SpanDedup.spans(src, col(idCol), toks, n,
              minCount)
          else
            graft.operators.SpanDedup.removeSpans(src, col(idCol), toks, n,
              minCount)
        result.withColumnRenamed("id", idCol)
          .write.mode("overwrite").parquet(out)
        println(s"""{"action":"dedup-substr","path":"${args(1)}",""" +
          s""""out":"$out","spans":${args.contains("--spans")}}"""); 0
      case "rand-project" =>
        // JL dimensionality reduction of a vector column (engine-portable
        // ±1 matrix; see Embeddings.projectionSigns)
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"rand-project needs --out <parquet>\n$usage")
          return 2
        }
        val outDim = opt(args, "--out-dim").map(_.toInt).getOrElse {
          System.err.println(s"rand-project needs --out-dim <N>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.{col, size => asize}
        val idCol = opt(args, "--id").getOrElse("id")
        val vecCol = opt(args, "--vector").getOrElse("embedding")
        val src = spark.read.parquet(args(1))
        val inDim = opt(args, "--in-dim").fold(
          src.select(asize(col(vecCol))).head.getInt(0))(_.toInt)
        graft.operators.Embeddings.project(src, col(idCol),
            col(vecCol).cast("array<double>"), inDim, outDim,
            opt(args, "--seed").getOrElse(""))
          .withColumnRenamed("id", idCol)
          .write.mode("overwrite").parquet(out)
        println(s"""{"action":"rand-project","path":"${args(1)}",""" +
          s""""out":"$out","out_dim":$outDim}"""); 0
      case "image-hash" =>
        // perceptual-hash an image corpus (real ImageIO pixel decode ->
        // aHash/dHash), optionally emitting banded-Hamming near-dup pairs
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"image-hash needs --out <parquet>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.{col, lit}
        val idCol = opt(args, "--id").getOrElse("id")
        val dataCol = opt(args, "--data").getOrElse("data")
        val src0 = spark.read.parquet(args(1))
        val kindCol = opt(args, "--kind")
          .map(col).getOrElse(lit("image"))
        val hashed = graft.multimodal.Multimodal.imageHash(
          src0.select(col(idCol).cast("long").as("id"), kindCol.as("kind"),
            col(dataCol).as("data"))).toDF()
        hashed.withColumnRenamed("id", idCol)
          .write.mode("overwrite").parquet(out)
        opt(args, "--pairs-out").foreach { pairsOut =>
          // pair off the parquet just written — never decode the corpus twice
          graft.operators.Dedup.hammingPairs(
              spark.read.parquet(out).where(col("decoded"))
                .select(col(idCol).as("id"), col("dhash")),
              "id", "dhash",
              opt(args, "--max-hamming").fold(3)(_.toInt))
            .write.mode("overwrite").parquet(pairsOut)
        }
        println(s"""{"action":"image-hash","path":"${args(1)}",""" +
          s""""out":"$out"}"""); 0
      case "audio-fp" =>
        // fingerprint an audio corpus (real AudioSystem PCM decode ->
        // 65-window energy gradient), optionally with near-dup pairs
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"audio-fp needs --out <parquet>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.{col, lit}
        val idCol = opt(args, "--id").getOrElse("id")
        val dataCol = opt(args, "--data").getOrElse("data")
        val printed = graft.multimodal.Multimodal.audioFingerprint(
          spark.read.parquet(args(1)).select(
            col(idCol).cast("long").as("id"),
            opt(args, "--kind").map(col).getOrElse(lit("audio")).as("kind"),
            col(dataCol).as("data"))).toDF()
        printed.withColumnRenamed("id", idCol)
          .write.mode("overwrite").parquet(out)
        opt(args, "--pairs-out").foreach { pairsOut =>
          graft.operators.Dedup.hammingPairs(
              spark.read.parquet(out).where(col("decoded"))
                .select(col(idCol).as("id"), col("afp")),
              "id", "afp",
              opt(args, "--max-hamming").fold(3)(_.toInt))
            .write.mode("overwrite").parquet(pairsOut)
        }
        println(s"""{"action":"audio-fp","path":"${args(1)}",""" +
          s""""out":"$out"}"""); 0
      case "video-frames" =>
        // per-sampled-frame perceptual hashes of an AVI/MJPEG corpus
        // (real container walk + JPEG decode), optionally with
        // sequence near-dup pairs grouped per alignment diagonal
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"video-frames needs --out <parquet>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.{col, lit}
        val idCol = opt(args, "--id").getOrElse("id")
        val dataCol = opt(args, "--data").getOrElse("data")
        val everyMs = opt(args, "--every-ms").fold(500L)(_.toLong)
        graft.multimodal.Multimodal.videoFrameHashes(
            spark.read.parquet(args(1)).select(
              col(idCol).cast("long").as("id"), lit("video").as("kind"),
              col(dataCol).as("data")), everyMs).toDF()
          .withColumnRenamed("id", idCol)
          .write.mode("overwrite").parquet(out)
        opt(args, "--pairs-out").foreach { pairsOut =>
          graft.operators.Dedup.frameSigPairs(
              spark.read.parquet(out).where(col("decoded"))
                .select(col(idCol).as("id"), col("frame_idx"), col("dhash")),
              "id", "frame_idx", "dhash",
              opt(args, "--max-hamming").fold(3)(_.toInt),
              opt(args, "--min-match").fold(2L)(_.toLong))
            .write.mode("overwrite").parquet(pairsOut)
        }
        println(s"""{"action":"video-frames","path":"${args(1)}",""" +
          s""""out":"$out"}"""); 0
      case "video-stats" =>
        // per-clip quality gates (black/flat frame counts, luma mass)
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"video-stats needs --out <parquet>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.{col, lit}
        val idCol = opt(args, "--id").getOrElse("id")
        graft.multimodal.Multimodal.videoStats(
            spark.read.parquet(args(1)).select(
              col(idCol).cast("long").as("id"), lit("video").as("kind"),
              col(opt(args, "--data").getOrElse("data")).as("data")),
            opt(args, "--every-ms").fold(500L)(_.toLong)).toDF()
          .withColumnRenamed("id", idCol)
          .write.mode("overwrite").parquet(out)
        println(s"""{"action":"video-stats","path":"${args(1)}",""" +
          s""""out":"$out"}"""); 0
      case "video-dedup-stream" | "audio-seq-stream" =>
        // the STREAMING ingestion loops as spark-submit runbook commands:
        // watch a parquet directory as a file stream, near-dup each
        // micro-batch in-batch AND against the persisted composite-key
        // frame-signature index, emit (a, b, d, n_match) pairs through
        // the exactly-once parquet sink, and commit the batch's
        // signatures under its batchId partition. `--once` drains
        // whatever is available and exits (the batch-backfill /
        // cron-drain mode); without it the command serves until killed.
        val video = args.head == "video-dedup-stream"
        val name = args.head
        val index = opt(args, "--index").getOrElse {
          System.err.println(s"$name needs --index <path>\n$usage")
          return 2
        }
        val sink = opt(args, "--sink").getOrElse {
          System.err.println(s"$name needs --sink <path>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.{col, lit}
        val idCol = opt(args, "--id").getOrElse("id")
        val dataCol = opt(args, "--data").getOrElse("data")
        // file streams need an explicit schema: take the static dir's
        val schema = spark.read.parquet(args(1)).schema
        val media = spark.readStream.schema(schema).parquet(args(1))
          .select(col(idCol).cast("long").as("id"),
            lit(if (video) "video" else "audio").as("kind"),
            col(dataCol).as("data"))
        val writeBatch = graft.streaming.StreamOps.parquetSink(sink)
        val minMatch = opt(args, "--min-match").fold(2L)(_.toLong)
        val maxHamming = opt(args, "--max-hamming").fold(3)(_.toInt)
        val compactEvery = opt(args, "--compact-every").fold(0)(_.toInt)
        val q =
          if (video) graft.streaming.StreamOps.videoDedupStream(media,
            opt(args, "--every-ms").fold(500L)(_.toLong), index,
            maxHamming, minMatch, compactEvery)(writeBatch)
          else graft.streaming.StreamOps.audioSeqDedupStream(media,
            opt(args, "--window-ms").fold(250L)(_.toLong), index,
            maxHamming, minMatch, compactEvery)(writeBatch)
        if (args.contains("--once")) {
          q.processAllAvailable(); q.stop()
        } else q.awaitTermination()
        println(s"""{"action":"$name","path":"${args(1)}",""" +
          s""""index":"$index","sink":"$sink"}"""); 0
      case "image-stats" =>
        // image quality-gate signals parquet -> parquet (real decode)
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"image-stats needs --out <parquet>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.{col, lit}
        val idCol = opt(args, "--id").getOrElse("id")
        graft.multimodal.Multimodal.imageStats(
            spark.read.parquet(args(1)).select(
              col(idCol).cast("long").as("id"),
              opt(args, "--kind").map(col).getOrElse(lit("image")).as("kind"),
              col(opt(args, "--data").getOrElse("data")).as("data"))).toDF()
          .withColumnRenamed("id", idCol)
          .write.mode("overwrite").parquet(out)
        println(s"""{"action":"image-stats","path":"${args(1)}",""" +
          s""""out":"$out"}"""); 0
      case "audio-stats" =>
        // audio quality-gate signals parquet -> parquet (real PCM decode)
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"audio-stats needs --out <parquet>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.{col, lit}
        val idCol = opt(args, "--id").getOrElse("id")
        graft.multimodal.Multimodal.audioStats(
            spark.read.parquet(args(1)).select(
              col(idCol).cast("long").as("id"),
              opt(args, "--kind").map(col).getOrElse(lit("audio")).as("kind"),
              col(opt(args, "--data").getOrElse("data")).as("data"))).toDF()
          .withColumnRenamed("id", idCol)
          .write.mode("overwrite").parquet(out)
        println(s"""{"action":"audio-stats","path":"${args(1)}",""" +
          s""""out":"$out"}"""); 0
      case "profile" =>
        // per-batch mergeable corpus profile (counters + HLL/Theta
        // sketches) -> parquet; --merge folds an accumulated profile dir
        // into estimates instead (never rescans the corpus)
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"profile needs --out <parquet>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.{col, lit}
        val keys = opt(args, "--keys").map(_.split(",").toSeq).getOrElse(Seq.empty)
        if (args.contains("--merge")) {
          graft.operators.Profile.mergeProfiles(
              spark.read.parquet(args(1)), math.max(keys.size, 1))
            .write.mode("overwrite").parquet(out)
        } else if (args.contains("--series")) {
          // the time-series fold of an accumulated profile dir: per-batch
          // + cumulative rows, computed from profile rows only
          graft.operators.Profile.profileSeries(
              spark.read.parquet(args(1)), math.max(keys.size, 1),
              opt(args, "--batch-col").getOrElse("batch_id"))
            .write.mode("overwrite").parquet(out)
        } else {
          val keyCols = if (keys.isEmpty) Seq(lit("all")) else keys.map(col)
          val textCol = col(opt(args, "--text").getOrElse("text"))
          val partial = graft.operators.Profile.partialProfile(
            spark.read.parquet(args(1)), keyCols, textCol,
            graft.functions.NativeKernels.wordTokens(textCol))
          // --batch stamps the partial rows so a later --series fold can
          // order them; without it the dir still merges, just not by time
          opt(args, "--batch").map(b =>
              partial.withColumn("batch_id", lit(b.toLong)))
            .getOrElse(partial)
            .write.mode(if (args.contains("--append")) "append" else "overwrite")
            .parquet(out)
        }
        println(s"""{"action":"profile","path":"${args(1)}","out":"$out",""" +
          s""""merge":${args.contains("--merge")},""" +
          s""""series":${args.contains("--series")}}"""); 0
      case "overlap" =>
        // theta-sketch set relations of two corpora, printed as one JSON row
        val other = opt(args, "--other").getOrElse {
          System.err.println(s"overlap needs --other <parquet>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.col
        val textCol = opt(args, "--text").getOrElse("text")
        val r = graft.operators.Profile.overlap(
          spark.read.parquet(args(1)), col(textCol),
          spark.read.parquet(other),
          col(opt(args, "--other-text").getOrElse(textCol))).head()
        println(s"""{"action":"overlap","est_a":${r.getAs[Long]("est_a")},""" +
          s""""est_b":${r.getAs[Long]("est_b")},""" +
          s""""est_intersection":${r.getAs[Long]("est_intersection")},""" +
          s""""est_union":${r.getAs[Long]("est_union")},""" +
          s""""est_jaccard":${r.getAs[Double]("est_jaccard")}}"""); 0
      case "image-resize" =>
        // real thumbnailing pass parquet -> parquet (decode, box-average,
        // PNG re-encode; fitting/undecodable rows pass through)
        val out = opt(args, "--out").getOrElse {
          System.err.println(s"image-resize needs --out <parquet>\n$usage")
          return 2
        }
        import org.apache.spark.sql.functions.{col, lit}
        val idCol = opt(args, "--id").getOrElse("id")
        val box = opt(args, "--box").getOrElse("256x256")
        val (mw, mh) = box.split("x") match {
          case Array(w, h) => (w.toInt, h.toInt)
          case _ =>
            System.err.println(s"--box must be WxH, got '$box'\n$usage")
            return 2
        }
        graft.multimodal.Multimodal.resizeImage(
            spark.read.parquet(args(1)).select(
              col(idCol).cast("long").as("id"),
              opt(args, "--kind").map(col).getOrElse(lit("image")).as("kind"),
              col(opt(args, "--data").getOrElse("data")).as("data")),
            mw, mh).toDF()
          .withColumnRenamed("id", idCol)
          .write.mode("overwrite").parquet(out)
        println(s"""{"action":"image-resize","path":"${args(1)}",""" +
          s""""out":"$out","box":"$box"}"""); 0
      case other =>
        System.err.println(s"unknown action '$other'\n$usage"); 2
    }
  }

  private val usage =
    """usage: IndexTool <action> <path> [args]
      |  compact | compact-band | compact-fp | compact-sink <path> [--through N]
      |  recall <path> <idCol> [--k 10] [--nprobe 4] [--sample 32] [--min 0.0]
      |  recall-pq <path> <idCol> --source <parquet> [--vec embedding] [--k 10] [--nprobe 4] [--sample 32] [--min 0.0]
      |  rebuild <path> <idCol> [--iters 10] [--train-pct 100]
      |  recover <path>
      |  bloom <path> [--fpp 0.01]
      |  bpe-train <modelPath> --source <parquet> [--text text] [--merges 1000] [--max-words 1000000] [--min-pair 2]
      |  bpe-encode <modelPath> --source <parquet> --out <parquet> [--id id] [--text text]
      |  nb-train <modelPath> --source <parquet> --label <boolCol> [--text text] [--max-vocab 65536]
      |  nb-score <modelPath> --source <parquet> --out <parquet> [--id id] [--text text]
      |  scrub-pii <srcParquet> --out <parquet> [--id id] [--text text]
      |  clean <srcParquet> --out <parquet> [--id id] [--text text]
      |  gopher <srcParquet> --out <parquet> [--id id] [--text text] [--min-words 50] [--max-words 100000] [--stop-words a,b,c] [--filter]
      |  split <srcParquet> --out <parquet> --splits train:98,val:1,test:1 [--id id]
      |  dsir <srcParquet> --out <parquet> --target-where <bool SQL expr> [--id id] [--text text] [--buckets 10000] [--k N] [--temperature 1.0]
      |  dsir-train <modelPath> --source <parquet> --target-where <bool SQL expr> [--text text] [--buckets 10000]
      |  dsir-score <modelPath> --source <parquet> --out <parquet> [--id id] [--text text] [--k N] [--temperature 1.0]
      |  dedup-substr <srcParquet> --out <parquet> [--id id] [--text text] [--n 8] [--min-count 2] [--spans]
      |  quantile-cut <srcParquet> --out <parquet> --score-expr <integral SQL expr> --cuts 333333,666667 --labels tail,middle,head
      |  lm-train <modelPath> --source <parquet> [--text text] [--lambda-ppm 750000]
      |  lm-score <modelPath> --source <parquet> --out <parquet> [--id id] [--text text]
      |  rand-project <srcParquet> --out <parquet> --out-dim <N> [--in-dim N] [--id id] [--vector embedding] [--seed s]
      |  image-hash <srcParquet> --out <parquet> [--id id] [--data data] [--kind kindCol] [--pairs-out <parquet>] [--max-hamming 3]
      |  audio-fp <srcParquet> --out <parquet> [--id id] [--data data] [--kind kindCol] [--pairs-out <parquet>] [--max-hamming 3]
      |  image-resize <srcParquet> --out <parquet> [--box 256x256] [--id id] [--data data] [--kind kindCol]
      |  image-stats <srcParquet> --out <parquet> [--id id] [--data data] [--kind kindCol]
      |  audio-stats <srcParquet> --out <parquet> [--id id] [--data data] [--kind kindCol]
      |  video-frames <srcParquet> --out <parquet> [--id id] [--data data] [--every-ms 500] [--pairs-out <parquet> [--max-hamming 3] [--min-match 2]]
      |  video-stats <srcParquet> --out <parquet> [--id id] [--data data] [--every-ms 500]
      |  video-dedup-stream <watchDir> --index <path> --sink <parquet> [--id id] [--data data] [--every-ms 500] [--max-hamming 3] [--min-match 2] [--compact-every N] [--once]
      |  audio-seq-stream <watchDir> --index <path> --sink <parquet> [--id id] [--data data] [--window-ms 250] [--max-hamming 3] [--min-match 2] [--compact-every N] [--once]
      |  profile <srcParquet|profileDir> --out <parquet> [--keys k1,k2] [--text text] [--append] [--batch N] [--merge] [--series [--batch-col c]]
      |  overlap <aParquet> --other <bParquet> [--text text] [--other-text text]""".stripMargin
}
