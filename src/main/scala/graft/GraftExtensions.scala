package graft

import org.apache.spark.sql.{GraftColumnBridge, SparkSession, SparkSessionExtensions}

/** Spark-native integration point: enable with
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * and every native graft kernel becomes a SQL function
  * (`SELECT graft_cosine_sim(a.embedding, b.embedding) ...`) compiled into
  * whole-stage codegen — the Catalyst-extension analogue of the reference's
  * in-process function surface. [[GraftExtensions.register]] retrofits a
  * session that was built without the config.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.NativeKernels.sqlFunctions.foreach(ext.injectFunction)
    GraftExtensions.composedFunctions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  /** Register the graft SQL functions on an already-running session. */
  def register(spark: SparkSession): Unit = {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftColumnBridge.applyFunctionExtensions(ext, spark)
  }

  /** Kernels built as Catalyst COLUMN compositions (not single custom
    * expressions), exposed to SQL through the Column<->Expression bridge:
    * the whole composed tree inlines into the caller's plan, so these stay
    * inside whole-stage codegen like the native kernels. */
  private[graft] val composedFunctions = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
    def unary(name: String, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
        : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
      (FunctionIdentifier(name),
        new ExpressionInfo(GraftExtensions.getClass.getCanonicalName, name),
        args => {
          require(args.length == 1, s"$name takes exactly 1 argument, got ${args.length}")
          GraftColumnBridge.eagerExpression(f(GraftColumnBridge.column(args.head)))
        })
    Seq(
      unary("graft_html_to_text", graft.functions.TextKernels.htmlToText),
      unary("graft_normalize_url", graft.functions.TextKernels.normalizeUrl),
      unary("graft_url_host", graft.functions.TextKernels.urlHost))
  }
}
