package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into the `private[sql]` Column <-> Expression conversions
  * (Spark 4 hid `Column.expr` behind `classic.ExpressionUtils`). Needed to
  * register graft's native Catalyst expressions as user-facing Columns. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eagerly convert a Column into a catalyst expression tree. [[expression]]
    * returns a LAZY `ColumnNodeExpression` wrapper, which plan-conversion
    * unwraps — but an expression returned from an injected FUNCTION builder
    * is spliced into the plan directly, where the wrapper survives analysis
    * unresolved-inside and dies at codegen. The eager conversion yields the
    * same `UnresolvedFunction`/lambda nodes the SQL parser would, which the
    * analyzer then resolves normally. */
  def eagerExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Apply a [[SparkSessionExtensions]]' injected functions to an ALREADY
    * RUNNING session's registry (`registerFunctions` is `private[sql]`).
    * The normal path — `spark.sql.extensions=graft.GraftExtensions` at
    * session build — needs no bridge; this serves sessions created before
    * the library was on the classpath (e.g. notebook kernels). */
  def applyFunctionExtensions(ext: SparkSessionExtensions, spark: SparkSession): Unit =
    ext.registerFunctions(
      spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry)
}
