package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.DataType

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * sanctioned-by-convention way for extension libraries to wrap a custom
  * Catalyst Expression as a user-facing Column on Spark 4 (Column itself
  * only exposes ColumnNode) — plus [[kernel]], the one way a static Scala
  * kernel becomes a Column. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `owner.fn(args…)` as one Spark `StaticInvoke`: generated code calls the
    * kernel directly and interpreted `eval` reaches it by reflection, so the
    * two paths cannot drift. Each argument carries the type the kernel
    * takes (a wrong-typed column fails at analysis); a null argument yields
    * null without calling the kernel, and kernels never return null, so the
    * result is nullable exactly when an argument is. `out` is the Catalyst
    * type of the kernel's return value.
    *
    * The rule for `graft.functions`: a kernel is a static method plus one
    * `kernel` call in its wrapper. A Catalyst `Expression` is written only
    * when that is not enough: plan-constant arrays compared by value
    * (`CenterDeflect`, `PqAdc`, `LangOccurrenceScore`), custom null
    * semantics (`VectorDot`), or a registered SQL function
    * (`IcebergBucket`). */
  def kernel(owner: AnyRef, fn: String, out: DataType,
      args: (Column, DataType)*): Column =
    column(StaticInvoke(owner.getClass, out, fn, args.map(a => expression(a._1)),
      args.map(_._2), returnNullable = false))
}
