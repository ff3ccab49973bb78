package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
import org.apache.spark.sql.types.{AbstractDataType, AnyDataType, ArrayType}

/** Minimal bridge to the `private[sql]` Column <-> Expression converters in
  * Spark 4 (`org.apache.spark.sql.classic.ExpressionUtils`) so the engine's
  * native kernels (e.g. `graft.plans.SimHashOps.simhashExpr`) can be
  * exposed as user-facing `Column`s. Same mechanism Spark's own extensions
  * use; no Spark internals are modified.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Blocks until the async listener bus has delivered every queued event
    * (`SparkContext.listenerBus` is `private[spark]`), so a listener's
    * counters are complete when read.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}

/** The argument types of a higher-order function over one array with one
  * lambda of any result type (`AbstractDataType` and `AnyDataType` are
  * `private[sql]`): `graft.plans.ArrayLoopFn`, which checks the lambda's
  * type itself.
  */
trait ArrayLambdaTypes extends HigherOrderFunction {
  override def argumentTypes: Seq[AbstractDataType] = ArrayType :: Nil
  override def functionTypes: Seq[AbstractDataType] = AnyDataType :: Nil
}
