package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column <-> Expression converters (custom
  * Catalyst expressions as Columns) and the `private[spark]` listener-bus
  * drain (a plan capture reads every event its jobs posted). Lives in
  * org.apache.spark.sql purely for access; contains no logic.
  */
object GraftGlue {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def drainListenerBus(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** `AbstractDataType` is `private[sql]` at the Scala level (public in
    * bytecode), so expressions outside this package cannot name it in an
    * `ExpectsInputTypes.inputTypes` signature — this public alias is the
    * sanctioned spelling.
    */
  type SqlAbstractDataType = org.apache.spark.sql.types.AbstractDataType
}
