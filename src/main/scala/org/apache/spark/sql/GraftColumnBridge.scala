package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` Column ↔ Catalyst Expression
  * converters — the standard technique for Spark extension libraries
  * that ship custom expressions (Spark 4 moved Column onto ColumnNode;
  * `classic.ExpressionUtils` is the supported conversion point but is
  * package-private), plus the other `private[spark]` helpers the
  * engine needs. Single shim file; everything else stays in the
  * `graft` packages. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Waits until every listener event posted so far has been delivered
    * (the bus is `private[spark]`): read listener counters after this,
    * never after a sleep. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `schema` with every field nullable, nested fields included — the
    * schema a file source reads back for what was written at `schema`. */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
