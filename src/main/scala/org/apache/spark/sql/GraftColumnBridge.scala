package org.apache.spark.sql

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

  /** Register a function builder into an existing session's registry
    * (the post-build counterpart of `SparkSessionExtensions
    * .injectFunction`, which only applies at session build time). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** `schema` with every field nullable, nested fields included — the
    * schema a file source reads back for what was written at `schema`. */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
