package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Private-API bridge (the standard pattern for Spark extension
  * libraries, e.g. spark-native connectors and expression packages):
  * `classic.ExpressionUtils` is `private[sql]`, so the Column ⇄
  * Expression conversions needed to expose a custom Catalyst
  * expression through the typed Column API are re-exported from inside
  * the `org.apache.spark.sql` package, as is the DataFrame-over-
  * `InternalRow` constructor the grid ingest emits through. This is
  * the only file outside the `graft` namespace.
  */
package object graftbridge {

  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Unwrap a Column to its analyzed Catalyst expression. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `types.AbstractDataType` is `private[sql]`; expression classes
    * outside the sql package need the alias to implement
    * `ExpectsInputTypes.inputTypes`.
    */
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType

  /** A DataFrame over rows already in Catalyst's internal form (the
    * scan projects each to an UnsafeRow, so a source may reuse one
    * mutable row).
    */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
                              schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
