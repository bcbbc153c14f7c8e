package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression conversions —
  * the standard technique Spark connector libraries use to plug custom
  * Catalyst expressions into the public Column API (Spark 4 removed the
  * public `Column.expr` / `new Column(expr)` surface; `ExpressionUtils`
  * is the sanctioned internal replacement). This is the only place the
  * codebase reaches into a non-public Spark API. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** V2 `Column[]` → StructType (private[sql] CatalogV2Util): used by the
    * generated-columns create path, where the column list carries more
    * than the StructType conversion keeps. */
  def columnsToStructType(
      cols: Array[org.apache.spark.sql.connector.catalog.Column])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.connector.catalog.CatalogV2Util
      .v2ColumnsToStructType(cols)

  /** V2 connector Predicate → V1 source Filter (for runtime group
    * filtering: Spark delivers dynamic-pruning predicates as V2
    * Predicates; our pruner evaluates V1 Filters). */
  def predicatesToV1(
      preds: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(preds)

  /** `schema` with every field and nested element nullable
    * (private[spark] `StructType.asNullable`): the schema lake files are
    * written with, as Spark's own file sources do. */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    schema.asNullable
}
