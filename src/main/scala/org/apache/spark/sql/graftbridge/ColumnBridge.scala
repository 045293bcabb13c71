package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge.
  *
  * Spark 4 moved the Column/Expression conversion behind
  * `private[sql]` (sql/classic/columnNodeSupport.scala); extension
  * libraries conventionally reach it from a sub-package of
  * org.apache.spark.sql, as [[DatasetBridge]] reaches `Dataset.ofRows`.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `e` with its floating-point parts normalized the way Spark's
    * grouping and equi-join keys are (−0.0 to 0.0, every NaN to one
    * NaN, inside structs and arrays too); `e` itself when it holds none.
    */
  def normalizeFloats(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)
}
