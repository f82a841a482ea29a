package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the classic Column <-> Catalyst Expression converters and to
  * the float-key normalizer, which Spark 4 keeps `private[sql]`. The
  * standard pattern for libraries that ship native Catalyst expressions
  * (the published Spark ecosystem does the same): one tiny file in the
  * `org.apache.spark.sql` package, no behavior of its own.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** `e` with -0.0 → 0.0 and every NaN made one NaN, at any depth of
    * struct/array nesting; `e` itself when it holds no float or double.
    */
  def normalizeFloats(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)
}
