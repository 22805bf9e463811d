package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.ObjectType

/** A column holding a driver object as a plan literal, for a native
  * kernel argument that is neither a column nor a SQL value (e.g. a
  * [[graft.functions.Bm25Handle]] around a broadcast). Spark keeps the
  * expression-to-column bridge package-private, hence this package. */
object ObjectLiteral {
  def apply(value: AnyRef): Column =
    ExpressionUtils.column(Literal(value, ObjectType(value.getClass)))
}
