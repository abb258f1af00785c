package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType}

/** Minimal bridge to the `private[sql]` Column⇄Expression converters —
  * the supported way for a library to wrap its own native Catalyst
  * expressions as `Column`s without registering a SQL function first —
  * plus the `private[sql]` input-type vocabulary a native expression
  * declares. Nothing else from Spark internals is touched.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** An accepted argument type: one [[DataType]] or [[AnyOf]] several. */
  type InputType = AbstractDataType

  /** Accepts any of `types` — Spark's `TypeCollection`, but
    * serializable and value-equal, so it can sit in a plan's fields.
    */
  final case class AnyOf(types: DataType*) extends AbstractDataType {
    override private[sql] def defaultConcreteType: DataType = types.head
    override private[sql] def acceptsType(other: DataType): Boolean =
      types.exists(_.acceptsType(other))
    override private[sql] def simpleString: String =
      types.map(_.simpleString).mkString("(", " or ", ")")
  }
}
