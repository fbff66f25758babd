package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.{ProductEncoder, agnosticEncoderFor}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to Spark's `private[sql]` Column↔Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`) so graft can register
  * native Catalyst expressions, and to its tuple encoder builder. Lives
  * under `org.apache.spark.sql` purely for access — the standard pattern
  * for Spark extension libraries. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The product encoder `Encoders.tuple` builds, at any width: Spark's
    * public overloads stop at five columns. */
  def tuple[T](encoders: Encoder[_]*): Encoder[T] =
    ProductEncoder.tuple(encoders.map(e => agnosticEncoderFor(e))).asInstanceOf[Encoder[T]]
}
