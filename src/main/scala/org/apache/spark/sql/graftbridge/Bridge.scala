package org.apache.spark.sql.graftbridge

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedFunction}
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.{ProductEncoder, agnosticEncoderFor}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction}
import org.apache.spark.sql.catalyst.util.toPrettySQL
import org.apache.spark.sql.classic.{ColumnNodeExpression, ExpressionUtils}

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

  /** `c`, to be aggregated over `df`, with every aggregate call in it
    * restricted to the rows where `cond` holds: SQL's
    * `agg(…) FILTER (WHERE cond)`, and-ed with a FILTER the call already
    * has. An unaliased `c` keeps the name Spark would give it unrestricted.
    * A function called by a name that is not a Spark built-in (a registered
    * UDAF, say) cannot be told apart from a scalar one before analysis, so
    * it fails here, naming it, rather than aggregating every row. */
  def filterAggregates(df: DataFrame, c: Column, cond: Column): Column = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val p = session.expression(cond)
    def and(f: Option[Expression]) = Some(f.fold(p)(And(_, p)))
    def restrict(e: Expression): Expression = e match {
      case a: AggregateExpression => a.copy(filter = and(a.filter))
      case a: AggregateFunction => a.toAggregateExpression(false, and(None))
      case f: UnresolvedFunction if isAggregate(f) => f.copy(filter = and(f.filter))
      case ColumnNodeExpression(node) => restrict(session.converter(node))
      case other => other.mapChildren(restrict)
    }
    val e = session.expression(c)
    column(restrict(e) match {
      case named: NamedExpression => named
      case r => Alias(r, toPrettySQL(e))()
    })
  }

  /** A built-in called by name is an aggregate when Spark files it under
    * `agg_funcs` or builds an `AggregateFunction` for it. */
  private def isAggregate(f: UnresolvedFunction): Boolean = {
    val registry = if (f.isInternal) FunctionRegistry.internal else FunctionRegistry.builtin
    val info = f.nameParts match {
      case Seq(name) => registry.lookupFunction(FunctionIdentifier(name))
      case _         => None
    }
    val i = info.getOrElse(throw new IllegalArgumentException(
      s"cannot restrict `${f.nameParts.mkString(".")}` to one input's rows: it is not a Spark " +
        "built-in, so whether it aggregates is unknown before analysis; pass it as an " +
        "aggregate Column (functions.udaf) instead of by name"))
    i.getGroup == "agg_funcs" ||
      Try(classOf[AggregateFunction].isAssignableFrom(Class.forName(i.getClassName))).getOrElse(false)
  }
}
