package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge into `private[sql]` surface needed to lift a custom Catalyst
  * Expression into a public `Column` (standard extension-point technique —
  * the alternatives are registering a FunctionBuilder per session or string
  * SQL, both heavier for a library-internal expression). */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` converted all the way to Catalyst, as a SQL function builder must
    * return it: [[expression]] may leave built-in function calls and UDF
    * invocations as pending Column nodes, which only the DataFrame API
    * resolves — in SQL they fail at codegen. */
  def convert(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** Register one SQL function on a live session: the same registry call a
    * session makes for a function injected through `SparkSessionExtensions`. */
  def registerFunction(spark: SparkSession,
                       f: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry.registerFunction(f._1, f._2, f._3)
}
