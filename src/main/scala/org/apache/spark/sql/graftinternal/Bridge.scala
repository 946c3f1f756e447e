package org.apache.spark.sql.graftinternal

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.util.Utils

/** Minimal bridge to `private[sql]` Spark surfaces — the whole extent of our
  * reach into Spark internals:
  *
  *   - the Column↔Expression converters, required to expose custom Catalyst
  *     expressions as user-facing Columns in Spark 4 (where
  *     `new Column(expr)` is no longer public);
  *   - the session FunctionRegistry, required to install those expressions
  *     as SQL functions into a LIVE session
  *     ([[graft.GraftExtensions.register]]) — sessions created with
  *     `spark.sql.extensions=graft.GraftExtensions` never need this path;
  *   - the SparkContext's whole set of thread-local properties (job group,
  *     call site, streaming query id, SQL execution id), so work handed to
  *     a pooled thread runs under its submitter's properties
  *     ([[graft.streaming.Streams.writeConcurrently]]).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, id: FunctionIdentifier,
      info: ExpressionInfo, builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)

  /** A copy of the calling thread's local properties. */
  def localProperties(sc: SparkContext): Properties =
    Utils.cloneProperties(sc.getLocalProperties)

  /** Run `body` under (a copy of) `props`, restoring the thread's own. */
  def withLocalProperties[T](sc: SparkContext, props: Properties)(body: => T): T = {
    val saved = sc.getLocalProperties
    sc.setLocalProperties(Utils.cloneProperties(props))
    try body finally sc.setLocalProperties(saved)
  }
}
