package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` surface: build a [[Column]] from a raw
  * Catalyst [[Expression]] and back. The standard pattern for libraries
  * that ship native expressions (same role as Spark's own
  * `classic.ExpressionUtils`, which is not visible outside `sql`). */
object GraftSql {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a function builder on a live session (FunctionRegistry is
    * private[sql]; SparkSessionExtensions covers session-construction
    * time, this covers already-running sessions). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Parse-only check of SQL text — syntax, not resolution (the
    * declare-time `dbt-parse` lint analogue). Throws Spark's
    * ParseException on bad syntax. `sessionState` is private[sql]. */
  def parse(spark: SparkSession, sql: String): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser
      .parsePlan(sql)

  /** Catalyst's own widest-type resolution, for union null-padding with
    * loose coercion (dbt_utils.union_relations parity). */
  def findTightestCommonType(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType):
      Option[org.apache.spark.sql.types.DataType] =
    org.apache.spark.sql.catalyst.analysis.TypeCoercion.findWiderTypeForTwo(a, b)

  /** Block until `q` has made its sources (or died, rethrowing why). A
    * source reads its session's Hadoop conf when it is made, on the
    * query's thread after `start()` returns; `awaitInitialization` is
    * private[sql]. */
  def awaitSources(q: streaming.StreamingQuery): Unit = q match {
    case w: execution.streaming.runtime.StreamingQueryWrapper =>
      w.streamingQuery.awaitInitialization(Long.MaxValue)
    case _ => ()
  }
}
