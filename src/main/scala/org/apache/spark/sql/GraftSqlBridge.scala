package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column ↔ Expression converters, the
  * standard pattern for libraries that ship custom Catalyst expressions
  * (Spark 4 removed the public `new Column(expr)` / `Column.expr` surface).
  * Keep this the ONLY file inside the spark namespace.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The DIVIDE_BY_ZERO error ANSI-mode `Divide` raises, for native
    * expressions that replace a division.
    */
  def divideByZero(): ArithmeticException =
    errors.QueryExecutionErrors.divideByZeroError(null)

  /** Drop RDD `id`'s blocks, blocking, through `SparkContext.unpersistRDD`
    * (`private[spark]`): what `RDD.unpersist` does, without the WARN that
    * wrapper logs for every locally checkpointed RDD. The RDD object keeps
    * its storage level, so call it only for RDDs no live frame reads again.
    */
  def unpersistRDD(spark: SparkSession, id: Int): Unit =
    spark.sparkContext.unpersistRDD(id, blocking = true)

  /** A 1-row/1-column DataFrame as a scalar-subquery Column — how
    * Catalyst's own `InjectRuntimeFilter` feeds a bloom sketch to
    * `might_contain` (which requires a constant or scalar subquery, not a
    * joined column).
    */
  def scalarSubquery(df: Dataset[Row]): Column =
    ExpressionUtils.column(catalyst.expressions.ScalarSubquery(
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed))

  /** Rebind a DataFrame's logical plan to another session (same
    * SparkContext) — lets a writer scope session confs (e.g. AQE advisory
    * partition size) to a cloned session instead of mutating the caller's.
    * Uses the ANALYZED plan, not the raw logical one: temp views are
    * session-scoped and not inherited by `newSession`, so re-analyzing an
    * unresolved plan on the clone would throw AnalysisException for any
    * DataFrame built over a caller-session view; the analyzed plan carries
    * its relations already resolved.
    */
  def onSession(df: Dataset[Row], spark: SparkSession): Dataset[Row] =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed)
}
