package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The `private[sql]` doors graft needs: wrap an analyzer-built
  * [[LogicalPlan]] as a DataFrame so an injected resolution rule (the
  * LATERAL ANN rewrite) can hand it to the batched kernels, and wrap a
  * Catalyst expression as a Column (a typed complex literal the public
  * `lit`/`typedLit` cannot spell). Lives under `org.apache.spark.sql` for
  * access, exposes nothing else. */
object GraftSqlBridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ClassicConversions.ColumnConstructorExt(Column)(e)

  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
