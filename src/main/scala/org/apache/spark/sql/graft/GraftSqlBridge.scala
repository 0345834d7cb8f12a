package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.LogicalRDD

/** The `private[sql]` doors graft needs: wrap an analyzer-built
  * [[LogicalPlan]] as a DataFrame so an injected resolution rule (the
  * LATERAL ANN rewrite) can hand it to the batched kernels, wrap a
  * Catalyst expression as a Column (a typed complex literal the public
  * `lit`/`typedLit` cannot spell), and publish a one-partition checkpoint's
  * layout. Lives under `org.apache.spark.sql` for access, exposes nothing
  * else. */
object GraftSqlBridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ClassicConversions.ColumnConstructorExt(Column)(e)

  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A checkpoint whose RDD has one partition, re-published as
    * `SinglePartition`: under AQE the checkpoint's `LogicalRDD` reports
    * `UnknownPartitioning(0)`, so every aggregate or window over it would
    * re-shuffle its one partition. Statistics and constraints carry over;
    * any other frame is returned unchanged. */
  def asSinglePartition(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case r: LogicalRDD if r.rdd.getNumPartitions == 1 && r.outputPartitioning != SinglePartition =>
      val s = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      ofRows(s, r.copy(outputPartitioning = SinglePartition)(s, Some(r.stats), Some(r.constraints)))
    case _ => df
  }
}
