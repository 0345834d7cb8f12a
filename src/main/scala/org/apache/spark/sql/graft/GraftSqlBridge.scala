package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.{InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.LocalTempView
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, ExpressionSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.command.CreateViewCommand

/** The `private[sql]` doors graft needs: wrap an analyzer-built
  * [[LogicalPlan]] as a DataFrame so an injected resolution rule (the
  * LATERAL ANN rewrite) can hand it to the batched kernels, wrap a
  * Catalyst expression as a Column (a typed complex literal the public
  * `lit`/`typedLit` cannot spell), publish a one-partition checkpoint's
  * layout or the catalog's append of a run to it, and register a temp view
  * without an SQL execution. Lives under `org.apache.spark.sql` for access,
  * exposes nothing else. */
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

  /** `stored` re-published over `rdd` (one partition) as `SinglePartition`
    * with the given output, ordering and statistics, and no constraints:
    * the catalog's append path, whose appended rows need not satisfy the
    * constraints the stored rows were checkpointed with. */
  def republish(spark: org.apache.spark.sql.SparkSession, stored: LogicalRDD,
                rdd: RDD[InternalRow], output: Seq[Attribute], ordering: Seq[SortOrder],
                stats: Statistics): DataFrame = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ofRows(s, stored.copy(output = output, rdd = rdd, outputPartitioning = SinglePartition,
      outputOrdering = ordering)(s, Some(stats), Some(ExpressionSet())))
  }

  /** Create or replace temp view `name` over `df` by running Spark's own
    * view command directly, as `createOrReplaceTempView` builds it: that
    * method runs the command as an SQL execution (an execution id, listener
    * events) for what is an update of the session's view map. */
  def replaceTempView(df: DataFrame, name: String): Unit = {
    CreateViewCommand(TableIdentifier(name), Nil, None, None, Map.empty, None,
      df.queryExecution.analyzed, allowExisting = false, replace = true, LocalTempView,
      isAnalyzed = true).run(df.sparkSession)
    ()
  }
}
