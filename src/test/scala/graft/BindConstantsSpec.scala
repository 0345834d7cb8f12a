package graft

import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, GreaterThan, Literal}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._

import graft.engine.{BindConstants, Container, TimeSeries}
import graft.functions.BoundConstant
import graft.tql.TqlCompiler

/** Edge cases of [[BindConstants]]: a bound constant must behave exactly
  * like the literal it replaces — same values, same errors, same plan
  * text — and never reach a scan's pushed filters. Every expected value
  * below is written by hand. Sources are checkpointed so the optimizer
  * cannot fold the predicates away before the rule sees them.
  */
class BindConstantsSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The bound constants of the plan that ran (or will run). */
  private def bound(df: DataFrame): Seq[BoundConstant] =
    collect(df.queryExecution.executedPlan) { case p: SparkPlan =>
      p.expressions.flatMap(_.collect { case b: BoundConstant => b })
    }.flatten

  /** The error class of the failure `body` raises; the executor's logging
    * of the expected task failures is silenced. */
  private def errorClass(body: => Any): String = {
    spark.sparkContext.setLogLevel("OFF")
    val e = try intercept[Exception](body) finally spark.sparkContext.setLogLevel("WARN")
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case t: SparkThrowable if t.getCondition != null => t.getCondition }
      .getOrElse(fail(s"no error class in $e"))
  }

  test("a null literal stays a literal; a non-null one is bound") {
    val x = AttributeReference("x", IntegerType)()
    val child = spark.range(1).queryExecution.sparkPlan
    def rewritten(cond: Expression): Expression =
      BindConstants(FilterExec(cond, child)).asInstanceOf[FilterExec].condition
    val nullLit = Literal(null, IntegerType)
    assert(rewritten(GreaterThan(x, nullLit)) == GreaterThan(x, nullLit))
    assert(rewritten(GreaterThan(x, Literal(5))) == GreaterThan(x, BoundConstant(5, IntegerType)))
  }

  test("ANSI divide by zero and long overflow raise the same error classes") {
    val ids = spark.range(0, 4).localCheckpoint()
    val div = ids.selectExpr("id / 0 AS q")
    assert(errorClass(div.collect()) == "DIVIDE_BY_ZERO")
    assert(bound(div).nonEmpty, "the divisor was not bound")
    val add = ids.selectExpr("id + 9223372036854775807 AS s")
    assert(errorClass(add.collect()) == "ARITHMETIC_OVERFLOW")
    assert(bound(add).nonEmpty, "the addend was not bound")
  }

  test("comparisons with NaN and -0.0 keep SQL double semantics") {
    val vs = Seq(Double.NaN, -0.0, 0.0, 1.0, -1.0).toDF("v").localCheckpoint()
    def matching(cond: String): Seq[String] = {
      val df = vs.where(cond)
      val out = df.collect().map(_.getDouble(0).toString).toSeq.sorted
      assert(bound(df).nonEmpty, s"$cond: the constant was not bound")
      out
    }
    // NaN equals NaN and sorts above every other double; -0.0 equals 0.0
    assert(matching("v = double('NaN')") == Seq("NaN"))
    assert(matching("v = 0.0D") == Seq("-0.0", "0.0"))
    assert(matching("v = -0.0D") == Seq("-0.0", "0.0"))
    assert(matching("v > 0.0D") == Seq("1.0", "NaN"))
    assert(matching("v < -0.0D") == Seq("-1.0"))
    assert(matching("v * -1.0D >= 1.0D") == Seq("-1.0", "NaN"))
  }

  test("DATE, TIMESTAMP and TIMESTAMP_NTZ operands") {
    val rows = (1 to 4).map { d =>
      (d, Date.valueOf(s"2024-06-0$d"), Timestamp.valueOf(s"2024-06-0$d 12:00:00"),
        LocalDateTime.parse(s"2024-06-0${d}T12:00:00"))
    }
    val t = rows.toDF("id", "d", "ts", "ntz").localCheckpoint()
    def ids(cond: String): Seq[Int] = {
      val df = t.where(cond)
      val out = df.collect().map(_.getInt(0)).toSeq.sorted
      assert(bound(df).nonEmpty, s"$cond: the constant was not bound")
      out
    }
    assert(ids("d >= DATE'2024-06-03'") == Seq(3, 4))
    assert(ids("ts < TIMESTAMP'2024-06-02 12:00:00'") == Seq(1))
    assert(ids("ntz = TIMESTAMP_NTZ'2024-06-02 12:00:00'") == Seq(2))
    assert(ids("ts BETWEEN TIMESTAMP'2024-06-02 00:00:00' AND TIMESTAMP'2024-06-03 23:00:00'") ==
      Seq(2, 3))
  }

  test("EXPLAIN and TQL EXPLAIN show the literal values") {
    val df = spark.range(0, 100).localCheckpoint().where("id > 41").selectExpr("id * 3 AS t")
    assert(df.collect().length == 58)
    assert(bound(df).map(_.value).toSet == Set(41L, 3L))
    val text = df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode
      .fromString("formatted"))
    assert(text.contains("> 41)") && text.contains("* 3)"), text)
    assert(!text.contains("BoundConstant") && !text.contains("boundconstant"), text)

    val ev = graft.engine.Tables.container(spark, sfDir, "events")
    val rows = TqlCompiler.run(ev, "explain analyze select * where value > 100").collect()
    val filter = rows.find(_.getString(2) == "FILTER")
      .getOrElse(fail(rows.map(_.getString(2)).mkString(",")))
    assert(filter.getString(4).contains("> 100.0)"), filter.getString(4))
    assert(!filter.getString(4).contains("BoundConstant"), filter.getString(4))
  }

  test("a parquet-backed TQL range read keeps literal bounds in PushedFilters") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bind_constants").resolve("ts")
    (0 until 100).map(k => (new Timestamp(Timestamp.valueOf("2024-06-01 00:00:00").getTime +
        k * 1000L), k.toDouble)).toDF("ts", "value")
      .write.parquet(dir.toString)
    val c = Container("bind_ts", spark.read.parquet(dir.toString), TimeSeries,
      keyColumns = Seq("ts"), timeColumn = Some("ts"))
    val df = TqlCompiler.run(c, "select * where ts >= TIMESTAMP('2024-06-01T00:00:10Z') " +
      "and ts < TIMESTAMP('2024-06-01T00:00:20Z')")
    assert(df.collect().map(_.getDouble(1)).sorted.toSeq == (10 until 20).map(_.toDouble))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(ts,2024-06-01 00:00:10.0)") &&
      plan.contains("LessThan(ts,2024-06-01 00:00:20.0)"), plan)
    assert(bound(df).nonEmpty, s"the post-scan filter was not bound\n$plan")
  }
}
