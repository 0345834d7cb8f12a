package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.engine.{GraftCatalog, GraftSql}
import graft.queries.Registry

/** Generated code is a one-time cost per JVM: once a statement shape has
  * run, running it again — or with different constants — compiles no new
  * class. Compiles are counted as the delta of Spark's
  * `CodegenMetrics.METRIC_COMPILATION_TIME` histogram, which records one
  * sample per Janino compile (a cache miss).
  *
  * Relies on the codegen cache `GraftSession.configure` sizes (Spark's
  * 100-class default evicts most of one analytic pass) and on
  * `BindConstants` (a primitive literal is otherwise spelled into the
  * generated source, so each new time window compiled new classes).
  */
class CodegenReuseSpec extends SparkTestBase {

  /** Spark keys its class cache on the source AND the compiling thread's
    * context class loader, and a pooled thread keeps the loader of the
    * thread that created it. Once an earlier suite has changed the test
    * thread's loader, Spark's SQL execution pools hold threads of two
    * loaders, and whether a broadcast side recompiles depends on which
    * pooled thread picks it up. Pinning every pooled thread to this
    * thread's loader makes each counted compile a cache miss. */
  private def pinPoolLoaders(): Unit = {
    val loader = Thread.currentThread.getContextClassLoader
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => Seq("broadcast-exchange", "shuffle-exchange", "ResultQueryStageExecution",
        "subquery", "dynamicpruning").exists(t.getName.startsWith))
      .foreach(_.setContextClassLoader(loader))
  }

  private def compiles(body: => Unit): Long = {
    pinPoolLoaders()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second pass of the bench queries compiles no class") {
    def pass(): Seq[(String, Long)] = Registry.benchQueries.map { q =>
      q.name -> compiles(q.build(spark, sfDir).write.format("noop").mode("overwrite").save())
    }
    val first = pass().map(_._2).sum
    val second = pass().filter(_._2 > 0)
    info(s"${Registry.benchQueries.size} queries: $first compiles in the first pass")
    assert(second.isEmpty, s"the second pass compiled classes: $second")
  }

  // ---- IoT reads over a catalog TimeSeries container ----

  private val base = Timestamp.valueOf("2024-06-01 00:00:00").getTime
  private def at(k: Long) = new Timestamp(base + k * 1000L)
  private def iso(k: Long) = java.time.Instant.ofEpochMilli(base + k * 1000L).toString
  private def sqlTs(k: Long) = at(k).toString.stripSuffix(".0")

  /** Row k sits at base + k seconds with value k. */
  private lazy val catalog = {
    val cat = GraftCatalog.forSession(spark)
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("value", DoubleType), StructField("status", StringType)))
    cat.createTimeSeries("codegen_reuse", schema, "ts")
    val rows = (0L until 4000L).map(k => Row(at(k), k.toDouble, if (k % 2 == 0) "OK" else "WARN"))
    cat.put("codegen_reuse", spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
    cat
  }

  /** Run `read` over a window starting at second `from`, then over the same
    * window shifted by a minute; returns the compiles of the shifted run. */
  private def shifted[A](from: Long)(read: Long => A)(expect: (Long, A) => Unit): Long = {
    expect(from, read(from))
    var out: A = null.asInstanceOf[A]
    val n = compiles { out = read(from + 60) }
    expect(from + 60, out)
    n
  }

  test("a TIME_SAMPLING read with a shifted window compiles no class") {
    val n = shifted(600L) { from =>
      catalog.tqlQuery("codegen_reuse", s"select TIME_SAMPLING(value, " +
        s"TIMESTAMP('${iso(from)}'), TIMESTAMP('${iso(from + 1800)}'), 1, MINUTE)").collect()
    } { (from, rows) =>
      assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted ==
        (0 to 30).map(i => (at(from + 60L * i).getTime, (from + 60L * i).toDouble)))
    }
    assert(n == 0, s"the shifted TIME_SAMPLING read compiled $n classes")
  }

  test("a GROUP BY RANGE ... FILL (LINEAR) read with a shifted window compiles no class") {
    val n = shifted(600L) { from =>
      GraftSql.sql(spark, s"SELECT ts, avg(value) AS v FROM codegen_reuse WHERE ts BETWEEN " +
        s"TIMESTAMP '${sqlTs(from)}' AND TIMESTAMP '${sqlTs(from + 1800)}' " +
        "GROUP BY RANGE(ts) EVERY (1, MINUTE) FILL (LINEAR)").collect()
    } { (from, rows) =>
      // each minute bucket averages its 60 rows; the last holds one row
      val want = (0 to 30).map(i => if (i < 30) from + 60.0 * i + 29.5 else from + 1800.0)
      assert(rows.map(_.getDouble(1)).toSeq == want)
    }
    assert(n == 0, s"the shifted GROUP BY RANGE read compiled $n classes")
  }

  test("a TQL range read with a shifted window compiles no class") {
    val n = shifted(600L) { from =>
      catalog.tqlQuery("codegen_reuse", s"select * where ts >= TIMESTAMP('${iso(from)}') " +
        s"and ts < TIMESTAMP('${iso(from + 600)}')").collect()
    } { (from, rows) =>
      assert(rows.map(_.getDouble(1)).sorted.toSeq == (from until from + 600).map(_.toDouble))
    }
    assert(n == 0, s"the shifted TQL range read compiled $n classes")
  }
}
