package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.GraftExtensions
import graft.ts.{GridSweepStrategy, GroupByRange, TimeSeriesOps}

/** The two ways graft reaches a session it did not build with
  * `GraftSession`: `withExtensions(new GraftExtensions)` (the shape of a
  * `spark.sql.extensions` deployment, with no `registerAll` call), and the
  * driver entry points handed a session with no graft setup at all. Each
  * case builds its own session on the suite's SparkContext. */
class ExtensionsSpec extends SparkTestBase {

  /** Runs `body` on a new session made by `build`, then puts back the
    * suite's active and default sessions. */
  private def withNewSession[A](build: SparkSession.Builder => SparkSession.Builder)(
      body: SparkSession => A): A = {
    spark.sparkContext // the new session must join the suite's context
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    try body(build(SparkSession.builder()).create())
    finally {
      active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      default.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
    }
  }

  test("withExtensions(new GraftExtensions) alone registers the GridDB functions") {
    val q = "SELECT graft_cosine(array(1d, 0d), array(1d, 1d)) AS c, hex_to_dec('ff') AS h"
    withNewSession(identity) { bare =>
      intercept[AnalysisException](bare.sql(q).collect())
    }
    withNewSession(_.withExtensions(new GraftExtensions)) { s =>
      val r = s.sql(q).collect()(0)
      assert(f"${r.getDouble(0)}%.6f" == "0.707107")
      assert(r.getLong(1) == 255L)
    }
  }

  test("SparkEntry runs on a session with no graft setup") {
    withNewSession(identity) { bare =>
      // drop the graft confs the shared context carries, as on a driver's
      // own session
      spark.sparkContext.getConf.getAll.map(_._1)
        .filter(k => k.startsWith("spark.sql.") && bare.conf.isModifiable(k))
        .foreach(bare.conf.unset)
      assert(!bare.conf.get("spark.sql.legacy.parquet.nanosAsLong").toBoolean)
      assert(SparkEntry.entry(bare).count() > 0)
      assert(SparkEntry.queries("q_ts_time_window_agg")(bare, sfDir).count() > 0)
    }
  }

  test("grid sweeps plan on a bare session through prepare, and with the extension alone") {
    val names = Seq("q_ts_time_sampling", "q_ts_range_fill_linear")
    val want = names.map(n => SparkEntry.queries(n)(spark, sfDir).collect().toSeq)
    assert(want.forall(_.nonEmpty))
    withNewSession(identity) { bare =>
      assert(!bare.experimental.extraStrategies.contains(GridSweepStrategy))
      assert(names.map(n => SparkEntry.queries(n)(bare, sfDir).collect().toSeq) == want)
      assert(bare.experimental.extraStrategies.contains(GridSweepStrategy))
    }
    withNewSession(_.withExtensions(new GraftExtensions)) { s =>
      import s.implicits._
      val df = Seq((0L, 1.0), (40L, 5.0), (60L, 9.0)).toDF("sec", "value")
        .select(timestamp_seconds(col("sec")).as("ts"), col("value"))
      val sampled = TimeSeriesOps.timeSampling(df, "ts", "value",
        timestamp_seconds(lit(0L)), timestamp_seconds(lit(60L)), 20L * 1000000L)
      assert(sampled.as[(Long, Double)].collect().toSeq ==
        Seq(0L -> 1.0, 20000L -> 3.0, 40000L -> 5.0, 60000L -> 9.0))
      val filled = GroupByRange(df, "ts", 0L, 60000L, 20000L, Seq(max(col("value")).as("m")),
        GroupByRange.FillLinear)
      assert(filled.as[(Long, Option[Double])].collect().toSeq ==
        Seq(0L -> Some(1.0), 20000L -> Some(3.0), 40000L -> Some(5.0), 60000L -> Some(9.0)))
      assert(!s.experimental.extraStrategies.contains(GridSweepStrategy))
      assert(filled.queryExecution.executedPlan.toString.contains("GridSweep"))
    }
  }
}
