package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import graft.engine.GraftExtensions

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
}
