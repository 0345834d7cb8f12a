package graft

import org.apache.spark.sql.functions._
import graft.ts.{GroupByRange, TimeSeriesOps => T}

class TimeSeriesOpsSpec extends SparkTestBase {
  import spark.implicits._

  // ts at whole seconds from 2024-01-01 00:00:00 UTC (epoch 1704067200)
  private def series(rows: (Long, Double)*) =
    rows.toSeq.toDF("sec", "value")
      .select(timestamp_seconds(lit(1704067200L) + col("sec")).as("ts"),
        col("value"), col("sec").as("event_id"))

  private def at(sec: Long) = timestamp_seconds(lit(1704067200L + sec))

  test("timeNext / timePrev with only-variants") {
    val df = series(0L -> 1.0, 10L -> 2.0, 20L -> 3.0)
    assert(T.timeNext(df, "ts", at(10)).select("value").as[Double].head() == 2.0)
    assert(T.timeNext(df, "ts", at(10), only = true).select("value").as[Double].head() == 3.0)
    assert(T.timePrev(df, "ts", at(10)).select("value").as[Double].head() == 2.0)
    assert(T.timePrev(df, "ts", at(10), only = true).select("value").as[Double].head() == 1.0)
    assert(T.timeNext(df, "ts", at(21)).count() == 0)
  }

  test("timeInterpolated: midpoint, exact hit, out of range") {
    val df = series(0L -> 1.0, 10L -> 3.0)
    val mid = T.timeInterpolated(df, "ts", "value", at(5)).select("value").as[Double].head()
    assert(math.abs(mid - 2.0) < 1e-12)
    val exact = T.timeInterpolated(df, "ts", "value", at(10)).select("value").as[Double].head()
    assert(exact == 3.0)
    assert(T.timeInterpolated(df, "ts", "value", at(11)).count() == 0)
    val quarter = T.timeInterpolated(df, "ts", "value", at(2)).select("value").as[Double].head()
    assert(math.abs(quarter - 1.4) < 1e-12)
  }

  test("timeSampling: grid with interpolation, exact rows, range clipping") {
    val df = series(5L -> 10.0, 15L -> 20.0, 25L -> 30.0)
    val out = T.timeSampling(df, "ts", "value", at(0), at(30), intervalUs = 5000000L)
      .orderBy("ts_ms").select("ts_ms", "value").as[(Long, Double)].collect()
    // grid 0,5,..,30 s; points before 5s and after 25s are dropped
    val base = 1704067200000L
    assert(out.map(_._1).toSeq == Seq(5000L, 10000L, 15000L, 20000L, 25000L).map(_ + base))
    assert(out.map(_._2).toSeq == Seq(10.0, 15.0, 20.0, 25.0, 30.0))
  }

  test("timeSamplingEmpty: exact hits, NULL fills, range clip, empty+keyed+tie rules") {
    val df = series(5L -> 10.0, 15L -> 20.0, 25L -> 30.0)
    val out = T.timeSamplingEmpty(df, "ts", "value", at(0), at(30), intervalUs = 5000000L)
      .orderBy("ts_ms").select("ts_ms", "value").as[(Long, Option[Double])].collect()
    val base = 1704067200000L
    // same in-range rule as the linear form; NO interpolation at 10/20s
    assert(out.map(_._1).toSeq == Seq(5000L, 10000L, 15000L, 20000L, 25000L).map(_ + base))
    assert(out.map(_._2).toSeq == Seq(Some(10.0), None, Some(20.0), None, Some(30.0)))
    // start later than end: all rows excluded (TimeSeries.java:495)
    assert(T.timeSamplingEmpty(df, "ts", "value", at(30), at(0), 5000000L).count() == 0)
    // ties at one instant resolve to the greatest value (bracketing rule)
    val tied = series(5L -> 1.0, 5L -> 9.0)
    assert(T.timeSamplingEmpty(tied, "ts", "value", at(5), at(5), 1000000L)
      .select("value").as[Double].head() == 9.0)
    // keyed: per-series clipping and fills
    val keyed = Seq(("a", 0L, 1.0), ("a", 10L, 2.0), ("b", 5L, 7.0))
      .toDF("k", "sec", "value")
      .select(col("k"), timestamp_seconds(lit(1704067200L) + col("sec")).as("ts"), col("value"))
    val kOut = T.timeSamplingEmpty(keyed, "ts", "value", at(0), at(10), 5000000L, keys = Seq("k"))
      .orderBy("k", "ts_ms").select("k", "ts_ms", "value")
      .as[(String, Long, Option[Double])].collect()
    assert(kOut.toSeq == Seq(
      ("a", base, Some(1.0)), ("a", base + 5000L, None), ("a", base + 10000L, Some(2.0)),
      ("b", base + 5000L, Some(7.0))))
  }

  test("timeSamplingEmptyAll: full row image on hits, all-NULL image on misses") {
    val df = series(5L -> 10.0, 15L -> 20.0)
    val out = T.timeSamplingEmptyAll(df, "ts", at(5), at(15), intervalUs = 5000000L)
      .orderBy("ts_ms")
      .select("ts_ms", "value", "event_id")
      .as[(Long, Option[Double], Option[Long])].collect()
    val base = 1704067200000L
    assert(out.map(_._1).toSeq == Seq(5000L, 10000L, 15000L).map(_ + base))
    // hits carry EVERY non-key field; the miss at 10s is all-NULL
    assert(out.map(_._2).toSeq == Seq(Some(10.0), None, Some(20.0)))
    assert(out.map(_._3).toSeq == Seq(Some(5L), None, Some(15L)))
  }

  /** GridSweep nodes and Window nodes in the executed plan. */
  private def sweepsAndWindows(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan.toString
    (plan.split("GridSweep", -1).length - 1, plan.split("Window", -1).length - 1)
  }

  test("timeSampling: one GridSweep at n = 10,001, literal bounds only") {
    val df = series(0L -> 1.0, 7L -> 2.0, 40003L -> 3.0)
    // the grid size the chunked plan used to take over from the sweep
    val sampled = T.timeSampling(df, "ts", "value", at(0), at(40004), intervalUs = 4000000L)
    assert(sweepsAndWindows(sampled) == (1, 0), sampled.queryExecution.executedPlan.toString)
    assert(sampled.count() == 10001)
    // non-literal bounds are rejected before any job
    intercept[IllegalArgumentException](T.timeSampling(df, "ts", "value",
      timestamp_seconds(lit(1704067210L) + (rand() * 0).cast("long")), at(2500), 4000000L))
  }

  test("GroupByRange fill: one GridSweep, no Window, at n = 6 and 10,001") {
    val base = 1704067200000L
    val df = series(10L -> 2.0, 44L -> 8.0)
    val small = GroupByRange(df, "ts", base, base + 60000L, 10000L,
      Seq(avg(col("value")).as("v")), GroupByRange.FillLinear)
    assert(sweepsAndWindows(small) == (1, 0), small.queryExecution.executedPlan.toString)
    val big = GroupByRange(df, "ts", base, base + 20000L * 10001L, 20000L,
      Seq(avg(col("value")).as("v")), GroupByRange.FillPrevious)
    assert(sweepsAndWindows(big) == (1, 0), big.queryExecution.executedPlan.toString)
  }

  test("timeAvg: trapezoid-equivalent weighting") {
    // rows at 0, 10, 40 s: weights 5, 20, 15 -> (1*5+2*20+3*15)/40 = 2.25
    val df = series(0L -> 1.0, 10L -> 2.0, 40L -> 3.0)
    val got = T.timeAvg(df, "ts", "value").as[Double].head()
    assert(math.abs(got - 2.25) < 1e-12)
    // single row -> plain value
    assert(T.timeAvg(series(7L -> 9.5), "ts", "value").as[Double].head() == 9.5)
  }

  test("extremeRows returns all tied rows") {
    val df = series(0L -> 5.0, 10L -> 9.0, 20L -> 9.0, 30L -> 1.0)
    val mx = T.extremeRows(df, "value", isMax = true).select("event_id")
      .as[Long].collect().sorted
    assert(mx.toSeq == Seq(10L, 20L))
    val mn = T.extremeRows(df, "value", isMax = false).select("event_id").as[Long].collect()
    assert(mn.toSeq == Seq(30L))
  }

  test("GroupByRange fill modes incl. leading/trailing gap semantics") {
    val base = 1704067200000L
    // buckets of 10s over [0, 60s]: data in buckets 1 (v=2), 4 (v=8)
    val df = series(10L -> 2.0, 44L -> 8.0)
    def run(fill: GroupByRange.Fill) =
      GroupByRange(df, "ts", base, base + 60000L, 10000L,
        Seq(avg(col("value")).as("v")), fill)
        .select("ts_ms", "v").as[(Long, Option[Double])].collect()
        .sortBy(_._1).map { case (t, v) => ((t - base) / 10000L, v) }

    assert(run(GroupByRange.FillNone).toSeq == Seq(1L -> Some(2.0), 4L -> Some(8.0)))
    assert(run(GroupByRange.FillNull).toSeq == Seq(
      0L -> None, 1L -> Some(2.0), 2L -> None, 3L -> None,
      4L -> Some(8.0), 5L -> None, 6L -> None))
    assert(run(GroupByRange.FillPrevious).toSeq == Seq(
      0L -> None, 1L -> Some(2.0), 2L -> Some(2.0), 3L -> Some(2.0),
      4L -> Some(8.0), 5L -> Some(8.0), 6L -> Some(8.0)))
    assert(run(GroupByRange.FillLinear).toSeq == Seq(
      0L -> None, 1L -> Some(2.0), 2L -> Some(4.0), 3L -> Some(6.0),
      4L -> Some(8.0), 5L -> None, 6L -> None))
  }

  test("timeWindowAgg buckets align to epoch") {
    val df = series(0L -> 1.0, 30L -> 3.0, 61L -> 5.0)
    val out = T.timeWindowAgg(df, "ts", "1 minute", Seq(count(lit(1)).as("n")))
      .orderBy("bucket_ms").select("n").as[Long].collect()
    assert(out.toSeq == Seq(2L, 1L))
  }

  test("asOfJoin: backward/forward, keyed, exact-tie, unmatched, tolerance") {
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val probe = Seq((1L, "a", ts(10)), (2L, "a", ts(30)), (3L, "b", ts(10)),
      (4L, "b", ts(5)), (5L, "c", ts(10)))
      .toDF("id", "k", "ts")
    val series = Seq(("a", ts(9), 1.0), ("a", ts(10), 2.0), ("a", ts(25), 3.0),
      ("b", ts(7), 4.0), ("b", ts(11), 5.0))
      .toDF("k", "ts", "v")
      .select($"k", $"ts", $"ts".as("m_ts"), $"v".as("m_v"))

    val back = T.asOfJoin(probe, series, Seq("k"), "ts", "ts")
      .select("id", "m_v").as[(Long, Option[Double])].collect().toMap
    // exact tie matches (id 1 at 10 -> series at 10); latest wins (id 2 -> 25)
    assert(back == Map(1L -> Some(2.0), 2L -> Some(3.0), 3L -> Some(4.0),
      4L -> None, 5L -> None))

    val fwd = T.asOfJoin(probe, series, Seq("k"), "ts", "ts", forward = true)
      .select("id", "m_v").as[(Long, Option[Double])].collect().toMap
    assert(fwd == Map(1L -> Some(2.0), 2L -> None, 3L -> Some(5.0),
      4L -> Some(4.0), 5L -> None))

    // tolerance: id 2's match at 25 is 5 min back -> survives "10 minutes",
    // dies at "2 minutes"; matched rows keep their id column intact
    val tol = T.asOfJoin(probe, series, Seq("k"), "ts", "ts",
        tolerance = Some("2 minutes"))
      .select("id", "m_v").as[(Long, Option[Double])].collect().toMap
    assert(tol(1L) == Some(2.0) && tol(2L).isEmpty && tol(3L).isEmpty)

    // a null payload in the MATCHED row must stay null — not fall through
    // to an older row's value (join semantics, like DuckDB ASOF)
    val s2 = Seq(("a", ts(1), Some(5.0)), ("a", ts(2), None))
      .toDF("k", "ts", "v").select($"k", $"ts", $"v".as("m_v"))
    val p2 = Seq((1L, "a", ts(3))).toDF("id", "k", "ts")
    val got = T.asOfJoin(p2, s2, Seq("k"), "ts", "ts")
      .select("id", "m_v").as[(Long, Option[Double])].collect().toMap
    assert(got(1L).isEmpty, s"null payload leaked an older row's value: $got")
  }

  test("asOfJoin unkeyed: chunked path matches keyed reference across day boundaries") {
    def ts(hour: Long) = new java.sql.Timestamp(hour * 3600000L)
    val rnd = new scala.util.Random(5)
    // probes/series spread over ~6 days; whole days with no series rows force
    // cross-chunk carries
    val probe = (1 to 120).map(i => (i.toLong, ts(rnd.nextInt(144).toLong)))
      .toDF("id", "ts")
    val series = (1 to 25).map { i =>
      val h = rnd.nextInt(144)
      (ts((if (h / 24 == 2) h + 24 else h).toLong), i.toDouble) // day 2 empty
    }.toDF("ts", "v").select($"ts", $"ts".as("m_ts"), $"v".as("m_v"))

    for (fwd <- Seq(false, true)) {
      val unkeyed = T.asOfJoin(probe, series, Nil, "ts", "ts", forward = fwd)
        .select("id", "m_v").as[(Long, Option[Double])].collect().toMap
      val keyed = T.asOfJoin(probe.withColumn("k", lit(1)),
          series.withColumn("k", lit(1)), Seq("k"), "ts", "ts", forward = fwd)
        .select("id", "m_v").as[(Long, Option[Double])].collect().toMap
      assert(unkeyed == keyed, s"forward=$fwd")
      assert(unkeyed.values.exists(_.isDefined) && unkeyed.values.exists(_.isEmpty))
    }
    // and the unkeyed plan must not contain an unpartitioned window
    val plan = T.asOfJoin(probe, series, Nil, "ts", "ts")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("__chunk"))
  }

  test("RangeJoin.intervalJoin equals the naive BETWEEN join") {
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val rnd = new scala.util.Random(11)
    val pts = (1 to 200).map(i => (i.toLong, s"k${rnd.nextInt(3)}", ts(rnd.nextInt(600))))
      .toDF("pid", "k", "pts_ts")
    val ivs = (1 to 40).map { i =>
      val s = rnd.nextInt(550); (i.toLong, s"k${rnd.nextInt(3)}", ts(s), ts(s + rnd.nextInt(90)))
    }.toDF("iid", "k", "s", "e")

    val fast = graft.ts.RangeJoin.intervalJoin(pts, "pts_ts", ivs, "s", "e",
        keys = Seq("k"), bucket = "30 minutes")
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val naive = pts.join(ivs, Seq("k"))
      .filter($"pts_ts" >= $"s" && $"pts_ts" <= $"e")
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(fast == naive && naive.nonEmpty)

    // bucket boundary inclusivity: point exactly at start and at end
    val p2 = Seq((1L, "a", ts(60)), (2L, "a", ts(120))).toDF("pid", "k", "pts_ts")
    val i2 = Seq((9L, "a", ts(60), ts(120))).toDF("iid", "k", "s", "e")
    val hits = graft.ts.RangeJoin.intervalJoin(p2, "pts_ts", i2, "s", "e",
        keys = Seq("k"), bucket = "1 hour")
      .select("pid").as[Long].collect().toSet
    assert(hits == Set(1L, 2L))
  }

  test("sessionize: strict-gap boundary, keyed and unkeyed, tie-break") {
    // gaps: 10s (in), exactly 30s (in — strict >), 31s (new session)
    val df = series(0L -> 1.0, 10L -> 2.0, 40L -> 3.0, 71L -> 4.0)
    val ids = T.sessionize(df, "ts", gapMs = 30000L, tieBreak = Seq("event_id"))
      .orderBy("ts").select("session_id").as[Long].collect().toSeq
    assert(ids == Seq(1L, 1L, 1L, 2L))

    // keyed: each key's chain restarts at 1, sessions never cross keys
    val keyed = Seq(("a", 0L), ("a", 100L), ("b", 5L), ("b", 10L))
      .toDF("k", "sec")
      .select(col("k"), timestamp_seconds(lit(1704067200L) + col("sec")).as("ts"),
        col("sec").as("event_id"))
    val got = T.sessionize(keyed, "ts", gapMs = 30000L,
        keys = Seq("k"), tieBreak = Seq("event_id"))
      .orderBy("k", "ts").select("k", "session_id").as[(String, Long)].collect().toSeq
    assert(got == Seq("a" -> 1L, "a" -> 2L, "b" -> 1L, "b" -> 1L))

    // simultaneous rows tie-break on event_id; zero gap stays in-session
    val ties = series(0L -> 1.0, 0L -> 2.0, 50L -> 3.0)
    val n = T.sessionize(ties, "ts", gapMs = 30000L, tieBreak = Seq("event_id"))
      .select(max(col("session_id"))).as[Long].head()
    assert(n == 2L)
  }
}
