package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ts.{GridSweepExec, GroupByRange, TimeSeriesOps => T}

/** The grid sweep against the window formulation it replaced. `Reference`
  * keeps that formulation (small-grid TIME_SAMPLING over the cell frame,
  * the GROUP BY RANGE fill over a one-slice grid joined to the broadcast
  * aggregate); every case requires equal schemas and `==` rows. */
class GridSweepSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val Base = 1704067200L // 2024-01-01T00:00:00Z, epoch seconds
  private val schema = StructType(Seq(
    StructField("sec", LongType, nullable = false),
    StructField("value", DoubleType),
    StructField("event_id", LongType, nullable = false)))

  /** (ts, value, event_id) rows at Base + sec seconds. */
  private def series(rows: Seq[(Long, Option[Double])]): DataFrame = {
    val data = rows.zipWithIndex.map { case ((s, v), i) =>
      org.apache.spark.sql.Row(s, v.map(Double.box).orNull, i.toLong) }
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
      .select(timestamp_seconds(lit(Base) + col("sec")).as("ts"), col("value"), col("event_id"))
  }

  /** A random series over [lo, hi] seconds: lattice hits on `every`-second
    * instants, duplicate timestamps, a gap and some null values. */
  private def randomRows(rnd: Random, lo: Long, hi: Long, every: Long, size: Int,
                         nullOneIn: Int = 7): Seq[(Long, Option[Double])] = {
    val gapFrom = lo + rnd.nextInt(math.max(1, (hi - lo).toInt))
    val gapTo = gapFrom + every * (1 + rnd.nextInt(4))
    val times = Seq.fill(size) {
      val t = lo + rnd.nextInt((hi - lo + 1).toInt)
      if (rnd.nextInt(3) == 0) t - Math.floorMod(t, every) else t
    }.filter(t => t < gapFrom || t > gapTo)
    val dups = times.take(size / 8)
    (times ++ dups).map(t =>
      t -> (if (rnd.nextInt(nullOneIn) == 0) None else Some(math.rint(rnd.nextDouble() * 1000) / 8)))
  }

  /** An empty catalog TimeSeries container of the same columns. */
  private lazy val emptyContainer: DataFrame = {
    val cat = new graft.engine.GraftCatalog(spark.newSession())
    cat.createTimeSeries("empty", StructType(Seq(StructField("ts", TimestampType, nullable = false),
      StructField("value", DoubleType), StructField("event_id", LongType, nullable = false))), "ts")
    cat.get("empty").df
  }

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what: schema ${got.schema} vs ${want.schema}")
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g == w, s"$what:\n got ${g.mkString(" ")}\nwant ${w.mkString(" ")}")
  }

  private val us = 1000000L

  /** TIME_SAMPLING(value) and TIME_SAMPLING(*) over [s0, s0 + span] seconds. */
  private def checkSampling(df: DataFrame, s0: Long, span: Long, every: Long, what: String): Unit = {
    val (start, end) = (timestamp_seconds(lit(Base + s0)), timestamp_seconds(lit(Base + s0 + span)))
    val (s0Us, n) = ((Base + s0) * us, span / every)
    assertSame(T.timeSampling(df, "ts", "value", start, end, every * us),
      Reference.sample(df, "ts", Some("value"), s0Us, n, every * us), s"$what interpolate")
    assertSame(T.timeSamplingHold(df, "ts", start, end, every * us),
      Reference.sample(df, "ts", None, s0Us, n, every * us), s"$what hold")
  }

  private def aggs: Seq[Column] = Seq(
    count(col("value")).as("c"), avg(col("value")).as("a"),
    sum(col("value").cast("decimal(12,3)")).as("s"))

  private def checkFill(df: DataFrame, s0: Long, span: Long, every: Long, what: String,
                        aggs: Seq[Column] = aggs): Unit = {
    val (startMs, endMs) = ((Base + s0) * 1000L, (Base + s0 + span) * 1000L)
    Seq(GroupByRange.FillNull, GroupByRange.FillPrevious, GroupByRange.FillLinear).foreach { f =>
      assertSame(GroupByRange(df, "ts", startMs, endMs, every * 1000L, aggs, f),
        Reference.fill(df, "ts", startMs, endMs, every * 1000L, aggs, f), s"$what $f")
    }
  }

  test("sampling: randomized series with ties, exact hits, gaps and nulls equal the window plan") {
    val rnd = new Random(11)
    (0 until 6).foreach { i =>
      val every = 5L + rnd.nextInt(20)
      val span = every * (1 + rnd.nextInt(40))
      val df = series(randomRows(rnd, -3 * every, span + 3 * every, every, 20 + rnd.nextInt(150)))
      checkSampling(df, 0L, span, every, s"seed $i")
    }
  }

  test("sampling edges: data only before or after the grid, n = 0, one row, no rows") {
    val rnd = new Random(12)
    val every = 10L
    checkSampling(series(randomRows(rnd, -500, -1, every, 40)), 0L, 100L, every, "before")
    checkSampling(series(randomRows(rnd, 101, 600, every, 40)), 0L, 100L, every, "after")
    val both = series(randomRows(rnd, -500, -1, every, 20) ++ randomRows(rnd, 101, 600, every, 20))
    checkSampling(both, 0L, 100L, every, "around")
    checkSampling(series(randomRows(rnd, -30, 30, every, 30)), 0L, 0L, every, "n = 0")
    checkSampling(series(Seq(0L -> Some(1.5))), 0L, 0L, every, "one exact row, n = 0")
    checkSampling(series(Seq(35L -> Some(1.5))), 0L, 100L, every, "one row")
    checkSampling(series(Seq(35L -> None, 35L -> Some(2.0), 70L -> None)), 0L, 100L, every, "null values")
    checkSampling(series(Nil), 0L, 100L, every, "no rows")
    checkSampling(emptyContainer, 0L, 100L, every, "empty container")
  }

  test("fill: randomized NULL, PREVIOUS and LINEAR over count, avg and decimal sum equal the window plan") {
    val rnd = new Random(13)
    (0 until 5).foreach { i =>
      val every = 5L + rnd.nextInt(20)
      val span = every * (1 + rnd.nextInt(40))
      // up to every other value null, so some non-empty buckets hold only nulls
      val df = series(randomRows(rnd, -2 * every, span + 2 * every, every, 10 + rnd.nextInt(60), 2 + i))
      checkFill(df, 0L, span, every, s"seed $i")
    }
  }

  test("fill edges: an aggregate null in a non-empty bucket, all-null buckets, n = 0, no rows") {
    val every = 10L
    // bucket 1 has only null values: count 0 keeps it non-empty while avg
    // and sum are null there
    val partlyNull = series(Seq(5L -> Some(1.0), 12L -> None, 15L -> None, 41L -> Some(4.0), 77L -> Some(8.0)))
    checkFill(partlyNull, 0L, 100L, every, "null in a non-empty bucket")
    // without count, the all-null bucket is empty for every fill
    checkFill(partlyNull, 0L, 100L, every, "all-null bucket",
      Seq(avg(col("value")).as("a"), max(col("value")).as("m")))
    checkFill(series(Seq(3L -> Some(2.0))), 0L, 0L, every, "n = 0")
    checkFill(series(Seq(35L -> Some(2.0))), 0L, 100L, every, "one row")
    checkFill(series(Seq(-5L -> Some(2.0), 205L -> Some(3.0))), 0L, 100L, every, "only outside")
    checkFill(series(Nil), 0L, 100L, every, "no rows")
    checkFill(emptyContainer, 0L, 100L, every, "empty container")
  }

  test("the sampling cell frame is bounded by the grid: 100k rows outside a 10-point window") {
    val every = 10L
    val (s0, span) = (0L, 9 * every)
    val outside = spark.range(100000L).select(
      timestamp_seconds(lit(Base) + when(col("id") % 2 === 0, lit(-1L) - col("id"))
        .otherwise(lit(span + 1) + col("id")))
        .as("ts"), (col("id") % 97).cast("double").as("value"), col("id").as("event_id"))
    val inside = series(Seq(15L -> Some(1.0), 40L -> Some(2.0), 40L -> Some(3.0)))
    val df = outside.unionByName(inside)
    checkSampling(df, s0, span, every, "outside rows")
    val sampled = T.timeSampling(df, "ts", "value", timestamp_seconds(lit(Base + s0)),
      timestamp_seconds(lit(Base + s0 + span)), every * us)
    assert(sampled.collect().length == 10)
    val sweeps = collect(sampled.queryExecution.executedPlan) { case g: GridSweepExec => g }
    assert(sweeps.size == 1, sampled.queryExecution.executedPlan.toString)
    val input = sweeps.head.metrics("numInputRows").value
    assert(input > 0 && input <= 9 + 3, s"the sweep read $input cells for n = 9")
    assert(sweeps.head.metrics("numOutputRows").value == 10)
  }

  test("EXPLAIN names the sweep's mode, s0, interval and n") {
    val df = series(Seq(5L -> Some(1.0), 41L -> Some(4.0)))
    val plan = GroupByRange(df, "ts", Base * 1000L, (Base + 100) * 1000L, 10000L,
      Seq(avg(col("value")).as("a")), GroupByRange.FillLinear).queryExecution.executedPlan.toString
    assert(plan.contains(s"GridSweep FILL LINEAR, s0=${Base * 1000L}, interval=10000, n=10"), plan)
  }

  /** The window formulation the sweep replaced, kept as the reference. */
  private object Reference {
    private def usec(c: Column): Column = unix_micros(c)

    def sample(df: DataFrame, tsCol: String, valCol: Option[String], s0Us: Long, n: Long,
               intervalUs: Long): DataFrame = {
      val spark: SparkSession = df.sparkSession
      val held = df.columns.filterNot(_ == tsCol).toSeq
      val pay = valCol match {
        case Some(v) => struct(usec(col(tsCol)).as("t_us"), col(v).cast("double").as("v"))
        case None => struct((usec(col(tsCol)).as("t_us") +: held.map(col)): _*)
      }
      val cells = df.select(usec(col(tsCol)).as("t_us"), pay.as("pay"))
        .withColumn("__j", floor((col("t_us") - lit(s0Us)) / lit(intervalUs.toDouble)).cast("long"))
      val payT = cells.schema("pay").dataType
      val exact = pmod(col("t_us") - lit(s0Us), lit(intervalUs)) === 0
      val cellAgg = cells.groupBy("__j").agg(
        min(col("pay")).as("__first"), max(col("pay")).as("__last"),
        max(when(exact, col("pay"))).as("__exact"))
      val nullRow = lit(null).cast(payT)
      val frame = cellAgg.select(explode(array(
          struct((col("__j") + 1).as("k"), lit(0).as("tie"), col("__last").as("pc"), nullRow.as("nc")),
          struct(col("__j").as("k"), lit(1).as("tie"), col("__exact").as("pc"), col("__first").as("nc"))))
          .as("e"))
        .select(col("e.k").as("k"), col("e.tie").as("tie"),
          col("e.pc").as("pc"), col("e.nc").as("nc"), lit(0).as("is_grid"))
        .unionByName(spark.range(0, n + 1, 1, 1).select(col("id").as("k"), lit(2).as("tie"),
          nullRow.as("pc"), nullRow.as("nc"), lit(1).as("is_grid")))
        .coalesce(1)
      val wP = Window.partitionBy(col("__cpart")).orderBy(col("k").asc, col("tie").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wN = Window.partitionBy(col("__cpart")).orderBy(col("k").desc, col("tie").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val g = frame.withColumn("__cpart", pmod(col("k"), lit(1)))
        .withColumn("p", last(col("pc"), ignoreNulls = true).over(wP))
        .withColumn("nx", last(col("nc"), ignoreNulls = true).over(wN))
        .filter(col("is_grid") === 1 && col("p").isNotNull && col("nx").isNotNull)
      val gUs = lit(s0Us) + col("k") * lit(intervalUs)
      val ts = (gUs / lit(1000)).cast("long").as("ts_ms")
      val (p, nx) = (col("p"), col("nx"))
      val emitted = valCol match {
        case Some(v) =>
          val (pT, pV, nT, nV) = (p.getField("t_us"), p.getField("v"), nx.getField("t_us"), nx.getField("v"))
          Seq(ts, when(nT === pT, pV).otherwise(pV + (nV - pV) *
            ((gUs - pT).cast("double") / (nT - pT).cast("double"))).as(v))
        case None => ts +: held.map(c => p.getField(c).as(c))
      }
      g.select(emitted: _*).orderBy(col("ts_ms"))
    }

    def fill(df: DataFrame, tsCol: String, startMs: Long, endMs: Long, everyMs: Long,
             aggs: Seq[Column], fill: GroupByRange.Fill): DataFrame = {
      val ms = unix_millis(col(tsCol))
      val bucket = (floor((ms - lit(startMs)) / lit(everyMs)) * lit(everyMs) + lit(startMs)).as("ts_ms")
      val agged = df.filter(ms >= startMs && ms <= endMs).groupBy(bucket).agg(aggs.head, aggs.tail: _*)
      val aggNames = agged.columns.filterNot(_ == "ts_ms").toSeq
      val nBuckets = (endMs - startMs) / everyMs + 1
      val grid = df.sparkSession.range(0, nBuckets, 1, 1).select((col("id") * everyMs + startMs).as("ts_ms"))
      val joined = grid.join(broadcast(agged), Seq("ts_ms"), "left")
        .withColumn("__empty", aggNames.map(col(_).isNull).reduce(_ && _))
      fill match {
        case GroupByRange.FillPrevious =>
          val w = Window.partitionBy(pmod(col("ts_ms"), lit(1))).orderBy(col("ts_ms"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          aggNames.foldLeft(joined) { (d, c) =>
            d.withColumn(c, when(col("__empty"),
              last(when(!col("__empty"), col(c)), ignoreNulls = true).over(w)).otherwise(col(c)))
          }.drop("__empty").orderBy(col("ts_ms"))
        case GroupByRange.FillLinear =>
          val base0 = joined.withColumn("__cpart", pmod(col("ts_ms"), lit(1)))
          val wp = Window.partitionBy(col("__cpart")).orderBy(col("ts_ms"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val wn = Window.partitionBy(col("__cpart")).orderBy(col("ts_ms").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val anchorT = when(!col("__empty"), col("ts_ms"))
          val base = base0
            .withColumn("__pt", last(anchorT, ignoreNulls = true).over(wp))
            .withColumn("__nt", last(anchorT, ignoreNulls = true).over(wn))
          aggNames.foldLeft(base) { (d, c) =>
            val pv = last(when(!col("__empty"), col(c)), ignoreNulls = true).over(wp)
            val nv = last(when(!col("__empty"), col(c)), ignoreNulls = true).over(wn)
            d.withColumn(c, when(!col("__empty"), col(c))
              .when(col("__pt").isNotNull && col("__nt").isNotNull,
                pv.cast("double") + (nv.cast("double") - pv.cast("double")) *
                  ((col("ts_ms") - col("__pt")).cast("double") /
                    (col("__nt") - col("__pt")).cast("double")))
              .otherwise(lit(null)))
          }.drop("__empty", "__pt", "__nt", "__cpart").orderBy(col("ts_ms"))
        case _ => joined.drop("__empty").orderBy(col("ts_ms"))
      }
    }
  }
}
