package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ts.{GridSweepExec, GroupByRange, TimeSeriesOps => T}

/** The grid sweep against the formulations it replaced. `Reference` keeps
  * them: small-grid TIME_SAMPLING over the cell frame, the GROUP BY RANGE
  * fill over a one-slice grid joined to the broadcast aggregate, the keyed
  * bracketing and fill windows, the EMPTY grid join and the chunk-and-stitch
  * plans for large unkeyed grids. Every case requires equal schemas and
  * `==` rows. */
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

  /** (k, ts, value, event_id): one series per key, None a null key. */
  private def keyed(parts: (Option[String], Seq[(Long, Option[Double])])*): DataFrame =
    parts.map { case (k, rows) =>
      series(rows).select(lit(k.orNull).cast("string").as("k"), col("ts"), col("value"), col("event_id"))
    }.reduce(_ unionByName _)

  private def bounds(s0: Long, span: Long): (Column, Column) =
    (timestamp_seconds(lit(Base + s0)), timestamp_seconds(lit(Base + s0 + span)))

  private def checkKeyedSampling(df: DataFrame, s0: Long, span: Long, every: Long, what: String): Unit = {
    val (start, end) = bounds(s0, span)
    assertSame(T.timeSampling(df, "ts", "value", start, end, every * us, Seq("k")),
      Reference.keyedSample(df, "ts", Some("value"), start, end, every * us, Seq("k")), s"$what interpolate")
    assertSame(T.timeSamplingHold(df, "ts", start, end, every * us, Seq("k")),
      Reference.keyedSample(df, "ts", None, start, end, every * us, Seq("k")), s"$what hold")
  }

  private def checkEmpty(df: DataFrame, s0: Long, span: Long, every: Long, keys: Seq[String],
                         what: String): Unit = {
    val (start, end) = bounds(s0, span)
    assertSame(T.timeSamplingEmpty(df, "ts", "value", start, end, every * us, keys),
      Reference.empty(df, "ts", Some("value"), start, end, every * us, keys), s"$what EMPTY")
    assertSame(T.timeSamplingEmptyAll(df, "ts", start, end, every * us, keys),
      Reference.empty(df, "ts", None, start, end, every * us, keys), s"$what EMPTY star")
  }

  private val fills = Seq(GroupByRange.FillNull, GroupByRange.FillPrevious, GroupByRange.FillLinear)

  test("keyed sampling, both forms, equals the keyed window plan; a null key is one series") {
    val rnd = new Random(14)
    (0 until 3).foreach { i =>
      val every = 5L + rnd.nextInt(20)
      val span = every * (1 + rnd.nextInt(40))
      def rows(size: Int) = randomRows(rnd, -3 * every, span + 3 * every, every, size)
      val df = keyed(Some("a") -> rows(80), Some("b") -> rows(20), Some("c") -> Seq(1L -> Some(4.0)),
        Some("d") -> randomRows(rnd, span + 1, span + 9 * every, every, 10), None -> rows(30))
      checkKeyedSampling(df, 0L, span, every, s"seed $i")
    }
  }

  test("EMPTY and EMPTY star, keyed and unkeyed, equal the grid join") {
    val rnd = new Random(15)
    (0 until 3).foreach { i =>
      val every = 5L + rnd.nextInt(20)
      val span = every * (1 + rnd.nextInt(40))
      def rows(size: Int) = randomRows(rnd, -3 * every, span + 3 * every, every, size)
      checkEmpty(series(rows(100)), 0L, span, every, Nil, s"seed $i")
      val df = keyed(Some("a") -> rows(80), Some("b") -> rows(20), Some("c") -> Seq(1L -> Some(4.0)),
        Some("d") -> randomRows(rnd, span + 1, span + 9 * every, every, 10))
      checkEmpty(df, 0L, span, every, Seq("k"), s"keyed seed $i")
    }
    checkEmpty(series(Nil), 0L, 100L, 10L, Nil, "no rows")
    checkEmpty(emptyContainer, 0L, 100L, 10L, Nil, "empty container")
  }

  test("keyed FILL NULL, PREVIOUS and LINEAR equal the keyed window plan, a key with no row in range included") {
    val rnd = new Random(16)
    (0 until 3).foreach { i =>
      val every = 5L + rnd.nextInt(20)
      val span = every * (1 + rnd.nextInt(40))
      def rows(size: Int) = randomRows(rnd, -2 * every, span + 2 * every, every, size, 2 + i)
      val df = keyed(Some("a") -> rows(60), Some("b") -> rows(10),
        Some("out") -> Seq(-2 * every -> Some(1.0), span + every -> Some(2.0)))
      val (startMs, endMs) = (Base * 1000L, (Base + span) * 1000L)
      fills.foreach { f =>
        val got = GroupByRange(df, "ts", startMs, endMs, every * 1000L, aggs, f, Seq("k"))
        assertSame(got, Reference.keyedFill(df, "ts", startMs, endMs, every * 1000L, aggs, f, Seq("k")),
          s"seed $i $f")
        assert(got.filter(col("k") === "out").count() == span / every + 1, s"seed $i $f: the out-of-range key")
      }
    }
    // a null key is one series, as in GROUP BY: its grid is the unkeyed fill of its rows
    val rows = Seq(5L -> Some(1.0), 41L -> Some(4.0), 77L -> Some(8.0))
    fills.foreach { f =>
      val got = GroupByRange(keyed(Some("a") -> rows, None -> rows), "ts", Base * 1000L, (Base + 100) * 1000L,
        10000L, aggs, f, Seq("k")).filter(col("k").isNull).drop("k")
      assertSame(got, GroupByRange(series(rows), "ts", Base * 1000L, (Base + 100) * 1000L, 10000L, aggs, f),
        s"null key $f")
    }
  }

  test("unkeyed grids of n = 10,001 and 50,000 equal the chunked stitch") {
    val rnd = new Random(17)
    Seq(10001L, 50000L).foreach { n =>
      val every = 2L
      val span = n * every
      val df = series(randomRows(rnd, -10, span + 10, every, 3000))
      val (start, end) = bounds(0L, span)
      assertSame(T.timeSampling(df, "ts", "value", start, end, every * us),
        Reference.chunkedSample(df, "ts", Some("value"), start, end, every * us), s"n = $n interpolate")
      assertSame(T.timeSamplingHold(df, "ts", start, end, every * us),
        Reference.chunkedSample(df, "ts", None, start, end, every * us), s"n = $n hold")
      val (startMs, endMs) = (Base * 1000L, (Base + span) * 1000L)
      fills.foreach { f =>
        assertSame(GroupByRange(df, "ts", startMs, endMs, every * 1000L, aggs, f),
          Reference.chunkedFill(df, "ts", startMs, endMs, every * 1000L, aggs, f), s"n = $n $f")
      }
    }
  }

  test("sampling: an irregular 900-row series over 623 grid points equals the window plan and the chunked stitch") {
    val rnd = new Random(7)
    val rows = (0 until 900).map(i =>
      (i * 3L + (if (rnd.nextBoolean()) 0L else rnd.nextInt(2) + 1L)) -> Some(rnd.nextDouble()))
      .distinctBy(_._1)
    val df = series(rows)
    checkSampling(df, 10L, 2490L, 4L, "irregular")
    val (start, end) = bounds(10L, 2490L)
    assertSame(T.timeSampling(df, "ts", "value", start, end, 4 * us),
      Reference.chunkedSample(df, "ts", Some("value"), start, end, 4 * us), "irregular, chunked")
  }

  test("start later than end by less than one interval gives no grid point") {
    // rows at 0, 10 and 30 s; start 12 s, end 9 s, a 5 s grid
    val df = series(Seq(0L -> Some(1.0), 10L -> Some(2.0), 30L -> Some(4.0)))
    val (start, end) = (timestamp_seconds(lit(Base + 12)), timestamp_seconds(lit(Base + 9)))
    assert(T.timeSampling(df, "ts", "value", start, end, 5 * us).collect().isEmpty)
    assert(T.timeSamplingHold(df, "ts", start, end, 5 * us).collect().isEmpty)
    assert(T.timeSamplingEmpty(df, "ts", "value", start, end, 5 * us).collect().isEmpty)
    assert(T.timeSamplingEmptyAll(df, "ts", start, end, 5 * us).collect().isEmpty)
    fills.foreach { f =>
      assert(GroupByRange(df, "ts", (Base + 12) * 1000L, (Base + 9) * 1000L, 5000L,
        Seq(avg(col("value")).as("a")), f).collect().isEmpty, f.toString)
    }
    df.createOrReplaceTempView("grid_sweep_reversed")
    val sql = graft.engine.GraftSql.sql(spark,
      """SELECT ts, avg(value) AS a FROM grid_sweep_reversed
        |WHERE ts > TIMESTAMP '2024-01-01 00:00:05' AND ts < TIMESTAMP '2024-01-01 00:00:05.001'
        |GROUP BY RANGE(ts) EVERY (5, SECOND) FILL (NULL)""".stripMargin)
    assert(sql.collect().isEmpty, sql.collect().mkString(" "))
  }

  test("FILL (LINEAR) reads a string aggregate as a double and rejects other non-numeric ones") {
    val (startMs, endMs, every) = (Base * 1000L, (Base + 30) * 1000L, 10000L)
    def fillMax(df: DataFrame): DataFrame =
      GroupByRange(df, "ts", startMs, endMs, every, Seq(max(col("x")).as("m")), GroupByRange.FillLinear)
    val strings = series(Seq(0L -> None, 30L -> None)).select(col("ts"),
      when(col("ts") === timestamp_seconds(lit(Base)), lit("1.5")).otherwise(lit("4.5")).as("x"))
    val filled = fillMax(strings)
    assert(filled.schema("m").dataType == DoubleType)
    assert(filled.collect().toSeq.map(r => r.getDouble(1)) == Seq(1.5, 2.5, 3.5, 4.5))
    val malformed = fillMax(strings.select(col("ts"), lit("x1").as("x")))
    val failure = intercept[Exception](malformed.collect())
    assert(Iterator.iterate[Throwable](failure)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("CAST_INVALID_INPUT")), failure.toString)
    Seq(col("ts"), lit(true), to_date(col("ts"))).foreach { x =>
      // the frame is never built, so no job runs
      val e = intercept[org.apache.spark.sql.AnalysisException](fillMax(strings.select(col("ts"), x.as("x"))))
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), e.getMessage)
    }
  }

  /** The formulations the sweep replaced, kept as references. */
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
    private def bracket(all: DataFrame, wAsc: WindowSpec, wDesc: WindowSpec): DataFrame = {
      val dataPay = when(col("is_grid") === 0, col("pay"))
      all.withColumn("p", last(dataPay, ignoreNulls = true).over(wAsc))
        .withColumn("nx", last(dataPay, ignoreNulls = true).over(wDesc))
        .filter(col("is_grid") === 1 && col("p").isNotNull && col("nx").isNotNull)
    }

    /** The bracketing payload and the emitted columns for (grid µs, prev, next). */
    private def payEmit(df: DataFrame, tsCol: String, valCol: Option[String],
                        keys: Seq[String]): (Column, (Column, Column, Column) => Seq[Column]) = valCol match {
      case Some(v) =>
        (struct(usec(col(tsCol)).as("t_us"), col(v).cast("double").as("v")), (g, p, n) => {
          val (pT, pV, nT, nV) = (p.getField("t_us"), p.getField("v"), n.getField("t_us"), n.getField("v"))
          Seq((g / lit(1000)).cast("long").as("ts_ms"), when(nT === pT, pV).otherwise(pV + (nV - pV) *
            ((g - pT).cast("double") / (nT - pT).cast("double"))).as(v))
        })
      case None =>
        val held = df.columns.filterNot(c => c == tsCol || keys.contains(c)).toSeq
        (struct((usec(col(tsCol)).as("t_us") +: held.map(col)): _*),
          (g, p, _) => (g / lit(1000)).cast("long").as("ts_ms") +: held.map(c => p.getField(c).as(c)))
    }

    /** Keyed TIME_SAMPLING: the grid unioned with the data, two bracketing
      * windows partitioned by the keys. */
    def keyedSample(df: DataFrame, tsCol: String, valCol: Option[String], start: Column, end: Column,
                    intervalUs: Long, keys: Seq[String]): DataFrame = {
      val (pay, emit) = payEmit(df, tsCol, valCol, keys)
      val keyCols = keys.map(col)
      val data = df.select((keyCols :+ usec(col(tsCol)).as("t_us") :+ pay.as("pay") :+ lit(0).as("is_grid")): _*)
      val payT = data.schema("pay").dataType
      val grid = df.select(keyCols: _*).distinct().select((keyCols :+
        explode(sequence(usec(start), usec(end), lit(intervalUs))).as("t_us") :+
        lit(null).cast(payT).as("pay") :+ lit(1).as("is_grid")): _*)
      val wAsc = Window.partitionBy(keyCols: _*).orderBy(col("t_us").asc, col("is_grid").asc, col("pay").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wDesc = Window.partitionBy(keyCols: _*).orderBy(col("t_us").desc, col("is_grid").asc, col("pay").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bracket(data.unionByName(grid), wAsc, wDesc)
        .select((keyCols ++ emit(col("t_us"), col("p"), col("nx"))): _*)
        .orderBy((keyCols :+ col("ts_ms")): _*)
    }

    /** Unkeyed TIME_SAMPLING in 256-point time chunks, each seeded with the
      * last data row of any earlier chunk and the first of any later one. */
    def chunkedSample(df: DataFrame, tsCol: String, valCol: Option[String], start: Column, end: Column,
                      intervalUs: Long): DataFrame = {
      val (pay, emit) = payEmit(df, tsCol, valCol, Nil)
      val chunkUs = intervalUs * 256L
      val data = df.select(usec(col(tsCol)).as("t_us"), pay.as("pay"), lit(0).as("is_grid"))
      val payT = data.schema("pay").dataType
      val grid = df.sparkSession.range(1).select(usec(start).as("s_us"), usec(end).as("e_us"))
        .select(col("s_us"), floor((col("e_us") - col("s_us")) / lit(intervalUs.toDouble)).cast("long").as("n"))
        .select(col("s_us"), col("n"), explode(sequence(lit(0L), floor(col("n") / lit(256.0)).cast("long"))).as("ci"))
        .repartition(col("ci"))
        .select(col("s_us"), explode(sequence(col("ci") * 256L, least(col("ci") * 256L + 255L, col("n")))).as("k"))
        .select((col("s_us") + col("k") * intervalUs).as("t_us"), lit(null).cast(payT).as("pay"), lit(1).as("is_grid"))
      val all = data.unionByName(grid).withColumn("__chunk", (col("t_us") / lit(chunkUs.toDouble)).cast("long"))
      val perChunk = all.filter(col("is_grid") === 0).groupBy("__chunk")
        .agg(max(col("pay")).as("__lastRow"), min(col("pay")).as("__firstRow"))
      val chunkFrame = all.select("__chunk").distinct().join(perChunk, Seq("__chunk"), "left")
      val wPrevC = Window.partitionBy(pmod(col("__chunk"), lit(1))).orderBy(col("__chunk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wNextC = Window.partitionBy(pmod(col("__chunk"), lit(1))).orderBy(col("__chunk"))
        .rowsBetween(1, Window.unboundedFollowing)
      val anchors = chunkFrame.select(col("__chunk"),
          last(col("__lastRow"), ignoreNulls = true).over(wPrevC).as("__prevA"),
          first(col("__firstRow"), ignoreNulls = true).over(wNextC).as("__nextA"))
        .select(col("__chunk"), explode(array(col("__prevA"), col("__nextA"))).as("__a"))
        .filter(col("__a").isNotNull)
        .select(col("__a").getField("t_us").as("t_us"), col("__a").as("pay"), lit(0).as("is_grid"), col("__chunk"))
      val wAsc = Window.partitionBy("__chunk").orderBy(col("t_us").asc, col("is_grid").asc, col("pay").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wDesc = Window.partitionBy("__chunk").orderBy(col("t_us").desc, col("is_grid").asc, col("pay").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bracket(all.unionByName(anchors), wAsc, wDesc)
        .select(emit(col("t_us"), col("p"), col("nx")): _*).orderBy(col("ts_ms"))
    }

    /** EMPTY sampling: a grid clipped to each series' [min ts, max ts], left
      * joined to a per-instant aggregate of the exact hits. */
    def empty(df: DataFrame, tsCol: String, valCol: Option[String], start: Column, end: Column,
              intervalUs: Long, keys: Seq[String]): DataFrame = {
      val kcols = keys.map(col)
      val (s, e) = (usec(start.cast("timestamp")), usec(end.cast("timestamp")))
      val lohi = Seq(min(usec(col(tsCol))).as("__lo"), max(usec(col(tsCol))).as("__hi"))
      val bounds = if (keys.isEmpty) df.agg(lohi.head, lohi.tail: _*)
        else df.groupBy(kcols: _*).agg(lohi.head, lohi.tail: _*)
      val steps = when(e >= s, sequence(lit(0L), floor((e - s).cast("double") / intervalUs).cast("long")))
        .otherwise(array().cast("array<bigint>"))
      val grid = bounds.select((kcols :+ col("__lo") :+ col("__hi") :+ explode(steps).as("__i")): _*)
        .select((kcols :+ (s + col("__i") * intervalUs).as("__g_us") :+ col("__lo") :+ col("__hi")): _*)
        .filter(col("__g_us") >= col("__lo") && col("__g_us") <= col("__hi"))
        .select((kcols :+ col("__g_us")): _*)
      val held = df.columns.filterNot(c => c == tsCol || keys.contains(c)).toSeq
      val exact = (if (keys.isEmpty) df.groupBy(usec(col(tsCol)).as("__g_us"))
        else df.groupBy((kcols :+ usec(col(tsCol)).as("__g_us")): _*))
        .agg(valCol.fold(max(struct(held.map(col): _*)))(v => max(col(v).cast("double"))).as("__v"))
      val values = valCol.fold(held.map(c => col(s"__v.$c").as(c)))(v => Seq(col("__v").as(v)))
      grid.join(exact, keys :+ "__g_us", "left")
        .select((kcols :+ (col("__g_us") / lit(1000)).cast("long").as("ts_ms")) ++ values: _*)
        .orderBy((kcols :+ col("ts_ms")): _*)
    }

    private def bucketAgg(df: DataFrame, tsCol: String, startMs: Long, endMs: Long, everyMs: Long,
                          aggs: Seq[Column], keys: Seq[String]): DataFrame = {
      val ms = unix_millis(col(tsCol))
      val bucket = (floor((ms - lit(startMs)) / lit(everyMs)) * lit(everyMs) + lit(startMs)).as("ts_ms")
      df.filter(ms >= startMs && ms <= endMs).groupBy((bucket +: keys.map(col)): _*).agg(aggs.head, aggs.tail: _*)
    }

    /** Keyed fill: a per-key grid left joined to the aggregate, filled by
      * windows partitioned by the keys. */
    def keyedFill(df: DataFrame, tsCol: String, startMs: Long, endMs: Long, everyMs: Long,
                  aggs: Seq[Column], fill: GroupByRange.Fill, keys: Seq[String]): DataFrame = {
      val keyCols = keys.map(col)
      val agged = bucketAgg(df, tsCol, startMs, endMs, everyMs, aggs, keys)
      val aggNames = agged.columns.filterNot(c => c == "ts_ms" || keys.contains(c)).toSeq
      val nBuckets = (endMs - startMs) / everyMs + 1
      val gridTimes = explode(sequence(lit(startMs), lit(startMs + (nBuckets - 1) * everyMs), lit(everyMs))).as("ts_ms")
      val joined = df.select(keyCols: _*).distinct().select((keyCols :+ gridTimes): _*)
        .join(agged, keys :+ "ts_ms", "left")
        .withColumn("__empty", aggNames.map(col(_).isNull).reduce(_ && _))
      val wp = Window.partitionBy(keyCols: _*).orderBy(col("ts_ms"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy(keyCols: _*).orderBy(col("ts_ms").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val filled = fill match {
        case GroupByRange.FillPrevious => aggNames.foldLeft(joined) { (d, c) =>
          d.withColumn(c, when(col("__empty"),
            last(when(!col("__empty"), col(c)), ignoreNulls = true).over(wp)).otherwise(col(c)))
        }
        case GroupByRange.FillLinear =>
          val anchorT = when(!col("__empty"), col("ts_ms"))
          val base = joined.withColumn("__pt", last(anchorT, ignoreNulls = true).over(wp))
            .withColumn("__nt", last(anchorT, ignoreNulls = true).over(wn))
          aggNames.foldLeft(base) { (d, c) =>
            val pv = last(when(!col("__empty"), col(c)), ignoreNulls = true).over(wp)
            val nv = last(when(!col("__empty"), col(c)), ignoreNulls = true).over(wn)
            d.withColumn(c, when(!col("__empty"), col(c))
              .when(col("__pt").isNotNull && col("__nt").isNotNull,
                pv.cast("double") + (nv.cast("double") - pv.cast("double")) *
                  ((col("ts_ms") - col("__pt")).cast("double") / (col("__nt") - col("__pt")).cast("double")))
              .otherwise(lit(null)))
          }.drop("__pt", "__nt")
        case _ => joined
      }
      filled.drop("__empty").orderBy((keyCols :+ col("ts_ms")): _*)
    }

    /** Unkeyed fill in 256-bucket chunks, each carrying in the previous and
      * next non-empty bucket's time and values from a pass over the
      * one-row-per-chunk frame. */
    def chunkedFill(df: DataFrame, tsCol: String, startMs: Long, endMs: Long, everyMs: Long,
                    aggs: Seq[Column], fill: GroupByRange.Fill): DataFrame = {
      val agged = bucketAgg(df, tsCol, startMs, endMs, everyMs, aggs, Nil)
      val aggNames = agged.columns.filterNot(_ == "ts_ms").toSeq
      val nBuckets = (endMs - startMs) / everyMs + 1
      val joined = df.sparkSession.range(nBuckets).select((col("id") * everyMs + startMs).as("ts_ms"))
        .join(agged, Seq("ts_ms"), "left")
        .withColumn("__empty", aggNames.map(col(_).isNull).reduce(_ && _))
      if (fill == GroupByRange.FillNull) return joined.drop("__empty").orderBy(col("ts_ms"))
      val withChunk = joined.withColumn("__chunk",
        ((col("ts_ms") - lit(startMs)) / lit((everyMs * 256L).toDouble)).cast("long"))
      val notEmpty = !col("__empty")
      val perChunkAggs = Seq(max(when(notEmpty, col("ts_ms"))).as("__pt_l"),
        min(when(notEmpty, col("ts_ms"))).as("__nt_f")) ++ aggNames.flatMap { c =>
          val ord = when(notEmpty && col(c).isNotNull, col("ts_ms"))
          Seq(max_by(col(c), ord).as(s"__pv_l_$c"), min_by(col(c), ord).as(s"__nv_f_$c"))
        }
      val perChunk = withChunk.groupBy("__chunk").agg(perChunkAggs.head, perChunkAggs.tail: _*)
      val wPrevC = Window.partitionBy(pmod(col("__chunk"), lit(1))).orderBy(col("__chunk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wNextC = Window.partitionBy(pmod(col("__chunk"), lit(1))).orderBy(col("__chunk"))
        .rowsBetween(1, Window.unboundedFollowing)
      val carries = perChunk.select((Seq(col("__chunk"),
        last(col("__pt_l"), ignoreNulls = true).over(wPrevC).as("__cpt"),
        first(col("__nt_f"), ignoreNulls = true).over(wNextC).as("__cnt")) ++ aggNames.flatMap { c =>
          Seq(last(col(s"__pv_l_$c"), ignoreNulls = true).over(wPrevC).as(s"__cpv_$c"),
            first(col(s"__nv_f_$c"), ignoreNulls = true).over(wNextC).as(s"__cnv_$c"))
        }): _*)
      val chunked = withChunk.join(broadcast(carries), "__chunk")
      val wp = Window.partitionBy("__chunk").orderBy(col("ts_ms"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy("__chunk").orderBy(col("ts_ms").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def prevV(c: String) = coalesce(last(when(notEmpty, col(c)), ignoreNulls = true).over(wp), col(s"__cpv_$c"))
      val filled = if (fill == GroupByRange.FillPrevious) {
        aggNames.foldLeft(chunked)((d, c) => d.withColumn(c, when(col("__empty"), prevV(c)).otherwise(col(c))))
      } else {
        val anchorT = when(notEmpty, col("ts_ms"))
        val base = chunked
          .withColumn("__pt", coalesce(last(anchorT, ignoreNulls = true).over(wp), col("__cpt")))
          .withColumn("__nt", coalesce(last(anchorT, ignoreNulls = true).over(wn), col("__cnt")))
        aggNames.foldLeft(base) { (d, c) =>
          val nv = coalesce(last(when(notEmpty, col(c)), ignoreNulls = true).over(wn), col(s"__cnv_$c"))
          d.withColumn(c, when(notEmpty, col(c))
            .when(col("__pt").isNotNull && col("__nt").isNotNull,
              prevV(c).cast("double") + (nv.cast("double") - prevV(c).cast("double")) *
                ((col("ts_ms") - col("__pt")).cast("double") / (col("__nt") - col("__pt")).cast("double")))
            .otherwise(lit(null)))
        }
      }
      filled.drop((Seq("__empty", "__chunk", "__cpt", "__cnt", "__pt", "__nt") ++
        aggNames.flatMap(c => Seq(s"__cpv_$c", s"__cnv_$c"))): _*).orderBy(col("ts_ms"))
    }
  }
}
