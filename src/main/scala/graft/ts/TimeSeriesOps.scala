package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GridDB TimeSeries selection / aggregation operators, re-expressed as
  * Spark DataFrame transforms.
  *
  * Reference semantics:
  *  - TIME_NEXT / TIME_PREV (+_ONLY): /root/reference/server/selection_func.h:126
  *  - TIME_INTERPOLATED: /root/reference/server/selection_func.h:148
  *  - TIME_SAMPLING: /root/reference/server/selection_func.h:173-199
  *  - TIME_WINDOW_AGG: /root/reference/server/selection_func.h:201-228
  *  - MAX_ROWS / MIN_ROWS: /root/reference/server/selection_func.h:230-298
  *  - TIME_AVG (weighted avg): /root/reference/server/aggregation_func.h:780-899
  *
  * All operators accept optional partition `keys`. GridDB's TimeSeries is a
  * single container, i.e. `keys = Nil`; at 100 TB one series per device/user
  * is the realistic layout, so every operator is written to scale out over
  * `keys` (window partitioning / groupBy) and only degenerates to a single
  * partition when keys are empty — matching the reference's per-container
  * semantics.
  *
  * Time arithmetic is done on epoch MICROSECONDS (Spark's native timestamp
  * resolution) so interpolation weights are exact and reproducible.
  */
object TimeSeriesOps {

  private def usec(c: Column): Column = unix_micros(c)

  /** TIME_NEXT: earliest row with ts >= t (TIME_NEXT_ONLY: ts > t). */
  def timeNext(df: DataFrame, tsCol: String, t: Column, only: Boolean = false,
               tieBreak: Seq[String] = Nil): DataFrame = {
    val cmp = if (only) col(tsCol) > t else col(tsCol) >= t
    df.filter(cmp)
      .orderBy((col(tsCol).asc +: tieBreak.map(col(_).asc)): _*)
      .limit(1)
  }

  /** TIME_PREV: latest row with ts <= t (TIME_PREV_ONLY: ts < t). */
  def timePrev(df: DataFrame, tsCol: String, t: Column, only: Boolean = false,
               tieBreak: Seq[String] = Nil): DataFrame = {
    val cmp = if (only) col(tsCol) < t else col(tsCol) <= t
    df.filter(cmp)
      .orderBy(col(tsCol).desc +: tieBreak.map(col(_).desc): _*)
      .limit(1)
  }

  /** TIME_INTERPOLATED(valCol, t): interpolate valCol at time t.
    * Returns (ts_ms, <valCol>) with a single row, or zero rows when t is
    * outside the series range.
    *
    * Modes (reference: the client InterpolationMode,
    * java_client/src/com/toshiba/mwcloud/gs/InterpolationMode.java:55,70):
    *  - "linear" (default, LINEAR_OR_PREVIOUS for a numeric target): linear
    *    interpolation between the bracketing rows; exact row wins.
    *  - "empty" (EMPTY): NO interpolation — the exact-match row's value if
    *    one exists at t, else the empty value. GridDB's "empty value
    *    defined in Container" maps to SQL NULL in this engine's nullable
    *    column model. The bracketing (in-range) condition is unchanged, as
    *    in the reference's sampling contract ("if there is no Rows to be
    *    referenced ... a corresponding Row is not generated",
    *    TimeSeries.java:502-504). */
  def timeInterpolated(df: DataFrame, tsCol: String, valCol: String, t: Column,
                       mode: String = "linear"): DataFrame = {
    require(Seq("linear", "empty").contains(mode),
      s"interpolation mode must be linear|empty, got $mode")
    val prev = timePrev(df, tsCol, t)
      .select(usec(col(tsCol)).as("p_us"), col(valCol).cast("double").as("p_v"))
    val next = timeNext(df, tsCol, t)
      .select(usec(col(tsCol)).as("n_us"), col(valCol).cast("double").as("n_v"))
    val value = mode match {
      case "linear" =>
        when(col("n_us") === col("p_us"), col("p_v"))
          .otherwise(col("p_v") + (col("n_v") - col("p_v")) *
            ((usec(t) - col("p_us")).cast("double") /
              (col("n_us") - col("p_us")).cast("double")))
      case "empty" =>
        when(col("p_us") === usec(t), col("p_v"))
          .otherwise(lit(null).cast("double"))
    }
    prev.crossJoin(next)
      .select((usec(t) / lit(1000)).cast("long").as("ts_ms"), value.as(valCol))
  }

  // ---- TIME_SAMPLING engine ------------------------------------------------
  // Both sampling forms share one bracketing engine over a *payload* struct
  // whose first field is t_us (epoch µs): struct ordering is (timestamp, then
  // the remaining fields), so ties between rows at the same instant resolve
  // deterministically (greatest row wins on the prev side, least on next).
  //  - named-column form: payload = (t_us, v); the emitter interpolates.
  //  - star form TIME_SAMPLING(*): payload = (t_us, <all held columns>); the
  //    emitter re-emits the bracketing row's fields unchanged. This is
  //    sample-and-hold, NOT per-column interpolation: the reference's star
  //    path leaves the interpolated value unset (tmpRow.value stays NULL when
  //    columnId == UNDEF_COLUMNID, selection_func_impl.h:620-673) and outputs
  //    the previous row's full image with only field 0 replaced by the grid
  //    instant (selection_func_impl.h:700-713).

  /** Emits the output columns of one grid row from
    * (gridInstantUs, prevPayload, nextPayload). */
  private type SampleEmit = (Column, Column, Column) => Seq[Column]

  /** TIME_SAMPLING(valCol, start, end, interval): resample the series onto a
    * regular grid; at each grid instant emit the exact value if a row exists,
    * else the linear interpolation between neighbors; grid points outside the
    * observed range produce no row.
    *
    * Implemented shuffle-lean: the grid is unioned with the data and a single
    * window pass (per key) computes the bracketing rows — no join per grid
    * point. Keyed series scale by window partitioning; an unkeyed
    * (whole-container) grid of at most `SmallGrid` points is one
    * [[GridSweep]] pass over a grid-bounded cell aggregate — see
    * [[sampleSmall]] — and a larger one is chunked into coarse time slices
    * with boundary-anchor stitching — see [[sampleChunked]] — so a single
    * giant series never serializes onto one core. Unkeyed rows come back in
    * ascending `ts_ms`, the row-key order of a GridDB TimeSeries result.
    */
  def timeSampling(df: DataFrame, tsCol: String, valCol: String,
                   start: Column, end: Column, intervalUs: Long,
                   keys: Seq[String] = Nil): DataFrame =
    sample(df, tsCol, Some(valCol), start, end, intervalUs, keys, None)

  /** TIME_SAMPLING(*): resample ALL columns onto the grid with sample-and-hold
    * semantics — each grid instant carries the exact row if one exists there,
    * else the latest earlier row, with the timestamp replaced by the grid
    * instant; grid points outside the observed range produce no row. Matches
    * the reference star path (selection_func_impl.h:599-713), which emits the
    * bracketing row's image un-interpolated (see engine note above). Output:
    * (keys..., ts_ms, <every non-key column held>). */
  def timeSamplingHold(df: DataFrame, tsCol: String,
                       start: Column, end: Column, intervalUs: Long,
                       keys: Seq[String] = Nil): DataFrame =
    sample(df, tsCol, None, start, end, intervalUs, keys, None)

  /** Sampling query with InterpolationMode.EMPTY (TimeSeries.java:497-505 +
    * InterpolationMode.java:70): NO interpolation — each grid instant
    * carries the exact-match row's value when one exists, else the empty
    * value (SQL NULL in this engine's nullable model, as in
    * [[timeInterpolated]]'s "empty" mode). The in-range rule matches the
    * other sampling forms: grid points outside the series' observed
    * [min ts, max ts] produce no row. Ties at one instant resolve to the
    * greatest value — the same greatest-row rule the bracketing engine
    * applies on the prev side.
    *
    * Shape: one tiny per-series bounds aggregate generates the clipped
    * grid, one per-instant aggregate collapses ties, one left join lines
    * them up — no window, no per-grid-point join. */
  def timeSamplingEmpty(df: DataFrame, tsCol: String, valCol: String,
                        start: Column, end: Column, intervalUs: Long,
                        keys: Seq[String] = Nil): DataFrame = {
    val kcols = keys.map(col)
    val grid = emptyGrid(df, tsCol, start, end, intervalUs, keys)
    val exact = (if (keys.isEmpty)
        df.groupBy(usec(col(tsCol)).as("__g_us"))
      else
        df.groupBy((kcols :+ usec(col(tsCol)).as("__g_us")): _*))
      .agg(max(col(valCol).cast("double")).as("__v"))
    grid.join(exact, keys :+ "__g_us", "left")
      .select((kcols :+ (col("__g_us") / lit(1000)).cast("long").as("ts_ms") :+
        col("__v").as(valCol)): _*)
  }

  /** Star form of [[timeSamplingEmpty]]: every non-key column carried
    * from the exact-match row, or NULL — the reference's EMPTY rule
    * verbatim ("an empty value ... for all Row fields except Row keys",
    * InterpolationMode.java:70). Ties at one instant resolve to the
    * greatest full row image (struct order), matching the bracketing
    * engine's star path. Output: (keys..., ts_ms, <held columns>). */
  def timeSamplingEmptyAll(df: DataFrame, tsCol: String,
                           start: Column, end: Column, intervalUs: Long,
                           keys: Seq[String] = Nil): DataFrame = {
    val held = df.columns.filterNot(c => c == tsCol || keys.contains(c)).toSeq
    val kcols = keys.map(col)
    val grid = emptyGrid(df, tsCol, start, end, intervalUs, keys)
    val exact = (if (keys.isEmpty)
        df.groupBy(usec(col(tsCol)).as("__g_us"))
      else
        df.groupBy((kcols :+ usec(col(tsCol)).as("__g_us")): _*))
      .agg(max(struct(held.map(col): _*)).as("__row"))
    grid.join(exact, keys :+ "__g_us", "left")
      .select((kcols :+ (col("__g_us") / lit(1000)).cast("long").as("ts_ms")) ++
        held.map(c => col(s"__row.$c").as(c)): _*)
  }

  /** The clipped grid shared by the EMPTY-mode sampling forms:
    * (keys..., __g_us) for every grid instant inside the series'
    * observed range. */
  private def emptyGrid(df: DataFrame, tsCol: String,
                        start: Column, end: Column, intervalUs: Long,
                        keys: Seq[String]): DataFrame = {
    require(intervalUs > 0, "sampling interval must be positive")
    val kcols = keys.map(col)
    val s = usec(start.cast("timestamp"))
    val e = usec(end.cast("timestamp"))
    val bounds = if (keys.isEmpty)
      df.agg(min(usec(col(tsCol))).as("__lo"), max(usec(col(tsCol))).as("__hi"))
    else
      df.groupBy(kcols: _*).agg(min(usec(col(tsCol))).as("__lo"), max(usec(col(tsCol))).as("__hi"))
    // start later than end excludes every row (TimeSeries.java:495) — an
    // empty sequence, not a descending one
    val steps = when(e >= s,
      sequence(lit(0L), floor((e - s).cast("double") / intervalUs).cast("long")))
      .otherwise(array().cast("array<bigint>"))
    bounds
      .select((kcols :+ col("__lo") :+ col("__hi") :+ explode(steps).as("__i")): _*)
      .select((kcols :+ (s + col("__i") * intervalUs).as("__g_us") :+
        col("__lo") :+ col("__hi")): _*)
      .filter(col("__g_us") >= col("__lo") && col("__g_us") <= col("__hi"))
      .select((kcols :+ col("__g_us")): _*)
  }

  private def interpPay(tsCol: String, valCol: String): Column =
    struct(usec(col(tsCol)).as("t_us"), col(valCol).cast("double").as("v"))

  private def interpEmit(valCol: String): SampleEmit = (g, p, n) => {
    val (pT, pV) = (p.getField("t_us"), p.getField("v"))
    val (nT, nV) = (n.getField("t_us"), n.getField("v"))
    Seq((g / lit(1000)).cast("long").as("ts_ms"),
      when(nT === pT, pV).otherwise(pV + (nV - pV) *
        ((g - pT).cast("double") / (nT - pT).cast("double"))).as(valCol))
  }

  private def holdEmit(held: Seq[String]): SampleEmit = (g, p, _) =>
    (g / lit(1000)).cast("long").as("ts_ms") +: held.map(c => p.getField(c).as(c))

  /** The core of [[timeSampling]] (`valCol` interpolated) and
    * [[timeSamplingHold]] (`valCol` None: every non-key column held).
    * `static`: the bounds as epoch micros when the caller already holds them
    * (the TQL compiler's TIMESTAMP() literals); None folds them from
    * `start`/`end` when the series is unkeyed. */
  private[graft] def sample(df: DataFrame, tsCol: String, valCol: Option[String],
                            start: Column, end: Column, intervalUs: Long,
                            keys: Seq[String], static: Option[(Long, Long)]): DataFrame = {
    require(intervalUs > 0, "TIME_SAMPLING interval must be positive")
    val (pay, emit, mode, names) = valCol match {
      case Some(v) => (interpPay(tsCol, v), interpEmit(v), GridSweep.Interpolate, Seq(v))
      case None =>
        val held = df.columns.filterNot(c => c == tsCol || keys.contains(c)).toSeq
        (struct((usec(col(tsCol)).as("t_us") +: held.map(col)): _*), holdEmit(held),
          GridSweep.Hold, held)
    }
    if (keys.isEmpty) {
      // the grid size is static whenever start/end are literals (the TQL and
      // SQL surfaces only produce literals): small grids take the reduced
      // cell-aggregate path — whose shuffled frame is bounded by the GRID,
      // not the data, so it is scale-safe at any data volume — big grids the
      // chunked one; the chunked plan's 5-6 extra stages are pure overhead
      // against a few hundred points
      val bounds = static.orElse(for (s0 <- staticUs(df.sparkSession, start);
                                      e0 <- staticUs(df.sparkSession, end)) yield (s0, e0))
      val sampled = bounds.map { case (s0, e0) => (s0, (e0 - s0) / intervalUs) } match {
        case Some((s0, n)) if n >= 0 && n <= SmallGrid =>
          sampleSmall(df, tsCol, pay, mode, names, s0, n, intervalUs)
        case _ => sampleChunked(df, tsCol, pay, emit, start, end, intervalUs)
      }
      // row-key order; the small-grid sweep already emits it, so the plan
      // drops this sort there
      return sampled.orderBy(col("ts_ms"))
    }
    val keyCols = keys.map(col)
    val data = df.select(
      (keyCols :+ usec(col(tsCol)).as("t_us")
        :+ pay.as("pay") :+ lit(0).as("is_grid")): _*)
    val payT = data.schema("pay").dataType
    val gridTimes = explode(sequence(usec(start), usec(end), lit(intervalUs))).as("t_us")
    val grid = df.select(keyCols: _*).distinct()
      .select((keyCols :+ gridTimes :+ lit(null).cast(payT).as("pay") :+ lit(1).as("is_grid")): _*)

    // grid rows sort after data rows at the same instant (exact match wins)
    val all = data.unionByName(grid)
    val wAsc = Window.partitionBy(keyCols: _*)
      .orderBy(col("t_us").asc, col("is_grid").asc, col("pay").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.partitionBy(keyCols: _*)
      .orderBy(col("t_us").desc, col("is_grid").asc, col("pay").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bracket(all, wAsc, wDesc)
      .select((keyCols ++ emit(col("t_us"), col("p"), col("nx"))): _*)
  }

  /** Grid points per time chunk in the unkeyed chunked paths: large enough
    * that the per-chunk stitch frame (one row per chunk) stays tiny, small
    * enough that one chunk is far below a task's memory. */
  private val ChunkPoints = 256L

  /** Grid-size threshold below which the unkeyed paths use the grid-bounded
    * single-frame formulation instead of chunking (a grid this small fits one
    * task trivially; the chunked plan's extra stages would dominate). */
  private[ts] val SmallGrid = 10000L

  /** Statically evaluate a timestamp Column to epoch micros when it is a
    * literal expression (all TQL/SQL surfaces produce literals). Resolution +
    * constant folding run driver-side on a one-row plan — no job is executed.
    * Each call still costs one analyze + optimize round trip.
    * Non-foldable columns yield None. */
  private def staticUs(spark: org.apache.spark.sql.SparkSession,
                       c: Column): Option[Long] =
    try {
      import org.apache.spark.sql.catalyst.expressions.{Alias, Literal => CLit}
      import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
      spark.range(1).select(unix_micros(c)).queryExecution.optimizedPlan match {
        case l: LocalRelation =>
          l.data.headOption.collect { case r if !r.isNullAt(0) => r.getLong(0) }
        case Project(Seq(Alias(CLit(v: Long, _), _)), _) => Some(v)
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Unkeyed TIME_SAMPLING for small grids, with data-side work still fully
    * distributed: one hash aggregation ([[StructExtreme]], which plans an
    * `ObjectHashAggregate` where `min`/`max` of a struct would sort every
    * row) folds the series into per-grid-cell
    * first/last/exact-hit rows (cell j = floor((t-s0)/interval), clamped to
    * [-1, n+1]), and one [[GridSweep]] pass over that grid-bounded frame
    * (at most n + 3 cells) emits the grid. For each grid instant g_k:
    *   prev(g_k) = exact hit at g_k, else last row of the latest non-empty
    *               cell <= k-1  (== latest row with t <= g_k);
    *   next(g_k) = first row of the earliest non-empty cell >= k
    *               (== earliest row with t >= g_k, cell k starting at g_k).
    * The clamp is exact: cell -1's last row is the last row before g_0 and
    * cell n+1's first row the first row after g_n, and neither cell offers
    * anything else a grid instant reads. The cell aggregate is the plan's
    * only exchange; the cells reach the sweep through a no-shuffle
    * `coalesce(1)`, so over a source that reports `SinglePartition` (a
    * one-partition catalog container) the whole read is one job with no
    * exchange. */
  private def sampleSmall(df: DataFrame, tsCol: String, pay: Column,
                          mode: GridSweep.Mode, names: Seq[String], s0Us: Long, n: Long,
                          intervalUs: Long): DataFrame = {
    val t = usec(col(tsCol))
    val j = floor((t - lit(s0Us)) / lit(intervalUs.toDouble)).cast("long")
    val cells = df
      .select(when(j < -1L, -1L).when(j > n + 1, n + 1).otherwise(j).as("__j"), pay.as("pay"),
        when(pmod(t - lit(s0Us), lit(intervalUs)) === 0, pay).as("__hit"))
      .groupBy("__j").agg(
        StructExtreme.of("pay", greatest = false).as("__first"),
        StructExtreme.of("pay", greatest = true).as("__last"),
        StructExtreme.of("__hit", greatest = true).as("__exact"))
    GridSweep(cells, mode, s0Us, intervalUs, n, names)
  }

  /** Unkeyed TIME_SAMPLING, scaled out: the series is split into coarse time
    * chunks (256 grid intervals each), the bracketing window runs per chunk,
    * and each chunk is seeded with two synthetic anchor rows — the last data
    * row of any earlier chunk and the first data row of any later chunk —
    * computed in a second pass over the tiny one-row-per-chunk frame. The
    * per-row results are bit-identical to the single-window formulation
    * (anchor rows reproduce exactly the neighbor each grid point would have
    * seen), but the heavy window now partitions by chunk. */
  private[graft] def timeSamplingChunked(df: DataFrame, tsCol: String, valCol: String,
                                         start: Column, end: Column,
                                         intervalUs: Long): DataFrame =
    sampleChunked(df, tsCol, interpPay(tsCol, valCol), interpEmit(valCol),
      start, end, intervalUs)

  private def sampleChunked(df: DataFrame, tsCol: String, pay: Column,
                            emit: SampleEmit, start: Column, end: Column,
                            intervalUs: Long): DataFrame = {
    val spark = df.sparkSession
    val chunkUs = intervalUs * ChunkPoints
    def chunkOf(t: Column): Column = (t / lit(chunkUs.toDouble)).cast("long")

    val data = df.select(usec(col(tsCol)).as("t_us"),
      pay.as("pay"), lit(0).as("is_grid"))
    val payT = data.schema("pay").dataType
    // distributed grid generation: outer explode enumerates chunks (bounded
    // array), repartition spreads them, inner explode emits ≤256 points each
    val bounds = spark.range(1).select(usec(start).as("s_us"), usec(end).as("e_us"))
      .select(col("s_us"),
        floor((col("e_us") - col("s_us")) / lit(intervalUs.toDouble)).cast("long").as("n_pts"))
    val grid = bounds
      .select(col("s_us"), col("n_pts"),
        explode(sequence(lit(0L),
          floor(col("n_pts") / lit(ChunkPoints.toDouble)).cast("long"))).as("ci"))
      .repartition(col("ci"))
      .select(col("s_us"),
        explode(sequence(col("ci") * ChunkPoints,
          least(col("ci") * ChunkPoints + (ChunkPoints - 1), col("n_pts")))).as("k"))
      .select((col("s_us") + col("k") * intervalUs).as("t_us"),
        lit(null).cast(payT).as("pay"), lit(1).as("is_grid"))

    val all = data.unionByName(grid).withColumn("__chunk", chunkOf(col("t_us")))

    // pass 2 input: one row per chunk — last/first data row inside the chunk
    // (struct min/max = lexicographic on (t_us, rest): first/last by time,
    // deterministic tie-break by the remaining payload fields)
    val perChunk = all.filter(col("is_grid") === 0)
      .groupBy("__chunk")
      .agg(max(col("pay")).as("__lastRow"),
        min(col("pay")).as("__firstRow"))
    val chunkFrame = all.select("__chunk").distinct()
      .join(perChunk, Seq("__chunk"), "left")
    // the stitch frame is one row per 256 grid points — sequential by
    // design (constant partition key keeps the tiny window off the
    // unpartitioned-window path)
    val wPrevC = Window.partitionBy(pmod(col("__chunk"), lit(1))).orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNextC = Window.partitionBy(pmod(col("__chunk"), lit(1))).orderBy(col("__chunk"))
      .rowsBetween(1, Window.unboundedFollowing)
    val anchors = chunkFrame.select(col("__chunk"),
        last(col("__lastRow"), ignoreNulls = true).over(wPrevC).as("__prevA"),
        first(col("__firstRow"), ignoreNulls = true).over(wNextC).as("__nextA"))
      .select(col("__chunk"),
        explode(array(col("__prevA"), col("__nextA"))).as("__a"))
      .filter(col("__a").isNotNull)
      .select(col("__a").getField("t_us").as("t_us"),
        col("__a").as("pay"), lit(0).as("is_grid"), col("__chunk"))

    // anchor timestamps lie outside their target chunk's range, so they sort
    // strictly before/after every in-chunk row — the per-chunk window sees
    // exactly the rows the global window would
    val seeded = all.unionByName(anchors)
    val wAsc = Window.partitionBy("__chunk")
      .orderBy(col("t_us").asc, col("is_grid").asc, col("pay").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.partitionBy("__chunk")
      .orderBy(col("t_us").desc, col("is_grid").asc, col("pay").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bracket(seeded, wAsc, wDesc)
      .select(emit(col("t_us"), col("p"), col("nx")): _*)
  }

  /** Shared bracketing pass: previous/next data payload for every grid row. */
  private def bracket(all: DataFrame,
                      wAsc: org.apache.spark.sql.expressions.WindowSpec,
                      wDesc: org.apache.spark.sql.expressions.WindowSpec): DataFrame = {
    val dataPay = when(col("is_grid") === 0, col("pay"))
    all
      .withColumn("p", last(dataPay, ignoreNulls = true).over(wAsc))
      .withColumn("nx", last(dataPay, ignoreNulls = true).over(wDesc))
      .filter(col("is_grid") === 1 && col("p").isNotNull && col("nx").isNotNull)
  }

  /** TIME_WINDOW_AGG: tumbling-window aggregation (window start aligned to
    * the epoch). `aggs` are applied per (keys, bucket). */
  def timeWindowAgg(df: DataFrame, tsCol: String, every: String,
                    aggs: Seq[Column], keys: Seq[String] = Nil): DataFrame = {
    val grouped = df.groupBy((window(col(tsCol), every) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
    grouped.select(
      (unix_millis(col("window.start")).as("bucket_ms") +:
        grouped.columns.filter(_ != "window").map(col).toSeq): _*)
  }

  /** TIME_AVG: time-weighted average — each row weighted by half the span
    * between its neighboring timestamps; boundary rows weighted by half the
    * span to their single neighbor. Single row per key group. */
  def timeAvg(df: DataFrame, tsCol: String, valCol: String,
              keys: Seq[String] = Nil): DataFrame = {
    if (keys.isEmpty) return timeAvgChunked(df, tsCol, valCol)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    val tus = usec(col(tsCol))
    val prevT = lag(tus, 1).over(w)
    val nextT = lead(tus, 1).over(w)
    // interior: (next-prev)/2 ; first: (next-t)/2 ; last: (t-prev)/2 ;
    // single row: weight 1 (plain value).
    val weight = when(prevT.isNull && nextT.isNull, lit(1.0))
      .when(prevT.isNull, (nextT - tus).cast("double") / 2.0)
      .when(nextT.isNull, (tus - prevT).cast("double") / 2.0)
      .otherwise((nextT - prevT).cast("double") / 2.0)
    val weighted = df.select(
      (keys.map(col) :+ col(valCol).cast("double").as("v") :+ weight.as("w")): _*)
    val agg = (sum(col("v") * col("w")) / sum(col("w"))).as(s"time_avg_$valCol")
    weighted.groupBy(keys.map(col): _*).agg(agg)
  }

  /** Unkeyed TIME_AVG, scaled out. The half-span weighting telescopes into
    * the trapezoid integral over consecutive pairs divided by the series
    * span: sum_i (t_{i+1}-t_i)(v_i+v_{i+1})/2 / (t_n-t_1) — algebraically
    * identical to the weighted form (aggregation_func.h:780-899). Pairs are
    * consecutive-row local, so the series chunks into coarse (1-day) time
    * slices: in-chunk pairs via a per-chunk lag window, the one cross-chunk
    * pair per boundary via a second pass over the tiny one-row-per-chunk
    * frame. No unpartitioned data-sized window anywhere. */
  private def timeAvgChunked(df: DataFrame, tsCol: String, valCol: String): DataFrame = {
    val dayUs = 86400000000L
    val base = df.select(usec(col(tsCol)).as("t_us"), col(valCol).cast("double").as("v"))
      .withColumn("__chunk", (col("t_us") / lit(dayUs.toDouble)).cast("long"))
    val w = Window.partitionBy("__chunk").orderBy(col("t_us"))
    val paired = base
      .withColumn("__pt", lag(col("t_us"), 1).over(w))
      .withColumn("__pv", lag(col("v"), 1).over(w))
    val edge = struct(col("t_us"), col("v"))
    val inChunk = paired.groupBy("__chunk").agg(
      sum(when(col("__pt").isNotNull,
        (col("t_us") - col("__pt")).cast("double") * (col("v") + col("__pv")) / 2.0)).as("__area"),
      min_by(edge, col("t_us")).as("__first"),
      max_by(edge, col("t_us")).as("__last"),
      count(lit(1)).as("__n"))
    // boundary trapezoids over the tiny chunk frame (one row per day) —
    // sequential by design, constant partition key
    val wc = Window.partitionBy(pmod(col("__chunk"), lit(1))).orderBy(col("__chunk"))
    val stitched = inChunk
      .withColumn("__prevLast", lag(col("__last"), 1).over(wc))
      .withColumn("__barea", when(col("__prevLast").isNotNull,
        (col("__first").getField("t_us") - col("__prevLast").getField("t_us")).cast("double") *
          (col("__first").getField("v") + col("__prevLast").getField("v")) / 2.0))
    val t0 = col("first").getField("t_us")
    stitched.agg(
      sum(coalesce(col("__area"), lit(0.0)) + coalesce(col("__barea"), lit(0.0))).as("integral"),
      min_by(col("__first"), col("__first").getField("t_us")).as("first"),
      max(col("__last").getField("t_us")).as("t1"),
      sum(col("__n")).as("cnt"))
    .select(
      when(col("cnt") === 1, col("first").getField("v"))
        .otherwise(col("integral") / (col("t1") - t0).cast("double"))
        .as(s"time_avg_$valCol"))
  }

  /** Distributed as-of join: TIME_PREV/TIME_NEXT for a whole table of probe
    * timestamps at once (the reference answers one `t` per TQL query —
    * /root/reference/server/selection_func.h:126; batching them is the form
    * that matters at scale).
    *
    * For every probe row, attaches the payload of the latest series row
    * at-or-before its timestamp (`forward = true`: earliest at-or-after),
    * equi-matched on `keys`; unmatched probes keep null payload (left join).
    *
    * Spark-first plan: tag + union both sides, ONE shuffle on `keys`, sort
    * within partitions, and carry payloads to probe rows with a
    * last/first(ignoreNulls) running window — no range cross-join, no
    * per-probe lookup; cost is linear in |probe| + |series| and the sort.
    * `series` must contain `keys` + `seriesTs`; every other series column
    * becomes output payload and must not collide with probe column names
    * (rename in a prior select). `tolerance` (an interval literal, e.g.
    * "1 hour") null-outs matches further than that from the probe time. */
  def asOfJoin(probe: DataFrame, series: DataFrame, keys: Seq[String],
               probeTs: String, seriesTs: String, forward: Boolean = false,
               tolerance: Option[String] = None): DataFrame = {
    val payload = series.columns.filterNot(c => keys.contains(c) || c == seriesTs).toSeq
    val probeCols = probe.columns.toSeq
    require(payload.intersect(probeCols).isEmpty,
      s"series payload ${payload.intersect(probeCols)} collides with probe columns; rename first")
    val t = "__asof_t"; val isP = "__asof_probe"; val pl = "__asof_payload"

    // the whole series row (matched ts + payloads) travels as ONE struct:
    // filling per-column would let a null payload field fall through to a
    // DIFFERENT series row's value (struct-level ignoreNulls keeps the
    // matched row intact — its null fields stay null, like a real join)
    val pSide = probe.select(
      probeCols.map(col) ++ Seq(
        col(probeTs).as(t), lit(1).as(isP),
        lit(null).cast(org.apache.spark.sql.types.StructType(
          series.schema(seriesTs).copy(name = "__mts") +:
            payload.map(c => series.schema(c)))).as(pl)): _*)
    val sSide = series.select(
      probeCols.map(c =>
        if (keys.contains(c)) col(c)
        else lit(null).cast(probe.schema(c).dataType).as(c)) ++ Seq(
        col(seriesTs).as(t), lit(0).as(isP),
        struct(col(seriesTs).as("__mts") +: payload.map(col): _*).as(pl)): _*)

    // ties: a series row at exactly the probe time matches in both
    // directions, so it must sort on the window side of the probe row
    val ord =
      if (forward) Seq(col(t).asc, col(isP).desc) else Seq(col(t).asc, col(isP).asc)
    def windowed(w0: org.apache.spark.sql.expressions.WindowSpec): Column = {
      val w =
        if (forward) w0.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        else w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      if (forward) first(col(pl), ignoreNulls = true).over(w)
      else last(col(pl), ignoreNulls = true).over(w)
    }
    val union = pSide.unionByName(sSide)

    val matched =
      if (keys.nonEmpty)
        union
          .withColumn(pl, windowed(Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)))
          .filter(col(isP) === 1)
      else {
        // unkeyed: a global window would serialize both tables onto one
        // core. Chunk by coarse (1-day) time slices — the fill window runs
        // per chunk, and the cross-chunk answer (last/first series payload
        // beyond the chunk) comes from a second pass over the tiny
        // one-row-per-chunk frame, broadcast back (the same boundary-carry
        // stitch as the chunked fill/sampling paths).
        val dayUs = 86400000000L
        val withChunk = union
          .withColumn("__chunk", (usec(col(t)) / lit(dayUs.toDouble)).cast("long"))
        val perChunk = withChunk.filter(col(isP) === 0)
          .groupBy("__chunk")
          .agg(max_by(col(pl), usec(col(t))).as("__lastPl"),
            min_by(col(pl), usec(col(t))).as("__firstPl"))
        val chunkFrame = withChunk.select("__chunk").distinct()
          .join(perChunk, Seq("__chunk"), "left")
        // tiny stitch frame: one row per day — sequential by design
        val wPrevC = Window.partitionBy(pmod(col("__chunk"), lit(1)))
          .orderBy(col("__chunk")).rowsBetween(Window.unboundedPreceding, -1)
        val wNextC = Window.partitionBy(pmod(col("__chunk"), lit(1)))
          .orderBy(col("__chunk")).rowsBetween(1, Window.unboundedFollowing)
        val carries = chunkFrame.select(col("__chunk"),
          last(col("__lastPl"), ignoreNulls = true).over(wPrevC).as("__carryB"),
          first(col("__firstPl"), ignoreNulls = true).over(wNextC).as("__carryF"))
        val carry = if (forward) col("__carryF") else col("__carryB")
        withChunk.join(broadcast(carries), "__chunk")
          .withColumn(pl,
            coalesce(windowed(Window.partitionBy(col("__chunk")).orderBy(ord: _*)), carry))
          .filter(col(isP) === 1)
          .drop("__chunk", "__carryB", "__carryF")
      }
    val mts = col(pl).getField("__mts")
    val within = tolerance.fold(lit(true)) { tol =>
      val iv = expr(s"INTERVAL '$tol'")
      if (forward) mts <= col(t) + iv else mts >= col(t) - iv
    }
    val unpacked = payload.foldLeft(matched) { (d, c) =>
      d.withColumn(c, when(within, col(pl).getField(c)))
    }
    unpacked.drop(t, isP, pl)
  }

  /** MAX_ROWS / MIN_ROWS: every row achieving the extreme of `valCol`. */
  def extremeRows(df: DataFrame, valCol: String, isMax: Boolean,
                  keys: Seq[String] = Nil): DataFrame = {
    val ext = (if (isMax) max(col(valCol)) else min(col(valCol))).as("__ext")
    if (keys.isEmpty) {
      val m = df.agg(ext)
      df.join(broadcast(m), df(valCol) === m("__ext")).drop("__ext")
    } else {
      val m = df.groupBy(keys.map(col): _*).agg(ext)
      df.join(broadcast(m), keys).filter(col(valCol) === col("__ext")).drop("__ext")
    }
  }

  /** Gap-based sessionization: per `keys`, assign each row a 1-based
    * `session_id` that increments whenever the gap from the previous row
    * (by `tsCol` asc, then `tieBreak`) STRICTLY exceeds `gapMs` — an event
    * landing exactly `gapMs` after its predecessor stays in the session.
    *
    * Plan shape: both window passes (the lag boundary flag and the running
    * sum) share one partitioning+ordering, so the whole operator costs a
    * single Exchange on `keys` plus one sort — scale-safe at one series
    * per user/device. With `keys = Nil` the chain is sequential by
    * semantics (any row can extend its predecessor's session) and runs in
    * a single partition via a non-foldable constant key, like unkeyed
    * unbounded MATCH_RECOGNIZE. The streaming counterpart is Spark's
    * native `session_window(ts, gap)` aggregation.
    */
  def sessionize(df: DataFrame, tsCol: String, gapMs: Long,
                 keys: Seq[String] = Nil, tieBreak: Seq[String] = Nil,
                 sessionCol: String = "session_id"): DataFrame = {
    val part: Seq[Column] =
      if (keys.nonEmpty) keys.map(col)
      // coalesce: pmod(NULL, 1) is NULL, so null-ts rows would otherwise
      // form a second partition with its own session numbering
      else Seq(coalesce(pmod(usec(col(tsCol)), lit(1L)), lit(0L)))
    val w = Window.partitionBy(part: _*)
      .orderBy(col(tsCol).asc +: tieBreak.map(col(_).asc): _*)
    val prevUs = lag(usec(col(tsCol)), 1).over(w)
    df.withColumn("__open",
        when(prevUs.isNull || usec(col(tsCol)) - prevUs > gapMs * 1000L,
          lit(1L)).otherwise(lit(0L)))
      .withColumn(sessionCol, sum(col("__open"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__open")
  }
}
