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
  * `keys` (window partitioning / groupBy, or the grid sweep clustered on
  * them) and only degenerates to a single partition when keys are empty —
  * matching the reference's per-container semantics. Every time grid
  * (TIME_SAMPLING here, the GROUP BY RANGE fill in [[GroupByRange]]) is one
  * [[GridSweep]] pass per series over a grid-bounded aggregate.
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

  // ---- TIME_SAMPLING ------------------------------------------------------
  // Every sampling form is one [[GridSweep]] over a *payload* struct whose
  // first field is t_us (epoch µs): struct ordering is (timestamp, then the
  // remaining fields), so ties between rows at the same instant resolve
  // deterministically (greatest row wins on the prev side, least on next).
  //  - named-column form: payload = (t_us, v); the sweep interpolates.
  //  - star form TIME_SAMPLING(*): payload = (t_us, <all held columns>); the
  //    sweep re-emits the bracketing row's fields unchanged. This is
  //    sample-and-hold, NOT per-column interpolation: the reference's star
  //    path leaves the interpolated value unset (tmpRow.value stays NULL when
  //    columnId == UNDEF_COLUMNID, selection_func_impl.h:620-673) and outputs
  //    the previous row's full image with only field 0 replaced by the grid
  //    instant (selection_func_impl.h:700-713).
  //  - EMPTY mode, either payload: the exact-match row's fields, else nulls.

  /** TIME_SAMPLING(valCol, start, end, interval): resample the series onto a
    * regular grid; at each grid instant emit the exact value if a row exists,
    * else the linear interpolation between neighbors; grid points outside the
    * observed range produce no row. `start` and `end` must be literal
    * timestamps (all TQL and SQL surfaces produce literals); start later
    * than end gives no rows. One grid sweep per series — see [[sample]].
    * Rows come back in (keys, `ts_ms`) order, the row-key order of a GridDB
    * TimeSeries result.
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
    * bracketing row's image un-interpolated (see the note above). Output:
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
    * greatest value — the same greatest-row rule the other forms apply on
    * the prev side. */
  def timeSamplingEmpty(df: DataFrame, tsCol: String, valCol: String,
                        start: Column, end: Column, intervalUs: Long,
                        keys: Seq[String] = Nil): DataFrame =
    sample(df, tsCol, Some(valCol), start, end, intervalUs, keys, None, empty = true)

  /** Star form of [[timeSamplingEmpty]]: every non-key column carried
    * from the exact-match row, or NULL — the reference's EMPTY rule
    * verbatim ("an empty value ... for all Row fields except Row keys",
    * InterpolationMode.java:70). Ties at one instant resolve to the
    * greatest full row image (struct order), as in the star form of
    * [[timeSamplingHold]]. Output: (keys..., ts_ms, <held columns>). */
  def timeSamplingEmptyAll(df: DataFrame, tsCol: String,
                           start: Column, end: Column, intervalUs: Long,
                           keys: Seq[String] = Nil): DataFrame =
    sample(df, tsCol, None, start, end, intervalUs, keys, None, empty = true)

  /** The core of every sampling form: `valCol` read as a double, or (None)
    * every non-key column held; interpolated or held, or (`empty`) exact
    * hits only. `static`: the bounds as epoch micros when the caller
    * already holds them (the TQL compiler's TIMESTAMP() literals); None
    * folds them from `start`/`end`.
    *
    * The data-side work is fully distributed: one hash aggregation
    * ([[StructExtreme]], which plans an `ObjectHashAggregate` where
    * `min`/`max` of a struct would sort every row) folds each series into
    * per-grid-cell first/last/exact-hit rows (cell j = floor((t-s0)/interval),
    * clamped to [-1, n+1]), and one [[GridSweep]] pass per series over that
    * grid-bounded frame (at most n + 3 cells) emits the grid. For each grid
    * instant g_k:
    *   prev(g_k) = exact hit at g_k, else last row of the latest non-empty
    *               cell <= k-1  (== latest row with t <= g_k);
    *   next(g_k) = first row of the earliest non-empty cell >= k
    *               (== earliest row with t >= g_k, cell k starting at g_k).
    * The clamp is exact: cell -1's last row is the last row before g_0 and
    * cell n+1's first row the first row after g_n, and neither cell offers
    * anything else a grid instant reads. Unkeyed, the cell aggregate is the
    * plan's only exchange; the cells reach the sweep through a no-shuffle
    * `coalesce(1)`, so over a source that reports `SinglePartition` (a
    * one-partition catalog container) the whole read is one job with no
    * exchange. Keyed, the sweep clusters the cells on the keys. */
  private[graft] def sample(df: DataFrame, tsCol: String, valCol: Option[String],
                            start: Column, end: Column, intervalUs: Long,
                            keys: Seq[String], static: Option[(Long, Long)],
                            empty: Boolean = false): DataFrame = {
    require(intervalUs > 0, "TIME_SAMPLING interval must be positive")
    val t = usec(col(tsCol))
    val (pay, names) = valCol match {
      case Some(v) => (struct(t.as("t_us"), col(v).cast("double").as("v")), Seq(v))
      case None =>
        val held = df.columns.filterNot(c => c == tsCol || keys.contains(c)).toSeq
        (struct((t.as("t_us") +: held.map(col)): _*), held)
    }
    val mode =
      if (empty) GridSweep.Empty else if (valCol.isDefined) GridSweep.Interpolate else GridSweep.Hold
    val (s0Us, e0Us) = static.getOrElse((staticUs(df.sparkSession, start), staticUs(df.sparkSession, end)))
    // start later than end excludes every row (TimeSeries.java:495): n < 0
    // is an empty grid, not a one-point one
    val n = Math.floorDiv(e0Us - s0Us, intervalUs)
    val keyCols = keys.map(col)
    val j = floor((t - lit(s0Us)) / lit(intervalUs.toDouble)).cast("long")
    val cells = df
      .select((keyCols :+ when(j < -1L, -1L).when(j > n + 1, n + 1).otherwise(j).as("__j") :+
        pay.as("pay") :+ when(pmod(t - lit(s0Us), lit(intervalUs)) === 0, pay).as("__hit")): _*)
      .groupBy((keyCols :+ col("__j")): _*).agg(
        StructExtreme.of("pay", greatest = false).as("__first"),
        StructExtreme.of("pay", greatest = true).as("__last"),
        StructExtreme.of("__hit", greatest = true).as("__exact"))
    // the unkeyed sweep already emits row-key order, so the plan drops this sort
    GridSweep(cells, mode, s0Us, intervalUs, n, names, keys.size).orderBy((keyCols :+ col("ts_ms")): _*)
  }

  /** A literal timestamp bound as epoch micros. Resolution and constant
    * folding run driver-side on a one-row plan — no job is executed. A
    * bound that does not fold to a non-null literal is rejected. */
  private def staticUs(spark: org.apache.spark.sql.SparkSession, c: Column): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal => CLit}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    (spark.range(1).select(unix_micros(c.cast("timestamp"))).queryExecution.optimizedPlan match {
      case l: LocalRelation =>
        l.data.headOption.collect { case r if !r.isNullAt(0) => r.getLong(0) }
      case Project(Seq(Alias(CLit(v: Long, _), _)), _) => Some(v)
      case _ => None
    }).getOrElse(throw new IllegalArgumentException(
      s"TIME_SAMPLING bounds must be non-null literal timestamps, got $c"))
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
