package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GridDB `GROUP BY RANGE(ts) EVERY (n, unit) FILL (mode)` — tumbling time
  * buckets over [start, end], including EMPTY bucket generation and gap fill.
  *
  * Reference: OP_GROUP_RANGE / GroupRangeMerge
  * (/root/reference/server/sql_operator_group.h:181-441, fill selection
  * /root/reference/server/sql_operator_group.cpp:603-640; grammar rules
  * 226-233 /root/reference/server/sql_internal_parser.cpp:1060-1067).
  *
  * Fill modes (applied to every aggregated column):
  *  - NONE:     only non-empty buckets are returned.
  *  - NULL:     empty buckets present with NULL aggregates.
  *  - PREVIOUS: empty buckets take the previous non-empty bucket's value
  *              (leading gaps stay NULL).
  *  - LINEAR:   empty buckets linearly interpolate between the neighboring
  *              non-empty buckets; gaps before the first / after the last
  *              anchor stay NULL (the reference fills only between anchors).
  *
  * Scale notes: the aggregation is a plain hash groupBy on (keys, bucket) —
  * partial aggregation + AQE handle skew. An unkeyed grid of at most
  * `TimeSeriesOps.SmallGrid` buckets is generated as ONE partition and the
  * bucket aggregate (bounded by the grid) broadcasts into it, so the fill
  * windows and the final ORDER BY run in that partition with no exchange:
  * the aggregate's own shuffle is the plan's only one. Larger unkeyed grids
  * take the chunked fill; keyed fills partition the window by `keys`.
  */
object GroupByRange {

  sealed trait Fill
  case object FillNone extends Fill
  case object FillNull extends Fill
  case object FillPrevious extends Fill
  case object FillLinear extends Fill

  /** @param startMs,endMs  range bounds (epoch ms, inclusive)
    * @param everyMs        bucket width ms
    * @param aggs           aggregate columns (must be aliased)
    * @param fill           fill mode
    * @param keys           optional series keys (empty = whole container)
    * Output: keys..., ts_ms (bucket start, epoch ms), aggregated columns. */
  def apply(df: DataFrame, tsCol: String, startMs: Long, endMs: Long,
            everyMs: Long, aggs: Seq[Column], fill: Fill,
            keys: Seq[String] = Nil): DataFrame = {
    require(everyMs > 0, "EVERY must be positive")
    val keyCols = keys.map(col)
    val ms = unix_millis(col(tsCol))
    val bucket = (floor((ms - lit(startMs)) / lit(everyMs)) * lit(everyMs) + lit(startMs)).as("ts_ms")
    val inRange = df.filter(ms >= startMs && ms <= endMs)
    val agged = inRange.groupBy((bucket +: keyCols): _*).agg(aggs.head, aggs.tail: _*)
    if (fill == FillNone)
      return agged.orderBy((keyCols :+ col("ts_ms")): _*)

    val aggNames = agged.columns.filterNot(c => c == "ts_ms" || keys.contains(c)).toSeq
    val spark = df.sparkSession
    val nBuckets = (endMs - startMs) / everyMs + 1
    // unkeyed fill is size-adaptive: the bucket count is static, so a small
    // grid (the whole fill frame is bounded by the grid, not the data) is
    // one partition that the broadcast aggregate joins into — Range(1 slice)
    // reports SinglePartition, which satisfies the window's clustering and
    // the ORDER BY's ordering, so neither plans an exchange (7 stages -> 3
    // for FILL (LINEAR)). Only genuinely large grids pay the chunked plan's
    // extra stitch stages.
    val small = keys.isEmpty && nBuckets <= TimeSeriesOps.SmallGrid
    val grid =
      if (keys.isEmpty) {
        // one bucket per range element, no driver array
        val ids = if (small) spark.range(0, nBuckets, 1, 1) else spark.range(nBuckets)
        ids.select((col("id") * everyMs + startMs).as("ts_ms"))
      } else {
        val gridTimes = explode(sequence(lit(startMs),
          lit(startMs + (nBuckets - 1) * everyMs), lit(everyMs))).as("ts_ms")
        df.select(keyCols: _*).distinct().select((keyCols :+ gridTimes): _*)
      }

    val joined = grid.join(if (small) broadcast(agged) else agged, keys :+ "ts_ms", "left")
      .withColumn("__empty", aggNames.map(col(_).isNull).reduce(_ && _))

    val part: Seq[Column] =
      if (keys.isEmpty) Seq(pmod(col("ts_ms"), lit(1))) else keyCols
    fill match {
      case FillNull | FillNone =>
        joined.drop("__empty").orderBy((keyCols :+ col("ts_ms")): _*)
      case FillPrevious | FillLinear if keys.isEmpty && !small =>
        fillChunked(joined, aggNames, startMs, everyMs, fill == FillLinear)
      case FillPrevious =>
        val w = Window.partitionBy(part: _*).orderBy(col("ts_ms"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val filled = aggNames.foldLeft(joined) { (d, c) =>
          d.withColumn(c, when(col("__empty"),
            last(when(!col("__empty"), col(c)), ignoreNulls = true).over(w))
            .otherwise(col(c)))
        }
        filled.drop("__empty").orderBy((keyCols :+ col("ts_ms")): _*)
      case FillLinear =>
        // unkeyed: the constant partition key is a named column so the asc
        // and desc windows share one partitioning (a raw expression key
        // re-projects as a fresh `_w0` per Window node); on the one-partition
        // grid neither window needs an exchange, only a local sort each
        val (joinedP, partC) =
          if (keys.isEmpty)
            (joined.withColumn("__cpart", pmod(col("ts_ms"), lit(1))),
              Seq(col("__cpart")))
          else (joined, part)
        val wp = Window.partitionBy(partC: _*).orderBy(col("ts_ms"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wn = Window.partitionBy(partC: _*).orderBy(col("ts_ms").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val anchorT = when(!col("__empty"), col("ts_ms"))
        val base = joinedP
          .withColumn("__pt", last(anchorT, ignoreNulls = true).over(wp))
          .withColumn("__nt", last(anchorT, ignoreNulls = true).over(wn))
        val filled = aggNames.foldLeft(base) { (d, c) =>
          val pv = last(when(!col("__empty"), col(c)), ignoreNulls = true).over(wp)
          val nv = last(when(!col("__empty"), col(c)), ignoreNulls = true).over(wn)
          d.withColumn(c, when(!col("__empty"), col(c))
            .when(col("__pt").isNotNull && col("__nt").isNotNull,
              pv.cast("double") + (nv.cast("double") - pv.cast("double")) *
                ((col("ts_ms") - col("__pt")).cast("double") /
                  (col("__nt") - col("__pt")).cast("double")))
            .otherwise(lit(null)))
        }
        filled.drop("__empty", "__pt", "__nt", "__cpart")
          .orderBy((keyCols :+ col("ts_ms")): _*)
    }
  }

  /** Buckets per time chunk in the unkeyed fill path (matches
    * TimeSeriesOps.ChunkPoints: tiny stitch frame, small per-chunk window). */
  private val ChunkBuckets = 256L

  /** Unkeyed PREVIOUS/LINEAR fill, scaled out: the bucket grid is split into
    * chunks of 256 buckets, the fill window runs per chunk, and each chunk's
    * carry-in anchors (previous/next non-empty bucket time + per-column
    * last/first non-null value, exactly the values the global recurrence
    * would use) come from a second pass over the tiny one-row-per-chunk
    * frame, broadcast-joined back. Per-row arithmetic is unchanged from the
    * single-window formulation, so results are bit-identical. */
  private def fillChunked(joined: DataFrame, aggNames: Seq[String],
                          startMs: Long, everyMs: Long,
                          linear: Boolean): DataFrame = {
    val chunkMs = everyMs * ChunkBuckets
    val withChunk = joined.withColumn("__chunk",
      ((col("ts_ms") - lit(startMs)) / lit(chunkMs.toDouble)).cast("long"))
    val notEmpty = !col("__empty")

    // one row per chunk: bucket-level anchor times + per-column anchor values
    val perChunkAggs =
      Seq(max(when(notEmpty, col("ts_ms"))).as("__pt_l"),
        min(when(notEmpty, col("ts_ms"))).as("__nt_f")) ++
        aggNames.flatMap { c =>
          val ord = when(notEmpty && col(c).isNotNull, col("ts_ms"))
          Seq(max_by(col(c), ord).as(s"__pv_l_$c"), min_by(col(c), ord).as(s"__nv_f_$c"))
        }
    val perChunk = withChunk.groupBy("__chunk")
      .agg(perChunkAggs.head, perChunkAggs.tail: _*)
    // stitch pass over the tiny chunk frame — sequential by design
    // (constant partition key; one row per 256 buckets)
    val wPrevC = Window.partitionBy(pmod(col("__chunk"), lit(1))).orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNextC = Window.partitionBy(pmod(col("__chunk"), lit(1))).orderBy(col("__chunk"))
      .rowsBetween(1, Window.unboundedFollowing)
    val carryCols =
      Seq(col("__chunk"),
        last(col("__pt_l"), ignoreNulls = true).over(wPrevC).as("__cpt"),
        first(col("__nt_f"), ignoreNulls = true).over(wNextC).as("__cnt")) ++
        aggNames.flatMap { c =>
          Seq(last(col(s"__pv_l_$c"), ignoreNulls = true).over(wPrevC).as(s"__cpv_$c"),
            first(col(s"__nv_f_$c"), ignoreNulls = true).over(wNextC).as(s"__cnv_$c"))
        }
    val carries = perChunk.select(carryCols: _*)

    val chunked = withChunk.join(broadcast(carries), "__chunk")
    val wp = Window.partitionBy("__chunk").orderBy(col("ts_ms"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy("__chunk").orderBy(col("ts_ms").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val filled =
      if (!linear) {
        aggNames.foldLeft(chunked) { (d, c) =>
          val pv = coalesce(
            last(when(notEmpty, col(c)), ignoreNulls = true).over(wp),
            col(s"__cpv_$c"))
          d.withColumn(c, when(col("__empty"), pv).otherwise(col(c)))
        }
      } else {
        val anchorT = when(notEmpty, col("ts_ms"))
        val base = chunked
          .withColumn("__pt",
            coalesce(last(anchorT, ignoreNulls = true).over(wp), col("__cpt")))
          .withColumn("__nt",
            coalesce(last(anchorT, ignoreNulls = true).over(wn), col("__cnt")))
        aggNames.foldLeft(base) { (d, c) =>
          val pv = coalesce(
            last(when(notEmpty, col(c)), ignoreNulls = true).over(wp), col(s"__cpv_$c"))
          val nv = coalesce(
            last(when(notEmpty, col(c)), ignoreNulls = true).over(wn), col(s"__cnv_$c"))
          d.withColumn(c, when(notEmpty, col(c))
            .when(col("__pt").isNotNull && col("__nt").isNotNull,
              pv.cast("double") + (nv.cast("double") - pv.cast("double")) *
                ((col("ts_ms") - col("__pt")).cast("double") /
                  (col("__nt") - col("__pt")).cast("double")))
            .otherwise(lit(null)))
        }
      }
    filled.drop((Seq("__empty", "__chunk", "__cpt", "__cnt", "__pt", "__nt") ++
      aggNames.flatMap(c => Seq(s"__cpv_$c", s"__cnv_$c"))): _*)
      .orderBy(col("ts_ms"))
  }
}
