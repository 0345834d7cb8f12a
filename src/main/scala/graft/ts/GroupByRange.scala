package graft.ts

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}

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
  * partial aggregation + AQE handle skew. Every fill is one [[GridSweep]]
  * pass per series over the bucket aggregate itself (bounded by the grid):
  * no grid frame, no join, no window. Unkeyed, the aggregate reaches the
  * sweep through a no-shuffle `coalesce(1)` and the output comes in `ts_ms`
  * order, so the final ORDER BY plans no exchange or sort: over a
  * multi-partition source the aggregate's shuffle is the plan's only
  * exchange, and over a `SinglePartition` source (a one-partition catalog
  * container) the whole fill is one stage, one job. Keyed, the sweep
  * clusters the aggregate on the keys and runs once per key; every key of
  * the source gets its grid, even one with no row in range.
  */
object GroupByRange {

  sealed trait Fill
  case object FillNone extends Fill
  case object FillNull extends Fill
  case object FillPrevious extends Fill
  case object FillLinear extends Fill

  /** @param startMs,endMs  range bounds (epoch ms, inclusive; start later
    *                       than end selects nothing)
    * @param everyMs        bucket width ms
    * @param aggs           aggregate columns (must be aliased); FILL (LINEAR)
    *                       reads each as a double and takes only numeric
    *                       and string aggregates
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
    val values = aggNames.map(c => if (fill == FillLinear) asDouble(agged, c) else col(c))
    val buckets = agged.select((keyCols ++ (col("ts_ms") +: values)): _*)
    // a key with no row in range still gets its all-null grid: each key of
    // the source adds one null-bucket row, which only makes the key present
    val input = if (keys.isEmpty) buckets else buckets.unionByName(
      df.select(keyCols: _*).distinct().select((keyCols ++ buckets.schema.fields.drop(keys.size)
        .map(f => lit(null).cast(f.dataType).as(f.name))): _*))
    val mode = if (fill == FillLinear) GridSweep.FillLinear else GridSweep.Fill(fill == FillPrevious)
    // the last bucket index; floorDiv makes start later than end by less
    // than a bucket an empty grid, not a one-bucket one
    val n = Math.floorDiv(endMs - startMs, everyMs)
    GridSweep(input, mode, startMs, everyMs, n, aggNames, keys.size)
      .orderBy((keyCols :+ col("ts_ms")): _*)
  }

  /** An aggregate as FILL (LINEAR) reads it: a numeric or string one cast
    * to double (a malformed string fails the job, as an ANSI cast does);
    * any other type is rejected before a job runs. */
  private def asDouble(agged: DataFrame, c: String): Column = agged.schema(c).dataType match {
    case _: NumericType | _: StringType => col(c).cast("double").as(c)
    case t => throw new AnalysisException("DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", Map(
      "sqlExpr" -> s"\"FILL (LINEAR) $c\"", "paramIndex" -> "first",
      "requiredType" -> "(\"NUMERIC\" or \"STRING\")", "inputSql" -> s"\"$c\"",
      "inputType" -> s"\"${t.sql}\""))
  }
}
