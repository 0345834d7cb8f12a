package graft.ts

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructType}

/** One pass over a time-ordered, grid-bounded frame that emits one row per
  * grid instant `start + k * step`, k = 0..n — GridDB's own shape for
  * TIME_SAMPLING and the GROUP BY RANGE fill (GroupRangeMerge,
  * server/sql_operator_group.h:181-441; selection_func.h:169-186).
  *
  * It replaces, for unkeyed grids of at most `TimeSeriesOps.SmallGrid`
  * points, the generated grid, the union or join that attached the data to
  * it and the two bracketing windows. Its input is the caller's
  * grid-bounded aggregate (at most n + 3 rows), gathered into one
  * partition without a shuffle and sorted on its first column, the grid
  * key. The arithmetic and the null rules are those of the window
  * formulation, so results are bit-identical (GridSweepSpec keeps that
  * formulation as its reference).
  *
  * Three parts: the logical node [[GridSweep]], the planner strategy
  * [[GridSweepStrategy]] (injected by `GraftExtensions`, and added to
  * `experimental.extraStrategies` by `GraftSession.prepare`) and the
  * physical [[GridSweepExec]]. */
object GridSweep {

  /** What the sweep emits at each grid instant; fixed by the call site. */
  sealed trait Mode
  /** TIME_SAMPLING(col). Input: (cell, first, last, exact) over payload
    * structs (t_us, v): the exact hit, else the linear interpolation
    * between the bracketing rows. */
  case object Interpolate extends Mode { override def toString = "TIME_SAMPLING interpolate" }
  /** TIME_SAMPLING(*). Same input, payload (t_us, held columns...): the
    * bracketing previous row's image, held. */
  case object Hold extends Mode { override def toString = "TIME_SAMPLING hold" }
  /** FILL (NULL | PREVIOUS). Input: (ts_ms bucket, aggregates...): the
    * bucket's values, else null or each column's previous value. */
  case class Fill(previous: Boolean) extends Mode {
    override def toString: String = if (previous) "FILL PREVIOUS" else "FILL NULL"
  }
  /** FILL (LINEAR). Input as [[Fill]], aggregates already cast to double:
    * the bucket's values, else the interpolation between the neighboring
    * non-empty buckets. */
  case object FillLinear extends Mode { override def toString = "FILL LINEAR" }

  /** The sweep of `input` (grid key first, then the values `mode` reads),
    * as a frame of `ts_ms` followed by the columns `names`. */
  def apply(input: DataFrame, mode: Mode, start: Long, step: Long, n: Long,
            names: Seq[String]): DataFrame = {
    val child = Repartition(1, shuffle = false, input.queryExecution.analyzed)
    val values = child.output.tail
    val types = mode match {
      case Interpolate => Seq(DoubleType)
      case Hold => values.head.dataType.asInstanceOf[StructType].fields.toSeq.tail.map(_.dataType)
      case _ => values.map(_.dataType)
    }
    val sampling = mode == Interpolate || mode == Hold
    val output = AttributeReference("ts_ms", LongType, nullable = sampling)() +:
      names.zip(types).map { case (c, t) => AttributeReference(c, t)() }
    GraftSqlBridge.ofRows(input.sparkSession,
      GridSweepNode(mode, start, step, n, child.output.head, values, output, child))
  }
}

/** The logical node: `key` and `values` are the child's columns it reads,
  * `output` the columns it produces. */
case class GridSweepNode(mode: GridSweep.Mode, start: Long, step: Long, n: Long,
                         key: Attribute, values: Seq[Attribute], output: Seq[Attribute],
                         child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): GridSweepNode =
    copy(child = newChild)
}

/** Plans [[GridSweepNode]] as [[GridSweepExec]] (after SNIPPETS.md [1]). */
object GridSweepStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case g: GridSweepNode =>
      GridSweepExec(g.mode, g.start, g.step, g.n, g.key, g.values, g.output,
        planLater(g.child)) :: Nil
    case _ => Nil
  }

  /** Adds the strategy to a session that was not built with
    * `GraftExtensions`. Idempotent. */
  def install(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(this)) x.extraStrategies = this +: x.extraStrategies
    }
  }
}

/** The physical sweep: one partition in, sorted on the grid key; one
  * partition out, in `ts_ms` order. */
case class GridSweepExec(mode: GridSweep.Mode, start: Long, step: Long, n: Long,
                         key: Attribute, values: Seq[Attribute], output: Seq[Attribute],
                         child: SparkPlan) extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] = AllTuples :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(Seq(SortOrder(key, Ascending)))
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] = Seq(SortOrder(output.head, Ascending))

  override def simpleString(maxFields: Int): String =
    s"GridSweep $mode, s0=$start, interval=$step, n=$n, output=${output.mkString("[", ", ", "]")}"

  override protected def withNewChildInternal(newChild: SparkPlan): GridSweepExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val (numIn, numOut) = (longMetric("numInputRows"), longMetric("numOutputRows"))
    val sweep = GridSweepKernel(mode, start, step, n,
      child.output.indexWhere(_.exprId == key.exprId),
      values.map(v => child.output.indexWhere(_.exprId == v.exprId)),
      values.map(_.dataType))
    val outTypes = output.map(_.dataType).toArray
    child.execute().mapPartitions { rows =>
      val toUnsafe = UnsafeProjection.create(outTypes)
      sweep.run(rows.map { r => numIn += 1; r }).map { r => numOut += 1; toUnsafe(r) }
    }
  }
}

/** The sweep itself, free of the plan so that tasks ship only this. Input
  * rows arrive in grid-key order (a null sampling cell first). */
private[ts] case class GridSweepKernel(mode: GridSweep.Mode, start: Long, step: Long, n: Long,
                                       keyAt: Int, valueAt: Seq[Int], types: Seq[DataType]) {
  import GridSweep._

  def run(rows: Iterator[InternalRow]): Iterator[InternalRow] = mode match {
    case Interpolate | Hold => sample(rows)
    case _ => fill(rows.map(_.copy()).toArray)
  }

  /** Sampling over cells j (input (j, first, last, exact), j clamped to
    * [-1, n+1]). At grid index k:
    *   prev = the exact hit of cell k, else the latest row of any cell < k;
    *   next = the first row of the earliest cell >= k;
    * no row unless both exist. */
  private def sample(cells: Iterator[InternalRow]): Iterator[InternalRow] = {
    val width = types.head.asInstanceOf[StructType].size
    def pay(r: InternalRow, v: Int): InternalRow =
      if (r.isNullAt(valueAt(v))) null else r.getStruct(valueAt(v), width)
    var head: InternalRow = null // the earliest cell not yet passed
    def pull(): Unit = head = if (cells.hasNext) cells.next().copy() else null
    pull()
    var prev: InternalRow = null
    (0L to n).iterator.flatMap { k =>
      while (head != null && (head.isNullAt(keyAt) || head.getLong(keyAt) < k)) {
        // a passed cell offers its exact hit, then (later) its last row
        Seq(pay(head, 2), pay(head, 1)).foreach(p => if (p != null) prev = p)
        pull()
      }
      val exact = if (head != null && head.getLong(keyAt) == k) pay(head, 2) else null
      val p = if (exact != null) exact else prev
      val nx = if (head != null) pay(head, 0) else null
      if (p == null || nx == null) None else Some(emitSample(start + k * step, p, nx))
    }
  }

  private def emitSample(gUs: Long, p: InternalRow, nx: InternalRow): InternalRow = {
    // ts_ms is cast(cast(g as double) / 1000.0 as bigint), as in the plan it replaces
    val ts = (gUs.toDouble / 1000.0).toLong
    mode match {
      case Hold =>
        val held = types.head.asInstanceOf[StructType].fields
        new GenericInternalRow((ts: Any) +: (1 until held.length).map(i => p.get(i, held(i).dataType)).toArray)
      case _ =>
        // CASE WHEN n.t = p.t THEN p.v ELSE p.v + (n.v - p.v) * ((g - p.t) / (n.t - p.t)) END
        val v: Any =
          if (p.isNullAt(0) || nx.isNullAt(0)) null
          else if (nx.getLong(0) == p.getLong(0)) (if (p.isNullAt(1)) null else p.getDouble(1))
          else if (p.isNullAt(1) || nx.isNullAt(1)) null
          else {
            val (pT, pV) = (p.getLong(0), p.getDouble(1))
            pV + (nx.getDouble(1) - pV) * ((gUs - pT).toDouble / (nx.getLong(0) - pT).toDouble)
          }
        new GenericInternalRow(Array[Any](ts, v))
    }
  }

  /** The fill over the non-empty buckets (input (ts_ms, values...), every
    * bucket on the grid). A bucket whose values are all null is empty. */
  private def fill(buckets: Array[InternalRow]): Iterator[InternalRow] = {
    val m = valueAt.size
    def value(i: Int, c: Int): Any =
      if (buckets(i).isNullAt(valueAt(c))) null else buckets(i).get(valueAt(c), types(c))
    val full = buckets.indices.map(i => (0 until m).exists(c => value(i, c) != null))
    // FILL (LINEAR) looks ahead: from bucket i on, the first non-empty
    // bucket's time and each column's first non-null value among them
    val nextT = new Array[Any](buckets.length + 1)
    val nextV = Array.ofDim[Any](buckets.length + 1, m)
    if (mode == FillLinear) for (i <- buckets.indices.reverse) {
      nextT(i) = if (full(i)) buckets(i).getLong(keyAt) else nextT(i + 1)
      for (c <- 0 until m)
        nextV(i)(c) = if (full(i) && value(i, c) != null) value(i, c) else nextV(i + 1)(c)
    }
    var i = 0 // the first bucket at or after the grid instant
    var prevT: Any = null
    val prevV = new Array[Any](m)
    (0L to n).iterator.map { k =>
      val g = start + k * step
      while (i < buckets.length && buckets(i).getLong(keyAt) < g) i += 1
      val at = if (i < buckets.length && buckets(i).getLong(keyAt) == g) i else -1
      val out = new Array[Any](m + 1)
      out(0) = g
      if (at >= 0 && full(at)) {
        for (c <- 0 until m) {
          out(c + 1) = value(at, c)
          if (out(c + 1) != null) prevV(c) = out(c + 1)
        }
        prevT = g
      } else mode match {
        case Fill(true) => for (c <- 0 until m) out(c + 1) = prevV(c)
        case FillLinear =>
          val j = if (at >= 0) at + 1 else i
          if (prevT != null && nextT(j) != null) {
            val (pt, nt) = (prevT.asInstanceOf[Long], nextT(j).asInstanceOf[Long])
            for (c <- 0 until m) out(c + 1) = (prevV(c), nextV(j)(c)) match {
              case (pv: Double, nv: Double) => pv + (nv - pv) * ((g - pt).toDouble / (nt - pt).toDouble)
              case _ => null
            }
          }
        case _ =>
      }
      new GenericInternalRow(out)
    }
  }
}
