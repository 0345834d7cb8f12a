package graft.ts

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructType}

/** One pass over a time-ordered, grid-bounded frame that emits one row per
  * grid instant `start + k * step`, k = 0..n — GridDB's own shape for
  * TIME_SAMPLING and the GROUP BY RANGE fill (GroupRangeMerge,
  * server/sql_operator_group.h:181-441; selection_func.h:169-186).
  *
  * It is the only way graft evaluates a time grid: every TIME_SAMPLING form
  * (interpolate, hold, EMPTY) and every GROUP BY RANGE fill, keyed or not,
  * of any grid size. Its input is the caller's grid-bounded aggregate (at
  * most n + 3 rows per series). Unkeyed, that frame is gathered into one
  * partition without a shuffle; keyed, it is clustered on the series keys,
  * and the sweep runs once per key. Either way it is sorted on the keys and
  * then the grid key. The arithmetic and the null rules are those of the
  * window formulations it replaced, so results are bit-identical
  * (GridSweepSpec keeps those formulations as its references).
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
  /** Sampling with InterpolationMode.EMPTY, either payload: the exact
    * hit's fields, else nulls, only where rows bracket the instant. */
  case object Empty extends Mode { override def toString = "TIME_SAMPLING empty" }
  /** FILL (NULL | PREVIOUS). Input: (ts_ms bucket, aggregates...): the
    * bucket's values, else null or each column's previous value. */
  case class Fill(previous: Boolean) extends Mode {
    override def toString: String = if (previous) "FILL PREVIOUS" else "FILL NULL"
  }
  /** FILL (LINEAR). Input as [[Fill]], aggregates already cast to double:
    * the bucket's values, else the interpolation between the neighboring
    * non-empty buckets. */
  case object FillLinear extends Mode { override def toString = "FILL LINEAR" }

  private[ts] def sampling(mode: Mode): Boolean = mode == Interpolate || mode == Hold || mode == Empty

  /** The sweep of `input` (the first `nKeys` columns the series keys, then
    * the grid key, then the values `mode` reads), as a frame of the keys,
    * `ts_ms` and the columns `names`. */
  private[ts] def apply(input: DataFrame, mode: Mode, start: Long, step: Long, n: Long,
                        names: Seq[String], nKeys: Int): DataFrame = {
    val plan = input.queryExecution.analyzed
    val child = if (nKeys == 0) Repartition(1, shuffle = false, plan) else plan
    val (keys, key +: values) = child.output.splitAt(nKeys)
    val types = mode match {
      case Interpolate => Seq(DoubleType)
      case Hold | Empty => values.head.dataType.asInstanceOf[StructType].fields.toSeq.tail.map(_.dataType)
      case _ => values.map(_.dataType)
    }
    val output = keys ++ (AttributeReference("ts_ms", LongType, nullable = sampling(mode))() +:
      names.zip(types).map { case (c, t) => AttributeReference(c, t)() })
    GraftSqlBridge.ofRows(input.sparkSession,
      GridSweepNode(mode, start, step, n, keys, key, values, output, child))
  }
}

/** The logical node: `keys` (the series keys, passed through), `key` and
  * `values` are the child's columns it reads, `output` the columns it
  * produces. */
case class GridSweepNode(mode: GridSweep.Mode, start: Long, step: Long, n: Long,
                         keys: Seq[Attribute], key: Attribute, values: Seq[Attribute],
                         output: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output.drop(keys.size))
  override protected def withNewChildInternal(newChild: LogicalPlan): GridSweepNode =
    copy(child = newChild)
}

/** Plans [[GridSweepNode]] as [[GridSweepExec]] (after SNIPPETS.md [1]). */
object GridSweepStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case g: GridSweepNode =>
      GridSweepExec(g.mode, g.start, g.step, g.n, g.keys, g.key, g.values, g.output,
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

/** The physical sweep. Unkeyed: one partition in, sorted on the grid key;
  * one partition out, in `ts_ms` order. Keyed: partitions clustered on the
  * keys, sorted on the keys and then the grid key; each key's rows are swept
  * in turn, and come out in (keys, `ts_ms`) order within their partition. */
case class GridSweepExec(mode: GridSweep.Mode, start: Long, step: Long, n: Long,
                         keys: Seq[Attribute], key: Attribute, values: Seq[Attribute],
                         output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    (if (keys.isEmpty) AllTuples else ClusteredDistribution(keys)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq((keys :+ key).map(SortOrder(_, Ascending)))
  override def outputPartitioning: Partitioning =
    if (keys.isEmpty) SinglePartition else UnknownPartitioning(child.outputPartitioning.numPartitions)
  override def outputOrdering: Seq[SortOrder] = output.take(keys.size + 1).map(SortOrder(_, Ascending))

  override def simpleString(maxFields: Int): String =
    s"GridSweep $mode, s0=$start, interval=$step, n=$n, " +
      (if (keys.isEmpty) "" else s"keys=${keys.mkString("[", ", ", "]")}, ") +
      s"output=${output.mkString("[", ", ", "]")}"

  override protected def withNewChildInternal(newChild: SparkPlan): GridSweepExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val (numIn, numOut) = (longMetric("numInputRows"), longMetric("numOutputRows"))
    def at(a: Attribute): Int = child.output.indexWhere(_.exprId == a.exprId)
    val sweep = GridSweepKernel(mode, start, step, n, at(key), values.map(at), values.map(_.dataType))
    val (childOut, keyAttrs, outTypes) = (child.output, keys, output.map(_.dataType).toArray)
    child.execute().mapPartitions { rows =>
      val toUnsafe = UnsafeProjection.create(outTypes)
      val counted = rows.map { r => numIn += 1; r }
      val swept =
        if (keyAttrs.isEmpty) sweep.run(counted)
        else {
          val keyOf = UnsafeProjection.create(keyAttrs, childOut)
          val joined = new JoinedRow
          GridSweepKernel.runs(counted, keyOf).flatMap { case (k, run) =>
            sweep.run(run).map(joined(k, _))
          }
        }
      swept.map { r => numOut += 1; toUnsafe(r) }
    }
  }
}

/** The sweep of one series, free of the plan so that tasks ship only this.
  * Input rows arrive in grid-key order (a null sampling cell or a keyed
  * fill's null-bucket row first). */
private[ts] case class GridSweepKernel(mode: GridSweep.Mode, start: Long, step: Long, n: Long,
                                       keyAt: Int, valueAt: Seq[Int], types: Seq[DataType]) {
  import GridSweep._

  def run(rows: Iterator[InternalRow]): Iterator[InternalRow] =
    if (sampling(mode)) sample(rows)
    // a keyed fill's null-bucket row only makes its key present
    else fill(rows.filterNot(_.isNullAt(keyAt)).map(_.copy()).toArray)

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
      // EMPTY brackets by the observed [min ts, max ts], which a row with a
      // null timestamp (passed first, in the null cell) does not extend
      if (p == null || nx == null || (mode == Empty && p.isNullAt(0))) None
      else Some(emitSample(start + k * step, exact, p, nx))
    }
  }

  private def emitSample(gUs: Long, exact: InternalRow, p: InternalRow, nx: InternalRow): InternalRow = {
    // ts_ms is cast(cast(g as double) / 1000.0 as bigint), as in the plan it replaces
    val ts = (gUs.toDouble / 1000.0).toLong
    mode match {
      case Hold | Empty =>
        val held = types.head.asInstanceOf[StructType].fields
        val image = if (mode == Hold) p else exact
        new GenericInternalRow((ts: Any) +: (1 until held.length).map(i =>
          if (image == null) null else image.get(i, held(i).dataType)).toArray)
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
    val linear = mode == FillLinear
    val nextT = new Array[Any](if (linear) buckets.length + 1 else 0)
    val nextV = Array.ofDim[Any](m, nextT.length)
    if (linear) for (i <- buckets.indices.reverse) {
      nextT(i) = if (full(i)) buckets(i).getLong(keyAt) else nextT(i + 1)
      for (c <- 0 until m)
        nextV(c)(i) = if (full(i) && value(i, c) != null) value(i, c) else nextV(c)(i + 1)
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
            for (c <- 0 until m) out(c + 1) = (prevV(c), nextV(c)(j)) match {
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

private[ts] object GridSweepKernel {

  /** The runs of consecutive rows with equal keys, as (key, rows). Each run
    * is drained before the next one starts, whatever its consumer left
    * unread. */
  def runs(rows: Iterator[InternalRow],
           keyOf: UnsafeProjection): Iterator[(UnsafeRow, Iterator[InternalRow])] = {
    val in = rows.buffered
    var run: Iterator[InternalRow] = Iterator.empty
    new Iterator[(UnsafeRow, Iterator[InternalRow])] {
      def hasNext: Boolean = { run.foreach(_ => ()); in.hasNext }
      def next(): (UnsafeRow, Iterator[InternalRow]) = {
        if (!hasNext) throw new NoSuchElementException
        val k = keyOf(in.head).copy()
        run = new Iterator[InternalRow] {
          def hasNext: Boolean = in.hasNext && keyOf(in.head) == k
          def next(): InternalRow = in.next()
        }
        (k, run)
      }
    }
  }
}
