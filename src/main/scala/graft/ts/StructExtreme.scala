package graft.ts

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types.{DataType, StructType}

/** The least or greatest non-null struct of a group under Spark's own
  * struct ordering — what `min`/`max` of a struct return — planned by
  * hashing. Spark's `min`/`max` of a struct keep a struct in their buffer,
  * which a `HashAggregate` cannot hold, so they plan a `SortAggregate` that
  * sorts every input row by group, twice around an exchange. As a typed
  * imperative aggregate this plans an `ObjectHashAggregate`, which sorts
  * only past `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * (128) groups in one task. An empty group gives null. */
case class StructExtreme(
    child: Expression,
    greatest: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[StructExtreme.Best] with UnaryLike[Expression] {
  import StructExtreme.Best

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = true
  override def prettyName: String = if (greatest) "struct_max" else "struct_min"
  override protected def flatArguments: Iterator[Any] = Iterator(child)

  @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(child.dataType)
  @transient private lazy val toUnsafe = UnsafeProjection.create(Array(child.dataType))

  private def offer(buffer: Best, v: InternalRow, copy: Boolean): Best = {
    if (v != null && (buffer.row == null || {
      val c = ordering.compare(v, buffer.row)
      if (greatest) c > 0 else c < 0
    })) buffer.row = if (copy) v.copy() else v
    buffer
  }

  override def createAggregationBuffer(): Best = new Best(null)

  override def update(buffer: Best, input: InternalRow): Best =
    offer(buffer, child.eval(input).asInstanceOf[InternalRow], copy = true)

  override def merge(buffer: Best, input: Best): Best = offer(buffer, input.row, copy = false)

  override def eval(buffer: Best): Any = buffer.row

  override def serialize(buffer: Best): Array[Byte] =
    if (buffer.row == null) Array.emptyByteArray
    else toUnsafe(InternalRow(buffer.row)).copy().getBytes

  override def deserialize(bytes: Array[Byte]): Best =
    if (bytes.isEmpty) new Best(null)
    else {
      val row = new UnsafeRow(1)
      row.pointTo(bytes, bytes.length)
      new Best(row.getStruct(0, child.dataType.asInstanceOf[StructType].size))
    }

  override def withNewMutableAggBufferOffset(newOffset: Int): StructExtreme =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): StructExtreme =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): StructExtreme =
    copy(child = newChild)
}

object StructExtreme {
  /** The aggregation buffer: the winning struct so far, or null. */
  final class Best(var row: InternalRow)

  /** The least (or greatest) struct in column `name` per group. */
  def of(name: String, greatest: Boolean): Column =
    GraftSqlBridge.column(StructExtreme(UnresolvedAttribute.quoted(name), greatest)
      .toAggregateExpression())
}
