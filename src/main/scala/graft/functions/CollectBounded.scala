package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{Collect, ImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.DataType

/** collect_bounded(child, bound): `collect_list` that stops at `bound`
  * non-null values per group — whichever it meets first, so a group past
  * the bound gets an arbitrary `bound` of its values. For callers that
  * count the group exactly alongside (`count(1)`) and never read an array
  * whose group outgrew the bound; no array, partial or merged, ever holds
  * more than `bound` values.
  *
  * The buffer grows on demand. Spark's `CollectTopK` preallocates its
  * `bound` heap slots per group, which a bound derived from a pair cap
  * (thousands of slots, or `Int.MaxValue`) cannot afford.
  */
case class CollectBounded(child: Expression, bound: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends Collect[mutable.ArrayBuffer[Any]] with UnaryLike[Expression] {

  require(bound >= 1, s"collect_bounded: bound must be >= 1, got $bound")

  override protected lazy val bufferElementType: DataType = child.dataType

  override protected def convertToBufferElement(value: Any): Any = InternalRow.copyValue(value)

  override def createAggregationBuffer(): mutable.ArrayBuffer[Any] = mutable.ArrayBuffer.empty

  override def update(buffer: mutable.ArrayBuffer[Any], input: InternalRow): mutable.ArrayBuffer[Any] =
    if (buffer.length < bound) super.update(buffer, input) else buffer

  override def merge(buffer: mutable.ArrayBuffer[Any],
                     other: mutable.ArrayBuffer[Any]): mutable.ArrayBuffer[Any] =
    buffer ++= other.iterator.take(bound - buffer.length)

  override def eval(buffer: mutable.ArrayBuffer[Any]): Any = new GenericArrayData(buffer.toArray)

  override def prettyName: String = "collect_bounded"

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildInternal(newChild: Expression): CollectBounded =
    copy(child = newChild)
}
