package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Exact distinct count over a bounded non-negative integer id domain via a
  * dense bitmap — the custom AGGREGATE rung of the extension ladder
  * (alongside the ArrayKernel expressions, the TopKPerKey plan+strategy and
  * the WindowTopKRewrite optimizer rule). The engine pattern behind
  * Druid/ClickHouse-style distinct-count columns: each partition builds a
  * local bitmap (map-side partial), partials OR-merge across ONE exchange,
  * and what crosses the network is maxId/8 bytes per group per partition —
  * independent of how many rows each partition saw. For surrogate-key
  * domains (user ids, entity ids) this beats shuffling the distinct id set
  * whenever ids repeat heavily, and unlike HLL it is EXACT, so it can be
  * oracle-checked against count(DISTINCT).
  *
  * Out-of-domain ids (negative or >= maxId) fail loudly rather than
  * silently under-counting; pick maxId from the key domain's declared
  * bound. Reference context: the reference's row-count/distinct checks
  * (postgres.py:867-890) are driver-side COUNTs — this is the shape the
  * same verification takes when one table is 100 TB.
  */
case class BitmapDistinct(
    child: Expression,
    maxId: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.BitSet]
  with ImplicitCastInputTypes with UnaryLike[Expression] {

  require(maxId > 0, s"maxId must be positive, got $maxId")

  // int id columns (common surrogate-key type) are implicitly widened to
  // long at analysis time instead of failing update()'s Long cast at runtime
  // (return type inferred: AbstractDataType itself is sql-package-private)
  override def inputTypes = Seq(LongType)

  override def createAggregationBuffer(): java.util.BitSet = new java.util.BitSet()

  override def update(buffer: java.util.BitSet, input: InternalRow): java.util.BitSet = {
    val v = child.eval(input)
    if (v != null) {
      val id = v.asInstanceOf[Long]
      if (id < 0 || id >= maxId)
        throw new IllegalArgumentException(
          s"graft_distinct_bitmap: id $id outside [0, $maxId)")
      buffer.set(id.toInt)
    }
    buffer
  }

  override def merge(b: java.util.BitSet, o: java.util.BitSet): java.util.BitSet = {
    b.or(o); b
  }

  override def eval(buffer: java.util.BitSet): Any = buffer.cardinality().toLong

  override def serialize(buffer: java.util.BitSet): Array[Byte] = buffer.toByteArray

  override def deserialize(bytes: Array[Byte]): java.util.BitSet =
    java.util.BitSet.valueOf(bytes)

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BitmapDistinct =
    copy(child = newChild)
}

object BitmapDistinct {
  /** Column-API entry point. */
  def distinctCount(c: Column, maxId: Int): Column =
    Bridge.column(
      BitmapDistinct(Bridge.expression(c), maxId).toAggregateExpression())

  /** SQL builder: `graft_distinct_bitmap(idCol, maxIdLiteral)`. */
  private[graft] val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 2,
      s"graft_distinct_bitmap expects (idCol, maxId), got ${children.length} argument(s)")
    val maxId = children(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"graft_distinct_bitmap: maxId must be an integer literal, got $other")
    }
    BitmapDistinct(children.head, maxId)
  }
}
