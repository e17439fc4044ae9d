package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{GraftSqlBridge => B}

/** MinHash-signature AGGREGATE: collapses a group's set of long keys into a
  * k-element minhash signature, so set similarity BETWEEN GROUPS becomes a
  * constant-size signature comparison instead of a set join.
  *
  * TypedImperativeAggregate: constant O(k) state per group, associative
  * merge — map-side partial aggregation works, so a group's members never
  * co-locate. The sketch-aggregation answer to "how similar are two
  * entities' item sets" at 100 TB (estimated Jaccard = fraction of equal
  * signature slots).
  */
case class MinHashAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = Array.fill(k)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[Number].longValue()
      var j = 0
      while (j < k) {
        val h = TextHashes.splitMix64(key, j + 1)
        if (h < buf(j)) buf(j) = h
        j += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var j = 0
    while (j < k) { if (b(j) < a(j)) a(j) = b(j); j += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = ArrayData.toArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * k)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(k)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MinHashAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "minhash_agg"
}

object MinHashAgg {
  /** Column API: minhash signature of the group's `c` values. */
  def minhashAgg(c: Column, k: Int): Column =
    B.column(MinHashAgg(B.expression(c), k).toAggregateExpression())

  /** Estimated Jaccard between two signatures: fraction of matching slots. */
  def sigJaccard(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions._
    round(aggregate(
      zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, e) => acc + e).cast("double") / size(a), 4)
  }
}
