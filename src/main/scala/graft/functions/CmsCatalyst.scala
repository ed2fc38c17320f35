package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch build as a Catalyst `TypedImperativeAggregate` — the
  * streaming-friendly heavy-hitter primitive: `depth·width` longs of FIXED
  * state per partial regardless of input cardinality, merged by elementwise
  * add. Because the merge is commutative/associative and the row hashes are
  * md5-derived (the house deterministic-hash family, never a seeded RNG),
  * the finished sketch is a pure function of the input multiset — identical
  * across partitionings, cluster sizes, and engines — so the WHOLE sketch,
  * not just a property of it, is DuckDB-oracle-replayable (the oracle
  * recomputes each cell as the sum of counts of the words hashing there).
  *
  * At 100 TB: the classic trade against exact groupBy-count — the sketch
  * needs one map-side pass with O(depth·width) state and a single tiny
  * merge, where the exact count shuffles the full vocabulary. Width scales
  * with the target error (ε ≈ e/width, δ ≈ e^-depth); the driver query
  * deliberately uses a NARROW sketch (width 64) on the synthetic ~40-word
  * vocabulary so collisions — and the estimate's one-sided overcount — are
  * actually exercised rather than vacuously absent. */
case class CmsSketch(
    child: Expression,
    depth: Int = 4,
    width: Int = 64,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cms_sketch"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v match {
        case u: UTF8String => u.toString
        case other => other.toString
      }
      var j = 0
      while (j < depth) {
        // same 60-bit md5 prefix as every other deterministic key in the
        // engine; row-salted so the depth rows are independent hash fns
        val cell = (KmvSketch.hash60("cms" + j + "|" + s) % width).toInt
        buf(j * width + cell) += 1L
        j += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CmsSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsSketch =
    copy(child = newChildren.head)
}

object CmsCatalyst {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.Bridge

  def cms_sketch(c: Column, depth: Int = 4, width: Int = 64): Column =
    Bridge.column(CmsSketch(Bridge.expression(c.cast("string")), depth, width)
      .toAggregateExpression())
}
