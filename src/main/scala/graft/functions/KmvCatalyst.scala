package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The KMV distinct-count sketch as a raw Catalyst
  * `TypedImperativeAggregate` — the engine-internal aggregate surface
  * (mutable off-row buffer + binary serialization between partial and final
  * aggregation), one level below the user-facing typed `Aggregator`
  * (KmvSketch.KmvAgg). Same estimator, same md5-derived hash, so the two
  * surfaces can be cross-checked against each other.
  *
  * SQL: `approx_distinct_kmv(col)` (k = 256), injected by
  * [[graft.plans.GraftExtensions]]. */
case class ApproxDistinctKmv(
    child: Expression,
    k: Int = 256,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = DoubleType
  override def prettyName: String = "approx_distinct_kmv"

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) insert(buf, KmvSketch.hash60(v match {
      case s: UTF8String => s.toString
      case other => other.toString
    }))
    buf
  }

  override def merge(a: java.util.TreeSet[java.lang.Long],
                     b: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b.iterator()
    while (it.hasNext) insert(a, it.next())
    a
  }

  private def insert(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit = {
    if (buf.size < k) { buf.add(h); () }
    else if (h < buf.last()) { if (buf.add(h)) { buf.pollLast(); () } }
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any =
    if (buf.size < k) buf.size.toDouble
    else (k - 1) / (buf.last().toDouble / KmvSketch.HashSpace)

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): ApproxDistinctKmv =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ApproxDistinctKmv =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ApproxDistinctKmv =
    copy(child = newChildren.head)
}

/** The KMV sketch's k-minimum hash SET as a value (sorted ascending
  * `array<bigint>`) rather than the collapsed estimate — the surface KMV
  * set algebra needs: union sketch = k smallest of `array_union`, Jaccard
  * from shared membership in the union's k-mins, intersection cardinality
  * = ρ · |A∪B|̂ (Beyer et al., SIGMOD'07). Same buffer and insert
  * discipline as [[ApproxDistinctKmv]]; only `eval`/`dataType` differ. */
case class KmvMinHashes(
    child: Expression,
    k: Int = 256,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "kmv_minhashes"

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) insert(buf, KmvSketch.hash60(v match {
      case s: UTF8String => s.toString
      case other => other.toString
    }))
    buf
  }

  override def merge(a: java.util.TreeSet[java.lang.Long],
                     b: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b.iterator()
    while (it.hasNext) insert(a, it.next())
    a
  }

  private def insert(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit = {
    if (buf.size < k) { buf.add(h); () }
    else if (h < buf.last()) { if (buf.add(h)) { buf.pollLast(); () } }
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(arr)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): KmvMinHashes =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvMinHashes =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvMinHashes =
    copy(child = newChildren.head)
}

object KmvCatalyst {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.Bridge

  def approx_distinct_kmv(c: Column, k: Int = 256): Column =
    Bridge.column(ApproxDistinctKmv(Bridge.expression(c.cast("string")), k)
      .toAggregateExpression())

  def kmv_minhashes(c: Column, k: Int = 256): Column =
    Bridge.column(KmvMinHashes(Bridge.expression(c.cast("string")), k)
      .toAggregateExpression())
}
