package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** EXACT distinct count over a bounded dense integer key domain, as a
  * mergeable fixed-width bitmap — the exact counterpart that completes the
  * sketch family (KMV / HLL / CMS are all approximate): one bit per
  * possible key, update = set bit, merge = word-wise OR, eval = popcount.
  *
  * Why it matters at 100 TB: `COUNT(DISTINCT k)` makes Spark expand +
  * shuffle every distinct (group, k) pair — shuffle volume scales with the
  * DATA. The bitmap's partial state is `domain/8` bytes per (group ×
  * task) REGARDLESS of row count, fully map-side combined, so for dense
  * surrogate-key domains (users, docs, custkeys — the warehouse norm) and
  * low group cardinality it turns an O(distinct pairs) shuffle into an
  * O(groups · domain/8) one. The production upgrade for sparse/huge domains
  * is a compressed (roaring) bitmap; the dataflow is identical.
  *
  * Determinism: bit-set → popcount is exact integer arithmetic — the result
  * equals `COUNT(DISTINCT k)` bit-for-bit on any engine, so the oracle is
  * plain SQL with no sketch replay. Keys outside `[0, domain)` are a
  * CONTRACT VIOLATION and throw (silently dropping them would desync the
  * count from the oracle's).
  *
  * SQL: `bitmap_distinct(col, domain)`, injected by
  * [[graft.plans.GraftExtensions]]. */
case class BitmapDistinct(
    child: Expression,
    domain: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val words = (domain + 63) >>> 6

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "bitmap_distinct"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](words)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val k = v.asInstanceOf[Long]
      require(k >= 0L && k < domain,
        s"bitmap_distinct key $k outside dense domain [0, $domain)")
      buf((k >>> 6).toInt) |= 1L << (k & 63)
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < words) { a(i) |= b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    var n = 0L
    var i = 0
    while (i < words) { n += java.lang.Long.bitCount(buf(i)); i += 1 }
    n
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(words * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](words)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(buf)
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BitmapDistinct =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BitmapDistinct =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BitmapDistinct =
    copy(child = newChildren.head)
}

object BitmapCatalyst {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.Bridge

  def bitmap_distinct(c: Column, domain: Int): Column =
    Bridge.column(BitmapDistinct(Bridge.expression(c.cast("long")), domain)
      .toAggregateExpression())
}
