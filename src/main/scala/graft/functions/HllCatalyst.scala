package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HyperLogLog distinct-count sketch (Flajolet et al., AofA'07) with an
  * ENGINE-PORTABLE register layout: the same md5-derived 60-bit hash as the
  * KMV/CMS family ([[KmvSketch.hash60]]), p = 8 ⇒ m = 256 registers, so a
  * DuckDB oracle can rebuild every register in plain SQL (`bucket = h //
  * 2⁵²`, `rho` from `length(bin(h % 2⁵²))`) and the estimate hash-matches.
  *
  * Determinism: the register-sum is carried as the exact integer
  * Σ 2^(53−M[j]) (max 256·2⁵³ = 2⁶¹, fits a long); the only float math is
  * one multiply-divide chain off that integer, identical in both engines.
  * The small-range linear-counting branch (E ≤ 2.5m with empty registers)
  * is implemented faithfully but the driver queries aggregate columns with
  * cardinality ≫ 640, so the transcendental `ln` never decides a gated
  * value at any tested scale factor.
  *
  * vs KMV: HLL state is 256 bytes flat (KMV: k longs), merge is
  * register-wise max — the cheapest mergeable distinct sketch for a
  * 100 TB GROUP BY, and the one Spark's own `approx_count_distinct`
  * (HLL++) uses; this one exists to exercise the raw
  * `TypedImperativeAggregate` surface with a portable hash.
  *
  * SQL: `approx_distinct_hll(col)`, injected by
  * [[graft.plans.GraftExtensions]]. */
case class ApproxDistinctHll(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  import HllCatalyst._

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = DoubleType
  override def prettyName: String = "approx_distinct_hll"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](M)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = KmvSketch.hash60(v match {
        case s: UTF8String => s.toString
        case other => other.toString
      })
      val bucket = (h >>> 52).toInt // top 8 of the 60 hash bits
      val rem = h & ((1L << 52) - 1)
      val rho = if (rem == 0L) 53 else java.lang.Long.numberOfLeadingZeros(rem) - 11
      if (rho > buf(bucket)) buf(bucket) = rho.toByte
    }
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < M) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Byte]): Any = HllCatalyst.estimate(buf)

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(o: Int): ApproxDistinctHll =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ApproxDistinctHll =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ApproxDistinctHll =
    copy(child = newChildren.head)
}

object HllCatalyst {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.Bridge

  val P = 8
  val M: Int = 1 << P // 256 registers

  /** α₂₅₆ · m² · 2⁵³ / S, with S the exact scaled register-sum. The same
    * literal constants appear verbatim in the SQL oracle so the IEEE
    * multiply-divide chain is reproduced operation-for-operation. */
  def estimate(buf: Array[Byte]): Double = {
    var s = 0L
    var zeros = 0
    var i = 0
    while (i < M) {
      s += 1L << (53 - buf(i))
      if (buf(i) == 0) zeros += 1
      i += 1
    }
    val raw = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0 / s.toDouble
    if (raw <= 640.0 && zeros > 0) 256.0 * math.log(256.0 / zeros)
    else raw
  }

  def approx_distinct_hll(c: Column): Column =
    Bridge.column(ApproxDistinctHll(Bridge.expression(c.cast("string")))
      .toAggregateExpression())
}
