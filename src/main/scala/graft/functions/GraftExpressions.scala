package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions (SURVEY.md §2.10 / §7.2 step 8): native
  * `Expression`s with whole-stage codegen — the preferred extension point
  * when builtins can't express a scalar cleanly (a Scala UDF would box every
  * row and block codegen; these inline into the generated Java).
  */

/** `money_parse(s)`: parse a money string like `"$1,234.56"` (also `-`/`(..)`
  * negatives) to DECIMAL(12,2); NULL when unparseable — the reference's
  * null-safe `_parse_amount` (pdf_parser.py:385-395) plus accounting
  * parentheses. */
case class MoneyParse(child: Expression)
    extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DecimalType(12, 2)
  override def nullable: Boolean = true
  override def prettyName: String = "money_parse"

  override def nullSafeEval(input: Any): Any =
    MoneyParse.parse(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = MoneyParse.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = (Decimal) $cls.parse($c.toString());
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MoneyParse =
    copy(child = newChild)
}

object MoneyParse {
  /** Shared by interpreted + codegen paths. Returns null for garbage. */
  def parse(raw: String): org.apache.spark.sql.types.Decimal = {
    var s = raw.trim
    var neg = false
    if (s.startsWith("(") && s.endsWith(")")) { neg = true; s = s.substring(1, s.length - 1) }
    s = s.replace("$", "").replace(",", "").trim
    if (s.startsWith("-")) { neg = true; s = s.substring(1) }
    if (s.isEmpty || !s.forall(ch => ch.isDigit || ch == '.')) return null
    try {
      val d = Decimal(BigDecimal(s))
      val out = if (neg) -d else d
      if (out.changePrecision(12, 2)) out else null
    } catch { case _: NumberFormatException => null }
  }
}

/** `version_cmp(a, b)`: compare dotted version strings component-wise as
  * ints (missing components = 0) → -1/0/1. The reference's update check
  * (update_checker.py:89-96). Codegen-enabled via the shared static. */
case class VersionCmp(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  override def prettyName: String = "version_cmp"

  override def nullSafeEval(l: Any, r: Any): Any =
    VersionCmp.compare(l.toString, r.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = VersionCmp.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, (a, b) => s"$cls.compare($a.toString(), $b.toString())")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VersionCmp =
    copy(left = l, right = r)
}

object VersionCmp {
  def compare(a: String, b: String): Int = {
    def comps(v: String): Array[Long] =
      v.trim.stripPrefix("v").split("\\.").map(c => c.filter(_.isDigit))
        .map(c => if (c.isEmpty) 0L else c.toLong)
    val (ca, cb) = (comps(a), comps(b))
    val n = math.max(ca.length, cb.length)
    var i = 0
    while (i < n) {
      val x = if (i < ca.length) ca(i) else 0L
      val y = if (i < cb.length) cb(i) else 0L
      if (x != y) return if (x > y) 1 else -1
      i += 1
    }
    0
  }
}

/** `dot_fold(a, b)`: ordered left-to-right dot product of two arrays — the
  * codegen replacement for the `zip_with` + `aggregate` fold the similarity
  * tier was built on. Higher-order functions are excluded from whole-stage
  * codegen (interpreted lambda eval, one variable bind + box per element);
  * this expression is a tight primitive loop with IDENTICAL arithmetic:
  * products in index order, accumulated into 0.0 (or 0L), every term the
  * same IEEE op the fold performed — so the DuckDB `list_reduce` oracles
  * and the committed goldens are bit-for-bit unaffected.
  *
  * Shapes: two `array<float|double>` → double; two `array<long>` → long.
  * `zeroNulls = false` replays strict fold semantics (a null element or a
  * length mismatch nulls the whole sum — exactly what summing a
  * null-padded zip_with yields); `zeroNulls = true` replays the
  * `coalesce(x·p, 0.0)` plane-projection variant (null/missing terms add
  * an explicit +0.0, preserving even the -0.0 corner). */
case class DotFold(left: Expression, right: Expression, zeroNulls: Boolean)
    extends BinaryExpression {

  private def elem(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }
  private def isLong: Boolean = elem(left) == LongType && elem(right) == LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val fp = Seq(FloatType, DoubleType)
    val ok = isLong ||
      (fp.contains(elem(left)) && fp.contains(elem(right)))
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_fold expects two array<float|double> or two array<long>, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = if (isLong) LongType else DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_fold"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (isLong) DotFold.dotLL(a, b, zeroNulls)
    else DotFold.dotDD(a, b, elem(left) == FloatType, elem(right) == FloatType, zeroNulls)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = DotFold.getClass.getName.stripSuffix("$") + "$.MODULE$"
    // nullSafeCodeGen only brace-wraps when a child is nullable; with two
    // non-nullable inputs several dot_folds share one scope, so the result
    // local must be a freshName or Janino sees duplicate declarations and
    // Spark silently falls back to interpreted execution.
    if (isLong) {
      val res = ctx.freshName("dotFoldRes")
      nullSafeCodeGen(ctx, ev, (a, b) => {
        s"""
           |java.lang.Long $res = (java.lang.Long) $cls.dotLL($a, $b, $zeroNulls);
           |${ev.isNull} = $res == null;
           |if (!${ev.isNull}) ${ev.value} = $res.longValue();
         """.stripMargin
      })
    } else {
      val (fa, fb) = (elem(left) == FloatType, elem(right) == FloatType)
      val res = ctx.freshName("dotFoldRes")
      nullSafeCodeGen(ctx, ev, (a, b) => {
        s"""
           |java.lang.Double $res = (java.lang.Double) $cls.dotDD($a, $b, $fa, $fb, $zeroNulls);
           |${ev.isNull} = $res == null;
           |if (!${ev.isNull}) ${ev.value} = $res.doubleValue();
         """.stripMargin
      })
    }
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotFold =
    copy(left = l, right = r)
}

object DotFold {
  import org.apache.spark.sql.catalyst.util.ArrayData

  /** Shared by interpreted + codegen paths. Strict mode nulls the sum on a
    * null element or length mismatch (the zip_with-padding semantics);
    * zero mode adds an explicit +0.0 for each null/missing term over the
    * MAX length, replaying `coalesce(term, 0.0)` exactly. */
  def dotDD(a: ArrayData, b: ArrayData, fa: Boolean, fb: Boolean,
            zeroNulls: Boolean): java.lang.Double = {
    val (na, nb) = (a.numElements(), b.numElements())
    if (!zeroNulls && na != nb) return null
    val n = if (zeroNulls) math.max(na, nb) else na
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (i >= na || i >= nb || a.isNullAt(i) || b.isNullAt(i)) {
        if (!zeroNulls) return null
        acc += 0.0
      } else {
        val x = if (fa) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (fb) b.getFloat(i).toDouble else b.getDouble(i)
        acc += x * y
      }
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def dotLL(a: ArrayData, b: ArrayData, zeroNulls: Boolean): java.lang.Long = {
    val (na, nb) = (a.numElements(), b.numElements())
    if (!zeroNulls && na != nb) return null
    val n = if (zeroNulls) math.max(na, nb) else na
    var acc = 0L
    var i = 0
    while (i < n) {
      if (i >= na || i >= nb || a.isNullAt(i) || b.isNullAt(i)) {
        if (!zeroNulls) return null
      } else acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }
}

/** `bloom_probe(key)`: membership probe of a BROADCAST
  * `org.apache.spark.util.sketch.BloomFilter` against a long key — the
  * codegen replacement for the Scala UDF that carried g2's runtime Bloom
  * prune (`operators.Graph.triangleCounts`). Spark's own
  * `BloomFilterMightContain` (the InjectRuntimeFilter expression) is
  * `private[sql]` and takes the filter re-serialized into a literal; this
  * variant holds the already-distributed `Broadcast` handle instead (no
  * second copy of up-to-120MB of bits rides the plan) and inlines the probe
  * into whole-stage codegen — the UDF boxed every wedge row and split the
  * highest-volume filter stage of the engine out of the generated loop.
  * The filter is resolved from the broadcast ONCE per codegen instance via
  * a mutable-state field, not per row. */
case class BloomMightContainLong(
    child: Expression,
    bloomBc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bloom_probe"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bloom_probe expects a bigint key, got ${child.dataType.sql}")

  @transient private lazy val filter = bloomBc.value

  override def nullSafeEval(input: Any): Any =
    filter.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bloomCls = "org.apache.spark.util.sketch.BloomFilter"
    val bcRef = ctx.addReferenceObj("bloomBc", bloomBc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    val filterVar = ctx.addMutableState(bloomCls, "graftBloomFilter",
      v => s"$v = ($bloomCls) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $filterVar.mightContainLong($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainLong =
    copy(child = newChild)
}

object GraftFunctions {
  /** Column-API surface (inputs coerced to string). */
  def money_parse(c: Column): Column =
    Bridge.column(MoneyParse(Bridge.expression(c.cast("string"))))
  def version_cmp(a: Column, b: Column): Column =
    Bridge.column(VersionCmp(
      Bridge.expression(a.cast("string")), Bridge.expression(b.cast("string"))))
  def dot_fold(a: Column, b: Column): Column =
    Bridge.column(DotFold(Bridge.expression(a), Bridge.expression(b), zeroNulls = false))
  def dot_fold_zero(a: Column, b: Column): Column =
    Bridge.column(DotFold(Bridge.expression(a), Bridge.expression(b), zeroNulls = true))
  def bloom_probe(
      key: Column,
      bc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]): Column =
    Bridge.column(BloomMightContainLong(Bridge.expression(key), bc))
}
