package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** SparkSessionExtensions entry point: injects the engine's custom Catalyst
  * functions — the scalar `money_parse`, `version_cmp` and `dot_fold`, and
  * the sketch aggregates `approx_distinct_kmv`, `kmv_minhashes`,
  * `cms_sketch`, `bitmap_distinct` and `approx_distinct_hll` — into any
  * session built with `.withExtensions(new GraftExtensions)` (every
  * [[graft.GraftSession]]) or launched with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`. It is the one
  * SQL registration path; the Column API lives beside each expression.
  *
  * No planner strategies or optimizer rules are injected by design: every
  * operator in SURVEY.md §2 plans onto standard physical shapes
  * (broadcast/sort-merge joins, hash aggregates, windows), so a custom
  * Strategy would only duplicate Catalyst (SURVEY.md §4). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Unit =
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    fn("money_parse", classOf[MoneyParse])(x => MoneyParse(x.head))
    fn("version_cmp", classOf[VersionCmp])(x => VersionCmp(x(0), x(1)))
    fn("dot_fold", classOf[DotFold])(x => DotFold(x(0), x(1), zeroNulls = false))
    fn("approx_distinct_kmv", classOf[ApproxDistinctKmv])(
      x => ApproxDistinctKmv(x.head).toAggregateExpression())
    fn("kmv_minhashes", classOf[KmvMinHashes])(
      x => KmvMinHashes(x.head).toAggregateExpression())
    fn("cms_sketch", classOf[CmsSketch])(x => CmsSketch(x.head).toAggregateExpression())
    fn("bitmap_distinct", classOf[BitmapDistinct])(
      x => BitmapDistinct(x.head, x(1).eval(null).asInstanceOf[Int]).toAggregateExpression())
    fn("approx_distinct_hll", classOf[ApproxDistinctHll])(
      x => ApproxDistinctHll(x.head).toAggregateExpression())
  }
}
