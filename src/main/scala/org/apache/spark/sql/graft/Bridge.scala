package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf

/** In-package shim for the `private[sql]` calls extension code needs:
  * lifting custom expressions into Columns (Spark 4 split the Column API
  * from Catalyst) and planning in a clone of a session. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `f(df)` planned in a clone of `df`'s session with AQE off (as Spark's
    * CacheManager plans cached data), returned in `df`'s own session. */
  def nonAdaptive(df: DataFrame)(f: DataFrame => DataFrame): DataFrame = {
    val s = df.sparkSession.asInstanceOf[classic.SparkSession]
    val off = classic.SparkSession.getOrCloneSessionWithConfigsOff(
      s, Seq(SQLConf.ADAPTIVE_EXECUTION_ENABLED))
    val out = f(classic.Dataset.ofRows(off, df.asInstanceOf[classic.Dataset[_]].logicalPlan))
    classic.Dataset.ofRows(s, out.asInstanceOf[classic.Dataset[_]].logicalPlan)
  }
}
