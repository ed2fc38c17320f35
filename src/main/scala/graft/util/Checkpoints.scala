package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Partitioning-preserving checkpoint for iterative-join loops
  * (PageRank/BFS in [[graft.operators.Graph]]).
  *
  * Under AQE a plain `localCheckpoint()` records UnknownPartitioning in its
  * `LogicalRDD` — `AdaptiveSparkPlanExec` cannot expose the final plan's
  * partitioning at plan time — so every downstream join re-shuffles the
  * checkpointed frame. For a loop that joins the same corpus-scaled frame
  * once per round, that silently turns an O(E)-total shuffle contract into
  * O(E·rounds) (measured: each PageRank/BFS round re-exchanged the full
  * edge list before this existed; PlanSpec pins the absence). Building the
  * one checkpoint with AQE off keeps the claim: when the input is already
  * hash-partitioned on `key` the explicit repartition is elided as
  * redundant (EnsureRequirements) and the claim even carries the upstream
  * sort order; otherwise the plain shuffle's `hashpartitioning(key, n)` is
  * recorded. Consumers still run fully adaptive. */
object Checkpoints {

  /** Eagerly checkpoint `df` hash-partitioned on `key`, with the
    * partitioning claim preserved in the resulting plan.
    *
    * NOT concurrency-transparent: the AQE flip is session-global, so a query
    * COMPILED on the same session while this runs would plan with AQE off.
    * The `synchronized` below serializes concurrent `partitioned` calls
    * (so two of them cannot race the save/restore and strand AQE disabled)
    * at zero cost on the single-threaded Verify/Bench/test drivers, but it
    * cannot fence unrelated concurrent query submission — callers running a
    * multi-threaded driver should route those through `spark.newSession()`
    * (separate conf view, shared catalog/state). */
  def partitioned(df: DataFrame, key: String): DataFrame =
    build(df, key, eager = true)

  /** Lazy sibling of [[partitioned]]: same preserved hash(`key`) claim, but
    * materialization happens inside the consumer's action — the shape
    * fixed-schedule iteration loops need (an eager barrier per round costs
    * a job launch per round; measured 7.8 s of pure overhead on the g1
    * five-round loop). When `df` already claims hash(`key`) — e.g. it ends
    * in a `groupBy(key)` whose plan was captured with AQE off — the
    * explicit repartition is elided and the checkpoint is a free claim
    * carrier: the next round's join against another hash(`key`) frame
    * needs NO exchange on either side. */
  def partitionedLazy(df: DataFrame, key: String): DataFrame =
    build(df, key, eager = false)

  private def build(df: DataFrame, key: String, eager: Boolean): DataFrame = {
    val spark = df.sparkSession
    spark.synchronized {
      val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // the PLAN (and with it the partitioning claim) is captured here for
      // both variants; `eager` only controls when the RDD materializes
      try df.repartition(n, col(key)).localCheckpoint(eager)
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }
}
