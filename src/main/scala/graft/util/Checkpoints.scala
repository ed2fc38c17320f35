package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge

/** Partitioning-preserving checkpoint for iterative-join loops
  * (PageRank/BFS in [[graft.operators.Graph]]). */
object Checkpoints {

  /** Lazily checkpoints `df` hash-partitioned on `key`, keeping that claim
    * in the plan; it fills inside the first action that reads it.
    *
    * Under AQE a `LogicalRDD` records UnknownPartitioning, because
    * `AdaptiveSparkPlanExec` cannot expose the final plan's partitioning at
    * plan time, so every downstream join re-shuffles the checkpointed frame
    * (for a loop joining the same frame each round, O(E·rounds) instead of
    * O(E); PlanSpec pins the absence). So the checkpoint is planned in an
    * AQE-off clone of the session and handed back to `df`'s session, where
    * consumers stay adaptive and no shared conf changes. When `df` already
    * claims hash(`key`) the repartition is elided and the checkpoint only
    * carries the claim. */
  def partitioned(df: DataFrame, key: String): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    Bridge.nonAdaptive(df)(_.repartition(n, col(key)).localCheckpoint(false))
  }
}
