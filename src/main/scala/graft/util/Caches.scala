package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** Materialization of operator-internal frames that several consumers
  * share (the enrichment's fact frame, g2's edge list, sketch and shingle
  * tables reused across self-join branches). A DataFrame DAG shares no
  * common subplans, so without this each consumer re-runs the derivation.
  *
  * One rule, decided from the plan alone (no job): a frame whose inputs are
  * at most [[spillInputBytes]] is persisted lazily at MEMORY_AND_DISK, and
  * the first action that reads it fills the cache; a larger one is written
  * to parquet and read back, so no cached copy competes with the consumer
  * stages' sorters for the unified memory pool (the measured sf10 g2
  * failure: "Unable to acquire 32768 bytes, got 0", even at
  * MEMORY_AND_DISK_SER). Session drivers (Verify, Bench) call
  * [[releaseAll]] between queries, so a long-lived session holds no frame
  * past the query that made it. */
object Caches {

  /** Input bytes above which [[materialize]] spills to parquet. The rule it
    * replaces spilled past 5M rows of the materialized frame. Rows per
    * input byte differ by site; at sf0.1 (parquet bytes as Spark's file
    * index reports them):
    *   - g2 edges: 1,196,000 rows from 10.8 MB of lineitem, 0.11 rows/B,
    *     so 5M edges ≈ 45 MB of input;
    *   - j02 exact join: 150,000 rows from 3.0 MB of orders + customer,
    *     0.049 rows/B, so 5M facts ≈ 100 MB of input.
    * 64 MB lies inside that 45–100 MB bracket and keeps both old choices at
    * sf1: g2's 143 MB of lineitem spills (12M edges), j02's 21 MB (1.5M
    * facts) stays cached. The q-gram index expands more (0.68 rows/B of
    * dim input), so it stays cached up to ~45M grams, not 5M. */
  private val spillInputBytes: Long = 64L << 20

  private val frames = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** The frame to share among consumers: `df` persisted lazily, or a scan
    * of its parquet spill when its inputs exceed [[spillInputBytes]]. */
  def materialize(df: DataFrame): DataFrame =
    if (inputBytes(df.queryExecution.optimizedPlan) <= spillInputBytes) {
      frames.add(df.persist(StorageLevel.MEMORY_AND_DISK))
      df
    } else spill(df)

  /** Summed size of the plan's leaves. A cached frame counts as the inputs
    * it was derived from, so the answer does not depend on whether an
    * earlier action has filled that cache yet. */
  private def inputBytes(plan: LogicalPlan): BigInt = plan match {
    case r: InMemoryRelation => inputBytes(r.cacheBuilder.logicalPlan)
    case p if p.children.isEmpty => p.stats.sizeInBytes
    case p => p.children.map(inputBytes).sum
  }

  /** Writes `df` as parquet and returns a scan of it. Uses the session's
    * checkpoint dir when it has one (the cluster case: a local temp dir is
    * not shared across executors), else a process-local temp dir. */
  private def spill(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val base = spark.sparkContext.getCheckpointDir match {
      case Some(cp) => new org.apache.hadoop.fs.Path(cp, "graft-mat-" +
        java.util.UUID.randomUUID().toString.take(12)).toString
      case None =>
        // On a real cluster each task would write its split to its own
        // local disk and the driver's read-back would see a subset of the
        // rows: silently wrong, so refuse instead.
        require(spark.sparkContext.isLocal,
          "Caches.materialize: no checkpoint dir configured on a non-local " +
            "cluster; a driver-local temp dir would scatter task output " +
            "across executor disks. Call sc.setCheckpointDir(<shared path>).")
        val p = java.nio.file.Files.createTempDirectory("graft-mat-")
        dirs.add(p)
        p.toString
    }
    df.write.mode("overwrite").parquet(base)
    spark.read.parquet(base)
  }

  /** Unpersists every frame [[materialize]] cached and deletes every local
    * spill directory it wrote. */
  def releaseAll(): Unit = {
    var f = frames.poll()
    while (f != null) { f.unpersist(blocking = false); f = frames.poll() }
    var d = dirs.poll()
    while (d != null) {
      try {
        val walk = java.nio.file.Files.walk(d)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      } catch { case _: java.io.IOException => () }
      d = dirs.poll()
    }
  }
}
