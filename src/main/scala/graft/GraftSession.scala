package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory: the configuration every entry point (Verify,
  * Bench, tests) shares. Local-mode sizing maps 1:1 to cluster settings —
  * `shuffle.partitions` ≈ total cores; AQE coalesces/replans at runtime so
  * the same code scales from local[4] to a 1000-executor cluster. */
object GraftSession {
  /** Local core count: `SPARK_GRAFT_CPUS` when set, else this machine's. */
  private val defaultCpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def apply(master: String = s"local[$defaultCpus]",
            cpus: String = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      // Partition-count discipline: the core count (the local-mode analog
      // of "≈ total cluster cores"); AQE coalesces excess partitions at
      // runtime.
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // Let AQE convert shuffle joins to broadcast from RUNTIME-MEASURED
      // sizes up to 64 MB (default 10 MB). This is the scale-safe way to
      // get the g2-class win (a 30 MB build side under a 40M-row probe
      // stream): the decision reads the ACTUAL materialized size of THIS
      // run, so at 100 TB — where the same frame is TBs — the shuffle
      // join stays. Static-plan hints stay forbidden for anything
      // corpus-scaled (PlanSpec pins that); this knob only widens what
      // the runtime may do with small measured frames.
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      // Bound EVERY shuffle sorter's in-memory element count. The default
      // (Integer.MAX_VALUE) lets one heavy task grow its pointer array by
      // doubling into 64 MB+ humongous allocations; at 32 concurrent tasks
      // that is multi-GB of sort arrays and the measured sf10 failure mode
      // (GCLocker retry loops, then UNABLE_TO_ACQUIRE_MEMORY) on g2's
      // wedge shuffle. 2M elements caps each array at 16 MB — concurrency ×
      // array stays bounded NO MATTER how large one task's output gets,
      // which is exactly the property a fixed-memory executor needs under
      // corpus-scaled fan-out; light tasks never hit the threshold.
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "2000000")
      // Reclaim dead shuffle files promptly: the ContextCleaner only
      // removes a finished job's shuffle data once driver GC enqueues its
      // weak refs, and the default 30-minute periodic GC let tens of GB of
      // dead spill pile up across a long multi-query session at sf10 —
      // enough to run the disk out under a legitimately-spilling query.
      // 5 minutes bounds the dead-file window at a negligible GC cost.
      .config("spark.cleaner.periodicGC.interval", "5min")
      // Shuffle/spill codec: Spark's own default (lz4), set so the session
      // conf reports it (Bench and perfbench record it as provenance); a
      // `-Dspark.io.compression.codec=…` JVM option (through
      // SPARK_GRAFT_EXTRA_JVM) still takes effect.
      .config("spark.io.compression.codec", sys.props.getOrElse("spark.io.compression.codec", "lz4"))
      .config("spark.sql.session.timeZone", "UTC")
      // sql_frontend7's month spine recurses once per month: ~80 months in
      // the generated data; raise the default 100-level cap so a wider
      // driver date range never fails the recursion guard.
      .config("spark.sql.cteRecursionLevelLimit", "2000")
      .config("spark.ui.enabled", "false")
      // events.parquet stores TIMESTAMP(NANOS); read as Long and convert
      // (Tables.events) to µs timestamps by truncation.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
