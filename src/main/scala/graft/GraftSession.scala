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
      // Partition-count discipline: defaults to the core count (the
      // local-mode analog of "≈ total cluster cores"), overridable per
      // DATA TIER — shuffle partitions must grow with the data so each
      // partition stays executor-memory-sized (at sf100, 600M lineitem
      // rows over 32 partitions is ~19M rows/task and a measured task
      // heap OOM; a 1000-executor cluster at that scale runs thousands
      // of partitions). AQE coalesces excess partitions at runtime, so
      // oversizing is cheap; undersizing is not recoverable.
      .config("spark.sql.shuffle.partitions",
        sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map { s =>
          // fail fast with the variable NAMED — a malformed value passed
          // raw would surface as an opaque Spark config error mid-job
          require(scala.util.Try(s.trim.toInt).toOption.exists(_ > 0),
            s"SPARK_GRAFT_SHUFFLE_PARTITIONS must be a positive integer, got '$s'")
          s.trim
        }.getOrElse(cpus))
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
      // Shuffle/spill codec, overridable per DATA TIER like the partition
      // count above. Default lz4 (Spark's own default — cheapest CPU, the
      // right trade everywhere compute dominates). The override exists for
      // disk-bound corpus-scaled exchanges: zstd compresses the sorted
      // integer-key shuffle runs of a graph adjacency build ~2x tighter
      // than lz4, which is the difference between fitting and ENOSPC when
      // a single node hosts the whole corpus's shuffle (measured: g1b at
      // sf100 spills past this box's ~60 GB scratch under lz4). On a real
      // cluster the same knob trades executor CPU for disk/network bytes —
      // a per-tier call, not a global one, hence env-routed not hardcoded.
      .config("spark.io.compression.codec",
        sys.env.get("SPARK_GRAFT_IO_CODEC").map { s =>
          require(Set("lz4", "zstd", "snappy", "lzf").contains(s.trim),
            s"SPARK_GRAFT_IO_CODEC must be one of lz4/zstd/snappy/lzf, got '$s'")
          s.trim
        }.getOrElse("lz4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet stores TIMESTAMP(NANOS); read as Long and convert
      // (Tables.events) to µs timestamps by truncation.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
