package graft
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import scala.collection.mutable

object Bench {
  /** One timed execution of a query: wall seconds, whether it succeeded,
    * the listener counters of its jobs (named as in perfbench's Tracer, so
    * the two compare one to one) and the normalized text of its final
    * physical plans, one per SQL execution. */
  final case class Measure(seconds: Double, ok: Boolean, counters: Seq[(String, Double)],
                           plan: String) {
    lazy val planDigest: String = {
      val md = java.security.MessageDigest.getInstance("SHA-1")
      md.digest(plan.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    }
    def metricsJson: String = (counters.map { case (k, v) =>
      "\"" + k + "\":" + (if (v.isWhole) v.toLong.toString else v.toString)
    } :+ ("\"plan_digest\":\"" + planDigest + "\"")).mkString("{", ",", "}")
  }

  private val volatilePlanText = Seq(
    "#\\d+L?" -> "#", "plan_id=\\d+" -> "plan_id=", "id=#?\\d+" -> "id=",
    "@[0-9a-f]{4,}" -> "@", "file:[^\\s,\\]]*" -> "file:", "\\[\\d+\\]" -> "[]",
    // fresh names and ids of lambda variables (higher-order functions, encoders)
    "\\b([a-z]+)_\\d+#" -> "$1_#", "(lambdavariable\\(\\w+, .*?, (?:true|false), )-?\\d+\\)" -> "$1)",
    // JVM lambda class names, and the codegen-stage and query-stage ids,
    // which follow the order in which AQE's stages happened to finish
    "\\$Lambda\\$\\d+/0x[0-9a-f]+" -> "\\$Lambda", "\\[codegen id : \\d+\\]" -> "[codegen id : ]",
    "(QueryStage\\nOutput[^\\n]*\\nArguments: )\\d+" -> "$1")

  /** A plan description with expression, plan, lambda and object ids and
    * file paths stripped: equal for two runs of the same plan. */
  private def normalizePlan(plan: String): String =
    volatilePlanText.foldLeft(plan) { case (p, (re, by)) => p.replaceAll(re, by) }

  /** Collects the jobs, tasks and SQL executions of the job groups
    * `<query>|build` (while the query's frame is built) and `<query>|act`
    * (the timed action). */
  private final class QueryListener(query: String) extends SparkListener {
    private val build = s"$query|build"
    private val groups = Set(build, s"$query|act")
    private val stages = mutable.Set.empty[Int]
    private val jobStart = mutable.Map.empty[Int, Long]
    private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    // execution id -> latest physical plan description (the final adaptive plan)
    private val plans = mutable.SortedMap.empty[Long, String]
    var jobs, prebuildJobs = 0
    var tasks, execCpuNs, shuffleWriteBytes, spillBytes, peakExecMem = 0L

    private def group(p: java.util.Properties): String =
      Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = group(e.properties)
      if (groups(g)) {
        jobs += 1
        if (g == build) prebuildJobs += 1
        stages ++= e.stageIds
        jobStart(e.jobId) = e.time
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(t0 => jobSpans += ((t0, e.time)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stages(e.stageId)) Option(e.taskMetrics).foreach { m =>
        tasks += 1
        execCpuNs += m.executorCpuTime
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.diskBytesSpilled
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.exists(groups) =>
          plans(s.executionId) = s.physicalPlanDescription
        case u: SparkListenerSQLAdaptiveExecutionUpdate if plans.contains(u.executionId) =>
          plans(u.executionId) = u.physicalPlanDescription
        case _ =>
      }
    }

    /** Milliseconds of [t0, t1] covered by at least one job. */
    def busyMs(t0: Long, t1: Long): Long = synchronized {
      var total = 0L
      var end = t0
      jobSpans.map { case (a, b) => (a, math.min(b, t1)) }.sortBy(_._1)
        .foreach { case (a, b) =>
          val from = math.max(a, end)
          if (b > from) { total += b - from; end = b }
        }
      total
    }

    def planText: String = synchronized(plans.values.map(normalizePlan).mkString("\n"))
  }

  /** Runs `fn` on `dir` once: builds the frame in job group `<name>|build`,
    * times it through a `count()` in `<name>|act`, and returns the wall
    * time with the listener's counters. The driver gap is the wall time
    * not covered by any of the query's jobs. Cached frames, dead shuffle
    * files and garbage of earlier queries are released first, outside the
    * timed region. */
  def measure(spark: SparkSession, name: String,
              fn: (SparkSession, String) => DataFrame, dir: String): Measure = {
    graft.util.Caches.releaseAll()
    // Shuffle files of finished queries are only reclaimed when the
    // driver GC enqueues their weak refs for the ContextCleaner; in a
    // long single-JVM bench at sf10 the dead files accumulated to tens
    // of GB and d2b's own (legitimate) spill then hit a full disk. One
    // explicit GC between queries (OUTSIDE the timed region) plus a
    // short drain keeps the disk footprint equal to the RUNNING query's
    // working set — the periodicGC.interval=5min session config is the
    // same hygiene for arbitrary long-running sessions.
    System.gc()
    Thread.sleep(500)
    val sc = spark.sparkContext
    val l = new QueryListener(name)
    sc.addSparkListener(l)
    System.err.println(s"[bench] start $name")
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    // a swallowed failure still surfaces as -1 in the JSON, but the cause
    // must be diagnosable — a silent catch cost a round-8 sf1 run its
    // g2 data point with nothing in the log to explain it
    val ok = try {
      sc.setJobGroup(s"$name|build", name)
      val df = fn(spark, dir)
      sc.setJobGroup(s"$name|act", name)
      df.count()
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
    } finally sc.clearJobGroup()
    val seconds = (System.nanoTime() - t0) / 1e9
    val t1Ms = System.currentTimeMillis()
    System.err.println(f"[bench] done $name $seconds%.3fs")
    ListenerBusDrain(sc)
    sc.removeSparkListener(l)
    val mb = 1024.0 * 1024.0
    val gap = math.min(seconds, (t1Ms - t0Ms - l.busyMs(t0Ms, t1Ms)) / 1e3)
    Measure(seconds, ok, Seq(
      "jobs" -> l.jobs.toDouble,
      "prebuild_jobs" -> l.prebuildJobs.toDouble,
      "tasks" -> l.tasks.toDouble,
      "exec_cpu_s" -> l.execCpuNs / 1e9,
      "shuffle_write_mb" -> l.shuffleWriteBytes / mb,
      "spill_mb" -> l.spillBytes / mb,
      "peak_exec_mem_mb" -> l.peakExecMem / mb,
      "driver_gap_s" -> gap), l.planText)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional arg: comma-separated query-name filter for targeted local
    // timing runs (the driver passes no args — full-bench behavior intact)
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(",").toSet) else None
    val spark = GraftSession() // one shared config for Verify/Bench/tests
    // Warmup: run every query once at the smallest SF so whole-stage
    // codegen compilation and JIT happen outside the timed region — the
    // timed numbers then measure dataflow, not first-touch compilation.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      SparkEntry.queries
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .values.foreach { fn =>
          try fn(spark, warmDir).count() catch { case _: Throwable => }
        }
    // The full-pipeline entry warmup only pays off when every query runs;
    // a targeted `only` run skips it so single-query timings stay cheap.
    if (only.isEmpty)
      try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // A throwing query must surface as a failure, not masquerade as its
    // wall time: failed queries report -1 in `queries`, are excluded from
    // `value`, and are listed by name under `failed`.
    // This box exhibits MULTI-MINUTE episodic kernel stalls (threads spin in
    // the futex slow path; sys time 10x user; 10-60x per-query wall
    // inflation — see README "Bench variance"). A single timing inside an
    // episode misreports the engine by an order of magnitude, and an
    // IMMEDIATE retry lands inside the same episode (measured: a quiet-0.7s
    // query at 103s across two back-to-back executions). So retries are
    // DEFERRED: pass 1 times every query once; queries whose best time
    // exceeds 5 s (every quiet-state query sits under ~4 s at sf0.1) are
    // re-timed in up to two later passes, minutes of other work apart, and
    // the per-query MIN is reported — the per-query form of the n=3-medians
    // rule used across rounds, bounded at 3 executions per slow query.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // per query: (first-pass time, best attempt, attempts) — the JSON
    // carries first_run and attempts next to the headline minima so a
    // stall-inflated pass 1 is self-evidently noise (best << first, n > 1)
    // instead of reading as a regression against an earlier round.
    val best = mutable.LinkedHashMap[String, (Double, Measure, Int)]()
    ordered.foreach { case (name, fn) =>
      val m = measure(spark, name, fn, sfDir); best(name) = (m.seconds, m, 1)
    }
    // Retry ceiling: the deferred re-time exists to dodge the box's
    // episodic stalls, whose signature is a SHORT query reading 10-60x its
    // quiet time. A best time already past this cap is a genuinely
    // long-running query, where a blanket 3x re-run is costly and the
    // stall's relative inflation is small anyway. Two carve-outs: failed
    // queries re-try regardless (a transient environmental failure must
    // not cost the pass its data point), and an above-cap time seen only
    // ONCE gets exactly one re-time, so every reported minimum above the
    // cap is the min of >= 2 observations.
    val retryCap = 300.0
    for (_ <- 1 to 2) {
      val slow = ordered.filter { case (name, _) =>
        val (_, m, n) = best(name)
        !m.ok || (m.seconds > 5.0 && m.seconds <= retryCap) || (m.seconds > retryCap && n == 1)
      }
      slow.foreach { case (name, fn) =>
        val (first, b, n) = best(name)
        val m = measure(spark, name, fn, sfDir)
        best(name) = (first, if (m.ok && (!b.ok || m.seconds < b.seconds)) m else b, n + 1)
      }
    }
    def obj(f: ((Double, Measure, Int)) => String): String =
      best.map { case (k, r) => "\"" + k + "\":" + f(r) }.mkString("{", ",", "}")
    val qs = obj { case (_, m, _) => (if (m.ok) m.seconds else -1.0).toString }
    val firsts = obj { case (f, m, _) => (if (m.ok) f else -1.0).toString }
    val attempts = obj(_._3.toString)
    val metrics = obj(_._2.metricsJson)
    val failed = best.collect { case (k, (_, m, _)) if !m.ok => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = best.values.collect { case (_, m, _) if m.ok => m.seconds }.sum
    // Self-documenting harness provenance (round-13 advice): runs with a
    // different heap or core count produce numbers that are NOT comparable
    // to default-harness rows of the same query — record the effective
    // values in the JSON so the distinction is machine-readable, not a
    // README footnote. max_heap_mb is the JVM's real -Xmx-derived ceiling
    // (the truthful form of SPARK_DRIVER_MEM, which may be unset); cpus is
    // the session's default parallelism (the truthful form of
    // SPARK_GRAFT_CPUS). The shuffle-partition conf is the unvalidated
    // SPARK_GRAFT_CPUS string — interpolating it unquoted could emit
    // invalid JSON; parse to Int, else emit it as an escaped JSON string
    val shufParts = {
      val raw = spark.conf.get("spark.sql.shuffle.partitions")
      scala.util.Try(raw.trim.toInt).map(_.toString).getOrElse(graft.util.Json.str(raw))
    }
    val harness =
      s""""harness":{"shuffle_partitions":$shufParts,""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory() / (1024 * 1024)},""" +
      s""""cpus":${spark.sparkContext.defaultParallelism},"retry_cap":$retryCap,""" +
      // the EFFECTIVE shuffle/spill codec, same truthful-form rule as
      // max_heap_mb (a -Dspark.io.compression.codec JVM option changes it)
      s""""io_codec":${graft.util.Json.str(spark.conf.get("spark.io.compression.codec"))}}"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"first_run":$firsts,"attempts":$attempts,"metrics":$metrics,"sf":"$sfDir","failed":$failed,$harness}"""
    println(json)
    // stdout capture of a long sbt run can truncate (BENCH_r03 lost its
    // head); the file copy is the durable record. The final plans of the
    // reported attempts go beside it, one normalized text per query.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(out), (json + "\n").getBytes("UTF-8"))
      val plans = java.nio.file.Paths.get(out.stripSuffix(".json") + ".plans")
      java.nio.file.Files.createDirectories(plans)
      best.foreach { case (name, (_, m, _)) =>
        java.nio.file.Files.write(plans.resolve(s"$name.txt"), m.plan.getBytes("UTF-8"))
      }
    } catch { case e: Throwable => System.err.println(s"bench_out write failed: $e") }
    spark.stop()
  }
}
