package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point: one workload, one JVM, one client in a closed loop.
  *
  * Phases: set-up (session start plus one untimed warm-up operation; this
  * is `setup_s`), [[SettleOps]] more untimed warm-up operations on the same
  * session so the timed passes start with the JIT and codegen caches warm,
  * then timed passes until `--seconds` have elapsed (at least one), each
  * followed by its correctness check. Hygiene between
  * operations (cached-frame release, one GC, a fresh report directory) runs
  * outside the timed regions.
  *
  * With `--trace 0` no listener is registered and the end-to-end metrics
  * are reported. With `--trace 1` passes alternate between untraced and
  * traced, at least three and ending on an untraced one, so the untraced
  * passes bracket the traced ones and a pass's position in the run (later
  * passes run a little faster) does not count as tracing overhead. A traced
  * pass materializes each layer's output and records one span per layer
  * call, and the per-layer metrics are the medians over the traced
  * passes. */
object Main {
  val SettleOps = 1

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        corpus: String, data: String, expected: String,
                        work: String, out: String, spans: String)

  /** A workload: untimed warm-up, one timed pass, and the metrics of a run. */
  trait Workload {
    def warm(spark: SparkSession): Unit
    def pass(spark: SparkSession, n: Int, tracer: Option[Tracer]): Unit
    def attempted: Int
    def failed: Int
    /** End-to-end metrics besides setup_s and peak_mem_mb. */
    def endToEnd: ListMap[String, (Double, String)]
    def perLayer: ListMap[String, Double]
    def detail: ListMap[String, Any]
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv.getOrElse("corpus", ""), kv.getOrElse("data", ""),
      kv.getOrElse("expected", ""), kv("work"), kv("out"), kv.getOrElse("spans", ""))
    if (a.workload == "write_expected") { QueryMix.writeExpected(a); return }
    val w: Workload = a.workload match {
      case "monthly_close" => new Pipeline(a, xlsx = true)
      case "backfill" => new Pipeline(a, xlsx = false)
      case "query_mix" => new QueryMix(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val t0 = System.nanoTime()
    val spark = GraftSession()
    w.warm(spark)
    val setup = (System.nanoTime() - t0) / 1e9
    (1 to SettleOps).foreach(_ => w.warm(spark))
    val rssReset = PeakRss.reset()
    LiveMem.start()
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var n = 0
    while (n < (if (a.trace) 3 else 1) || System.nanoTime() < deadline || (a.trace && n % 2 == 0)) {
      w.pass(spark, n, tracer.filter(_ => n % 2 == 1))
      n += 1
    }
    val (heapMb, nonHeapMb) = LiveMem.stop()
    val rss = PeakRss.peakMb()
    tracer.foreach { t =>
      t.drain()
      if (a.spans.nonEmpty) Files.writeString(Paths.get(a.spans), Json(t.allSpans.map(s =>
        ListMap("id" -> s.id, "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
          "start_ms" -> s.start, "end_ms" -> s.end, "plans" -> t.planDigests(s)))))
    }

    val conf = spark.conf
    val metrics: ListMap[String, Any] =
      if (a.trace) w.perLayer.map { case (k, v) => k -> ListMap("value" -> v, "unit" -> Units(k)) }
      else (ListMap("setup_s" -> (setup, "s")) ++ w.endToEnd ++
        ListMap("peak_mem_mb" -> (heapMb + nonHeapMb, "MB")))
        .map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }
    val result = ListMap(
      "correct" -> (w.failed == 0),
      "attempted" -> w.attempted,
      "failed" -> w.failed,
      "metrics" -> metrics,
      "detail" -> (ListMap(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
        "passes" -> n, "settle_ops" -> SettleOps,
        "failed_frac" -> w.failed.toDouble / w.attempted,
        "peak_heap_held_mb" -> heapMb, "peak_non_heap_mb" -> nonHeapMb,
        "heap_held_mb" -> LiveMem.samplesMb, "heap_first_reading_mb" -> LiveMem.firstReadingsMb,
        "peak_rss_mb" -> rss,
        "peak_rss_window" -> (if (rssReset) "timed passes" else "whole process"),
        "provenance" -> ListMap(
          "cpus" -> spark.sparkContext.defaultParallelism,
          "master" -> spark.sparkContext.master,
          "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
          "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
          "io_codec" -> conf.get("spark.io.compression.codec"),
          "spark" -> spark.version,
          "java" -> System.getProperty("java.version"))) ++ w.detail))
    spark.stop()
    Files.writeString(Paths.get(a.out), Json(result))
  }

  /** Hygiene between operations, outside any timed region: sample the
    * memory the operation left held, release cached frames, wait until
    * their blocks are gone (unpersist is asynchronous), one GC. */
  def hygiene(): Unit = {
    LiveMem.sample()
    graft.util.Caches.releaseAll()
    SparkSession.getActiveSession.foreach { s =>
      val sc = s.sparkContext
      val deadline = System.nanoTime() + 2000000000L
      def pending = sc.getRDDStorageInfo.exists(i => !sc.getPersistentRDDs.contains(i.id))
      while (pending && System.nanoTime() < deadline) Thread.sleep(5)
    }
    System.gc()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).iterator.asScala.foreach(Files.delete)
      finally walk.close()
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Order-independent 64-bit hash of a multiset of row strings. */
  def multisetHash(rows: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val sum = rows.foldLeft(0L) { (acc, r) =>
      acc + java.nio.ByteBuffer.wrap(md.digest(r.getBytes("UTF-8"))).getLong
    }
    f"$sum%016x"
  }
}

/** Peak resident memory of this JVM (Linux): VmHWM, reset after set-up by
  * writing 5 to clear_refs so it covers the timed passes only. The heap is
  * fixed and pre-touched, so this is mostly the configured heap; it is kept
  * in the record, not gated. */
object PeakRss {
  def reset(): Boolean =
    try { Files.writeString(Paths.get("/proc/self/clear_refs"), "5"); true }
    catch { case _: Exception => false }

  def peakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Memory the program holds at the end of a timed operation: the heap in
  * use after full collections taken before the operation's cached frames
  * are released (materialized frames and whatever the engine keeps across
  * operations count; garbage does not), plus the peak
  * use of the non-heap pools (metaspace, code cache). Unlike resident
  * memory it does not count heap the JVM reserved but the program left
  * empty. */
object LiveMem {
  private val heap = ManagementFactory.getMemoryMXBean
  private val nonHeapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.NON_HEAP).toSeq
  private var on = false
  private val samples = mutable.ArrayBuffer.empty[Long]
  private val firstReadings = mutable.ArrayBuffer.empty[Long]

  def start(): Unit = { nonHeapPools.foreach(_.resetPeakUsage()); on = true }

  /** Record the heap in use, while measuring: the smaller of two readings
    * 0.1 s apart, each right after a full collection, so state that Spark's
    * background threads are about to drop (blocks of broadcasts and
    * shuffles no longer referenced) does not count. */
  def sample(): Unit = if (on) {
    def used(): Long = { System.gc(); heap.getHeapMemoryUsage.getUsed }
    val first = used()
    Thread.sleep(100)
    firstReadings += first
    samples += math.min(first, used())
  }

  private val mb = 1024.0 * 1024.0

  /** Stop measuring; (peak heap sample, peak non-heap use), MB. */
  def stop(): (Double, Double) = {
    on = false
    val nonHeap: Long = nonHeapPools.map(_.getPeakUsage.getUsed).sum
    ((samples :+ 0L).max / mb, nonHeap / mb)
  }

  def samplesMb: Seq[Double] = samples.map(_ / mb).toSeq
  def firstReadingsMb: Seq[Double] = firstReadings.map(_ / mb).toSeq
}

/** Units of the per-layer metrics, by name suffix. */
object Units {
  def apply(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_frac")) "ratio"
    else "count"
}
