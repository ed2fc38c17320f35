package graft
import org.apache.spark.sql.SparkSession
object Bench {
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
    def once(name: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
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
      val t0 = System.nanoTime()
      // a swallowed failure still surfaces as -1 in the JSON, but the cause
      // must be diagnosable — a silent catch cost a round-8 sf1 run its
      // g2 data point with nothing in the log to explain it
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
      }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // per query: (first-pass time, best time, attempts, ok) — the JSON
    // carries first_run and attempts next to the headline minima so a
    // stall-inflated pass 1 is self-evidently noise (best << first, n > 1)
    // instead of reading as a regression against an earlier round.
    val best = scala.collection.mutable.LinkedHashMap[String, (Double, Double, Int, Boolean)]()
    ordered.foreach { case (name, fn) =>
      val (t, ok) = once(name, fn); best(name) = (t, t, 1, ok)
    }
    // Retry ceiling: the deferred re-time exists to dodge the box's
    // episodic stalls, whose signature is a SHORT query reading 10-60x its
    // quiet time — always landing in the tens-to-hundreds of seconds. A
    // best time already past this cap is a genuinely long-running query
    // (an sf100 scale-tier measurement), where a blanket 3x re-run costs
    // hours and the stall's relative inflation is small anyway; those get
    // their min across the campaign's SPACED PASSES instead (the same
    // min-over-2 the scale curve always used). Two carve-outs: failed
    // queries re-try regardless (a transient environmental failure must
    // not cost the pass its data point), and an above-cap time seen only
    // ONCE gets exactly one re-time — a ~10-30 s query stalled to 10-60x
    // lands ABOVE the cap, so a single-pass bench would otherwise record
    // the stall permanently with nothing to contradict it. One retry
    // bounds the extra cost for genuinely long queries at 2 executions
    // while making every reported minimum the min of >= 2 observations.
    val retryCap = sys.env.get("SPARK_GRAFT_BENCH_RETRY_CAP").map { s =>
      scala.util.Try(s.trim.toDouble).getOrElse(sys.error(
        s"SPARK_GRAFT_BENCH_RETRY_CAP must be a number of seconds, got '$s'"))
    }.getOrElse(300.0)
    for (_ <- 1 to 2) {
      // deferred re-times: slow-but-ok queries (stall defense), failed
      // ones — a transient environmental failure (disk-full from a
      // neighboring query's leftovers, a stall-timeout) must not cost the
      // pass its data point when a later attempt succeeds — and
      // single-observation above-cap times (one confirmation run)
      val slow = ordered.filter { case (name, _) =>
        val (_, t, n, ok) = best(name)
        !ok || (t > 5.0 && t <= retryCap) || (t > retryCap && n == 1)
      }
      slow.foreach { case (name, fn) =>
        val (first, b, n, okPrev) = best(name)
        val (t2, ok2) = once(name, fn)
        val newBest = if (ok2 && (!okPrev || t2 < b)) t2 else b
        best(name) = (first, newBest, n + 1, okPrev || ok2)
      }
    }
    val results = ordered.map { case (name, _) =>
      val (first, t, n, ok) = best(name); (name, first, t, n, ok)
    }
    val qs = results.map { case (k, _, v, _, ok) =>
      s"\"" + k + "\":" + (if (ok) v else -1.0) }.mkString("{", ",", "}")
    val firsts = results.map { case (k, f, _, _, ok) =>
      s"\"" + k + "\":" + (if (ok) f else -1.0) }.mkString("{", ",", "}")
    val attempts = results.map { case (k, _, _, n, _) =>
      s"\"" + k + "\":" + n }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, _, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, _, v, _, true) => v }.sum
    // Self-documenting harness provenance (round-13 advice): tier-sized
    // runs (SPARK_GRAFT_SHUFFLE_PARTITIONS=256, SPARK_DRIVER_MEM=32g for
    // sf100 documents/lineitem) produce numbers that are NOT comparable to
    // default-harness rows of the same query — record the effective values
    // in the JSON so the distinction is machine-readable, not a README
    // footnote. max_heap_mb is the JVM's real -Xmx-derived ceiling (the
    // truthful form of SPARK_DRIVER_MEM, which may be unset); cpus is the
    // session's default parallelism (the truthful form of SPARK_GRAFT_CPUS).
    // the conf value is only guaranteed numeric when set via the validated
    // env var — interpolating any other source unquoted could emit invalid
    // JSON; parse to Int, else emit it as an escaped JSON string
    val shufParts = {
      val raw = spark.conf.get("spark.sql.shuffle.partitions")
      scala.util.Try(raw.trim.toInt).map(_.toString).getOrElse(graft.util.Json.str(raw))
    }
    val harness =
      s""""harness":{"shuffle_partitions":$shufParts,""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory() / (1024 * 1024)},""" +
      s""""cpus":${spark.sparkContext.defaultParallelism},"retry_cap":$retryCap,""" +
      // the codec is part of the tier harness too (round 16: g1b at sf100
      // only completes under zstd) — read back the EFFECTIVE conf, same
      // truthful-form rule as max_heap_mb; values come from the validated
      // lz4/zstd/snappy/lzf set so plain interpolation stays legal JSON
      s""""io_codec":"${spark.conf.get("spark.io.compression.codec", "lz4")}"}"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"first_run":$firsts,"attempts":$attempts,"sf":"$sfDir","failed":$failed,$harness}"""
    println(json)
    // stdout capture of a long sbt run can truncate (BENCH_r03 lost its
    // head); the file copy is the durable record
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"bench_out write failed: $e") }
    spark.stop()
  }
}
