package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col

/** Queries running concurrently on one session must not interfere: no
  * operator may change what another thread's query plans or returns. */
class ConcurrencySpec extends SparkSpec {

  test("a partitioned checkpoint leaves other threads' plans adaptive") {
    val src = spark.range(0, 1000).toDF("k")
    val stop = new AtomicBoolean(false)
    @volatile var looperError: Throwable = null
    val looper = new Thread(() =>
      try while (!stop.get) graft.util.Checkpoints.partitioned(src, "k")
      catch { case e: Throwable => looperError = e })
    looper.start()
    val plans = 400
    val nonAdaptive = try (1 to plans).count { i =>
      !spark.range(0, 100 + i).groupBy((col("id") % 7).as("g")).count()
        .queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]
    } finally { stop.set(true); looper.join() }
    assert(looperError === null)
    assert(nonAdaptive === 0, s"$nonAdaptive of $plans plans came out non-adaptive")
  }

  // enrichment, dedup, PQ/IVF, graph (the partitioned checkpoints) and the
  // batch twins of the streaming windows
  private val queries = Seq(
    "j01_exact_enrich", "j02_twophase_enrich",
    "d2_ngram_jaccard", "d7_dup_clusters", "d7b_dup_clusters_star", "er1_entity_clusters",
    "s3_knn_ivf", "s8_knn_pq", "s9_knn_ivfpq",
    "g1_pagerank", "g1b_ppr", "g2_triangles", "g3_bfs_hops",
    "stream_tumbling", "stream_sliding", "stream_session", "stream_interval_join",
    "stream_dedup_agg", "stream_capped_sessions")

  /** Schema plus the sorted rows, hashed: equal for the same result in any
    * row order. */
  private def contentHash(df: DataFrame): String = {
    val text = (df.schema.simpleString +: df.collect().map(_.toString).sorted).mkString("\n")
    java.security.MessageDigest.getInstance("SHA-1").digest(text.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def run(name: String): String = contentHash(SparkEntry.queries(name)(spark, sf0001))

  test("registered queries on 4 threads of one session return their serial results") {
    val serial = queries.map(q => q -> run(q)).toMap
    val pool = Executors.newFixedThreadPool(4)
    val concurrent = try {
      val futures = queries.reverse.map(q => q -> pool.submit(new Callable[String] {
        def call(): String = run(q)
      }))
      futures.map { case (q, f) => q -> f.get(10, TimeUnit.MINUTES) }.toMap
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
      graft.util.Caches.releaseAll()
    }
    val differ = queries.filter(q => concurrent(q) != serial(q))
    assert(differ.isEmpty, s"concurrent results differ from serial: ${differ.mkString(", ")}")
  }
}
