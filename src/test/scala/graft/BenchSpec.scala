package graft

class BenchSpec extends SparkSpec {
  private def measure(name: String): Bench.Measure = {
    val m = Bench.measure(spark, name, SparkEntry.queries(name), sf0001)
    assert(m.ok, s"$name failed")
    m
  }

  private def metric(m: Bench.Measure, key: String): Double = m.counters.toMap.apply(key)

  private def assertGapWithinWall(m: Bench.Measure): Unit = {
    val gap = metric(m, "driver_gap_s")
    assert(gap >= 0 && gap <= m.seconds, s"driver gap $gap outside [0, ${m.seconds}]")
  }

  test("per-query metrics: jobs before the action, driver gap, stable plan digests") {
    val j02 = Seq.fill(2)(measure("j02_twophase_enrich"))
    val s8 = measure("s8_knn_pq")
    val q1 = Seq.fill(2)(measure("q1_agg"))

    // The first run of a session may read parquet footers for the schema of
    // a table it loads first (a job); the repeat run's tables are memoized,
    // and the two-phase enrichment materializes lazily: nothing runs before
    // the action.
    assert(metric(j02.last, "jobs") >= 1)
    assert(metric(j02.last, "stages") >= 1)
    assert(metric(j02.last, "prebuild_jobs") === 0)
    // the PQ codebook sample is collected while the query is built
    assert(metric(s8, "prebuild_jobs") >= 1)
    (j02 :+ s8).foreach(assertGapWithinWall)

    assert(j02.map(_.planDigest).distinct.size === 1, "j02 plan digest differs between runs")
    assert(q1.map(_.planDigest).distinct.size === 1, "q1 plan digest differs between runs")
    assert(j02.head.planDigest !== s8.planDigest)
    assert(j02.head.metricsJson.contains("\"plan_digest\":\"" + j02.head.planDigest + "\""))
  }
}
