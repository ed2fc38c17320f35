package graft.util

import graft.SparkSpec
import graft.operators.Enrichment
import graft.pipeline.{PipelineE2ESpec, Statement, StatementSpec}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Path, Paths}

class CachesSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs the session starts while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  /** The directory a spilled frame is read from. */
  private def spillDir(df: DataFrame): Path =
    Paths.get(new java.net.URI(df.inputFiles.head)).getParent

  /** A frame whose input, an 80 MB Range (8 B per id), is above the spill
    * bar while its output is ten rows. */
  private def bigInput: DataFrame = spark.range(10000000L).filter(col("id") < 10).toDF()

  test("building the two-phase enrichment starts no job before the action") {
    val txns = Statement.parse(StatementSpec.words.toDF())
      .withColumn("txn_id", xxhash64(col("file"), col("page"), col("row_id")))
    val mappings = PipelineE2ESpec.mappings(spark)
    val (enriched, prebuild) = jobsDuring(Enrichment.twoPhase(txns, mappings,
      factId = "txn_id", factKey = "vendor", dimId = "id", dimKey = "vendor",
      payload = Seq("gl_account", "location", "program", "funder", "department")))
    try {
      assert(prebuild === 0)
      val (rows, actionJobs) = jobsDuring(enriched.collect())
      assert(actionJobs > 0)
      assert(rows.map(_.getAs[String]("match_type")).sorted.toSeq ===
        Seq("exact", "exact", "fuzzy", "none"))
    } finally Caches.releaseAll()
  }

  test("size rule: small input is cached lazily, large input spills to parquet") {
    try {
      val small = Seq((1, "a"), (2, "b")).toDF("k", "v")
      val (kept, decideJobs) = jobsDuring(Caches.materialize(small))
      assert(decideJobs === 0)
      assert(kept eq small)
      assert(kept.storageLevel === StorageLevel.MEMORY_AND_DISK)
      assert(kept.collect().length === 2)

      val spilled = Caches.materialize(bigInput)
      assert(!cached(spilled))
      assert(spilled.inputFiles.nonEmpty && spilled.inputFiles.forall(_.endsWith(".parquet")))
      assert(spilled.as[Long].collect().sorted.toSeq === (0L until 10L))

      // a cached input counts as the inputs it was derived from
      val cachedBig = bigInput.persist()
      try assert(!cached(Caches.materialize(cachedBig.select(col("id") + 1))))
      finally cachedBig.unpersist()
    } finally Caches.releaseAll()
  }

  test("releaseAll unpersists every cached frame and deletes every spill dir") {
    val frames = Seq(Seq(1, 2).toDF("a"), Seq("x").toDF("b")).map(Caches.materialize)
    val dirs = Seq(bigInput, bigInput.select(col("id") * 2)).map(df => spillDir(Caches.materialize(df)))
    assert(frames.forall(cached))
    assert(dirs.distinct.size === 2 && dirs.forall(Files.isDirectory(_)))
    Caches.releaseAll()
    assert(!frames.exists(cached))
    assert(!dirs.exists(Files.exists(_)))
  }
}
