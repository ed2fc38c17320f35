package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[BitmapDistinct]]: exactness vs COUNT(DISTINCT), merge across many
  * partitions, null handling, SQL registration, and the dense-domain
  * contract (out-of-range keys throw rather than silently desync). */
class BitmapSpec extends SparkSpec {

  test("bitmap_distinct equals COUNT(DISTINCT) across 16 partitions") {
    import spark.implicits._
    // values deliberately repeat across partitions so merge does real work
    val df = (0L until 4000L).map(i => (i % 3, (i * 37) % 991)).toDF("g", "k")
      .repartition(16)
    val got = df.groupBy("g")
      .agg(BitmapCatalyst.bitmap_distinct(col("k"), 991).as("nd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.groupBy("g").agg(countDistinct("k").as("nd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("nulls are ignored; empty group evaluates to zero") {
    import spark.implicits._
    val df = Seq(Some(5L), None, Some(5L), None).toDF("k")
    val n = df.agg(BitmapCatalyst.bitmap_distinct(col("k"), 64)).head().getLong(0)
    assert(n == 1L)
    val empty = spark.range(0).select(col("id").as("k"))
      .agg(BitmapCatalyst.bitmap_distinct(col("k"), 64)).head().getLong(0)
    assert(empty == 0L)
  }

  test("domain boundary: key domain-1 is countable, key domain throws") {
    import spark.implicits._
    val ok = Seq(63L, 0L).toDF("k")
      .agg(BitmapCatalyst.bitmap_distinct(col("k"), 64)).head().getLong(0)
    assert(ok == 2L)
    val ex = intercept[Exception] {
      Seq(64L).toDF("k")
        .agg(BitmapCatalyst.bitmap_distinct(col("k"), 64)).head()
    }
    assert(ex.getMessage.contains("outside dense domain") ||
      ex.getCause != null, s"unexpected: ${ex.getMessage}")
  }

  test("SQL registration: bitmap_distinct usable from spark.sql") {
    import spark.implicits._
    Seq((1L, 10L), (1L, 10L), (2L, 11L)).toDF("g", "k")
      .createOrReplaceTempView("bm_in")
    val out = spark.sql(
      "SELECT g, bitmap_distinct(k, 32) AS nd FROM bm_in GROUP BY g ORDER BY g")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((1L, 1L), (2L, 1L)))
  }
}
