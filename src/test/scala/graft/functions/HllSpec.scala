package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** HLL sketch: partition invariance (merge correctness), accuracy bound,
  * and the register layout the DuckDB oracle rebuilds. */
class HllSpec extends SparkSpec {
  import spark.implicits._

  test("estimate is invariant under partitioning (register-max merge)") {
    val ids = (1 to 5000).map(_.toString)
    val a = ids.toDF("v").repartition(1)
      .agg(HllCatalyst.approx_distinct_hll(col("v"))).head().getDouble(0)
    val b = ids.toDF("v").repartition(13)
      .agg(HllCatalyst.approx_distinct_hll(col("v"))).head().getDouble(0)
    assert(a == b, s"merge must be exact: $a vs $b")
  }

  test("estimate within the 3σ HLL error bound for m=256 (~6.5% σ)") {
    for (n <- Seq(1000, 5000, 20000)) {
      val est = (1 to n).map(i => s"key_$i").toDF("v")
        .agg(HllCatalyst.approx_distinct_hll(col("v"))).head().getDouble(0)
      assert(math.abs(est - n) < 0.20 * n, s"n=$n est=$est")
    }
  }

  test("duplicates do not move the estimate (distinct semantics)") {
    val once = (1 to 3000).map(_.toString).toDF("v")
      .agg(HllCatalyst.approx_distinct_hll(col("v"))).head().getDouble(0)
    val dup = ((1 to 3000) ++ (1 to 3000)).map(_.toString).toDF("v")
      .agg(HllCatalyst.approx_distinct_hll(col("v"))).head().getDouble(0)
    assert(once == dup)
  }

  test("sql surface registers and matches the Column api") {
    graft.Tables.lineitem(spark, sf0001).createOrReplaceTempView("li_hll")
    val viaSql = spark.sql(
      "SELECT approx_distinct_hll(l_orderkey) FROM li_hll").head().getDouble(0)
    val viaCol = graft.Tables.lineitem(spark, sf0001)
      .agg(HllCatalyst.approx_distinct_hll(col("l_orderkey"))).head().getDouble(0)
    assert(viaSql == viaCol)
  }

  test("driver query stays on the raw harmonic branch at sf0.001") {
    // The determinism contract (HllCatalyst scaladoc) needs cardinalities
    // > 2.5m per group so `ln` never decides a gated value; pin that here
    // at the smallest SF — larger SFs only increase the cardinality.
    val counts = graft.Tables.lineitem(spark, sf0001)
      .groupBy("l_linestatus")
      .agg(countDistinct("l_orderkey").as("nd"))
      .select("nd").as[Long].collect()
    assert(counts.forall(_ > 640), s"groups must exceed 2.5m=640: ${counts.toSeq}")
  }
}
