package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("money_parse handles the reference's cases plus accounting forms") {
    val in = Seq("$1,234.56", "39.12", "1,000.00", "(45.10)", "-7.25",
      "$0.01", "garbage", "", "12.34.56", "PAYMENT").toDF("s")
    val got = in.select(GraftFunctions.money_parse($"s").as("v"))
      .as[Option[BigDecimal]].collect().toSeq
    val want = Seq(Some(BigDecimal("1234.56")), Some(BigDecimal("39.12")),
      Some(BigDecimal("1000.00")), Some(BigDecimal("-45.10")), Some(BigDecimal("-7.25")),
      Some(BigDecimal("0.01")), None, None, None, None)
    assert(got.map(_.map(_.setScale(2))) === want)
  }

  test("money_parse matches the builtin-composed parse on generated amounts") {
    val df = graft.Tables.orders(spark, sf0001)
      .withColumn("s", concat(lit("$"), col("o_totalprice").cast("decimal(12,2)").cast("string")))
    val diff = df.select(
        GraftFunctions.money_parse(col("s")).as("a"),
        regexp_replace(col("s"), "[$,]", "").cast("decimal(12,2)").as("b"))
      .filter(col("a") =!= col("b") || col("a").isNull)
    assert(diff.count() === 0)
  }

  test("version_cmp total order semantics") {
    val cases = Seq(
      ("1.2.3", "1.2.3", 0), ("1.2.10", "1.2.9", 1), ("1.2", "1.2.0", 0),
      ("2.0", "1.99.99", 1), ("v1.3.0", "1.2.9", 1), ("0.9", "1.0", -1))
    val df = cases.toDF("a", "b", "want")
    val bad = df.filter(GraftFunctions.version_cmp($"a", $"b") =!= $"want")
    assert(bad.count() === 0)
  }

  test("SQL registration works (spark.sql path)") {
    val r = spark.sql(
      "SELECT money_parse('$12.50') AS m, version_cmp('1.3.0', '1.2.9') AS v, " +
        "dot_fold(array(CAST(2 AS BIGINT), 3), array(CAST(10 AS BIGINT), 100)) AS d")
      .collect().head
    assert(r.getDecimal(0) === new java.math.BigDecimal("12.50"))
    assert(r.getInt(1) === 1)
    assert(r.getLong(2) === 320L)
  }

  test("expressions participate in whole-stage codegen plans") {
    // over a real scan (local relations constant-fold to LocalTableScan)
    val df = graft.Tables.orders(spark, sf0001)
      .select(GraftFunctions.money_parse(col("o_totalprice").cast("string")))
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" marks operators inside a WholeStageCodegen stage; a codegen
    // fallback would print a bare Project
    assert(plan.contains("*(1) Project"), s"plan was:\n$plan")
  }

  test("dot_fold matches the zip_with+aggregate fold bit-for-bit") {
    // deterministic pseudo-random float arrays, including exact-zero and
    // denormal-ish magnitudes — the fold order is what makes this exact
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((
      Array.fill(64)((rnd.nextGaussian() * math.pow(10, rnd.nextInt(6) - 3)).toFloat),
      Array.fill(64)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("a", "b")
    val legacy = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val both = df.select(
        GraftFunctions.dot_fold(col("a"), col("b")).as("fast"), legacy.as("slow"))
      .as[(Double, Double)].collect()
    both.foreach { case (f, s) =>
      assert(java.lang.Double.doubleToRawLongBits(f) ===
        java.lang.Double.doubleToRawLongBits(s), s"$f != $s (bitwise)")
    }
    // zero-null variant vs the coalesce fold, with nulls and ragged lengths
    val ragged = Seq(
      (Array[java.lang.Float](1.5f, null, 2.5f), Seq(2.0, 3.0, 4.0, 5.0)),
      (Array[java.lang.Float](0.5f), Seq(8.0))).toDF("a", "p")
    val legacyZ = aggregate(
      zip_with(col("a"), col("p"), (x, y) => coalesce(x.cast("double") * y, lit(0.0))),
      lit(0.0), (acc, x) => acc + x)
    val z = ragged.select(
        GraftFunctions.dot_fold_zero(col("a"), col("p")).as("fast"), legacyZ.as("slow"))
      .as[(Double, Double)].collect()
    z.foreach { case (f, s) => assert(f === s) }
    // strict semantics: null element or length mismatch nulls the sum
    val bad = Seq(
      (Array[java.lang.Float](1.0f, null), Array[java.lang.Float](1.0f, 2.0f)),
      (Array[java.lang.Float](1.0f), Array[java.lang.Float](1.0f, 2.0f))).toDF("a", "b")
    assert(bad.select(GraftFunctions.dot_fold(col("a"), col("b")))
      .collect().forall(_.isNullAt(0)))
    // long variant: exact integer fold
    val lv = Seq((Array(3L, -4L, 5L), Array(2L, 10L, 100L))).toDF("a", "b")
    assert(lv.select(GraftFunctions.dot_fold(col("a"), col("b")))
      .as[Long].collect().head === 6L - 40L + 500L)
    // and it codegens over a real scan (the whole point)
    val emb = graft.Tables.embeddings(spark, sf0001)
    val plan = emb.select(GraftFunctions.dot_fold(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"dot_fold fell out of codegen:\n$plan")
  }

  test("bloom_probe matches BloomFilter.mightContainLong and stays in codegen") {
    // build a filter over a known key set, probe member + non-member keys
    val keys = (0L until 5000L).map(_ * 37L)
    val keyDf = keys.toDF("k")
    val bloom = keyDf.stat.bloomFilter("k", keys.size.toLong, 0.01)
    val bc = spark.sparkContext.broadcast(bloom)
    // zero false negatives on members — the exactness contract g2 leans on
    val members = keyDf.filter(GraftFunctions.bloom_probe(col("k"), bc)).count()
    assert(members === keys.size.toLong)
    // expression output ≡ driver-side probe on a mixed key range
    val probes = (0L until 20000L).toDF("k")
    val got = probes.filter(GraftFunctions.bloom_probe(col("k"), bc))
      .as[Long].collect().toSet
    val want = (0L until 20000L).filter(bloom.mightContainLong).toSet
    assert(got === want)
    // and it codegens over a real scan — the whole point of replacing the
    // UDF that carried g2's wedge-stage prune
    val plan = graft.Tables.orders(spark, sf0001)
      .filter(GraftFunctions.bloom_probe(col("o_orderkey"), bc))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Filter"), s"bloom_probe fell out of codegen:\n$plan")
  }

  test("typed Aggregator: MoneySum counts failures instead of dropping them") {
    val ds = Seq("$10.00", "5.50", "junk", "(2.25)").toDS()
    val r = ds.select(udaf(Aggregators.MoneySumAgg).apply($"value")).collect()
    // cents: 1000 + 550 - 225 = 1325, parsed 3, failed 1
    val m = r.head.getStruct(0)
    assert(m.getAs[Long]("cents") === 1325L)
    assert(m.getAs[Long]("parsed") === 3L)
    assert(m.getAs[Long]("failed") === 1L)
  }

  test("KMV sketch: exact below k, within 15% above k, merge-associative") {
    val ds = graft.Tables.orders(spark, sf0001)
      .select(col("o_custkey").cast("string")).as[String]
    val trueDistinct = ds.distinct().count().toDouble
    val est = ds.select(udaf(KmvSketch.KmvAgg(256)).apply($"o_custkey")).as[Double].collect().head
    assert(math.abs(est - trueDistinct) / trueDistinct < 0.15,
      s"est=$est true=$trueDistinct")
    // small-cardinality exactness (below k)
    val small = Seq("a", "b", "a", "c").toDS()
    val exact = small.select(udaf(KmvSketch.KmvAgg(256)).apply($"value")).as[Double].collect().head
    assert(exact === 3.0)
    // partition-count invariance (merge correctness)
    val est2 = ds.repartition(13)
      .select(udaf(KmvSketch.KmvAgg(256)).apply($"o_custkey")).as[Double].collect().head
    assert(est === est2)
  }

  test("TypedImperativeAggregate KMV agrees exactly with the typed Aggregator") {
    val ds = graft.Tables.orders(spark, sf0001)
      .select(col("o_custkey").cast("string").as("ck"))
    val catalyst = ds
      .select(KmvCatalyst.approx_distinct_kmv(col("ck")).as("est"))
      .collect().head.getDouble(0)
    val typed = ds.as[String]
      .select(udaf(KmvSketch.KmvAgg(256)).apply(col("ck"))).as[Double].collect().head
    assert(catalyst === typed) // same hash, same estimator, two surfaces
    // and survives shuffles (partial/final with binary serde)
    val repart = ds.repartition(11)
      .select(KmvCatalyst.approx_distinct_kmv(col("ck")).as("est"))
      .collect().head.getDouble(0)
    assert(repart === catalyst)
    // SQL path (injected by GraftExtensions)
    ds.createOrReplaceTempView("kmv_in")
    val viaSql = spark.sql("SELECT approx_distinct_kmv(ck) FROM kmv_in")
      .collect().head.getDouble(0)
    assert(viaSql === catalyst)
  }

  test("CMS sketch: partition-invariant, one-sided, SQL-registrable") {
    val words = graft.Tables.documents(spark, sf0001)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
    val sk = words.select(CmsCatalyst.cms_sketch(col("w")).as("sk"))
      .collect().head.getSeq[Long](0)
    // commutative merge + deterministic hashes ⇒ same sketch any partitioning
    val sk2 = words.repartition(13)
      .select(CmsCatalyst.cms_sketch(col("w")).as("sk"))
      .collect().head.getSeq[Long](0)
    assert(sk === sk2)
    // total mass per depth row is the total word count (no dropped updates)
    val total = words.count()
    (0 until 4).foreach { j =>
      assert(sk.slice(j * 64, (j + 1) * 64).sum === total, s"row $j mass")
    }
    // estimate is one-sided: min over rows ≥ exact count, for every word
    val exact = words.groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    exact.foreach { case (w, n) =>
      val est = (0 until 4).map { j =>
        sk(j * 64 + (KmvSketch.hash60(s"cms$j|$w") % 64).toInt)
      }.min
      assert(est >= n, s"undercount for $w: $est < $n")
    }
    // SQL path (injected by GraftExtensions)
    words.createOrReplaceTempView("cms_in")
    val viaSql = spark.sql("SELECT cms_sketch(w) FROM cms_in")
      .collect().head.getSeq[Long](0)
    assert(viaSql === sk)
  }

  test("typed Aggregator: BoundingBox over word boxes") {
    import org.apache.spark.sql.functions.udaf
    val words = Seq((10.0, 100.0), (50.0, 90.0), (30.0, 200.0)).toDS()
    val box = words.select(udaf(Aggregators.BoundingBox).apply($"_1", $"_2"))
      .collect().head.getStruct(0)
    assert(box.getAs[Double]("minX") === 10.0)
    assert(box.getAs[Double]("maxX") === 50.0)
    assert(box.getAs[Double]("minTop") === 90.0)
    assert(box.getAs[Double]("maxTop") === 200.0)
    assert(box.getAs[Long]("n") === 3L)
  }
}
