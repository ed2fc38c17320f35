package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.Aggregates.dec

/** Sort/limit tier (§2.5), window functions (§2.6), set operations (§2.7),
  * and the K2 upsert-merge sink semantics. */
object SetOpsWindows {

  /** O1 multi-key sort + O4 LIMIT k: global top-100 — Spark plans this as
    * TakeOrderedAndProject (per-partition top-k + merge on driver), never a
    * full global sort; exactly what you want at 100 TB. */
  def o1TopkSort(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        dec(col("l_extendedprice")).as("price_d"))
      .orderBy(col("price_d").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(100)
      .select(col("l_orderkey"), col("l_linenumber"), col("price_d").cast("double").as("price"))

  /** O2 global total-order sort WITHOUT a limit — the other sort shape:
    * Spark samples the sort key to build range bounds, shuffles each row to
    * its range (Exchange rangepartitioning), and sorts within partitions.
    * Every partition holds a disjoint key range, so writing the result
    * yields globally sorted output with NO single-task bottleneck — this is
    * the 100 TB sorted-export path (vs o1's TakeOrdered for top-k). The
    * global rank attached afterward costs no second data shuffle: range
    * partition i holds ids `(i << 33) + 0,1,2,…` (monotonically_increasing_
    * id's documented layout: partition id in the upper bits, a consecutive
    * in-partition counter below), so rank = partition offset + in-partition
    * counter — offsets come from a ≤|partitions|-row aggregate, broadcast
    * back. A global-ORDER window would serialize the table through ONE task;
    * this stays fully parallel. The sort key (price, unique orderkey) is a
    * total order, so ids are deterministic across the two passes. */
  def o5GlobalSort(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), dec(col("o_totalprice")).as("price_d"))
    val (ranked, _) = withGlobalRank(spark, base, "global_rank",
      Seq(col("price_d").desc, col("o_orderkey").asc))
    ranked
      .select(col("o_orderkey"), col("price_d").cast("double").as("price"),
        col("global_rank"))
      .orderBy("global_rank")
  }

  /** Range-partitioned global rank attach — [[o5GlobalSort]]'s plan,
    * factored for reuse: range-shuffle on the sort key, sort within
    * partitions, then rank = broadcast partition offset + in-partition
    * counter (monotonically_increasing_id's documented partition-in-upper-
    * bits layout). The only driver traffic is a ≤|partitions|-row offsets
    * aggregate; no single-task global window anywhere. `sortCols` must be a
    * total order for the ids to be deterministic across the two passes.
    * Returns the ranked frame and the total row count (free — it is the
    * last offset). */
  def withGlobalRank(spark: SparkSession, df: DataFrame, rankCol: String,
                     sortCols: Seq[Column]): (DataFrame, Long) = {
    import spark.implicits._
    val sorted = graft.util.Caches.materialize(df
      .repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftrightunsigned(col("__mid"), 33)))
    // per-partition row counts + first id: a partially-aggregated groupBy of
    // ≤|partitions| rows — the only extra traffic the rank attach costs
    val parts = sorted.groupBy("__pid")
      .agg(count(lit(1)).as("n"), min("__mid").as("base"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val offsets = parts.scanLeft(0L) { case (acc, (_, n, _)) => acc + n }
    val offsetDf = parts.zipWithIndex.map { case ((pid, _, base), i) =>
      (pid, base, offsets(i))
    }.toSeq.toDF("__pid", "__base", "__off")
    val ranked = sorted.join(broadcast(offsetDf), Seq("__pid"))
      .withColumn(rankCol, col("__mid") - col("__base") + col("__off") + 1L)
      .drop("__mid", "__pid", "__base", "__off")
    (ranked, offsets.last)
  }

  /** Global PREFIX SUM over a total order, without a one-task window — the
    * sibling primitive to [[withGlobalRank]]: range-shuffle on the sort
    * key, take per-range exact-decimal subtotals (a ≤|partitions|-row
    * aggregate), prefix-sum THOSE on the driver with BigDecimal (exact),
    * broadcast the offsets back, and add each range's in-partition running
    * sum (a window keyed by the range id — every range is one group, so
    * the second shuffle is balanced by construction, never single-task).
    * `SUM(v) OVER (ORDER BY …)` at 100 TB is exactly this plan or it is a
    * serialization point. Returns the frame plus the exact grand total. */
  def withGlobalPrefixSum(spark: SparkSession, df: DataFrame, valueCol: String,
                          cumCol: String, sortCols: Seq[Column])
      : (DataFrame, java.math.BigDecimal) = {
    import spark.implicits._
    val sorted = graft.util.Caches.materialize(df
      .repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__pid", spark_partition_id()))
    val parts = sorted.groupBy("__pid").agg(sum(col(valueCol)).as("t"))
      .collect().map(r => (r.getInt(0), r.getDecimal(1)))
      .sortBy(_._1)
    val zero = java.math.BigDecimal.ZERO
    val offsets = parts.scanLeft(zero) { case (acc, (_, t)) =>
      if (t == null) acc else acc.add(t)
    }
    val scale = parts.headOption.flatMap(p => Option(p._2)).map(_.scale).getOrElse(4)
    val offsetDf = parts.zipWithIndex
      .map { case ((pid, _), i) => (pid, scala.math.BigDecimal(offsets(i))) }
      .toSeq.toDF("__pid", "__off")
      .select(col("__pid"), col("__off").cast(DecimalType(38, scale)).as("__off"))
    val w = Window.partitionBy("__pid").orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val out = sorted
      .withColumn("__local", sum(col(valueCol)).over(w))
      .join(broadcast(offsetDf), Seq("__pid"))
      .withColumn(cumCol, col("__off") + col("__local"))
      .drop("__pid", "__local", "__off")
    (out, offsets.last)
  }

  /** SQL `ntile(k)` from a 1-based global rank, as exact integer
    * arithmetic: with q = n div k and rem = n mod k, the first `rem`
    * buckets hold q+1 rows (the standard DuckDB/Spark/Postgres NTILE
    * definition). k is a small constant, so the bucket is `1 + #{cumulative
    * boundaries < rank}` — k-1 long comparisons, no runtime division at
    * all (Column `/` is float division; this avoids it entirely). */
  def ntileFromRank(rank: Column, n: Long, k: Int): Column = {
    val q = n / k
    val rem = n % k
    val cumSizes = (1 until k).scanLeft(0L) { (acc, j) =>
      acc + (if (j <= rem) q + 1 else q)
    }.tail // cumulative rows in buckets 1..j, for j = 1..k-1
    cumSizes.foldLeft(lit(1L)) { (acc, cum) =>
      acc + when(rank > cum, 1L).otherwise(0L)
    }
  }

  /** RFM segmentation (extension): per-customer Recency / Frequency /
    * Monetary quintile scores — the classic CRM / audience-building
    * segmentation, and a stress test for DISTRIBUTED ntile: each score is
    * ntile(5) over ALL customers, which as a bare `Window.orderBy` would
    * serialize the customer universe through one task. Here each dimension
    * rides [[withGlobalRank]] (range-partitioned rank) and
    * [[ntileFromRank]]'s exact bucket arithmetic — three fully parallel
    * sort passes, no global window, identical output to the oracle's three
    * NTILE windows. Tie-breaks are pinned by customer key, so every rank is
    * a total order and the quintiles are engine-exact. */
  def a23Rfm(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(max(col("o_orderdate")).as("last_date"),
        count(lit(1)).as("frequency"),
        sum(dec(col("o_totalprice"))).cast(DecimalType(38, 4)).as("mon_dec"))
    val (r1, n) = withGlobalRank(spark, base, "__rr",
      Seq(col("last_date").desc, col("o_custkey").asc))
    val (r2, _) = withGlobalRank(spark, r1, "__rf",
      Seq(col("frequency").desc, col("o_custkey").asc))
    val (r3, _) = withGlobalRank(spark, r2, "__rm",
      Seq(col("mon_dec").desc, col("o_custkey").asc))
    r3.select(col("o_custkey"), col("last_date"), col("frequency"),
        col("mon_dec").cast("double").as("monetary"),
        ntileFromRank(col("__rr"), n, 5).as("r_score"),
        ntileFromRank(col("__rf"), n, 5).as("f_score"),
        ntileFromRank(col("__rm"), n, 5).as("m_score"))
      .withColumn("rfm_cell",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .withColumn("segment",
        when(col("r_score") === 1 && col("f_score") <= 2 && col("m_score") <= 2,
          "champion")
        .when(col("r_score") >= 4 && col("f_score") >= 4, "at_risk")
        .otherwise("mid"))
      .orderBy("o_custkey")
  }

  /** O3/O4 per-group top-k via ranking window (row_number ≤ 3). */
  def o4TopkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(dec(col("o_totalprice")).desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "rk")
  }

  /** §2.7 set operations: nation keys present in customer vs supplier —
    * INTERSECT / EXCEPT both directions, tagged and unioned. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nk")).distinct()
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nk")).distinct()
    c.intersect(s).withColumn("tag", lit("both"))
      .unionByName(c.except(s).withColumn("tag", lit("customer_only")))
      .unionByName(s.except(c).withColumn("tag", lit("supplier_only")))
      .orderBy("tag", "nk")
  }

  /** K2 upsert-merge semantics (database.py:128-153 `INSERT ... ON CONFLICT
    * DO UPDATE`) without Delta: union(updates, base) + last-wins window on
    * the key ordered by source priority — the plain-parquet MERGE
    * formulation from SURVEY.md §2.1 K2. Scale: one shuffle on the merge
    * key; at 100 TB this is the standard copy-on-write merge pattern. */
  def k2UpsertMerge(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val base = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
        dec(col("o_totalprice")).as("price_d"), lit(0).as("src"))
    val updates = o.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), lit("U").as("status"),
        (dec(col("o_totalprice")) + 100).as("price_d"), lit(1).as("src"))
    val w = Window.partitionBy("o_orderkey").orderBy(col("src").desc)
    base.unionByName(updates)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderkey"), col("status"), col("price_d").cast("double").as("price"))
      .orderBy("o_orderkey")
  }

  /** K4: CDC log → snapshot, the half of the MERGE matrix [[k2UpsertMerge]]
    * can't express: the events stream is read as a per-user change log
    * ('error' rows are DELETE tombstones, every other row an UPSERT
    * carrying `value`), and the snapshot is the per-key state after
    * replaying the log in (ts, event_id) order — keys whose FINAL op is a
    * tombstone vanish. One shuffle (both windows share the user_id
    * partitioning); at 100 TB this is the standard log-compaction pass. */
  def k4CdcSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("n_ops", count(lit(1)).over(Window.partitionBy("user_id")))
      .filter(col("rn") === 1)
      .filter(col("event_type") =!= "error")
      .select(col("user_id"), col("event_type").as("last_op"),
        col("value").as("last_value"),
        unix_micros(col("ts")).as("last_ts_us"), col("n_ops"))
      .orderBy("user_id")
  }

  /** §2.6 analytic windows: row_number + lag + running sum per customer.
    * ROWS frame pinned explicitly (RANGE is the SQL default under ORDER BY
    * and would differ on ties). */
  def winRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("run_total",
        sum(dec(col("o_totalprice"))).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double"))
      .withColumn("prev_price", lag(dec(col("o_totalprice")), 1).over(w).cast("double"))
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("run_total"), col("prev_price"))
      .orderBy("o_custkey", "rn")
  }

  /** a24: rolling z-score outlier detection — each order compared to the
    * customer's TRAILING-10 price history (frame excludes the current row:
    * no self-contamination), flagged when |z| > 2. The z-score needs μ, σ,
    * a division, and a square root — all float-drift traps — so the test
    * |v−μ| > k·σ is algebraically cleared of ALL of them: with s = Σv,
    * q = Σv², n = count over the frame,
    *
    *   z² > k²  ⟺  (n·v − s)² > k² · (n·q − s²)
    *
    * The moment sums s, q ride exact decimal carriers (a22's convention);
    * the comparison is then ONE fixed IEEE chain off those exact values,
    * mirrored operation-for-operation in the oracle — deterministic on
    * both engines even at a ulp boundary. Same one (customer) shuffle as
    * every other per-key window; the moment sums are the standard
    * streaming-variance shape, so this is also the batch twin of an online
    * detector. */
  def a24RollingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(-10, -1)
    val v = dec(col("o_totalprice"))
    val out = Tables.orders(spark, dir)
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(v).over(w))
      .withColumn("q", sum(v * v).over(w))
      .filter(col("n") >= 3)
    val (nD, sD, qD) = (col("n").cast("double"), col("s").cast("double"),
      col("q").cast("double"))
    val vD = v.cast("double")
    val dev = nD * vD - sD
    out
      .withColumn("is_outlier", dev * dev > lit(4.0) * (nD * qD - sD * sD))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("n").cast("bigint").as("n_hist"), col("is_outlier"))
      .orderBy("o_orderkey")
  }

  /** a25: ABC / Pareto revenue classification of parts — rank parts by
    * revenue, class A = parts covering the first 80% of cumulative revenue,
    * B = next 15%, C = tail. The cumulative share is THE textbook global-
    * prefix-sum consumer, so this query exists to exercise
    * [[withGlobalPrefixSum]] at the driver gate: `SUM(rev) OVER (ORDER BY
    * rev DESC)` with no single-task window anywhere. Class boundaries
    * compare `5·cum ≤ 4·T` / `20·cum ≤ 19·T` as one fixed IEEE chain off
    * the exact decimal cum and grand total (mirrored in the oracle), so
    * the labels are engine-exact. */
  def a25AbcPareto(spark: SparkSession, dir: String): DataFrame = {
    // Re-quantize the scale-8 product sum to scale 4 BEFORE the prefix sum
    // (exact: 2-decimal inputs), so cum→double conversion stays exact —
    // the sumMoney convention, applied to the decimal carrier itself.
    val rev = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_extendedprice", "l_discount")
      .groupBy("l_partkey")
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
        .cast(DecimalType(38, 4)).as("rev"))
    val (cumDf, total) = withGlobalPrefixSum(spark, rev, "rev", "cum",
      Seq(col("rev").desc, col("l_partkey").asc))
    val cumD = col("cum").cast("double")
    val totD = lit(total.doubleValue)
    cumDf
      .withColumn("abc",
        when(lit(5.0) * cumD <= lit(4.0) * totD, "A")
          .when(lit(20.0) * cumD <= lit(19.0) * totD, "B")
          .otherwise("C"))
      .select(col("l_partkey"), col("rev").cast("double").as("revenue"),
        cumD.as("cum_revenue"), col("abc"))
      .orderBy("l_partkey")
  }

  /** a26: EQUI-DEPTH histogram of order prices — 10 buckets holding n/10 ±1
    * rows each, with per-bucket count / bounds / mass. The dual of
    * a15's equi-width histogram: bucket BOUNDARIES are data-dependent
    * (exact deciles), so the assignment needs a global rank, not a
    * division. Rides [[withGlobalRank]] + [[ntileFromRank]] — fully
    * parallel range-partitioned sort, never a one-task NTILE window; at
    * 100 TB this is how you compute exact quantile summaries at all.
    * Per-bucket sums ride the decimal carrier and cast at the boundary. */
  def a26EquidepthHist(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), dec(col("o_totalprice")).as("price_d"))
    val (ranked, n) = withGlobalRank(spark, base, "__r",
      Seq(col("price_d").asc, col("o_orderkey").asc))
    ranked
      .withColumn("bucket", ntileFromRank(col("__r"), n, 10))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min("price_d").cast("double").as("lo"),
        max("price_d").cast("double").as("hi"),
        sum("price_d").cast("double").as("bucket_sum"))
      .orderBy("bucket")
  }

  /** §2.9 streaming analog, batch form: epoch-aligned 6-hour tumbling window
    * via Spark's native `window()`; the streaming twin lives in
    * graft.streaming with watermarks. */
  def tumblingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** §2.9 sliding window, batch form: 1-hour windows sliding every 15
    * minutes — each event lands in 4 windows (Spark's `window()` generator;
    * the oracle replicates it by exploding 4 offsets per event). */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** §2.9 session windows, batch form: per-user sessions closed by a
    * 10-minute gap via Spark's native `session_window` — the same operator
    * graft.streaming.StreamOps.sessionCounts runs under a watermark, here
    * driver-visible and oracle-checked (the gap-island SQL twin). A new
    * session starts when the gap is ≥ the 10-minute gap duration
    * (session windows are half-open: end = last event + gap), matching
    * Aggregates.a01Sessionize's `>=` convention. */
  def sessionWindowBatch(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")

  /** §2.6 ranking-function breadth: dense_rank, ntile, percent_rank,
    * cume_dist, first/nth value over one window spec. All derived values
    * are exact rationals of row positions — engine-identical doubles. */
  def winRanking(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(dec(col("o_totalprice")).asc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("drk", dense_rank().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("prk", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("cheapest_key", first(col("o_orderkey")).over(w))
      .withColumn("second_key",
        nth_value(col("o_orderkey"), 2).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("o_orderkey"), col("o_orderstatus"), col("drk"), col("quartile"),
        col("prk"), col("cd"), col("cheapest_key"), col("second_key"))
      .orderBy("o_orderkey")
  }

  /** §2.6 RANGE frame: trailing-hour event count per user — a *value*-based
    * frame (all rows within 1h of the current row's timestamp), not a row
    * count. Ordered by epoch micros so Spark's long-offset `rangeBetween`
    * and SQL's `RANGE BETWEEN n PRECEDING` agree exactly; ties are frame
    * peers in both engines. */
  def winRange1h(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600000000L, 0)
    Tables.events(spark, dir)
      .withColumn("n_trailing_1h", count(lit(1)).over(w))
      .select(col("event_id"), col("user_id"), col("n_trailing_1h"))
      .orderBy("event_id")
  }

  /** §2.9 stream-stream interval join, batch form: each purchase joins the
    * same user's clicks from the trailing 10 minutes — the EXACT transform
    * graft.streaming.StreamOps.clickPurchaseJoin runs under watermarks
    * (StreamingSpec asserts replayed-stream ≡ this batch execution), here
    * driver-visible and oracle-checked. */
  def streamIntervalJoin(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.clickPurchaseJoin(Tables.events(spark, dir))
      .orderBy("p_id", "c_id")

  /** §2.9 stream-stream LEFT OUTER interval join, batch form: purchases
    * with no click in the window survive with null click columns — the
    * EXACT transform StreamOps.clickPurchaseLeftOuter runs under
    * watermarks, where the null rows instead emit on state expiry
    * (StreamingSpec pins stream ≡ batch AND the expiry timing). */
  def streamIntervalJoinOuter(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.clickPurchaseLeftOuter(Tables.events(spark, dir))
      .orderBy("p_id", "c_id")

  /** §2.9 stream-stream FULL OUTER interval join, batch form: unmatched
    * PURCHASES and unmatched CLICKS both survive null-padded — the EXACT
    * transform StreamOps.clickPurchaseFullOuter runs under watermarks,
    * where each side's null rows emit on its own state expiry
    * (StreamingSpec pins stream ≡ batch and both expiry timings). */
  def streamIntervalJoinFull(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.clickPurchaseFullOuter(Tables.events(spark, dir))
      .orderBy(col("p_id").asc_nulls_first, col("c_id").asc_nulls_first)

  /** §2.9 landing-pipeline batch twin: at-least-once redelivery (simulated
    * by a self-union) collapsed by key dedup, then the tumbling rollup —
    * the batch form of `StreamOps.dedupedTumblingCounts`. Spark only
    * allows `dropDuplicatesWithinWatermark` on streams (the watermark
    * bounds its STATE, not its semantics), so the batch equivalent is
    * plain `dropDuplicates(key)`; the oracle aggregates the exactly-once
    * `events` directly, proving the dedup stage fully cancels redelivery.
    * StreamingSpec's replay proof covers the stream side of the same
    * composition (shuffled + duplicated feed ⇒ identical sink). */
  def streamDedupAgg(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.unionAll(e)
      .dropDuplicates("event_id")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")
  }

  /** §2.9 count-capped sessions, batch twin of
    * `graft.streaming.StreamOps.cappedSessions`: sessions close on the A1
    * 10-minute gap OR at `cappedCap` events, whichever first. The cap rule
    * is sequential per key, but within a GAP-session it reduces to a pure
    * index split (the gap decisions compare consecutive events only, so
    * they are independent of where caps fall): sub-session =
    * row-index div cap. That equivalence is what makes the custom-state
    * streaming operator oracle-checkable; StreamingSpec pins stream ≡ this
    * batch form under shuffled + duplicated replay. */
  def streamCappedSessions(spark: SparkSession, dir: String): DataFrame = {
    val cap = graft.streaming.StreamOps.cappedCap
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(byUser))
    Tables.events(spark, dir)
      .withColumn("new_gap",
        when(gapUs.isNull || gapUs >= graft.streaming.StreamOps.cappedGapUs, 1)
          .otherwise(0))
      .withColumn("gsid",
        sum("new_gap").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("idx", row_number().over(
        Window.partitionBy("user_id", "gsid").orderBy("ts", "event_id")) - 1)
      .withColumn("ssid", expr(s"idx div $cap"))
      .groupBy("user_id", "gsid", "ssid")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("session_start"), max("ts").as("session_end"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .withColumn("close_reason",
        when(col("n_events") === cap, lit("cap")).otherwise(lit("gap")))
      .select("user_id", "session_start", "session_end", "n_events",
        "sum_value", "close_reason")
      .orderBy("user_id", "session_start")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_capped_sessions" -> (streamCappedSessions _),
    "win_range_1h" -> (winRange1h _),
    "win_ranking" -> (winRanking _),
    "stream_sliding" -> (slidingWindow _),
    "o1_topk_sort" -> (o1TopkSort _),
    "o5_global_sort" -> (o5GlobalSort _),
    "a23_rfm" -> (a23Rfm _),
    "a24_rolling_outliers" -> (a24RollingOutliers _),
    "a25_abc_pareto" -> (a25AbcPareto _),
    "a26_equidepth_hist" -> (a26EquidepthHist _),
    "o4_topk_per_group" -> (o4TopkPerGroup _),
    "set_ops" -> (setOps _),
    "k2_upsert_merge" -> (k2UpsertMerge _),
    "k4_cdc_snapshot" -> (k4CdcSnapshot _),
    "win_running" -> (winRunning _),
    "stream_tumbling" -> (tumblingWindow _),
    "stream_session" -> (sessionWindowBatch _),
    "stream_interval_join" -> (streamIntervalJoin _),
    "stream_interval_join_outer" -> (streamIntervalJoinOuter _),
    "stream_interval_join_full" -> (streamIntervalJoinFull _),
    "stream_dedup_agg" -> (streamDedupAgg _)
  )

  def oracle: Map[String, String] = Map(
    "k4_cdc_snapshot" ->
      """WITH r AS (
        |  SELECT user_id, event_type, value, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_ops
        |  FROM events)
        |SELECT user_id, event_type AS last_op, value AS last_value,
        |  epoch_us(ts) AS last_ts_us, CAST(n_ops AS BIGINT) AS n_ops
        |FROM r WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "stream_interval_join" ->
      """SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
        |ORDER BY p_id, c_id""".stripMargin,
    "stream_interval_join_outer" ->
      """SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT OUTER JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
        |ORDER BY p_id, c_id""".stripMargin,
    "stream_interval_join_full" ->
      """SELECT p.event_id AS p_id, c.event_id AS c_id,
        |  coalesce(p.user_id, c.user_id) AS user_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |FULL OUTER JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
        |ORDER BY p_id NULLS FIRST, c_id NULLS FIRST""".stripMargin,
    "win_range_1h" ->
      """SELECT event_id, user_id,
        |  COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |    AS n_trailing_1h
        |FROM events ORDER BY event_id""".stripMargin,
    "win_ranking" ->
      """SELECT o_orderkey, o_orderstatus,
        |  dense_rank() OVER w AS drk,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS prk,
        |  cume_dist() OVER w AS cd,
        |  first_value(o_orderkey) OVER w AS cheapest_key,
        |  nth_value(o_orderkey, 2) OVER
        |    (PARTITION BY o_orderstatus
        |     ORDER BY CAST(o_totalprice AS DECIMAL(18,4)), o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY CAST(o_totalprice AS DECIMAL(18,4)), o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "stream_sliding" ->
      """WITH hits AS (
        |  SELECT event_type, value,
        |    make_timestamp(
        |      (CAST(floor(epoch_us(ts) / 900000000) AS BIGINT) - k.k) * 900000000)
        |      AS window_start
        |  FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k)
        |SELECT window_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM hits GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "a25_abc_pareto" ->
      """WITH r AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |             CAST(1 - l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS rev
        |  FROM lineitem GROUP BY l_partkey),
        |c AS (
        |  SELECT l_partkey, rev,
        |    SUM(rev) OVER (ORDER BY rev DESC, l_partkey
        |                   ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(rev) OVER () AS total
        |  FROM r)
        |SELECT l_partkey, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(cum AS DOUBLE) AS cum_revenue,
        |  CASE WHEN 5.0 * CAST(cum AS DOUBLE) <= 4.0 * CAST(total AS DOUBLE)
        |       THEN 'A'
        |       WHEN 20.0 * CAST(cum AS DOUBLE) <= 19.0 * CAST(total AS DOUBLE)
        |       THEN 'B'
        |       ELSE 'C' END AS abc
        |FROM c ORDER BY l_partkey""".stripMargin,
    "a26_equidepth_hist" ->
      """WITH r AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,4)) AS price_d,
        |    CAST(ntile(10) OVER (ORDER BY CAST(o_totalprice AS DECIMAL(18,4)),
        |                         o_orderkey) AS BIGINT) AS bucket
        |  FROM orders)
        |SELECT bucket, COUNT(*) AS n,
        |  CAST(MIN(price_d) AS DOUBLE) AS lo,
        |  CAST(MAX(price_d) AS DOUBLE) AS hi,
        |  CAST(SUM(price_d) AS DOUBLE) AS bucket_sum
        |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin,
    // DECIMAL(19,4) product operands: DuckDB needs >18-digit inputs to take
    // its int128 multiply path (numerically identical — see a22's note).
    "a24_rolling_outliers" ->
      """WITH m AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    COUNT(*) OVER w AS n,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS s,
        |    SUM(CAST(o_totalprice AS DECIMAL(19,4)) *
        |        CAST(o_totalprice AS DECIMAL(19,4))) OVER w AS q
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
        |SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(n AS BIGINT) AS n_hist,
        |  (CAST(n AS DOUBLE) * CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE)
        |     - CAST(s AS DOUBLE))
        |  * (CAST(n AS DOUBLE) * CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE)
        |     - CAST(s AS DOUBLE))
        |  > 4.0 * (CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
        |           - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) AS is_outlier
        |FROM m WHERE n >= 3 ORDER BY o_orderkey""".stripMargin,
    "a23_rfm" ->
      """WITH base AS (
        |  SELECT o_custkey,
        |    max(o_orderdate) AS last_date,
        |    COUNT(*) AS frequency,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS mon_dec
        |  FROM orders GROUP BY o_custkey),
        |scored AS (
        |  SELECT o_custkey, last_date, frequency,
        |    CAST(mon_dec AS DOUBLE) AS monetary,
        |    CAST(ntile(5) OVER (ORDER BY last_date DESC, o_custkey) AS BIGINT) AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT) AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY mon_dec DESC, o_custkey) AS BIGINT) AS m_score
        |  FROM base)
        |SELECT o_custkey, last_date, frequency, monetary, r_score, f_score, m_score,
        |  r_score * 100 + f_score * 10 + m_score AS rfm_cell,
        |  CASE WHEN r_score = 1 AND f_score <= 2 AND m_score <= 2 THEN 'champion'
        |       WHEN r_score >= 4 AND f_score >= 4 THEN 'at_risk'
        |       ELSE 'mid' END AS segment
        |FROM scored ORDER BY o_custkey""".stripMargin,
    "o5_global_sort" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS price,
        |  row_number() OVER (ORDER BY CAST(o_totalprice AS DECIMAL(18,4)) DESC,
        |                     o_orderkey) AS global_rank
        |FROM orders ORDER BY global_rank""".stripMargin,
    "o1_topk_sort" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DOUBLE) AS price
        |FROM lineitem
        |ORDER BY CAST(l_extendedprice AS DECIMAL(18,4)) DESC, l_orderkey, l_linenumber
        |LIMIT 100""".stripMargin,
    "o4_topk_per_group" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(o_totalprice AS DECIMAL(18,4)) DESC, o_orderkey) AS rk
        |  FROM orders)
        |SELECT o_custkey, rk, o_orderkey, o_totalprice
        |FROM r WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    "set_ops" ->
      """WITH c AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
        |     s AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
        |SELECT nk, 'both' AS tag FROM (SELECT nk FROM c INTERSECT SELECT nk FROM s)
        |UNION ALL
        |SELECT nk, 'customer_only' AS tag FROM (SELECT nk FROM c EXCEPT SELECT nk FROM s)
        |UNION ALL
        |SELECT nk, 'supplier_only' AS tag FROM (SELECT nk FROM s EXCEPT SELECT nk FROM c)
        |ORDER BY tag, nk""".stripMargin,
    "k2_upsert_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |    CAST(o_totalprice AS DECIMAL(18,4)) AS price_d, 0 AS src
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |updates AS (
        |  SELECT o_orderkey, 'U' AS status,
        |    CAST(o_totalprice AS DECIMAL(18,4)) + 100 AS price_d, 1 AS src
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |merged AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM updates))
        |SELECT o_orderkey, status, CAST(price_d AS DOUBLE) AS price
        |FROM merged WHERE rn = 1 ORDER BY o_orderkey""".stripMargin,
    "win_running" ->
      """SELECT o_custkey,
        |  row_number() OVER w AS rn, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_total,
        |  CAST(lag(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS prev_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,
    "stream_tumbling" ->
      """SELECT make_timestamp(CAST(floor(epoch_us(ts) / 21600000000) AS BIGINT) * 21600000000)
        |    AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // the exactly-once ground truth: a doubled feed deduped by key IS the
    // original events table — the oracle never sees the redelivery at all
    "stream_dedup_agg" ->
      """SELECT make_timestamp(CAST(floor(epoch_us(ts) / 21600000000) AS BIGINT) * 21600000000)
        |    AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // gap-island assignment, then the cap as an index split within each
    // gap-session (the equivalence documented at streamCappedSessions)
    "stream_capped_sessions" ->
      s"""WITH g AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= ${graft.streaming.StreamOps.cappedGapUs}
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, event_id, value,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS gsid
        |  FROM g),
        |c AS (
        |  SELECT user_id, ts, value, gsid,
        |    (row_number() OVER (PARTITION BY user_id, gsid
        |                        ORDER BY ts, event_id) - 1)
        |      // ${graft.streaming.StreamOps.cappedCap} AS ssid
        |  FROM s)
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |  CASE WHEN COUNT(*) = ${graft.streaming.StreamOps.cappedCap}
        |       THEN 'cap' ELSE 'gap' END AS close_reason
        |FROM c GROUP BY user_id, gsid, ssid
        |ORDER BY user_id, session_start""".stripMargin,
    "stream_session" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 600000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 10 MINUTE AS session_end,
        |  user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin
  )
}
