package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Aggregates.dec

/** OLAP analytics surface beyond the reference's own operators: grouping
  * sets (ROLLUP with grouping flags), pivot, multiset EXCEPT/INTERSECT ALL,
  * and null-handling scalars — the rest of what "a user could switch" needs
  * from a general-purpose engine. */
object Analytics {

  /** ROLLUP over (year, status) with grouping indicators — subtotal rows
    * carry NULL keys; `grouping()` disambiguates them from natural NULLs. */
  def a06Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("order_year", year(col("o_orderdate")).cast("int"))
      .rollup(col("order_year"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"),
        grouping(col("order_year")).cast("int").as("g_year"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"))
      .orderBy(col("order_year").asc_nulls_first, col("o_orderstatus").asc_nulls_first)

  /** Pivot: order counts by year × status as columns. Cells are coalesced
    * to 0 (Spark pivots empty cells to NULL; conditional aggregation — the
    * portable form — yields 0). */
  def pivotStatus(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.orders(spark, dir)
      .withColumn("order_year", year(col("o_orderdate")).cast("int"))
      .groupBy("order_year")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
    p.select(col("order_year"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy("order_year")
  }

  /** EXCEPT ALL / INTERSECT ALL — multiset semantics (duplicates counted),
    * which DISTINCT-based set ops lose. */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val a = li.filter(col("l_orderkey") % 2 === 0).select(col("l_partkey").as("pk"))
    val b = li.filter(col("l_orderkey") % 3 === 0).select(col("l_partkey").as("pk"))
    a.exceptAll(b).withColumn("tag", lit("a_minus_b"))
      .unionByName(a.intersectAll(b).withColumn("tag", lit("a_and_b")))
      .orderBy("tag", "pk")
  }

  /** Null-handling scalars: nullif / coalesce / greatest-least null rules /
    * IS NULL — identical semantics across engines. */
  def scalarNulls(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        nullif(col("event_type"), lit("click")).as("non_click_type"),
        coalesce(nullif(col("event_type"), lit("click")), lit("was_click")).as("type_or_marker"),
        greatest(col("value"), get_json_object(col("props"), "$.k").cast("double")).as("vmax"),
        least(col("value"), get_json_object(col("props"), "$.k").cast("double")).as("vmin"),
        isnull(nullif(col("event_type"), lit("click"))).as("is_click"))
      .orderBy("event_id")

  /** The SQL frontend surface: the same engine drives `spark.sql` text with
    * scalar and IN subqueries (planned as broadcast scalar + left semi
    * join). Uses path-addressed `parquet.` relations — no temp views, so
    * the query stays pure (no session-catalog side effects). Division-free
    * above-average predicate keeps decimal exactness. */
  def sqlFrontend(spark: SparkSession, dir: String): DataFrame =
    spark.sql(
      s"""SELECT o_orderkey, o_custkey, o_totalprice
         |FROM parquet.`$dir/orders.parquet`
         |WHERE CAST(o_totalprice AS DECIMAL(18,4))
         |        * (SELECT COUNT(*) FROM parquet.`$dir/orders.parquet`)
         |      > (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,4)))
         |         FROM parquet.`$dir/orders.parquet`)
         |  AND o_custkey IN (SELECT c_custkey FROM parquet.`$dir/customer.parquet`
         |                    WHERE c_mktsegment = 'BUILDING')
         |ORDER BY o_orderkey""".stripMargin)

  /** SQL-frontend breadth #2: CTE + window ranking + correlated EXISTS in
    * one statement — the decorrelation/rewrite surface (Catalyst turns the
    * EXISTS into a left-semi join and plans the CTE window once) rather
    * than the expression surface sql_frontend covers. Path-addressed
    * relations keep it catalog-pure like [[sqlFrontend]]. */
  def sqlFrontend2(spark: SparkSession, dir: String): DataFrame =
    spark.sql(
      s"""WITH cust_orders AS (
         |  SELECT o_custkey, o_orderkey, o_totalprice,
         |    row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY CAST(o_totalprice AS DECIMAL(18,4)) DESC, o_orderkey) AS rk
         |  FROM parquet.`$dir/orders.parquet`)
         |SELECT c.c_custkey, co.o_orderkey, co.o_totalprice,
         |  CAST(co.rk AS BIGINT) AS rk
         |FROM parquet.`$dir/customer.parquet` c
         |JOIN cust_orders co ON co.o_custkey = c.c_custkey
         |WHERE co.rk <= 2
         |  AND EXISTS (SELECT 1 FROM parquet.`$dir/lineitem.parquet` l
         |              WHERE l.l_orderkey = co.o_orderkey AND l.l_returnflag = 'R')
         |ORDER BY c.c_custkey, co.o_orderkey""".stripMargin)

  /** Long-form measure reshaping via the NATIVE unpivot operator — the
    * DataFrame twin of SQL UNPIVOT (dq_profile's melt hand-rolls the same
    * shape with explode where per-column expressions differ; this is the
    * builtin for the homogeneous case) — plus a per-measure summary.
    * Decimal-exact sums per the house money rule. */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "measure", "val")
      .groupBy("measure")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("val"))).cast("double").as("total"),
        min("val").as("vmin"), max("val").as("vmax"))
      .orderBy("measure")

  /** SQL-frontend breadth #3: explicit GROUPING SETS — the general form
    * ROLLUP/CUBE are sugar for, reachable only through the SQL parser (the
    * DataFrame API exposes just the sugared pair) — with `grouping()`
    * disambiguation of subtotal NULLs. */
  def sqlFrontend3(spark: SparkSession, dir: String): DataFrame =
    spark.sql(
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
         |  CAST(grouping(o_orderpriority) AS INT) AS g_prio
         |FROM parquet.`$dir/orders.parquet`
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST,
         |  g_status, g_prio""".stripMargin)

  /** SQL-frontend breadth #4: correlated scalar subqueries in the SELECT
    * list — Catalyst must decorrelate each into an outer-joined aggregate
    * (a rewrite surface none of the other frontend queries reach). MAX takes
    * the raw double: max needs no decimal-sum trick (no summation, double
    * comparison is exact) and the double→decimal cast itself diverges
    * between engines at ulp level. */
  def sqlFrontend4(spark: SparkSession, dir: String): DataFrame =
    spark.sql(
      s"""SELECT c_custkey, c_mktsegment,
         |  (SELECT COUNT(*) FROM parquet.`$dir/orders.parquet` o
         |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
         |  (SELECT MAX(o_totalprice) FROM parquet.`$dir/orders.parquet` o
         |   WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
         |    AS max_f_price
         |FROM parquet.`$dir/customer.parquet` c
         |ORDER BY c_custkey""".stripMargin)

  /** SQL-frontend breadth #5: the PIVOT clause — reachable only through the
    * SQL parser (the DataFrame API's `.pivot` covers pivot_status; this is
    * the parser/analyzer rewrite path, with MULTIPLE aggregates per pivot
    * value, which the DataFrame API can't express in one call). Sums ride
    * the house decimal carrier and cast to DOUBLE at the boundary. */
  def sqlFrontend5(spark: SparkSession, dir: String): DataFrame =
    spark.sql(
      s"""SELECT o_orderpriority,
         |  f_n, CAST(f_s AS DOUBLE) AS f_total,
         |  o_n, CAST(o_s AS DOUBLE) AS o_total,
         |  p_n, CAST(p_s AS DOUBLE) AS p_total
         |FROM (SELECT o_orderpriority, o_orderstatus,
         |        CAST(o_totalprice AS DECIMAL(18,4)) AS pr
         |      FROM parquet.`$dir/orders.parquet`)
         |PIVOT (COUNT(*) AS n, SUM(pr) AS s
         |       FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p))
         |ORDER BY o_orderpriority""".stripMargin)

  /** SQL-frontend breadth #6: correlated LATERAL join — the table-valued
    * correlated-subquery surface (Catalyst's DecorrelateInnerQuery path for
    * a multi-column aggregate in one shot, vs sql_frontend4's one-scalar-at-
    * a-time decorrelation). The empty-group behavior is the point of the
    * shape: a customer with no orders still yields one row (COUNT 0, nulls)
    * because an ungrouped aggregate always returns exactly one row. */
  def sqlFrontend6(spark: SparkSession, dir: String): DataFrame =
    spark.sql(
      s"""SELECT c.c_custkey, c.c_mktsegment, t.n_orders, t.max_price, t.total
         |FROM parquet.`$dir/customer.parquet` c
         |JOIN LATERAL (
         |  SELECT COUNT(*) AS n_orders,
         |    MAX(o_totalprice) AS max_price,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         |  FROM parquet.`$dir/orders.parquet` o
         |  WHERE o.o_custkey = c.c_custkey) t
         |ORDER BY c.c_custkey""".stripMargin)

  /** SQL-frontend breadth #7: `WITH RECURSIVE` — Spark 4's recursive CTE
    * (UnionLoop execution), the last parser-only surface the frontend tier
    * hadn't reached. The shape is the production calendar-spine fill: walk
    * months from the data's min to max order month (the stop bound rides
    * along in the recursion row — no subquery in the recursive member, which
    * neither engine guarantees), then left-join monthly order aggregates so
    * gap months surface as explicit zero rows. The spine is O(#months) rows
    * regardless of data size, so recursion depth — not data volume — bounds
    * the loop; the join side is an ordinary shuffled aggregate. Sums ride
    * the house decimal carrier; casts to DOUBLE at the boundary. The
    * recursion cap is raised in [[graft.GraftSession]]. */
  def sqlFrontend7(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(
      s"""WITH RECURSIVE bounds AS (
         |  SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
         |         date_trunc('month', MAX(o_orderdate)) AS hi
         |  FROM parquet.`$dir/orders.parquet`),
         |months(m, hi) AS (
         |  SELECT lo, hi FROM bounds
         |  UNION ALL
         |  SELECT m + INTERVAL '1' MONTH, hi FROM months WHERE m < hi),
         |o AS (SELECT date_trunc('month', o_orderdate) AS om,
         |             CAST(o_totalprice AS DECIMAL(18,4)) AS pr
         |      FROM parquet.`$dir/orders.parquet`)
         |SELECT CAST(m.m AS DATE) AS month, COUNT(o.om) AS n_orders,
         |       CAST(COALESCE(SUM(o.pr), 0) AS DOUBLE) AS total
         |FROM months m LEFT JOIN o ON o.om = m.m
         |GROUP BY m.m ORDER BY month""".stripMargin)
  }

  /** Exact per-group median via the rank formulation (portable across
    * engines, unlike interpolating percentile implementations): average the
    * middle one or two values — a fixed two-operand double expression. */
  def exactMedian(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderstatus").orderBy(dec(col("o_totalprice")), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("o_orderstatus")))
      .filter(expr("rn = (n + 1) div 2 OR rn = (n + 2) div 2"))
      .groupBy("o_orderstatus")
      .agg((min(col("o_totalprice")) / 2 + max(col("o_totalprice")) / 2).as("median_price"),
        first(col("n")).as("n"))
      .orderBy("o_orderstatus")
  }

  /** Exact per-group quantiles (p25/p50/p75) via the two-order-statistic
    * rank formulation [[exactMedian]] uses for the median: the quantile
    * indices `lo = ⌊(n-1)·p⌋+1`, `hi = ⌈(n-1)·p⌉+1` are pure integer
    * arithmetic, and the only float op is the same `x/2 + y/2` averaging —
    * engine-exact, unlike interpolating `percentile_cont` implementations
    * which disagree across engines at ulp level. One ranked window feeds
    * all three quantiles in a single grouped aggregation (no per-quantile
    * filter passes). Same inherent-sort tradeoff as exact_median; the
    * sketch path is kmv/approx_percentile. */
  def exactQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(dec(col("o_totalprice")), col("o_orderkey"))
    def q(num: Int): Column = {
      val lo = expr(s"((n - 1) * $num) div 4 + 1")
      val hi = expr(s"((n - 1) * $num + 3) div 4 + 1")
      val hit = when(col("rn") === lo || col("rn") === hi, col("o_totalprice"))
      min(hit) / 2 + max(hit) / 2
    }
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("o_orderstatus")))
      .groupBy("o_orderstatus")
      .agg(q(1).as("p25"), q(2).as("p50"), q(3).as("p75"), max(col("n")).as("n"))
      .orderBy("o_orderstatus")
  }

  /** PERCENTILE_CONT — interpolated exact quantiles — done ENGINE-
    * DETERMINISTICALLY: [[exactQuantiles]]'s scaladoc notes that builtin
    * `percentile_cont` implementations disagree across engines at ulp
    * level, so neither engine's builtin appears here. Both sides instead
    * compute the same manual chain off the ranked window: `pos = (n−1)·p`,
    * `frac = pos − ⌊pos⌋`, `v_lo + frac·(v_hi − v_lo)` — integer-exact
    * inputs ((n−1) < 2⁵³, the order statistics are raw data elements) and
    * a fixed IEEE op sequence, so the interpolated values match bit-for-
    * bit. p ∈ {.25,.5,.75} have dyadic fracs (exactly representable);
    * p = .9 shows the chain is deterministic even when frac is not exact.
    * Same single-ranked-window shape as exactQuantiles. */
  def exactQuantilesCont(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(dec(col("o_totalprice")), col("o_orderkey"))
    def pos(p: Double): Column = (col("n") - 1).cast("double") * lit(p)
    def hit(idx: Column): Column =
      min(when(col("rn") === idx, col("o_totalprice")))
    def interp(tag: String): Column = {
      val (vlo, vhi, fr) = (col(s"lo_$tag"), col(s"hi_$tag"), col(s"fr_$tag"))
      (vlo + fr * (vhi - vlo)).as(s"p$tag")
    }
    val ranked = Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("o_orderstatus")))
    val aggs = Seq("25" -> 0.25, "50" -> 0.50, "75" -> 0.75, "90" -> 0.90)
      .flatMap { case (tag, p) =>
        Seq(hit(floor(pos(p)) + 1).as(s"lo_$tag"),
          hit(ceil(pos(p)) + 1).as(s"hi_$tag"),
          max(pos(p) - floor(pos(p)).cast("double")).as(s"fr_$tag"))
      } :+ max(col("n")).as("n")
    ranked.groupBy("o_orderstatus")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("o_orderstatus") +: col("n") +:
        Seq("25", "50", "75", "90").map(interp): _*)
      .orderBy("o_orderstatus")
  }

  /** Exact median absolute deviation per group — the robust spread measure
    * next to [[winsorized]]'s robust location. Both statistics are LOWER
    * medians (single order statistics, rank `(n+1) div 2`), so every
    * intermediate stays a DECIMAL-exact data element — no interpolation, no
    * float accumulation; the only doubles are the final display casts.
    * Two rank passes (values, then |v − med| deviations) sharing the group
    * key partitioning; the |groups|-row median frame broadcasts back. */
  def a18Mad(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byV = Window.partitionBy("o_orderstatus").orderBy(col("v"), col("o_orderkey"))
    val part = Window.partitionBy("o_orderstatus")
    val r = Tables.orders(spark, dir)
      .select(col("o_orderstatus"), dec(col("o_totalprice")).as("v"), col("o_orderkey"))
      .withColumn("rn", row_number().over(byV))
      .withColumn("n", count(lit(1)).over(part))
    val med = r.filter(expr("rn = (n + 1) div 2"))
      .select(col("o_orderstatus"), col("v").as("med"))
    val dev = r.join(broadcast(med), "o_orderstatus")
      .withColumn("d", abs(col("v") - col("med")))
    val byD = Window.partitionBy("o_orderstatus").orderBy(col("d"), col("o_orderkey"))
    dev.withColumn("dn", row_number().over(byD))
      .filter(expr("dn = (n + 1) div 2"))
      .select(col("o_orderstatus"),
        col("med").cast("double").as("median"),
        col("d").cast("double").as("mad"),
        col("n"))
      .orderBy("o_orderstatus")
  }

  /** Winsorized mean — the robust-statistics cleaning op feature pipelines
    * run on heavy-tailed metrics: clip each group's values to its own
    * [p10, p90] nearest-rank order statistics, then aggregate the clipped
    * values. Thresholds are single order statistics (no averaging), so
    * clipping stays DECIMAL-exact; the only doubles are the final casts.
    * The threshold frame is |groups| rows — broadcast-joined back, no
    * second fact shuffle beyond the rank window's. */
  def winsorized(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderstatus").orderBy(col("v"), col("o_orderkey"))
    val r = Tables.orders(spark, dir)
      .select(col("o_orderstatus"), dec(col("o_totalprice")).as("v"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("o_orderstatus")))
    val th = r.groupBy("o_orderstatus").agg(
      min(when(col("rn") === expr("(n - 1) div 10 + 1"), col("v"))).as("lo"),
      min(when(col("rn") === expr("((n - 1) * 9) div 10 + 1"), col("v"))).as("hi"))
    r.join(broadcast(th), "o_orderstatus")
      .groupBy(col("o_orderstatus"), col("lo"), col("hi"))
      .agg(
        // explicit CASE, not greatest/least: DuckDB's GREATEST/LEAST promote
        // DECIMAL args to DOUBLE (float-accumulated sum, ulp drift); CASE
        // keeps the branch type, so both engines sum exact decimals
        sum(when(col("v") < col("lo"), col("lo"))
          .when(col("v") > col("hi"), col("hi"))
          .otherwise(col("v"))).cast("double").as("w_sum"),
        count(lit(1)).as("n"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_hi"))
      .select(col("o_orderstatus"),
        col("lo").cast("double").as("lo_val"), col("hi").cast("double").as("hi_val"),
        col("w_sum"), col("n"), col("n_lo"), col("n_hi"))
      .orderBy("o_orderstatus")
  }

  /** String-function suite: case, pad, repeat/reverse, translate,
    * split_part, position, left/right, ascii/chr. */
  def scalarStrings(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        upper(col("p_name")).as("u"),
        lpad(col("p_brand"), 10, ".").as("padded"),
        reverse(col("p_type")).as("rev"),
        translate(col("p_name"), "aeiou", "AEIOU").as("vowels_up"),
        split_part(col("p_brand"), lit("#"), lit(2)).as("brand_num"),
        instr(col("p_name"), " ").as("space_at"),
        substring(col("p_name"), 2, 3).as("mid"),
        ascii(col("p_type")).as("first_code"),
        concat(col("p_brand"), lit("/"), repeat(lit("x"), 2)).as("tagged"))
      .orderBy("p_partkey")

  /** Boolean aggregates: bool_and / bool_or / count_if per group. */
  def boolAggs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        bool_and(col("l_discount") > 0).as("all_discounted"),
        bool_or(col("l_quantity") >= 50).as("any_bulk"),
        count_if(col("l_tax") > 0.05).as("n_high_tax"))
      .orderBy("l_returnflag")

  /** CUBE over (year, status): all grouping-set combinations. */
  def a06Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("order_year", year(col("o_orderdate")).cast("int"))
      .cube(col("order_year"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        grouping(col("order_year")).cast("int").as("g_year"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"))
      .orderBy(col("order_year").asc_nulls_first, col("o_orderstatus").asc_nulls_first,
        col("g_year"), col("g_status"))

  /** KMV approximate-distinct as a driver query — and, unusually for a
    * sketch, oracle-EXACT: the hash is md5-derived (engine-portable) and the
    * estimator `(k-1)/(kth_min/2^60)` is two IEEE double divisions, so
    * DuckDB can replay the sketch bit-for-bit with a windowed rank. The
    * 'F'/'O' groups exceed k=256 distinct customers (estimator branch); 'P'
    * stays under it (exact branch) — both paths gated. Exercises the raw
    * TypedImperativeAggregate surface (graft.functions.KmvCatalyst) from
    * the driver, not just from specs. */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(graft.functions.KmvCatalyst.approx_distinct_kmv(col("o_custkey"))
        .as("approx_nd"))
      .orderBy("o_orderstatus")

  /** Statistical-moment aggregates — stddev, covariance, correlation and
    * one-feature OLS — computed the DISTRIBUTED-EXACT way: the five power
    * sums (Σx, Σy, Σx², Σy², Σxy) ride exact decimal carriers (associative,
    * partial-aggregation-proof), and every output is one fixed IEEE chain
    * off those integers-in-decimal — NOT the engines' builtin
    * `stddev`/`corr`, whose streaming accumulation is shuffle-order-
    * dependent in the low bits. Decimal(18,4)² products widen to (37,8):
    * still exact, and Spark/DuckDB agree because no rounding ever occurs.
    * (The oracle casts product inputs to DECIMAL(19,4) — numerically
    * identical, but DuckDB needs >18-digit operands to take its int128
    * multiply path; Spark at (19,4) would instead cap the product at
    * precision 38 and round. Exactness on both sides is what matters.)
    * At 100 TB this is one map-side-combined shuffle of 5 numbers per
    * group — the textbook "moments, not passes" formulation. */
  def a22Moments(spark: SparkSession, dir: String): DataFrame = {
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    val sums = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sx2"), sum(y * y).as("sy2"),
        sum(x * y).as("sxy"))
    val n = col("n").cast("double")
    val (sx, sy, sx2, sy2, sxy) =
      (col("sx").cast("double"), col("sy").cast("double"),
        col("sx2").cast("double"), col("sy2").cast("double"),
        col("sxy").cast("double"))
    val cxy = n * sxy - sx * sy
    val vx = n * sx2 - sx * sx
    val vy = n * sy2 - sy * sy
    sums.select(col("l_returnflag"), col("n"),
        (sx / n).as("mean_x"),
        sqrt(vx / (n * (n - 1.0))).as("stddev_x"),
        sqrt(vy / (n * (n - 1.0))).as("stddev_y"),
        (cxy / (n * (n - 1.0))).as("covar_xy"),
        (cxy / (sqrt(vx) * sqrt(vy))).as("corr_xy"),
        (cxy / vx).as("ols_slope"),
        ((sy - cxy / vx * sx) / n).as("ols_intercept"))
      .orderBy("l_returnflag")
  }

  /** HLL approximate-distinct as a driver query — the flat-register sibling
    * of `kmv_distinct` (graft.functions.HllCatalyst has the full portable-
    * register story). Groups lineitem by linestatus counting distinct
    * orderkeys: thousands of distinct values per group at every tested SF,
    * so the estimator stays on the raw harmonic-mean branch whose only
    * float math is one IEEE multiply-divide chain off an exact integer —
    * which is why a 256-register HLL can be hash-gated at all. */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_linestatus"))
      .agg(graft.functions.HllCatalyst.approx_distinct_hll(col("l_orderkey"))
        .as("approx_nd"))
      .orderBy("l_linestatus")

  /** Exact distinct customers per order status via the dense-domain bitmap
    * aggregate ([[graft.functions.BitmapDistinct]]) — the EXACT member of
    * the sketch family: same mergeable map-side-combine dataflow as
    * HLL/KMV, but popcount of a domain-wide bitmap, so the oracle is plain
    * `COUNT(DISTINCT)`. Custkeys are the dense 1..|customer| surrogate
    * range, the bitmap's home turf; the domain is sized from the (memoized)
    * customer count. */
  def bitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    val domain = graft.Tables.cachedCount(spark, dir, "customer").toInt + 1
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(graft.functions.BitmapCatalyst.bitmap_distinct(col("o_custkey"), domain)
        .as("nd_custkey"))
      .orderBy("o_orderstatus")
  }

  /** KMV sketch SET ALGEBRA — the reason k-minimum-values earns its place
    * next to HLL: from two per-segment sketches alone (k hashes each, no
    * re-scan) it estimates union, Jaccard, and intersection cardinality
    * (Beyer et al., SIGMOD'07: ρ = shared fraction of the union's k-mins;
    * |A∩B|̂ = ρ·|A∪B|̂). At 100 TB that is audience-overlap across any
    * segment pair from constant-size mergeable state. Engine-exact like
    * kmv_distinct: md5-hash k-mins are integers, the estimates one fixed
    * IEEE chain, and the oracle replays the sketch with windowed ranks. */
  def kmvSetOps(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.KmvCatalyst.kmv_minhashes
    val k = 256
    val sk = Tables.orders(spark, dir)
      .agg(
        kmv_minhashes(when(col("o_orderstatus") === "F", col("o_custkey"))).as("a"),
        kmv_minhashes(when(col("o_orderstatus") === "O", col("o_custkey"))).as("b"))
      .withColumn("m", expr(s"slice(array_sort(array_union(a, b)), 1, $k)"))
    def est(c: Column): Column =
      when(size(c) < k, size(c).cast("double"))
        .otherwise(lit(255.0) /
          (element_at(c, k).cast("double") / lit(1152921504606846976.0)))
    val rho = size(array_intersect(array_intersect(col("m"), col("a")), col("b")))
      .cast("double") / size(col("m")).cast("double")
    sk.select(
      est(col("a")).as("est_f"),
      est(col("b")).as("est_o"),
      est(col("m")).as("est_union"),
      rho.as("jaccard"),
      (rho * est(col("m"))).as("est_intersect"))
  }

  /** Approximate per-group quantiles by deterministic hash-threshold
    * sampling — the sketch-tier sibling of `exact_quantiles`: keep only rows
    * whose md5 row key falls under `frac` of the hash space (a map-side
    * filter that pushes to the scan — the corpus is never shuffled), then
    * take EXACT nearest-rank quantiles of the small sample per group. Like
    * every md5-keyed op here the sample is reproducible across runs,
    * engines, and cluster sizes, so even the "approximate" answer is
    * oracle-exact (the reported values are sample elements — no arithmetic
    * to drift). Production tunes `frac` so groups land ~10⁴ sample rows
    * (rank error ~1/√m); error floor asserted in QuantileSampleSpec. */
  def approxQuantileSample(spark: SparkSession, dir: String): DataFrame = {
    val frac = 1.0 / 32
    val thresh = (frac * (1L << 60).toDouble).toLong
    val rowKey = graft.dedup.Dedup.md5Hash60(
      concat(col("l_orderkey").cast("string"), lit("|"),
        col("l_linenumber").cast("string")))
    val sample = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice").as("v"), rowKey.as("h"))
      .filter(col("h") < thresh)
    val part = org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")
    val byV = part.orderBy(col("v"), col("h"))
    sample
      .withColumn("m", count(lit(1)).over(part))
      .withColumn("rv", row_number().over(byV))
      .groupBy("l_returnflag")
      .agg(
        min(when(col("rv") === ceil(col("m") * 0.5), col("v"))).as("p50"),
        min(when(col("rv") === ceil(col("m") * 0.9), col("v"))).as("p90"),
        max(col("m")).as("sample_n"))
      .orderBy("l_returnflag")
  }

  /** a27: LAST-TOUCH revenue attribution — each purchase credits its most
    * recent same-user click within the trailing 10 minutes (the
    * stream_interval_join window), full value, no-click purchases fall in
    * the 'direct' bucket (hour −1); credited revenue rolls up by the
    * CLICK's hour of day. Last-touch (not equal-split) is deliberate: it
    * is division-free, so the credited sums stay on the exact decimal
    * carrier end-to-end — the attribution shape that survives the
    * oracle-parity conventions. One shuffle for the interval join (user
    * key) + one keyed election window (purchase key) + a 25-group rollup.
    * Tie-break (latest ts, then highest click id) is total on both
    * engines. */
  def a27Attribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"), dec(col("value")).as("v"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val joined = p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") <= col("p_ts"),
      "left")
    val w = Window.partitionBy("p_id")
      .orderBy(col("c_ts").desc_nulls_last, col("c_id").desc_nulls_last)
    joined
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .withColumn("touch_hour",
        when(col("c_id").isNull, lit(-1))
          .otherwise(hour(col("c_ts"))).cast("int"))
      .groupBy("touch_hour")
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("v")).cast("double").as("credited_revenue"))
      .orderBy("touch_hour")
  }

  /** a30: U-SHAPED (position-based) multi-touch attribution — the standard
    * sibling of [[a27Attribution]]'s last-touch: the FIRST and LAST click
    * in a purchase's trailing 10-minute window each earn 40% of the value,
    * the middle clicks split the remaining 20%; one click takes 100%, two
    * clicks split 50/50, no-click purchases stay in the 'direct' bucket.
    *
    * Engine-exact division: per-touch credit is a SCALED-INTEGER weight in
    * parts-per-million (the [[Graph]] determinism trick) — middles get
    * ⌊200000/(n−2)⌋ ppm and the remainder goes one ppm each to the
    * earliest middles, so weights are integers, Σ ppm = 1000000 exactly
    * per purchase (credit conservation holds bit-for-bit), and credited
    * revenue is Σ value·ppm on the exact decimal carrier — division by
    * 10⁶ happens ONCE, in double, at the output boundary. No
    * order-dependent float sum ever crosses a shuffle. Same dataflow cost
    * as a27: one user-key interval join + two purchase-key windows + the
    * hour rollup. */
  def a30AttributionUshape(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"), dec(col("value")).as("v"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val joined = p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") <= col("p_ts"),
      "left")
    val byTouch = Window.partitionBy("p_id")
      .orderBy(col("c_ts").asc_nulls_last, col("c_id").asc_nulls_last)
    val perPurchase = Window.partitionBy("p_id")
    joined
      .withColumn("rk", row_number().over(byTouch))
      .withColumn("n", count(col("c_id")).over(perPurchase))
      .withColumn("ppm",
        when(col("c_id").isNull, lit(1000000L))         // direct: full credit
          .when(col("n") === 1, lit(1000000L))
          .when(col("n") === 2, lit(500000L))
          .when(col("rk") === 1 || col("rk") === col("n"), lit(400000L))
          .otherwise(expr("200000 div (n - 2)") +
            when(col("rk") - 2 < expr("200000 % (n - 2)"), lit(1L))
              .otherwise(lit(0L))))
      .withColumn("touch_hour",
        when(col("c_id").isNull, lit(-1))
          .otherwise(hour(col("c_ts"))).cast("int"))
      .groupBy("touch_hour")
      .agg(count(lit(1)).as("n_touches"),
        (sum(col("v") * col("ppm")).cast("decimal(38,4)").cast("double")
          / lit(1000000.0)).as("credited_revenue"))
      .orderBy("touch_hour")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a30_attribution_ushape" -> (a30AttributionUshape _),
    "a27_attribution" -> (a27Attribution _),
    "kmv_distinct" -> (kmvDistinct _),
    "hll_distinct" -> (hllDistinct _),
    "bitmap_distinct" -> (bitmapDistinct _),
    "a22_moments" -> (a22Moments _),
    "exact_quantiles_cont" -> (exactQuantilesCont _),
    "kmv_setops" -> (kmvSetOps _),
    "approx_quantile_sample" -> (approxQuantileSample _),
    "a06b_cube" -> (a06Cube _),
    "exact_median" -> (exactMedian _),
    "exact_quantiles" -> (exactQuantiles _),
    "a13_winsorized" -> (winsorized _),
    "scalar_strings" -> (scalarStrings _),
    "bool_aggs" -> (boolAggs _),
    "sql_frontend" -> (sqlFrontend _),
    "sql_frontend2" -> (sqlFrontend2 _),
    "sql_frontend3" -> (sqlFrontend3 _),
    "unpivot_measures" -> (unpivotMeasures _),
    "a18_mad" -> (a18Mad _),
    "sql_frontend4" -> (sqlFrontend4 _),
    "sql_frontend5" -> (sqlFrontend5 _),
    "sql_frontend6" -> (sqlFrontend6 _),
    "sql_frontend7" -> (sqlFrontend7 _),
    "a06_rollup" -> (a06Rollup _),
    "pivot_status" -> (pivotStatus _),
    "set_ops_all" -> (setOpsAll _),
    "scalar_nulls" -> (scalarNulls _)
  )

  def oracle: Map[String, String] = Map(
    "a30_attribution_ushape" ->
      """WITH p AS (
        |  SELECT event_id AS p_id, user_id, ts AS p_ts,
        |    CAST(value AS DECIMAL(18,4)) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.p_id, p.v, c.c_id, c.c_ts,
        |    row_number() OVER (PARTITION BY p.p_id
        |      ORDER BY c.c_ts ASC NULLS LAST, c.c_id ASC NULLS LAST) AS rk,
        |    COUNT(c.c_id) OVER (PARTITION BY p.p_id) AS n
        |  FROM p LEFT JOIN c
        |    ON p.user_id = c.c_user
        |   AND c.c_ts >= p.p_ts - INTERVAL 10 MINUTE AND c.c_ts <= p.p_ts),
        |w AS (
        |  SELECT v, c_ts,
        |    CASE WHEN c_id IS NULL THEN 1000000
        |         WHEN n = 1 THEN 1000000
        |         WHEN n = 2 THEN 500000
        |         WHEN rk = 1 OR rk = n THEN 400000
        |         ELSE 200000 // (n - 2)
        |              + CASE WHEN rk - 2 < 200000 % (n - 2) THEN 1 ELSE 0 END
        |    END AS ppm,
        |    CASE WHEN c_id IS NULL THEN -1
        |         ELSE EXTRACT(hour FROM c_ts) END AS touch_hour
        |  FROM j)
        |SELECT CAST(touch_hour AS INT) AS touch_hour,
        |  COUNT(*) AS n_touches,
        |  CAST(CAST(SUM(v * ppm) AS DECIMAL(38,4)) AS DOUBLE) / 1000000.0
        |    AS credited_revenue
        |FROM w GROUP BY 1 ORDER BY touch_hour""".stripMargin,
    "a27_attribution" ->
      """WITH p AS (
        |  SELECT event_id AS p_id, user_id, ts AS p_ts,
        |    CAST(value AS DECIMAL(18,4)) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.p_id, p.v, c.c_id, c.c_ts,
        |    row_number() OVER (PARTITION BY p.p_id
        |      ORDER BY c.c_ts DESC NULLS LAST, c.c_id DESC NULLS LAST) AS rk
        |  FROM p LEFT JOIN c
        |    ON p.user_id = c.c_user
        |   AND c.c_ts >= p.p_ts - INTERVAL 10 MINUTE AND c.c_ts <= p.p_ts)
        |SELECT CAST(CASE WHEN c_id IS NULL THEN -1
        |            ELSE EXTRACT(hour FROM c_ts) END AS INT) AS touch_hour,
        |  COUNT(*) AS n_purchases,
        |  CAST(SUM(v) AS DOUBLE) AS credited_revenue
        |FROM j WHERE rk = 1
        |GROUP BY 1 ORDER BY touch_hour""".stripMargin,
    "approx_quantile_sample" ->
      """WITH sample AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |    CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' ||
        |      CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM lineitem),
        |f AS (SELECT * FROM sample WHERE h < 36028797018963968),
        |r AS (
        |  SELECT l_returnflag, v,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS m,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY v, h) AS rv
        |  FROM f)
        |SELECT l_returnflag,
        |  MIN(CASE WHEN rv = ceil(m * 0.5) THEN v END) AS p50,
        |  MIN(CASE WHEN rv = ceil(m * 0.9) THEN v END) AS p90,
        |  CAST(MAX(m) AS BIGINT) AS sample_n
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "kmv_setops" ->
      """WITH ha AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM orders WHERE o_orderstatus = 'F'),
        |hb AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM orders WHERE o_orderstatus = 'O'),
        |ra AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ha),
        |rb AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hb),
        |a AS (SELECT h FROM ra WHERE rn <= 256),
        |b AS (SELECT h FROM rb WHERE rn <= 256),
        |u AS (SELECT h FROM a UNION SELECT h FROM b),
        |ru AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM u),
        |m AS (SELECT h FROM ru WHERE rn <= 256),
        |c AS (SELECT
        |  (SELECT COUNT(*) FROM ha) AS na,
        |  (SELECT COUNT(*) FROM hb) AS nb,
        |  (SELECT COUNT(*) FROM m) AS nm,
        |  (SELECT MAX(h) FROM a) AS ka,
        |  (SELECT MAX(h) FROM b) AS kb,
        |  (SELECT MAX(h) FROM m) AS km,
        |  (SELECT COUNT(*) FROM m JOIN a USING (h) JOIN b USING (h)) AS shared)
        |SELECT
        |  CASE WHEN na < 256 THEN CAST(na AS DOUBLE)
        |       ELSE 255.0 / (CAST(ka AS DOUBLE) / 1152921504606846976.0) END AS est_f,
        |  CASE WHEN nb < 256 THEN CAST(nb AS DOUBLE)
        |       ELSE 255.0 / (CAST(kb AS DOUBLE) / 1152921504606846976.0) END AS est_o,
        |  CASE WHEN nm < 256 THEN CAST(nm AS DOUBLE)
        |       ELSE 255.0 / (CAST(km AS DOUBLE) / 1152921504606846976.0) END AS est_union,
        |  CAST(shared AS DOUBLE) / CAST(nm AS DOUBLE) AS jaccard,
        |  (CAST(shared AS DOUBLE) / CAST(nm AS DOUBLE)) *
        |    (CASE WHEN nm < 256 THEN CAST(nm AS DOUBLE)
        |          ELSE 255.0 / (CAST(km AS DOUBLE) / 1152921504606846976.0) END)
        |    AS est_intersect
        |FROM c""".stripMargin,
    "exact_quantiles_cont" -> {
      val per = Seq("25" -> "0.25", "50" -> "0.50", "75" -> "0.75", "90" -> "0.90")
      val hits = per.map { case (tag, p) =>
        s"""    MIN(CASE WHEN rn = FLOOR(CAST(n - 1 AS DOUBLE) * $p) + 1
           |      THEN v END) AS lo_$tag,
           |    MIN(CASE WHEN rn = CEIL(CAST(n - 1 AS DOUBLE) * $p) + 1
           |      THEN v END) AS hi_$tag,
           |    MAX(CAST(n - 1 AS DOUBLE) * $p
           |      - FLOOR(CAST(n - 1 AS DOUBLE) * $p)) AS fr_$tag""".stripMargin
      }.mkString(",\n")
      val outs = per.map { case (tag, _) =>
        s"  lo_$tag + fr_$tag * (hi_$tag - lo_$tag) AS p$tag"
      }.mkString(",\n")
      s"""WITH r AS (
         |  SELECT o_orderstatus, o_totalprice AS v,
         |    row_number() OVER (PARTITION BY o_orderstatus
         |      ORDER BY CAST(o_totalprice AS DECIMAL(18,4)), o_orderkey) AS rn,
         |    COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
         |  FROM orders),
         |a AS (
         |  SELECT o_orderstatus, MAX(n) AS n,
         |$hits
         |  FROM r GROUP BY o_orderstatus)
         |SELECT o_orderstatus, n,
         |$outs
         |FROM a ORDER BY o_orderstatus""".stripMargin
    },
    "a22_moments" ->
      """WITH sums AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sx,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS sy,
        |    SUM(CAST(l_quantity AS DECIMAL(19,4))
        |        * CAST(l_quantity AS DECIMAL(19,4))) AS sx2,
        |    SUM(CAST(l_extendedprice AS DECIMAL(19,4))
        |        * CAST(l_extendedprice AS DECIMAL(19,4))) AS sy2,
        |    SUM(CAST(l_quantity AS DECIMAL(19,4))
        |        * CAST(l_extendedprice AS DECIMAL(19,4))) AS sxy
        |  FROM lineitem GROUP BY l_returnflag),
        |d AS (
        |  -- decimal -> double via VARCHAR: DuckDB's direct decimal cast
        |  -- double-rounds (int128 -> double, then the scale divide) once the
        |  -- scaled integer exceeds 2^53; strtod of the exact decimal string
        |  -- is correctly rounded, matching Spark's BigDecimal.doubleValue.
        |  SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(sx2 AS VARCHAR) AS DOUBLE) AS sx2,
        |    CAST(CAST(sy2 AS VARCHAR) AS DOUBLE) AS sy2,
        |    CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxy
        |  FROM sums)
        |SELECT l_returnflag, n,
        |  sx / nd AS mean_x,
        |  sqrt((nd * sx2 - sx * sx) / (nd * (nd - 1.0))) AS stddev_x,
        |  sqrt((nd * sy2 - sy * sy) / (nd * (nd - 1.0))) AS stddev_y,
        |  (nd * sxy - sx * sy) / (nd * (nd - 1.0)) AS covar_xy,
        |  (nd * sxy - sx * sy)
        |    / (sqrt(nd * sx2 - sx * sx) * sqrt(nd * sy2 - sy * sy)) AS corr_xy,
        |  (nd * sxy - sx * sy) / (nd * sx2 - sx * sx) AS ols_slope,
        |  (sy - (nd * sxy - sx * sy) / (nd * sx2 - sx * sx) * sx) / nd
        |    AS ols_intercept
        |FROM d ORDER BY l_returnflag""".stripMargin,
    "bitmap_distinct" ->
      """SELECT o_orderstatus, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_custkey
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "hll_distinct" ->
      """WITH hv AS (
        |  SELECT DISTINCT l_linestatus,
        |    CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM lineitem),
        |reg AS (
        |  SELECT l_linestatus, h // 4503599627370496 AS bucket,
        |    MAX(CASE WHEN h % 4503599627370496 = 0 THEN 53
        |             ELSE 53 - length(bin(h % 4503599627370496)) END) AS rho
        |  FROM hv GROUP BY l_linestatus, bucket),
        |agg AS (
        |  SELECT l_linestatus,
        |    SUM(CAST(pow(2.0, 53 - rho) AS BIGINT))
        |      + (256 - COUNT(*)) * 9007199254740992 AS s,
        |    256 - COUNT(*) AS zeros
        |  FROM reg GROUP BY l_linestatus)
        |SELECT l_linestatus,
        |  CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
        |            * 9007199254740992.0 / CAST(s AS DOUBLE) <= 640.0
        |         AND zeros > 0
        |       THEN 256.0 * ln(256.0 / zeros)
        |       ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
        |            * 9007199254740992.0 / CAST(s AS DOUBLE) END AS approx_nd
        |FROM agg ORDER BY l_linestatus""".stripMargin,
    "kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT o_orderstatus,
        |    CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM orders),
        |r AS (
        |  SELECT o_orderstatus, h,
        |    row_number() OVER (PARTITION BY o_orderstatus ORDER BY h) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderstatus) AS nd
        |  FROM h)
        |SELECT o_orderstatus,
        |  CASE WHEN MAX(nd) < 256 THEN CAST(MAX(nd) AS DOUBLE)
        |       ELSE 255 / (CAST(MAX(CASE WHEN rn = 256 THEN h END) AS DOUBLE)
        |                   / 1152921504606846976.0) END AS approx_nd
        |FROM r WHERE rn <= 256 GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "a06b_cube" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderstatus,
        |  COUNT(*) AS n,
        |  CAST(grouping(CAST(year(o_orderdate) AS INT)) AS INT) AS g_year,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status
        |FROM orders
        |GROUP BY CUBE(CAST(year(o_orderdate) AS INT), o_orderstatus)
        |ORDER BY order_year NULLS FIRST, o_orderstatus NULLS FIRST, g_year, g_status""".stripMargin,
    "exact_quantiles" ->
      """WITH r AS (
        |  SELECT o_orderstatus, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY CAST(o_totalprice AS DECIMAL(18,4)), o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM orders)
        |SELECT o_orderstatus,
        |  MIN(CASE WHEN rn = ((n - 1) * 1) // 4 + 1 OR rn = ((n - 1) * 1 + 3) // 4 + 1
        |      THEN o_totalprice END) / 2
        |  + MAX(CASE WHEN rn = ((n - 1) * 1) // 4 + 1 OR rn = ((n - 1) * 1 + 3) // 4 + 1
        |      THEN o_totalprice END) / 2 AS p25,
        |  MIN(CASE WHEN rn = ((n - 1) * 2) // 4 + 1 OR rn = ((n - 1) * 2 + 3) // 4 + 1
        |      THEN o_totalprice END) / 2
        |  + MAX(CASE WHEN rn = ((n - 1) * 2) // 4 + 1 OR rn = ((n - 1) * 2 + 3) // 4 + 1
        |      THEN o_totalprice END) / 2 AS p50,
        |  MIN(CASE WHEN rn = ((n - 1) * 3) // 4 + 1 OR rn = ((n - 1) * 3 + 3) // 4 + 1
        |      THEN o_totalprice END) / 2
        |  + MAX(CASE WHEN rn = ((n - 1) * 3) // 4 + 1 OR rn = ((n - 1) * 3 + 3) // 4 + 1
        |      THEN o_totalprice END) / 2 AS p75,
        |  MAX(n) AS n
        |FROM r GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "a13_winsorized" ->
      """WITH r AS (
        |  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,4)) AS v,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY CAST(o_totalprice AS DECIMAL(18,4)), o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM orders),
        |th AS (
        |  SELECT o_orderstatus,
        |    MIN(CASE WHEN rn = (n - 1) // 10 + 1 THEN v END) AS lo,
        |    MIN(CASE WHEN rn = ((n - 1) * 9) // 10 + 1 THEN v END) AS hi
        |  FROM r GROUP BY o_orderstatus)
        |SELECT r.o_orderstatus,
        |  CAST(th.lo AS DOUBLE) AS lo_val, CAST(th.hi AS DOUBLE) AS hi_val,
        |  CAST(SUM(CASE WHEN r.v < th.lo THEN th.lo
        |               WHEN r.v > th.hi THEN th.hi
        |               ELSE r.v END) AS DOUBLE) AS w_sum,
        |  COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN r.v < th.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        |  CAST(SUM(CASE WHEN r.v > th.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
        |FROM r JOIN th USING (o_orderstatus)
        |GROUP BY r.o_orderstatus, th.lo, th.hi
        |ORDER BY r.o_orderstatus""".stripMargin,
    "exact_median" ->
      """WITH r AS (
        |  SELECT o_orderstatus, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY CAST(o_totalprice AS DECIMAL(18,4)), o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM orders)
        |SELECT o_orderstatus,
        |  MIN(o_totalprice) / 2 + MAX(o_totalprice) / 2 AS median_price,
        |  MIN(n) AS n
        |FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "scalar_strings" ->
      """SELECT p_partkey,
        |  upper(p_name) AS u,
        |  lpad(p_brand, 10, '.') AS padded,
        |  reverse(p_type) AS rev,
        |  translate(p_name, 'aeiou', 'AEIOU') AS vowels_up,
        |  split_part(p_brand, '#', 2) AS brand_num,
        |  instr(p_name, ' ') AS space_at,
        |  substr(p_name, 2, 3) AS mid,
        |  ascii(p_type) AS first_code,
        |  p_brand || '/' || repeat('x', 2) AS tagged
        |FROM part ORDER BY p_partkey""".stripMargin,
    "bool_aggs" ->
      """SELECT l_returnflag,
        |  bool_and(l_discount > 0) AS all_discounted,
        |  bool_or(l_quantity >= 50) AS any_bulk,
        |  COUNT(*) FILTER (l_tax > 0.05) AS n_high_tax
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "a18_mad" ->
      """WITH r AS (
        |  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,4)) AS v, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY CAST(o_totalprice AS DECIMAL(18,4)), o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM orders),
        |med AS (
        |  SELECT o_orderstatus, v AS med FROM r WHERE rn = (n + 1) // 2),
        |dev AS (
        |  SELECT r.o_orderstatus, r.o_orderkey, r.n, med.med, abs(r.v - med.med) AS d
        |  FROM r JOIN med USING (o_orderstatus)),
        |ranked AS (
        |  SELECT o_orderstatus, med, d, n,
        |    row_number() OVER (PARTITION BY o_orderstatus ORDER BY d, o_orderkey) AS dn
        |  FROM dev)
        |SELECT o_orderstatus, CAST(med AS DOUBLE) AS median,
        |  CAST(d AS DOUBLE) AS mad, CAST(n AS BIGINT) AS n
        |FROM ranked WHERE dn = (n + 1) // 2
        |ORDER BY o_orderstatus""".stripMargin,
    "unpivot_measures" ->
      """WITH u AS (
        |  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |SELECT measure, COUNT(*) AS n,
        |  CAST(SUM(CAST(val AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  MIN(val) AS vmin, MAX(val) AS vmax
        |FROM u GROUP BY measure ORDER BY measure""".stripMargin,
    "sql_frontend3" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_prio
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST,
        |  g_status, g_prio""".stripMargin,
    "sql_frontend4" ->
      """SELECT c_custkey, c_mktsegment,
        |  (SELECT COUNT(*) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |  (SELECT MAX(o_totalprice) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |    AS max_f_price
        |FROM customer c
        |ORDER BY c_custkey""".stripMargin,
    "sql_frontend5" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS f_n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |       FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS f_total,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS o_n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |       FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS o_total,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS p_n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |       FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS p_total
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "sql_frontend6" ->
      """SELECT c.c_custkey, c.c_mktsegment, t.n_orders, t.max_price, t.total
        |FROM customer c
        |CROSS JOIN LATERAL (
        |  SELECT COUNT(*) AS n_orders,
        |    MAX(o_totalprice) AS max_price,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM orders o
        |  WHERE o.o_custkey = c.c_custkey) t
        |ORDER BY c.c_custkey""".stripMargin,
    "sql_frontend7" ->
      """WITH RECURSIVE bounds AS (
        |  SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
        |         date_trunc('month', MAX(o_orderdate)) AS hi FROM orders),
        |months(m, hi) AS (
        |  SELECT lo, hi FROM bounds
        |  UNION ALL
        |  SELECT m + INTERVAL 1 MONTH, hi FROM months WHERE m < hi),
        |o AS (SELECT date_trunc('month', o_orderdate) AS om,
        |             CAST(o_totalprice AS DECIMAL(18,4)) AS pr FROM orders)
        |SELECT CAST(m.m AS DATE) AS month, COUNT(o.om) AS n_orders,
        |       CAST(COALESCE(SUM(o.pr), 0) AS DOUBLE) AS total
        |FROM months m LEFT JOIN o ON o.om = m.m
        |GROUP BY m.m ORDER BY month""".stripMargin,
    "sql_frontend2" ->
      """WITH cust_orders AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(o_totalprice AS DECIMAL(18,4)) DESC, o_orderkey) AS rk
        |  FROM orders)
        |SELECT c.c_custkey, co.o_orderkey, co.o_totalprice,
        |  CAST(co.rk AS BIGINT) AS rk
        |FROM customer c
        |JOIN cust_orders co ON co.o_custkey = c.c_custkey
        |WHERE co.rk <= 2
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = co.o_orderkey AND l.l_returnflag = 'R')
        |ORDER BY c.c_custkey, co.o_orderkey""".stripMargin,
    "sql_frontend" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE CAST(o_totalprice AS DECIMAL(18,4)) * (SELECT COUNT(*) FROM orders)
        |      > (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,4))) FROM orders)
        |  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin,
    "a06_rollup" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderstatus,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  CAST(grouping(CAST(year(o_orderdate) AS INT)) AS INT) AS g_year,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status
        |FROM orders
        |GROUP BY ROLLUP(CAST(year(o_orderdate) AS INT), o_orderstatus)
        |ORDER BY order_year NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "pivot_status" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS order_year,
        |  COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
        |  COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
        |  COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY 1 ORDER BY order_year""".stripMargin,
    "set_ops_all" ->
      """WITH a AS (SELECT l_partkey AS pk FROM lineitem WHERE l_orderkey % 2 = 0),
        |     b AS (SELECT l_partkey AS pk FROM lineitem WHERE l_orderkey % 3 = 0)
        |SELECT pk, 'a_minus_b' AS tag FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        |UNION ALL
        |SELECT pk, 'a_and_b' AS tag FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        |ORDER BY tag, pk""".stripMargin,
    "scalar_nulls" ->
      """SELECT event_id,
        |  nullif(event_type, 'click') AS non_click_type,
        |  coalesce(nullif(event_type, 'click'), 'was_click') AS type_or_marker,
        |  greatest(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS vmax,
        |  least(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS vmin,
        |  nullif(event_type, 'click') IS NULL AS is_click
        |FROM events ORDER BY event_id""".stripMargin
  )
}
