package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Aggregation-tier operators (SURVEY.md §2.4, §2.5, §2.6).
  *
  * Cross-engine determinism convention used by every oracle-checked query in
  * this library: monetary/double measures are cast to DECIMAL **before**
  * aggregation so the sum is exact and associative (partial-aggregation order
  * can't change the result), then the final value is cast back to DOUBLE
  * (a well-defined nearest-double conversion both Spark and DuckDB agree on).
  * Every query ends with a total-order `orderBy` over unique keys so row
  * order is deterministic too.
  */
object Aggregates {

  /** Money-exact cast: DECIMAL(18,4) holds any value in the test schema and
    * sums without overflow at 100 TB scale factors (Spark widens sum results
    * to DECIMAL(28,4) automatically). */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Engine-exact double output for sums of decimal PRODUCTS: products
    * carry scale 8, and a scale-8 decimal→double conversion must round —
    * engines disagree by 1 ulp. Re-quantize to scale 4 first (exact: the
    * 2-decimal inputs make products exact at 4 decimals), at precision 38
    * so there is no ANSI overflow cliff. Exact double conversion holds
    * while |value|·10⁴ < 2⁵³. */
  def sumMoney(product: Column): Column =
    sum(product).cast(DecimalType(38, 4)).cast("double")

  /** A5/A8 analog + TPC-H Q1 shape: pricing summary over the `lineitem`
    * fact. Partial (map-side) aggregation makes this a single shuffle of
    * |groups| rows per partition — scale-safe at any SF.
    * Ref: counts at main.py:40-58, accumulate at main.py:103. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") < lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        cast_double(sum(dec(col("l_quantity")))).as("sum_qty"),
        cast_double(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
        sumMoney(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1PricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '1998-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  private def cast_double(c: Column): Column = c.cast("double")

  /** A1 spatial sessionization (the reference's flagship operator,
    * pdf_parser.py:259-281) transposed from page-space to event-time: a new
    * session starts when the gap to the previous event of the same user is
    * ≥ 10 minutes. `lag` + running `sum` over a per-user window is exactly
    * equivalent to the reference's greedy sequential clustering (SURVEY.md
    * §7.4). One shuffle on `user_id`; streaming analog is
    * `session_window` (graft.streaming). */
  def a01Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(byUser))
    Tables.events(spark, dir)
      .withColumn("new_session",
        when(gapUs.isNull || gapUs >= 600000000L, 1).otherwise(0))
      .withColumn("session_id",
        sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        cast_double(sum(dec(col("value")))).as("sum_value"))
      .orderBy("user_id", "session_id")
  }

  /** Time-series resample + forward fill: per user, an hourly grid from
    * first to last event — hours are integer µs-bucket divisions, so there
    * is no engine timestamp-truncation parity risk — with hourly
    * counts/sums gap-filled by 0 / the last observed value
    * (`last(_, ignoreNulls)` ≡ DuckDB `last_value(... IGNORE NULLS)`).
    * The standard resample-then-ffill shape feature pipelines run before
    * training.
    *
    * Scale: the grid is generated WHERE each user's bounds row lives
    * (`sequence` + explode — no driver loop, rows ∝ users × span-hours);
    * the left join and both windows share one (user_id) shuffle family.
    * The first grid hour of every user contains that user's first event,
    * so `filled_value` is never null. */
  def a09ResampleFfill(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("h", expr("unix_micros(ts) div 3600000000"))
    val hourly = e.groupBy("user_id", "h")
      .agg(count(lit(1)).as("n"),
        cast_double(sum(dec(col("value")))).as("sum_value"))
    val bounds = e.groupBy("user_id").agg(min("h").as("h0"), max("h").as("h1"))
    val grid = bounds.select(col("user_id"),
      explode(sequence(col("h0"), col("h1"))).as("h"))
    val w = Window.partitionBy("user_id").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(hourly, Seq("user_id", "h"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("is_gap", col("n") === 0L)
      .withColumn("filled_value", last("sum_value", ignoreNulls = true).over(w))
      .select("user_id", "h", "n", "is_gap", "filled_value")
      .orderBy("user_id", "h")
  }

  /** Ordered conversion funnel: per user, the first `view`, the first
    * `click` strictly after that view, and the first `purchase` strictly
    * after that click. Three chained conditional-min windows over the SAME
    * (user_id) partitioning — Spark plans them as one shuffle + three
    * Window passes, and the final groupBy reuses the exchange. The
    * sequential "after the previous stage" constraint is what plain
    * conditional aggregation (a04) cannot express in one pass. */
  def funnel(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    events
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t_click",
        min(when(col("event_type") === "click" && col("ts") > col("t_view"),
          col("ts"))).over(w))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" && col("ts") > col("t_click"),
          col("ts"))).over(w))
      .groupBy("user_id")
      .agg(max("t_view").as("t_view"), max("t_click").as("t_click"),
        max("t_purchase").as("t_purchase"))
      .withColumn("converted", col("t_purchase").isNotNull)
  }

  def a10Funnel(spark: SparkSession, dir: String): DataFrame =
    funnel(Tables.events(spark, dir)).orderBy("user_id")

  /** SCD2-style validity intervals from an event stream: collapse
    * consecutive same-status events per user (change-point detection via
    * `lag`), then each surviving row becomes a dimension version with
    * `[valid_from, valid_to)` from its own ts and the next change's ts —
    * the slowly-changing-dimension build every warehouse ETL runs. Both
    * window families share the one (user_id) shuffle. */
  def scd2(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("version", row_number().over(byUser))
      .withColumn("valid_from", col("ts"))
      .withColumn("valid_to", lead("ts", 1).over(byUser))
      .select("user_id", "event_type", "version", "valid_from", "valid_to")
  }

  def a11Scd2(spark: SparkSession, dir: String): DataFrame =
    scd2(Tables.events(spark, dir)).orderBy("user_id", "version")

  /** Cohort retention matrix: cohort = integer epoch-day of each user's
    * first `signup` (pure `div` on µs — no date_trunc, whose return type
    * differs between engines), crossed with every day the user purchased,
    * exact distinct-user counts per cell. Signup-day × purchase-day keeps
    * the matrix sparse (every-event × every-week is degenerate: all users
    * in one cohort, active every cell — a gate that can't discriminate).
    * The per-user min and the activity join co-partition on user_id (one
    * shuffle family); the final (cohort, day) agg is |days|² rows — tiny
    * at any scale. */
  def a12CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("d"))
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("d").as("cohort_day"))
    ev.filter(col("event_type") === "purchase")
      .join(cohort, "user_id")
      .groupBy("cohort_day", "d")
      .agg(countDistinct("user_id").as("n_users"))
      .select(col("cohort_day"), col("d").as("purchase_day"),
        col("n_users"), (col("d") - col("cohort_day")).as("days_since"))
      .orderBy("cohort_day", "purchase_day")
  }

  /** Top-k most common session journeys: the a01 gap-sessionization feeds a
    * per-session ordered event-type string, then a global count + top-20
    * (TakeOrderedAndProject — per-partition top-k, never a full sort). The
    * product-analytics "most common paths" query; everything shares the one
    * (user_id) shuffle until the tiny journey-count agg. */
  def a16TopJourneys(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(byUser))
    Tables.events(spark, dir)
      .withColumn("new_session",
        when(gapUs.isNull || gapUs >= 600000000L, 1).otherwise(0))
      .withColumn("session_id",
        sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")),
        " ").as("journey"))
      .groupBy("journey")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("journey"))
      .limit(20)
  }

  /** Burst suppression (chain debounce): keep only the FIRST event of each
    * burst, where a burst chains events of the same (user, type) separated
    * by < 5 s — the telemetry dedup that runs before sessionization. Same
    * gap-island machinery as a01 with keep-first instead of aggregate;
    * the streaming twin is dropDuplicates-within-watermark. */
  def f07DedupBursts(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    val gapUs = unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w))
    Tables.events(spark, dir)
      .withColumn("burst_head", gapUs.isNull || gapUs >= 5000000L)
      .filter(col("burst_head"))
      .select("event_id", "user_id", "event_type", "ts")
      .orderBy("event_id")
  }

  /** Longest consecutive-day purchase streak per user — the gaps-and-islands
    * pattern (distinct activity days minus their rank is constant within a
    * run of consecutive days). Two cheap shuffles over the DISTINCT
    * (user, day) frame — corpus collapses at the first dedup; the argmax
    * tie-break (longest, then earliest start) makes the answer unique. */
  def a17PurchaseStreaks(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val byDay = Window.partitionBy("user_id").orderBy("d")
    val streaks = days
      .withColumn("island", date_sub(col("d"), row_number().over(byDay)))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("streak_len"), min("d").as("streak_start"))
    val best = Window.partitionBy("user_id")
      .orderBy(col("streak_len").desc, col("streak_start").asc)
    streaks.withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .select("user_id", "streak_len", "streak_start")
      .orderBy("user_id")
  }

  /** Two-level reaggregation: monthly totals computed FROM the daily
    * partial aggregates, not from raw events — the incremental-aggregation
    * algebra every warehouse rollforward depends on (yesterday's daily
    * partitions are never rescanned). The oracle computes the monthly
    * totals directly from raw rows, so a green hash PROVES the
    * decomposition is exact: counts add, and the DECIMAL sums make the
    * value rollup associative where double accumulation would drift. */
  def a20ReaggMonthly(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("s"))
    daily.groupBy(date_format(col("day"), "yyyy-MM").as("month"), col("event_type"))
      .agg(sum("n").as("n_events"), sum("s").cast("double").as("total_value"))
      .orderBy("month", "event_type")
  }

  /** Daily + trailing-7-day active users (DAU/WAU) — the sliding-window
    * EXACT distinct count, which windows can't express directly (distinct
    * doesn't decompose over overlapping frames). The scale-correct exact
    * formulation: dedup to (user, day) once, then each pair contributes to
    * the 7 target days it covers (a bounded explode of the ALREADY-deduped
    * frame, never the raw corpus), and a plain distinct count per target
    * day. The sketch alternative at extreme scale is an HLL union per
    * window; this is the exact path and stays oracle-checkable. */
  def a19ActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val ud = graft.util.Caches.materialize(
      Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct())
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .withColumn("day", explode(sequence(col("day"), date_add(col("day"), 6))))
      .groupBy("day").agg(countDistinct("user_id").as("wau"))
    // inner join keeps only observed days (the explode also lands on up to
    // six days past the data's horizon)
    dau.join(wau, "day").orderBy("day")
  }

  /** Event-type transition matrix (first-order Markov counts): for each
    * user's time-ordered event stream, count `type → next_type` bigrams and
    * attach the per-source-state transition probability. One (user_id)
    * shuffle for the lead window, then a tiny (|types|²) aggregation —
    * partial aggregation makes the second shuffle |types|² rows per
    * partition regardless of corpus size. The probability is an exact
    * IEEE division of two exact longs — engine-identical. */
  def a14Transitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(byUser))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type")
    pairs
      .withColumn("p", col("n").cast("double") / sum("n").over(w))
      .orderBy("event_type", "next_type")
  }

  /** Equi-width histogram per group: 20 fixed buckets of 25k over
    * o_totalprice — `floor(v / width)` is one exact IEEE double op, so
    * bucket ids are engine-identical; counts and decimal sums aggregate
    * partially (|groups|·|buckets| rows per partition, any scale). */
  def a15Histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("bucket", floor(col("o_totalprice") / 25000.0).cast("bigint"))
      .groupBy("o_orderstatus", "bucket")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("o_orderstatus", "bucket")

  /** A2 ordered concatenation (pdf_parser.py:366 `' '.join(words)`): each
    * user's event-type journey in time order. Spark side: sort_array over
    * collected structs (the shuffle carries unordered lists; ordering is
    * restored per-group — no global sort needed). */
  def a02OrderedConcat(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")),
          " ").as("journey"))
      .orderBy("user_id")

  /** A4 conditional-min scalar per group (pdf_parser.py:205-226: first
    * qualifying header row's `top`). */
  def a04ConditionalMin(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
        count(when(col("event_type") === "signup", lit(1))).as("n_signups"))
      .orderBy("user_id")

  /** A5 code-type counts (main.py:40-58). */
  def a05GroupCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("lang")

  /** F7+F8+F9+A7+P6 composed: COA-style classify/validate/dedup over a
    * (code, name, code_type) table derived from `part`. Header-row skip,
    * empty-cell drop, per-type code-shape regex, then **last-wins** dedup
    * (Python dict overwrite semantics, pdf_parser.py:489-510) via `max_by`
    * keyed on the unique source id. */
  def coaClassify(spark: SparkSession, dir: String): DataFrame = {
    val codeType = when(col("p_type") === "ECONOMY", "gl")
      .when(col("p_type") === "SMALL", "location")
      .when(col("p_type") === "STANDARD", "funder")
      .when(col("p_type") === "PROMO", "program")
      .otherwise("dept")
    val codeShapeOk = when(col("code_type") === "funder", col("code").rlike("^\\d{2}$"))
      .otherwise(col("code").rlike("^\\d+$"))
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        regexp_replace(col("p_brand"), "Brand#", "").as("code"),
        trim(col("p_name")).as("name"),
        codeType.as("code_type"))
      .filter(!upper(col("name")).contains("CODE"))     // F7 header-row skip
      .filter(col("code") =!= "" && col("name") =!= "") // F8 empty-cell drop
      .filter(codeShapeOk)                              // F9 per-type shape
      .groupBy(col("code_type"), col("code"))
      .agg(max_by(col("name"), col("p_partkey")).as("name"), // A7 last wins
        count(lit(1)).as("n_seen"))
      .orderBy("code_type", "code")
  }

  /** W1 rightmost-match argmax (pdf_parser.py:344-350): per order, the line
    * with the max (price, linenumber) — `max(struct(...))` gives exact
    * lexicographic argmax with a deterministic tie-break, no shuffle beyond
    * the groupBy. */
  def w1Argmax(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(struct(dec(col("l_extendedprice")).as("p"), col("l_linenumber").as("ln"))).as("m"))
      .select(col("l_orderkey"),
        col("m.ln").as("best_linenumber"),
        col("m.p").cast("double").as("best_price"))
      .orderBy("l_orderkey")

  /** A21: exact weighted median per group — the order statistic PPS
    * sampling, load balancing, and robust pricing summaries all need:
    * smallest v whose cumulative weight reaches half the group total.
    * Weights sum as BIGINT (exact, order-free); values are compared, never
    * summed, so no float drift can cross the shuffle. One shuffle on the
    * group key for the ordered window; groups are few (per-flag), so the
    * per-group sort parallelizes across groups — for a high-cardinality
    * weighted median at 100 TB the same rule runs per-group over the
    * two-pass range-partitioned scan t18 uses for its global prefix sum. */
  def a21WeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val byFlag = Window.partitionBy("g")
      .orderBy("v", "l_orderkey", "l_linenumber")
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("g"),
        col("l_quantity").cast("long").as("w"),
        col("l_extendedprice").as("v"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("cum", sum("w").over(byFlag))
      .withColumn("tot", sum("w").over(Window.partitionBy("g")))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy("g")
      .agg(min("v").as("wmedian"), max("tot").as("total_w"))
      .orderBy("g")
  }

  /** A28: EWMA smoothing (α = ½, horizon 8) over each user's event-value
    * series — the exponential-decay feature every time-series pipeline
    * derives before training. Formulated as an explicit 7-term lag chain
    * rather than a recursive scan: the weights 2⁻ᵏ are exact binary
    * scalings (multiplication only shifts the exponent, no rounding), and
    * the addition chain is a fixed left-associated tree, so the result is
    * bit-identical in any IEEE-754 engine — a recursive EWMA would instead
    * accumulate order-dependent rounding. Truncating the horizon bounds
    * the window state to O(1) per row: one (user_id) shuffle, streaming
    * window frame, no per-group materialization — the unbounded-history
    * EWMA at 100 TB is a sequential scan per key, this is not. The
    * missing-prefix rows renormalize by the present-weight sum, so the
    * first 7 events of a user average only their real history. */
  def a28Ewma(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val lagCols = (1 to 7).map(k => lag(col("value"), k).over(w).as(s"__l$k"))
    val df = Tables.events(spark, dir)
      .select(Seq(col("event_id"), col("user_id"), col("value")) ++ lagCols: _*)
    val coef = (1 to 7).map(k => math.pow(0.5, k)) // 2^-k: exact doubles
    val num = (1 to 7).foldLeft(col("value")) { (acc, k) =>
      acc + lit(coef(k - 1)) * coalesce(col(s"__l$k"), lit(0.0))
    }
    val den = (1 to 7).foldLeft(lit(1.0).cast("double")) { (acc, k) =>
      acc + when(col(s"__l$k").isNull, lit(0.0)).otherwise(lit(coef(k - 1)))
    }
    df.withColumn("ewma", num / den)
      .select("event_id", "user_id", "value", "ewma")
      .orderBy("event_id")
  }

  /** A29: gap-fill with LINEAR INTERPOLATION — the sibling of
    * [[a09ResampleFfill]] for signals where a step function misstates the
    * trend (sensor readings, rates). Same distributed grid (sequence +
    * explode where the bounds row lives, never a driver loop); the fill
    * needs BOTH neighbors, so two ignore-nulls windows over the one
    * (user_id) shuffle carry the previous and next observed value and
    * hour. A gap is an hour with NO events (`count(*) == 0`, matching
    * [[a09ResampleFfill]]) — not a null sum, so an hour whose events all
    * carry null values is "observed" (its reported value is the honest
    * null sum), and the neighbor scan keys on observed NON-NULL values.
    * Interior gaps always have both non-null neighbors when values are
    * non-null (each user's grid is bounded by their first/last observed
    * hour), so the interpolation expression — prev +
    * (next−prev)·(h−hₚ)/(hₙ−hₚ), a fixed tree of correctly-rounded IEEE
    * ops over exact inputs — never sees a null. */
  def a29GapfillInterp(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("h", expr("unix_micros(ts) div 3600000000"))
    val hourly = e.groupBy("user_id", "h")
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("v"))
    val bounds = e.groupBy("user_id").agg(min("h").as("h0"), max("h").as("h1"))
    val grid = bounds.select(col("user_id"),
      explode(sequence(col("h0"), col("h1"))).as("h"))
    val wp = Window.partitionBy("user_id").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wf = Window.partitionBy("user_id").orderBy("h")
      .rowsBetween(0, Window.unboundedFollowing)
    grid.join(hourly, Seq("user_id", "h"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("pv", last("v", ignoreNulls = true).over(wp))
      .withColumn("ph",
        last(when(col("v").isNotNull, col("h")), ignoreNulls = true).over(wp))
      .withColumn("nv", first("v", ignoreNulls = true).over(wf))
      .withColumn("nh",
        first(when(col("v").isNotNull, col("h")), ignoreNulls = true).over(wf))
      .withColumn("is_gap", col("n") === 0)
      .withColumn("interp_value",
        when(col("n") > 0, col("v"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            ((col("h") - col("ph")).cast("double") /
              (col("nh") - col("ph")).cast("double"))))
      .select("user_id", "h", "is_gap", "interp_value")
      .orderBy("user_id", "h")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a28_ewma" -> (a28Ewma _),
    "a29_gapfill_interp" -> (a29GapfillInterp _),
    "a21_weighted_median" -> (a21WeightedMedian _),
    "q1_agg" -> (q1PricingSummary _),
    "a01_sessionize" -> (a01Sessionize _),
    "a02_ordered_concat" -> (a02OrderedConcat _),
    "a04_conditional_min" -> (a04ConditionalMin _),
    "a05_group_counts" -> (a05GroupCounts _),
    "a07_coa_classify" -> (coaClassify _),
    "a09_resample_ffill" -> (a09ResampleFfill _),
    "a10_funnel" -> (a10Funnel _),
    "a11_scd2" -> (a11Scd2 _),
    "a12_cohort_retention" -> (a12CohortRetention _),
    "a14_transitions" -> (a14Transitions _),
    "a16_top_journeys" -> (a16TopJourneys _),
    "a17_purchase_streaks" -> (a17PurchaseStreaks _),
    "a19_active_users" -> (a19ActiveUsers _),
    "a20_reagg_monthly" -> (a20ReaggMonthly _),
    "f07_dedup_bursts" -> (f07DedupBursts _),
    "a15_histogram" -> (a15Histogram _),
    "w1_argmax" -> (w1Argmax _)
  )

  def oracle: Map[String, String] = Map(
    "a28_ewma" ->
      """WITH l AS (
        |  SELECT event_id, user_id, value,
        |    lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2,
        |    lag(value, 3) OVER w AS l3, lag(value, 4) OVER w AS l4,
        |    lag(value, 5) OVER w AS l5, lag(value, 6) OVER w AS l6,
        |    lag(value, 7) OVER w AS l7
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id, value,
        |  (value
        |   + CAST(0.5 AS DOUBLE) * COALESCE(l1, CAST(0 AS DOUBLE))
        |   + CAST(0.25 AS DOUBLE) * COALESCE(l2, CAST(0 AS DOUBLE))
        |   + CAST(0.125 AS DOUBLE) * COALESCE(l3, CAST(0 AS DOUBLE))
        |   + CAST(0.0625 AS DOUBLE) * COALESCE(l4, CAST(0 AS DOUBLE))
        |   + CAST(0.03125 AS DOUBLE) * COALESCE(l5, CAST(0 AS DOUBLE))
        |   + CAST(0.015625 AS DOUBLE) * COALESCE(l6, CAST(0 AS DOUBLE))
        |   + CAST(0.0078125 AS DOUBLE) * COALESCE(l7, CAST(0 AS DOUBLE)))
        |  / (CAST(1 AS DOUBLE)
        |   + CASE WHEN l1 IS NULL THEN CAST(0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END
        |   + CASE WHEN l2 IS NULL THEN CAST(0 AS DOUBLE) ELSE CAST(0.25 AS DOUBLE) END
        |   + CASE WHEN l3 IS NULL THEN CAST(0 AS DOUBLE) ELSE CAST(0.125 AS DOUBLE) END
        |   + CASE WHEN l4 IS NULL THEN CAST(0 AS DOUBLE) ELSE CAST(0.0625 AS DOUBLE) END
        |   + CASE WHEN l5 IS NULL THEN CAST(0 AS DOUBLE) ELSE CAST(0.03125 AS DOUBLE) END
        |   + CASE WHEN l6 IS NULL THEN CAST(0 AS DOUBLE) ELSE CAST(0.015625 AS DOUBLE) END
        |   + CASE WHEN l7 IS NULL THEN CAST(0 AS DOUBLE) ELSE CAST(0.0078125 AS DOUBLE) END)
        |  AS ewma
        |FROM l ORDER BY event_id""".stripMargin,
    "a29_gapfill_interp" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS h, value FROM events),
        |hourly AS (
        |  SELECT user_id, h, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
        |  FROM ev GROUP BY 1, 2),
        |bounds AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM ev GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM bounds),
        |j AS (
        |  SELECT g.user_id, g.h, COALESCE(hh.n, 0) AS n, hh.v
        |  FROM grid g LEFT JOIN hourly hh
        |    ON hh.user_id = g.user_id AND hh.h = g.h),
        |f AS (
        |  SELECT user_id, h, n, v,
        |    last_value(v IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wp AS ph,
        |    first_value(v IGNORE NULLS) OVER wf AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wf AS nh
        |  FROM j
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY h ROWS UNBOUNDED PRECEDING),
        |         wf AS (PARTITION BY user_id ORDER BY h
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, h, n = 0 AS is_gap,
        |  CASE WHEN n > 0 THEN v
        |       ELSE pv + (nv - pv) *
        |         (CAST(h - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE)) END
        |    AS interp_value
        |FROM f ORDER BY user_id, h""".stripMargin,
    "a21_weighted_median" ->
      """WITH t AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS w,
        |         l_extendedprice AS v, l_orderkey, l_linenumber
        |  FROM lineitem),
        |c AS (
        |  SELECT g, v, w,
        |    SUM(w) OVER (PARTITION BY g ORDER BY v, l_orderkey, l_linenumber) AS cum,
        |    SUM(w) OVER (PARTITION BY g) AS tot
        |  FROM t)
        |SELECT g, MIN(v) AS wmedian, CAST(MAX(tot) AS BIGINT) AS total_w
        |FROM c WHERE 2 * cum >= tot GROUP BY g ORDER BY g""".stripMargin,
    "q1_agg" -> q1PricingSummarySql,
    "a09_resample_ffill" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS h, value FROM events),
        |hourly AS (
        |  SELECT user_id, h, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |  FROM ev GROUP BY 1, 2),
        |bounds AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM ev GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM bounds),
        |j AS (
        |  SELECT g.user_id, g.h, COALESCE(hh.n, 0) AS n, hh.sum_value
        |  FROM grid g LEFT JOIN hourly hh
        |    ON hh.user_id = g.user_id AND hh.h = g.h)
        |SELECT user_id, h, n, n = 0 AS is_gap,
        |  last_value(sum_value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
        |    ROWS UNBOUNDED PRECEDING) AS filled_value
        |FROM j ORDER BY user_id, h""".stripMargin,
    "a10_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, ts, event_type,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t_view
        |  FROM events),
        |s2 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
        |    OVER (PARTITION BY user_id) AS t_click
        |  FROM s1),
        |s3 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
        |    OVER (PARTITION BY user_id) AS t_purchase
        |  FROM s2)
        |SELECT user_id, MAX(t_view) AS t_view, MAX(t_click) AS t_click,
        |  MAX(t_purchase) AS t_purchase,
        |  MAX(t_purchase) IS NOT NULL AS converted
        |FROM s3 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "a11_scd2" ->
      """WITH c AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |chg AS (
        |  SELECT user_id, ts, event_id, event_type FROM c
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type,
        |  row_number() OVER w AS version,
        |  ts AS valid_from,
        |  lead(ts) OVER w AS valid_to
        |FROM chg
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,
    "a12_cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) // 86400000000 AS d FROM events),
        |coh AS (
        |  SELECT user_id, MIN(d) AS cohort_day FROM ev
        |  WHERE event_type = 'signup' GROUP BY 1)
        |SELECT c.cohort_day, e.d AS purchase_day,
        |  COUNT(DISTINCT e.user_id) AS n_users,
        |  e.d - c.cohort_day AS days_since
        |FROM ev e JOIN coh c USING (user_id)
        |WHERE e.event_type = 'purchase'
        |GROUP BY c.cohort_day, e.d
        |ORDER BY c.cohort_day, e.d""".stripMargin,
    "a16_top_journeys" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 600000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g),
        |j AS (
        |  SELECT user_id, session_id,
        |    string_agg(event_type, ' ' ORDER BY ts, event_id) AS journey
        |  FROM s GROUP BY user_id, session_id)
        |SELECT journey, COUNT(*) AS n_sessions
        |FROM j GROUP BY journey
        |ORDER BY n_sessions DESC, journey LIMIT 20""".stripMargin,
    "a20_reagg_monthly" ->
      """SELECT strftime(ts, '%Y-%m') AS month, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "a19_active_users" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
        |wau AS (
        |  SELECT d.day, COUNT(DISTINCT ud.user_id) AS wau
        |  FROM (SELECT DISTINCT day FROM ud) d
        |  JOIN ud ON ud.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY d.day)
        |SELECT dau.day, dau.dau, wau.wau
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,
    "a17_purchase_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |  FROM events WHERE event_type = 'purchase'),
        |islands AS (
        |  SELECT user_id, d,
        |    d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT)
        |      AS island
        |  FROM days),
        |streaks AS (
        |  SELECT user_id, island, COUNT(*) AS streak_len, MIN(d) AS streak_start
        |  FROM islands GROUP BY user_id, island),
        |best AS (
        |  SELECT user_id, streak_len, streak_start,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY streak_len DESC, streak_start) AS rk
        |  FROM streaks)
        |SELECT user_id, streak_len, streak_start FROM best WHERE rk = 1
        |ORDER BY user_id""".stripMargin,
    "f07_dedup_bursts" ->
      """WITH g AS (
        |  SELECT event_id, user_id, event_type, ts,
        |    lag(ts) OVER (PARTITION BY user_id, event_type
        |                  ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |SELECT event_id, user_id, event_type, ts FROM g
        |WHERE prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) >= 5000000
        |ORDER BY event_id""".stripMargin,
    "a14_transitions" ->
      """WITH p AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next_type
        |  FROM events),
        |c AS (
        |  SELECT event_type, next_type, COUNT(*) AS n FROM p
        |  WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, next_type, n,
        |  CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY event_type) AS p
        |FROM c ORDER BY event_type, next_type""".stripMargin,
    "a15_histogram" ->
      """SELECT o_orderstatus,
        |  CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY o_orderstatus, CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT)
        |ORDER BY o_orderstatus, bucket""".stripMargin,
    "a01_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 600000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "a02_ordered_concat" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  string_agg(event_type, ' ' ORDER BY ts, event_id) AS journey
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "a04_conditional_min" ->
      """SELECT user_id,
        |  MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signups
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "a05_group_counts" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "a07_coa_classify" ->
      """WITH coa AS (
        |  SELECT p_partkey,
        |    regexp_replace(p_brand, 'Brand#', '') AS code,
        |    trim(p_name) AS name,
        |    CASE WHEN p_type = 'ECONOMY' THEN 'gl'
        |         WHEN p_type = 'SMALL' THEN 'location'
        |         WHEN p_type = 'STANDARD' THEN 'funder'
        |         WHEN p_type = 'PROMO' THEN 'program'
        |         ELSE 'dept' END AS code_type
        |  FROM part),
        |f AS (
        |  SELECT * FROM coa
        |  WHERE NOT contains(upper(name), 'CODE')
        |    AND code <> '' AND name <> ''
        |    AND CASE WHEN code_type = 'funder' THEN regexp_matches(code, '^\d{2}$')
        |             ELSE regexp_matches(code, '^\d+$') END)
        |SELECT code_type, code, arg_max(name, p_partkey) AS name, COUNT(*) AS n_seen
        |FROM f GROUP BY code_type, code
        |ORDER BY code_type, code""".stripMargin,
    "w1_argmax" ->
      """WITH r AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY CAST(l_extendedprice AS DECIMAL(18,4)) DESC, l_linenumber DESC) AS rn
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber AS best_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DOUBLE) AS best_price
        |FROM r WHERE rn = 1 ORDER BY l_orderkey""".stripMargin
  )
}
