package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.Aggregates.dec

/** Join tier (SURVEY.md §2.3): exact broadcast enrichment (J1),
  * exact→fuzzy enrichment in one ranked candidate pass (J1+J2+O3),
  * group-scalar attach (J3/A3), band self-join (J4), and
  * neighborhood-exists semi join (J5). */
object Joins {

  /** J1 exact enrichment: fact × broadcast dimension equi-join, then
    * aggregate. At 100 TB the fact side never shuffles for this join —
    * `broadcast(part)` forces BroadcastHashJoin. Ref: main.py:94-101. */
  def j01ExactEnrich(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        Aggregates.sumMoney(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .as("revenue"))
      .orderBy("p_brand")
  }

  /** J1+J2+O3: the flagship exact→fuzzy vendor enrichment over a vendor string
    * derived from orders (exact-match third, substring-match third,
    * no-match third). See [[Enrichment.twoPhase]]. */
  def j02TwoPhaseEnrich(spark: SparkSession, dir: String): DataFrame = {
    val vendor =
      when(col("o_orderkey") % 3 === 0,
        concat(lit("Customer#"), lpad(col("o_custkey").cast("string"), 9, "0")))
      .when(col("o_orderkey") % 3 === 1, lpad(col("o_custkey").cast("string"), 7, "0"))
      .otherwise(concat(lit("UNKNOWN-"), col("o_orderkey").cast("string")))
    val facts = Tables.orders(spark, dir).select(col("o_orderkey"), vendor.as("vendor"))
    Enrichment.twoPhase(facts, Tables.customer(spark, dir),
        factId = "o_orderkey", factKey = "vendor",
        dimId = "c_custkey", dimKey = "c_name", payload = Seq("c_custkey", "c_mktsegment"))
      .select(col("o_orderkey"), col("vendor"),
        col("c_custkey").as("matched_custkey"),
        col("c_mktsegment").as("matched_segment"), col("match_type"))
      .orderBy("o_orderkey")
  }

  /** J2b: the exact→fuzzy enrichment at DIRTY-DATA fidelity — messy vendor
    * strings (case mangling, `*`-suffixed transaction codes, punctuation,
    * stray whitespace: the "AMZN Mktp US*1X2Y3" reality) normalized on
    * BOTH sides by [[Enrichment.normalizeVendor]] before the same
    * exact→fuzzy ranking. j02's plain `contains` finds none of these;
    * after the fold, the exact third hits equality and the fuzzy third
    * hits substring containment, with the identical lowest-dimId
    * tie-break. */
  def j02bNormalizedEnrich(spark: SparkSession, dir: String): DataFrame = {
    val messy =
      when(col("o_orderkey") % 3 === 0,
        concat(lit("  "), upper(concat(lit("Customer#"),
          lpad(col("o_custkey").cast("string"), 9, "0"))),
          lit("*TXN"), col("o_orderkey").cast("string")))
      .when(col("o_orderkey") % 3 === 1,
        concat(lpad(col("o_custkey").cast("string"), 7, "0"),
          lit("*POS-"), (col("o_orderkey") % 97).cast("string")))
      .otherwise(concat(lit("UNKNOWN-"), col("o_orderkey").cast("string"), lit("*X")))
    val facts = Tables.orders(spark, dir)
      .select(col("o_orderkey"), messy.as("vendor"))
      .withColumn("vendor_norm", Enrichment.normalizeVendor(col("vendor")))
    val dim = Tables.customer(spark, dir)
      .withColumn("c_name_norm", Enrichment.normalizeVendor(col("c_name")))
    Enrichment.twoPhase(facts, dim,
        factId = "o_orderkey", factKey = "vendor_norm",
        dimId = "c_custkey", dimKey = "c_name_norm",
        payload = Seq("c_custkey", "c_mktsegment"))
      .select(col("o_orderkey"), col("vendor"), col("vendor_norm"),
        col("c_custkey").as("matched_custkey"),
        col("c_mktsegment").as("matched_segment"), col("match_type"))
      .orderBy("o_orderkey")
  }

  /** J3/A3 group-scalar attach: compute a per-group scalar and classify each
    * row against it — as a window over the group partition (one shuffle, no
    * join back), the plan SURVEY.md §2.3 J3 recommends. Division-free
    * comparison (`price * n > total`) keeps decimal math exact.
    * Ref: pdf_parser.py:137-156. */
  def j03GroupScalarAttach(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
    Tables.orders(spark, dir)
      .withColumn("cust_n", count(lit(1)).over(w))
      .withColumn("cust_total", sum(dec(col("o_totalprice"))).over(w))
      .withColumn("above_avg", dec(col("o_totalprice")) * col("cust_n") > col("cust_total"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("above_avg"))
      .orderBy("o_orderkey")
  }

  /** J4 band self-join: error→click pairs by the same user within 2 hours.
    * Equi-join on `user_id` carries the heavy lifting (sort-merge/shuffle on
    * the key); the band predicate filters pairs. The band is 2h (not the
    * reference's seconds-scale pairing) so the driver gate at sf0.01 yields
    * a non-empty result — two engines agreeing on empty would prove nothing
    * about the predicate. Ref: pdf_parser.py:195-203 (same-line |Δtop|<2
    * header pair). */
  def j04BandJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val a = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("a_id"), col("ts").as("a_ts"))
    val b = e.filter(col("event_type") === "click")
      .select(col("user_id").as("b_user"), col("event_id").as("b_id"), col("ts").as("b_ts"))
    a.join(b, a("user_id") === b("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") < col("a_ts") + expr("INTERVAL 2 HOURS"))
      .select(col("user_id"), col("a_id"), col("b_id"),
        (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("gap_us"))
      .orderBy("a_id", "b_id")
  }

  /** J5 neighborhood-exists probe: errors with a click by the same user
    * within ±1 hour — left semi join (EXISTS). ±1h (vs the reference's
    * seconds-scale window) keeps the sf0.01 gate non-vacuous, same
    * reasoning as [[j04BandJoin]]. Ref: pdf_parser.py:220-226. */
  def j05ExistsProbe(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val errors = e.filter(col("event_type") === "error")
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    errors.join(clicks,
        errors("user_id") === col("c_user") &&
        abs(unix_micros(col("c_ts")) - unix_micros(errors("ts"))) <= 3600000000L,
        "left_semi")
      .select(col("event_id"), col("user_id"))
      .orderBy("event_id")
  }

  /** J6 (extension): as-of join — each purchase gets the user's latest
    * click at-or-before it. See [[AsOf.joinAsOf]]; DuckDB's native
    * `ASOF LEFT JOIN` is the oracle. */
  def j06AsOfJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    AsOf.joinAsOf(purchases, clicks, Seq("user_id"), "ts", "ts",
        payload = Seq("click_id"), prefix = "last_", tieBreak = Some("click_id"))
      .select(col("event_id"), col("user_id"),
        col("last_click_id"),
        (unix_micros(col("ts")) - unix_micros(col("last_ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  /** J6b: forward as-of — each purchase gets the user's EARLIEST click
    * at-or-after it (the "time-to-next-action" attachment; the attribution
    * mirror of [[j06AsOfJoin]]). Same one-shuffle union+window plan via
    * `forward = true`; the oracle is a ranked band join (DuckDB's native
    * ASOF is backward-only). */
  def j06bAsOfForward(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    AsOf.joinAsOf(purchases, clicks, Seq("user_id"), "ts", "ts",
        payload = Seq("click_id"), prefix = "next_", tieBreak = Some("click_id"),
        forward = true)
      .select(col("event_id"), col("user_id"),
        col("next_click_id"),
        (unix_micros(col("next_ts")) - unix_micros(col("ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  /** Interval-overlap self-join via time-bucket decomposition — the Spark
    * answer to a range join the optimizer would otherwise plan as a
    * cartesian/BNLJ: explode every interval into the 1-hour buckets it
    * covers, equi-join on the bucket (shuffle-partitionable), verify the
    * true overlap, and keep each pair ONLY in the bucket containing the
    * later interval start — an arithmetic dedup, so no distinct pass over
    * the pair stream. Intervals here are the a01 gap-sessions; a pair is
    * two different users' sessions open at the same instant ("concurrent
    * sessions"). Bucketing is exact, not approximate (IntervalOverlapSpec
    * proves ≡ the direct theta join). At 100 TB the residual skew knob is interval
    * length: one multi-day interval explodes into thousands of buckets, so
    * a production deployment splits a long tier (len > cap, broadcast-sized
    * by construction) from the bucketed short tier — at the gap-session
    * scale every interval is minutes long and single-tier is the right
    * plan. */
  def j08IntervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val bucketUs = 3600000000L // 1 hour
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(byUser))
    val iv = Tables.events(spark, dir)
      .withColumn("new_session",
        when(gapUs.isNull || gapUs >= 600000000L, 1).otherwise(0))
      .withColumn("session_id",
        sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(min(unix_micros(col("ts"))).as("t0"), max(unix_micros(col("ts"))).as("t1"))
    // Cached: BOTH sides of the self-join read this frame, and Spark does
    // not share common subplans — uncached, the sessionization window +
    // groupBy chain over the full events table executes twice.
    val bucketed = graft.util.Caches.materialize(iv.withColumn("bucket",
      explode(sequence(expr(s"t0 div $bucketUs"), expr(s"t1 div $bucketUs")))))
    val a = bucketed.select(col("bucket"), col("user_id").as("a_user"),
      col("session_id").as("a_session"), col("t0").as("a_t0"), col("t1").as("a_t1"))
    val b = bucketed.select(col("bucket"), col("user_id").as("b_user"),
      col("session_id").as("b_session"), col("t0").as("b_t0"), col("t1").as("b_t1"))
    a.join(b, Seq("bucket"))
      .filter(col("a_user") < col("b_user"))
      .filter(col("a_t0") <= col("b_t1") && col("b_t0") <= col("a_t1"))
      .filter(expr(s"bucket = (greatest(a_t0, b_t0) div $bucketUs)"))
      .select(col("a_user"), col("a_session"), col("b_user"), col("b_session"),
        (least(col("a_t1"), col("b_t1")) - greatest(col("a_t0"), col("b_t0")))
          .as("overlap_us"))
      .orderBy("a_user", "a_session", "b_user", "b_session")
  }

  /** Edit-distance similarity self-join: all distinct-name pairs with
    * levenshtein ≤ maxDist. Candidate generation is a bigram inverted-index
    * equi-join — the q-gram COUNT filter (Gravano et al., VLDB'01): k edits
    * destroy at most k·q q-grams, so any pair with ed ≤ k and
    * max(len) ≥ q·(k+1) shares at least one q-gram; names shorter than that
    * bound take a broadcast all-pairs fallback (bounded by construction:
    * there are at most |Σ|^(q·(k+1)) such strings). Exact `levenshtein`
    * verify runs on candidates only — never |n|² at scale. */
  def fuzzyNamePairs(names: DataFrame, maxDist: Int): DataFrame = {
    val q = 2
    val bound = q * (maxDist + 1)
    val bigrams = array_distinct(
      transform(sequence(lit(1), length(col("name")) - 1),
        i => col("name").substr(i, lit(q))))
    val n = names.select(col("name")).distinct()
    val long = n.filter(length(col("name")) >= bound)
    val shorts = n.filter(length(col("name")) < bound)
    val grams = long.select(col("name"), explode(bigrams).as("g"))
    val longCand = grams.toDF("a_name", "g")
      .join(grams.toDF("b_name", "g2"),
        col("g") === col("g2") && col("a_name") < col("b_name"))
      .select("a_name", "b_name").distinct()
    // short strings pair with EVERY name (either side) — tiny side broadcast
    val shortCand = broadcast(shorts.toDF("s"))
      .join(n.toDF("o"), col("s") =!= col("o"))
      .select(least(col("s"), col("o")).as("a_name"),
        greatest(col("s"), col("o")).as("b_name"))
      .distinct()
    longCand.unionByName(shortCand).distinct()
      .filter(abs(length(col("a_name")) - length(col("b_name"))) <= maxDist)
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
      .filter(col("dist") <= maxDist)
  }

  def j09FuzzyPairs(spark: SparkSession, dir: String): DataFrame =
    fuzzyNamePairs(Tables.part(spark, dir).select(col("p_name").as("name")), 2)
      .orderBy("a_name", "b_name")

  /** Bloom filter geometry: 2^17 bits = 2048 longs = 16 KB shipped to every
    * task; 2 md5-derived probes. At ~3k build keys the load is ~0.05 and the
    * false-positive rate ~0.2% — and FPs only cost a little extra work, the
    * exact semi join behind the filter removes them from the output. */
  val bloomBits = 1 << 17
  val bloomHashes = 2

  private def bloomPositions(key: org.apache.spark.sql.Column) =
    (0 until bloomHashes).map { i =>
      pmod(graft.dedup.Dedup.md5Hash60(
        concat(lit(s"bloom|$i|"), key.cast("string"))), lit(bloomBits.toLong))
    }

  /** Build a Bloom filter over the key column as 2048 longs. The collect is
    * the point, not a shortcut: a runtime filter must ship to every task, so
    * it is built small (one partial-aggregated groupBy over ≤2048 words) and
    * pulled to the driver exactly like Spark's own InjectRuntimeFilter
    * subquery — 16 KB regardless of corpus size. md5-derived positions keep
    * it deterministic across engines and runs. */
  def bloomBuild(keys: DataFrame, keyCol: String): Array[Long] = {
    val words = keys
      .select(explode(array(bloomPositions(col(keyCol)): _*)).as("p"))
      .select((col("p") / 64).cast("int").as("w"),
        call_function("shiftleft", lit(1L), pmod(col("p"), lit(64)).cast("int")).as("m"))
      .groupBy("w").agg(bit_or(col("m")).as("bits"))
      .collect()
    val arr = new Array[Long](bloomBits / 64)
    words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** Membership probe against a built filter — pure codegen arithmetic
    * (element_at on a literal array + bit ops), no UDF. */
  def bloomMightContain(words: Array[Long], key: org.apache.spark.sql.Column) =
    bloomPositions(key).map { p =>
      element_at(typedLit(words.toSeq), (p / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), pmod(p, lit(64)).cast("int"))) =!= 0L
    }.reduce(_ && _)

  /** J7 (extension): Bloom-prefiltered semi join — the explicit version of
    * the runtime-filter pushdown pattern. The build side (high-value orders)
    * condenses to a 16 KB bit array; the fact scan drops ~90% of its rows
    * BEFORE the shuffle; the exact left-semi join then removes the Bloom's
    * false positives, so the output is exactly the plain semi join (the
    * oracle). At 100 TB this is the difference between shuffling the whole
    * fact table and shuffling only probable matches. */
  def j07BloomSemi(spark: SparkSession, dir: String): DataFrame = {
    val hot = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 450000.0)
      .select(col("o_orderkey"))
    val bloom = bloomBuild(hot, "o_orderkey")
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .filter(bloomMightContain(bloom, col("l_orderkey")))
      .join(hot.withColumnRenamed("o_orderkey", "l_orderkey"), Seq("l_orderkey"), "left_semi")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Q5-shape deep multi-join: revenue by nation for one region-year where
    * the supplier is in the customer's nation. Exercises Catalyst's join
    * ordering over a 6-table chain: the ONLY non-broadcast join is
    * lineitem⋈orders (two facts — at 100 TB a co-partitioned shuffle join on
    * the order key); customer/supplier/nation/region all broadcast, and the
    * date filter prunes the orders side before the fact join. */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val asiaNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(Aggregates.sumMoney(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Q3-shape: top-10 unshipped-revenue orders for one market segment —
    * fact⋈fact⋈broadcast with a grouped TakeOrdered tail. */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1996-06-01").cast("timestamp")
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(Aggregates.sumMoney(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Q9-shape 6-table profit DAG: per (region, nation, order-year) revenue
    * minus a supply-cost proxy for one part type. The plan this pins at
    * scale: the broadcast-side dimension chain (part filter → supplier →
    * nation → region) prunes the lineitem stream BEFORE the only
    * fact-to-fact shuffle (lineitem⋈orders on the order key) — one sixth of
    * the fact table reaches the shuffle, the dims never shuffle at all.
    * Money discipline: both sums ride the DECIMAL(18,4) product carrier;
    * `profit` is ONE decimal subtraction of the two exact sums, cast to
    * double at the boundary — never double−double. */
  def q9ProfitByNation(spark: SparkSession, dir: String): DataFrame = {
    val promoParts = Tables.part(spark, dir)
      .filter(col("p_type") === "PROMO")
      .select(col("p_partkey"), col("p_retailprice"))
    val supp = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val nat = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val reg = Tables.region(spark, dir).select(col("r_regionkey"), col("r_name"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
    // both carriers stay two-factor DECIMAL(18,4) products (exact, the
    // proven engine-agreement shape) — no scalar factor, whose triple
    // product would cross the precision-38 scale-reduction cliff
    val rev = dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))
    val cost = dec(col("p_retailprice")) * dec(col("l_quantity"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("r_name"), col("n_name"), col("o_year"))
      .agg(
        Aggregates.sumMoney(rev).as("revenue"),
        Aggregates.sumMoney(cost).as("supply_cost"),
        (sum(rev).cast(DecimalType(38, 4)) - sum(cost).cast(DecimalType(38, 4)))
          .cast("double").as("profit"))
      .orderBy("r_name", "n_name", "o_year")
  }

  /** Q18-shape large-order lookup: orders whose total quantity exceeds a
    * threshold, with customer context — the aggregate-then-semi-join DAG
    * (lineitem groupBy HAVING → join back to orders ⋈ lineitem). The big
    * aggregate and the join-back share the l_orderkey shuffle key, so at
    * scale the HAVING filter reduces the fact table to a handful of hot
    * orders BEFORE any customer data moves; customer stays broadcast. */
  def q18BigOrders(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_quantity"))
    val big = li.groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      .filter(col("total_qty") > 250)
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_name"))
    big.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), dec(col("o_totalprice")).cast("double").as("o_totalprice"),
        col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Q21-shape correlated semi + anti self-join: suppliers who were the
    * SOLE returned-line supplier in a finished multi-supplier order (this
    * schema has no receipt/commit dates, so `l_returnflag = 'R'` is the
    * "kept the order waiting" predicate; the EXISTS / NOT-EXISTS structure
    * is Q21's verbatim). The oracle runs the literal correlated form —
    * this side runs the plan decorrelation has to reach for the query to
    * survive at scale: both subqueries fold into ONE pass over lineitem.
    *
    * Plan contract (PlanSpec-pinned at exactly 3 hash exchanges): lineitem
    * is shuffled ONCE on l_orderkey; the per-(order, supplier) rollup and
    * the per-order verdict both reuse that partitioning (hash(l_orderkey)
    * clusters any key set containing it), so the semi branch (another
    * supplier exists: n_supp > 1) and the anti branch (no other returned
    * supplier: n_ret_supp = 1) are decided with zero extra exchanges and —
    * unlike the textbook rewrite — zero join-backs: the sole supplier's
    * identity and line count ride OUT of the aggregate itself. The only
    * other fact exchange is the orders side of the status join; supplier
    * and nation broadcast. Naive execution (two correlated re-scans of
    * lineitem per outer row, or even two decorrelated self-joins) is the
    * difference between one fact shuffle and three at 100 TB. */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      .repartition(n, col("l_orderkey"))
    val perSupp = li.groupBy("l_orderkey", "l_suppkey")
      .agg(count(when(col("l_returnflag") === "R", 1)).as("ret_lines"))
    val verdicts = perSupp.groupBy("l_orderkey")
      .agg(
        count(lit(1)).as("n_supp"),
        count(when(col("ret_lines") > 0, 1)).as("n_ret_supp"),
        max(when(col("ret_lines") > 0, col("l_suppkey"))).as("sole_supp"),
        sum(when(col("ret_lines") > 0, col("ret_lines"))).as("ret_cnt"))
      .filter(col("n_supp") > 1 && col("n_ret_supp") === 1)
    val ordF = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F").select("o_orderkey")
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
    val nat = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    verdicts.join(ordF, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("sole_supp") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "s_name")
      .agg(sum("ret_cnt").as("numwait"))
      .orderBy(col("numwait").desc, col("n_name"), col("s_name"))
      .limit(100)
  }

  /** Q13-shape outer-join histogram: orders per customer INCLUDING the
    * customers with none, then the distribution of those counts — the one
    * classic shape whose aggregate is over a join-MISS count (the zero
    * bucket exists only because the join is LEFT OUTER). The ON-clause
    * filter (count only urgent orders) is what makes the outer join
    * non-degenerate: a customer whose orders are all non-urgent lands in
    * c_count = 0, which a WHERE-clause filter would silently delete.
    *
    * Plan: orders pre-aggregates per o_custkey BEFORE the outer join —
    * map-side partial counts mean the custkey exchange carries one row
    * per customer, not one per order (at 100 TB: the difference between
    * shuffling 1.5 B aggregate rows and 150 B order rows); the outer join
    * then reuses that partitioning against customer, and the histogram
    * aggregate is |distinct counts| rows. Pre-aggregation commutes with
    * the LEFT OUTER here because the join key IS the groupBy key. */
  def q13CustDist(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select("c_custkey")
    val perCust = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
    cust.join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("n"), lit(0L)).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Q17-shape correlated-average decorrelation: revenue lost by only
    * shipping small orders — lineitems of one brand's parts whose quantity
    * is under 20% of that part's average quantity. The spec form re-scans
    * lineitem per outer row (the oracle runs exactly that, twice-nested);
    * the surviving plan computes each part's (sum, count) ONCE and decides
    * the predicate with exact integer arithmetic:
    *   qty < 0.2 · (sum/cnt)  ⟺  5·qty·cnt < sum   (quantities integral)
    * so no float division can disagree between engines.
    *
    * Plan: the brand key set broadcasts and prunes the fact scan (suite
    * convention — part is a dim, q9-style), then the per-part (sum, count)
    * attaches as a WINDOW over l_partkey — the j03 scalar-attach shape:
    * ONE fact exchange, no join-back at all (the textbook agg+join rewrite
    * shuffles lineitem twice here, because column pruning specializes the
    * two exchange subtrees and defeats static exchange reuse); the final
    * aggregate is one row. Naive execution is a per-row re-scan. */
  def q17SmallQty(spark: SparkSession, dir: String): DataFrame = {
    val brandParts = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#23").select("p_partkey")
    val w = Window.partitionBy("l_partkey")
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        col("l_extendedprice"))
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .withColumn("sum_q", sum(col("qty")).over(w))
      .withColumn("cnt_q", count(lit(1)).over(w))
      .filter(col("qty") * col("cnt_q") * 5 < col("sum_q"))
      .agg((sum(dec(col("l_extendedprice"))).cast("double") / lit(7.0))
        .as("avg_yearly"))
  }

  /** Q2-shape correlated-min + join-back: for every part, the supplier
    * offering it at the minimum observed price (lineitem stands in for
    * partsupp — this schema has none), ties to the smallest suppkey. The
    * spec form is a correlated `= (SELECT MIN ...)` per outer row; the
    * surviving plan folds min-price AND the argmin supplier into ONE
    * lineitem aggregate — `min(struct(price, suppkey))` orders
    * lexicographically, so no join-back against the min even exists
    * (the textbook decorrelation still re-joins lineitem on (part, min)).
    * The price rides RAW (a stored double, no arithmetic), so the
    * argmin tie-break is bit-identical across engines. Dims broadcast. */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val best = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      .groupBy("l_partkey")
      .agg(min(struct(col("l_extendedprice").as("price"),
        col("l_suppkey").as("sk"))).as("b"))
      .select(col("l_partkey"), col("b.price").as("min_price"),
        col("b.sk").as("s_suppkey"))
    best
      .join(broadcast(Tables.part(spark, dir)
        .select("p_partkey", "p_brand")), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select("s_suppkey", "s_name", "s_nationkey")), Seq("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select("n_nationkey", "n_name")), col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("p_brand"), col("s_name"), col("n_name"),
        col("min_price"))
      .orderBy(col("min_price").desc, col("p_partkey"))
      .limit(100)
  }

  /** Q15-shape view + global max with ties kept: the supplier(s) whose
    * 1996-Q1 revenue equals the maximum such revenue — Q15's one subtlety
    * is that the max can tie and every winner must surface. The per-
    * supplier rollup is one lineitem shuffle (decimal-exact revenue); the
    * max is a 1-ROW scalar aggregate broadcast back over the rollup —
    * never a window over an unpartitioned supplier frame, which would
    * funnel a corpus-scaled table through one task at 100 TB. Revenue
    * equality compares the decimal sums themselves (exact in both
    * engines); the double cast happens only at the output boundary. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    // cached: the rollup feeds BOTH the scalar max and the winner filter —
    // uncached, column pruning specializes the two subtrees (the q17
    // exchange-reuse lesson) and lineitem is scanned and shuffled twice
    val rev = graft.util.Caches.materialize(Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1996-04-01"))
      .groupBy("l_suppkey")
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
        .as("rev")))
    val top = rev.agg(max(col("rev")).as("mx"))
    rev.join(broadcast(top), col("rev") === col("mx"))
      .join(broadcast(Tables.supplier(spark, dir).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev").cast(DecimalType(38, 4)).cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** Q22-shape anti join + scalar-average subquery: nations of "rich but
    * inactive" customers — balance above the average POSITIVE balance,
    * and no urgent orders (the schema's stand-in for Q22's no-orders-at-
    * all, which is vacuous here: every customer has orders). Two spec
    * subqueries fold into scale-safe primitives: the scalar average is a
    * 1-row aggregate broadcast over customer with the comparison in
    * EXACT arithmetic (bal·n > Σbal — no decimal division whose rounding
    * the engines could disagree on), and NOT EXISTS is a left-anti join
    * against the distinct urgent-customer keys. One customer-side
    * shuffle for the anti join, nation broadcast, 25-row aggregate. */
  def q22InactiveRich(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val stats = cust.filter(col("c_acctbal") > 0)
      .agg(sum(dec(col("c_acctbal"))).as("s"), count(lit(1)).as("n"))
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey")).distinct()
    cust.crossJoin(broadcast(stats))
      .filter(dec(col("c_acctbal")) * col("n") > col("s"))
      .join(urgent, Seq("c_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, dir)
        .select("n_nationkey", "n_name")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("numcust"),
        sum(dec(col("c_acctbal"))).cast(DecimalType(38, 4)).cast("double")
          .as("totacctbal"))
      .orderBy("n_name")
  }

  /** Q14-shape conditional fraction: the share of one month's revenue that
    * came from PROMO-type parts — numerator and denominator are decimal
    * sums over the SAME joined frame (one pass, map-side partials), and
    * the percentage is one double division of two decimal-exact values, so
    * both engines compute the identical IEEE result. Part broadcasts;
    * the date filter pushes to the lineitem scan. */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val rev = dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-03-01") &&
        col("l_shipdate") < lit("1996-04-01"))
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) *
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0))).cast(DecimalType(38, 4)).cast("double") /
        sum(rev).cast(DecimalType(38, 4)).cast("double")).as("promo_revenue"))
  }

  /** Q19-shape disjunctive-predicate join: revenue from three brand ×
    * size-range × quantity-range bundles, OR'ed together. The scale point
    * is that the OR block must stay a RESIDUAL on an equi join — the
    * partkey equality is common to every disjunct, so the plan is one
    * broadcast hash join with the disjunction evaluated post-match
    * (PlanSpec-pinned); an engine that can't factor the conjunction out
    * of the OR falls into a cartesian. One row out. */
  def q19DiscountedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"))
    val pt = Tables.part(spark, dir).select("p_partkey", "p_brand", "p_size")
    val bundle =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    li.join(broadcast(pt), col("l_partkey") === col("p_partkey") && bundle)
      .agg(Aggregates.sumMoney(
        dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
        .as("revenue"))
  }

  /** Q6-shape forecast-revenue filter-sum: one scan, zero joins — the whole
    * query is a pushed-down predicate bundle and one decimal sum. At 100 TB
    * the plan IS the scan: the date/discount/quantity filters reach the
    * parquet reader (PushedFilters), partial aggregation leaves one 1-row
    * partial per task, and only those partials shuffle. */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(Aggregates.sumMoney(dec(col("l_extendedprice")) * dec(col("l_discount")))
        .as("revenue"))

  /** Q7-shape volume shipping: revenue flow between two nations by ship
    * year, both directions. The spec's nation-pair disjunction factors into
    * single-nation prefilters on each broadcast dim chain — suppliers and
    * customers outside the pair never reach the fact join — plus a cheap
    * "different endpoints" residual, so the only shuffle is lineitem⋈orders,
    * already thinned map-side to the two nations' suppliers. */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .filter(col("n_name").isin("NATION_3", "NATION_9"))
      .select("n_nationkey", "n_name")
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        col("l_extendedprice"), col("l_discount"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(Aggregates.sumMoney(
        dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Q8-shape national market share: of the ECONOMY-part revenue sold to one
    * region's customers over two years, the fraction supplied by one nation,
    * per order year. The share is two decimal sums over ONE joined pass (a
    * conditional numerator, the q14 discipline) divided once in double at
    * the output boundary. The dim chain (part filter, supplier→nation,
    * customer→nation→region) broadcasts and prunes the fact stream before
    * its only shuffle — the q9 contract, PlanSpec-pinned. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_type") === "ECONOMY").select("p_partkey")
    val suppN = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    val regionCust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey")),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
    val rev = dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(regionCust), col("o_custkey") === col("c_custkey"))
      .groupBy("o_year")
      .agg((sum(when(col("supp_nation") === "NATION_3", rev).otherwise(lit(0)))
        .cast(DecimalType(38, 4)).cast("double") /
        sum(rev).cast(DecimalType(38, 4)).cast("double")).as("mkt_share"))
      .orderBy("o_year")
  }

  /** Q10-shape returned items: the 20 customers with the most revenue lost
    * to returns in one quarter. The return-flag filter pushes to the
    * lineitem scan, orders is date-pruned before the fact join, and the
    * per-customer rollup happens on the fact key BEFORE customer/nation
    * attach (broadcast onto an already-reduced frame) — at 100 TB nothing
    * wider than (custkey, revenue) survives the shuffle. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val cust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "c_name", "c_acctbal", "n_name")
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(Aggregates.sumMoney(
        dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))).as("revenue"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Q11-shape important stock (lineitem stands in for the schema's missing
    * partsupp): parts whose supply value from one nation's suppliers exceeds
    * a fixed fraction of that nation's total. The scalar subquery is a 1-ROW
    * aggregate over the cache-shared per-part rollup broadcast back (the
    * q15/q22 pattern) — never an unpartitioned window. The HAVING comparison
    * runs in exact INTEGER cents (value_c·10⁴ > Σvalue_c, both BIGINT:
    * cents·quantity sums stay < 2⁶³ up to ~3·10¹⁸ cents ≈ 10¹² fact rows —
    * and no decimal/double rounding the engines could disagree on). */
  def q11ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    val natSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    // exact integer carrier: 2-decimal price → cents (decimal-exact cast,
    // then an exact long), × integral quantity
    val cents = (dec(col("l_extendedprice")) * lit(100)).cast("long") *
      col("l_quantity").cast("long")
    val sv = graft.util.Caches.materialize(Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_partkey"), cents.as("cents"))
      .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey")
      .agg(sum(col("cents")).as("value_c")))
    val total = sv.agg(sum(col("value_c")).as("total_c"))
    sv.crossJoin(broadcast(total))
      .filter(col("value_c") * lit(10000L) > col("total_c"))
      .select(col("l_partkey").as("p_partkey"),
        (col("value_c").cast("double") / lit(100.0)).as("part_value"))
      .orderBy(col("part_value").desc, col("p_partkey"))
  }

  /** Q12-shape shipmode priority (schema analog: l_returnflag stands in for
    * the missing l_shipmode, and "late" = shipped more than 60 days after
    * the order date, echoing Q12's commit/receipt-date comparisons):
    * conditional high/low-priority line counts per class over ONE
    * lineitem⋈orders join, the lateness predicate a residual on the equi
    * join — never a band join. 3-row output. */
  def q12ShipmodePriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select("l_orderkey", "l_returnflag", "l_shipdate")
      .join(ord, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_returnflag").as("ship_class"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("ship_class")
  }

  /** J10 (extension): SCD2 point-in-time lookup — the consumption side of
    * the [[Aggregates.scd2]] dimension build: each purchase event is
    * enriched with the dimension version valid AT its event time. Because
    * SCD2 intervals are non-overlapping and contiguous per key, the
    * `[valid_from, valid_to)` range probe degenerates to a backward as-of
    * join on `valid_from` — so the whole lookup rides [[AsOf.joinAsOf]]'s
    * single-shuffle union+window plan instead of a range join (which Spark
    * would plan as a per-key band join). At 100 TB both the dimension build
    * and the lookup shuffle once on the same key (user_id); no interval
    * explosion, no BNLJ. Ties on valid_from (two change rows at one
    * timestamp) resolve to the highest version on both engines. */
  def j10Scd2Lookup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val dim = Aggregates.scd2(e)
      .select(col("user_id"), col("valid_from"), col("version"),
        col("event_type").as("state"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    AsOf.joinAsOf(purchases, dim, Seq("user_id"), "ts", "valid_from",
        payload = Seq("version", "state"), prefix = "dim_",
        tieBreak = Some("version"))
      .select(col("event_id"), col("user_id"), col("dim_version").as("version"),
        col("dim_state").as("state"))
      .orderBy("event_id")
  }

  /** j12: FULL OUTER reconciliation — the one join type no other query
    * reaches. Period-over-period customer spend (1996 vs 1999): each side
    * is a per-customer aggregate, the full outer join keeps customers
    * active in EITHER period, and the presence tag ('both' / '1996_only' /
    * '1999_only') is read off the pre-coalesce null pattern — the standard
    * ledger-reconciliation / snapshot-diff shape. One shuffle on the
    * customer key for both aggregates AND the join (Spark reuses the
    * hash partitioning); sums ride the decimal carrier, deltas are exact
    * decimal differences cast to double at the boundary. */
  def j12FullOuterRecon(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def spendIn(y: Int) = o
      .filter(year(col("o_orderdate")) === y)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as(s"n_$y"),
        sum(Aggregates.dec(col("o_totalprice"))).as(s"s_$y"))
    val a = spendIn(1996)
    val b = spendIn(1999)
    val zero = lit(0).cast(DecimalType(28, 4))
    a.join(b, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        when(col("n_1996").isNull, "1999_only")
          .when(col("n_1999").isNull, "1996_only")
          .otherwise("both").as("presence"),
        coalesce(col("n_1996"), lit(0L)).as("n_1996"),
        coalesce(col("n_1999"), lit(0L)).as("n_1999"),
        coalesce(col("s_1996"), zero).cast("double").as("spend_1996"),
        coalesce(col("s_1999"), zero).cast("double").as("spend_1999"),
        (coalesce(col("s_1999"), zero) - coalesce(col("s_1996"), zero))
          .cast("double").as("delta"))
      .orderBy("o_custkey")
  }

  /** Q4-shape EXISTS-with-aggregate: order-priority counts over a date
    * window, keeping only orders with at least one returned line (this
    * schema's stand-in for Q4's `l_commitdate < l_receiptdate` — same
    * correlated-EXISTS structure). The decorrelated plan is a LEFT SEMI
    * join on the order key: lineitem's predicate pushes to the scan, the
    * key set is distinct-projected BEFORE the join (semi join needs no
    * payload), and the final aggregate is 5 rows. At 100 TB: one shuffle
    * of each fact on o_orderkey, no join-back, no re-scan per outer row. */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1996-07-01"))
      .select(col("o_orderkey"), col("o_orderpriority"))
    val ret = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R").select("l_orderkey")
    ord.join(ret, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** The NOT-EXISTS twin of [[q4OrderPriority]] — the anti-join-with-agg
    * decorrelation shape the EXISTS form never exercises: orders in the
    * window with NO returned line at all. Identical one-pass scale story;
    * Spark plans the NOT EXISTS as a LEFT ANTI join on the same key. */
  def q4bPriorityClean(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1996-07-01"))
      .select(col("o_orderkey"), col("o_orderpriority"))
    val ret = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R").select("l_orderkey")
    ord.join(ret, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Q16-shape nested-distinct + NOT IN: distinct supplier count per part
    * descriptor, over the (part, supplier) relationships implied by
    * lineitem (this schema has no partsupp), excluding one brand, one type
    * family, a size list, and every "complaint" supplier (negative account
    * balance) via NOT IN. Scale shape: the pair-distinct collapses
    * lineitem to ≤ |part|·|supplier| rows BEFORE any join (one shuffle on
    * the pair), part's predicates push to its scan and the filtered part
    * table broadcasts, the complaint exclusion is a broadcast ANTI join
    * (never a per-row subquery), and count(DISTINCT) runs on the already
    * pair-distinct frame. */
  def q16SupplierCnt(spark: SparkSession, dir: String): DataFrame = {
    val sizes = Seq(1, 4, 9, 14, 19, 23, 36, 45)
    val pairs = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey").distinct()
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#45" &&
        !col("p_type").like("MEDIUM%") && col("p_size").isin(sizes: _*))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val complaints = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey").as("l_suppkey"))
    pairs.join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(complaints), Seq("l_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** Q20-shape nested semi over a grouped HAVING subquery: suppliers in one
    * nation who shipped MORE than half of their lifetime volume of some
    * 'small%' part during 1996 (the schema's stand-in for Q20's
    * availqty > ½·yearly-shipped — same IN (SELECT … GROUP BY … HAVING)
    * nesting). The half comparison is kept in integers (2·q96 > q_all) so
    * both engines decide ties identically. Scale shape: part's name filter
    * broadcasts into lineitem, ONE shuffle on (l_suppkey, l_partkey) for
    * the rollup, the qualifying supplier set is distinct-projected and
    * semi-joined (AQE broadcasts it — it is ≤ |supplier| by construction),
    * and nation broadcasts into supplier. */
  def q20ExcessSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val pk = Tables.part(spark, dir)
      .filter(col("p_name").like("small%")).select("p_partkey")
    val qual = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("qty"), col("l_shipdate"))
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      .groupBy("l_suppkey", "l_partkey")
      .agg(
        sum(when(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"), col("qty")).otherwise(0L)).as("q96"),
        sum(col("qty")).as("q_all"))
      .filter(col("q96") * 2 > col("q_all"))
      .select("l_suppkey").distinct()
    val nat = Tables.nation(spark, dir)
      .filter(col("n_name") === "NATION_3").select("n_nationkey")
    Tables.supplier(spark, dir)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(qual, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q4_order_priority" -> (q4OrderPriority _),
    "q4b_priority_clean" -> (q4bPriorityClean _),
    "q16_supplier_cnt" -> (q16SupplierCnt _),
    "q20_excess_suppliers" -> (q20ExcessSuppliers _),
    "j12_full_outer_recon" -> (j12FullOuterRecon _),
    "j06_asof_join" -> (j06AsOfJoin _),
    "j10_scd2_lookup" -> (j10Scd2Lookup _),
    "j01_exact_enrich" -> (j01ExactEnrich _),
    "j02_twophase_enrich" -> (j02TwoPhaseEnrich _),
    "j02b_normalized_enrich" -> (j02bNormalizedEnrich _),
    "j03_group_scalar_attach" -> (j03GroupScalarAttach _),
    "j04_band_join" -> (j04BandJoin _),
    "j05_exists_probe" -> (j05ExistsProbe _),
    "j07_bloom_semi" -> (j07BloomSemi _),
    "j06b_asof_forward" -> (j06bAsOfForward _),
    "j08_interval_overlap" -> (j08IntervalOverlap _),
    "j09_fuzzy_pairs" -> (j09FuzzyPairs _),
    "q5_local_supplier" -> (q5LocalSupplier _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q9_profit_by_nation" -> (q9ProfitByNation _),
    "q18_big_orders" -> (q18BigOrders _),
    "q21_waiting_suppliers" -> (q21WaitingSuppliers _),
    "q13_cust_dist" -> (q13CustDist _),
    "q17_small_qty" -> (q17SmallQty _),
    "q2_min_cost_supplier" -> (q2MinCostSupplier _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q22_inactive_rich" -> (q22InactiveRich _),
    "q14_promo_revenue" -> (q14PromoRevenue _),
    "q19_discounted_revenue" -> (q19DiscountedRevenue _),
    "q6_forecast_revenue" -> (q6ForecastRevenue _),
    "q7_volume_shipping" -> (q7VolumeShipping _),
    "q8_market_share" -> (q8MarketShare _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "q11_important_stock" -> (q11ImportantStock _),
    "q12_shipmode_priority" -> (q12ShipmodePriority _)
  )

  def oracle: Map[String, String] = Map(
    // q4/q4b/q16/q20 oracles run the LITERAL correlated/nested forms — the
    // engine side runs the decorrelated semi/anti-join plans, so a hash
    // match proves the rewrite preserves the spec's semantics.
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q4b_priority_clean" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey
        |                    AND l.l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT ps.l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON p_partkey = ps.l_partkey
        |WHERE p_brand <> 'Brand#45' AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |  AND ps.l_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q20_excess_suppliers" ->
      """SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON n_nationkey = s_nationkey
        |WHERE n_name = 'NATION_3'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
        |    WHERE p_name LIKE 'small%'
        |    GROUP BY l_suppkey, l_partkey
        |    HAVING 2 * sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
        |                         AND l_shipdate < TIMESTAMP '1997-01-01'
        |                        THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
        |         > sum(CAST(l_quantity AS BIGINT)))
        |ORDER BY s_suppkey""".stripMargin,
    "j12_full_outer_recon" ->
      """WITH a AS (
        |  SELECT o_custkey, COUNT(*) AS n_1996,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS s_1996
        |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY o_custkey),
        |b AS (
        |  SELECT o_custkey, COUNT(*) AS n_1999,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS s_1999
        |  FROM orders WHERE year(o_orderdate) = 1999 GROUP BY o_custkey)
        |SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
        |  CASE WHEN a.o_custkey IS NULL THEN '1999_only'
        |       WHEN b.o_custkey IS NULL THEN '1996_only'
        |       ELSE 'both' END AS presence,
        |  CAST(COALESCE(n_1996, 0) AS BIGINT) AS n_1996,
        |  CAST(COALESCE(n_1999, 0) AS BIGINT) AS n_1999,
        |  CAST(COALESCE(s_1996, 0) AS DOUBLE) AS spend_1996,
        |  CAST(COALESCE(s_1999, 0) AS DOUBLE) AS spend_1999,
        |  CAST(COALESCE(s_1999, 0) - COALESCE(s_1996, 0) AS DOUBLE) AS delta
        |FROM a FULL JOIN b ON a.o_custkey = b.o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "j10_scd2_lookup" ->
      """WITH c AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |chg AS (
        |  SELECT user_id, ts, event_id, event_type FROM c
        |  WHERE prev_type IS NULL OR prev_type <> event_type),
        |dim AS (
        |  SELECT user_id, event_type AS state,
        |    row_number() OVER w AS version, ts AS valid_from
        |  FROM chg
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT p.event_id, d.version, d.state,
        |    row_number() OVER (PARTITION BY p.event_id
        |                       ORDER BY d.valid_from DESC, d.version DESC) AS rk
        |  FROM p JOIN dim d ON d.user_id = p.user_id AND d.valid_from <= p.ts)
        |SELECT p.event_id, p.user_id, m.version, m.state
        |FROM p LEFT JOIN m ON m.event_id = p.event_id AND m.rk = 1
        |ORDER BY p.event_id""".stripMargin,
    "j06b_asof_forward" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |m AS (
        |  SELECT p.event_id, c.event_id AS next_click_id,
        |    epoch_us(c.ts) - epoch_us(p.ts) AS gap_us,
        |    row_number() OVER (PARTITION BY p.event_id
        |                       ORDER BY c.ts, c.event_id DESC) AS rk
        |  FROM p JOIN c ON c.user_id = p.user_id AND c.ts >= p.ts)
        |SELECT p.event_id, p.user_id, m.next_click_id, m.gap_us
        |FROM p LEFT JOIN m ON m.event_id = p.event_id AND m.rk = 1
        |ORDER BY p.event_id""".stripMargin,
    "j08_interval_overlap" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 600000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g),
        |iv AS (
        |  SELECT user_id, session_id,
        |    min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
        |  FROM s GROUP BY user_id, session_id)
        |SELECT a.user_id AS a_user, a.session_id AS a_session,
        |  b.user_id AS b_user, b.session_id AS b_session,
        |  least(a.t1, b.t1) - greatest(a.t0, b.t0) AS overlap_us
        |FROM iv a JOIN iv b
        |  ON a.user_id < b.user_id AND a.t0 <= b.t1 AND b.t0 <= a.t1
        |ORDER BY a_user, a_session, b_user, b_session""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |               CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |               CAST(1 - l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
        |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_9')
        |    OR (n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_3'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q8_market_share" ->
      """SELECT o_year,
        |  CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0 END) AS DECIMAL(38,4)) AS DOUBLE) /
        |  CAST(CAST(SUM(vol) AS DECIMAL(38,4)) AS DOUBLE) AS mkt_share
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4)) AS vol,
        |    n2.n_name AS supp_nation
        |  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
        |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND l_orderkey = o_orderkey
        |    AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
        |    AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |    AND s_nationkey = n2.n_nationkey
        |    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |    AND p_type = 'ECONOMY') t
        |GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |               CAST(1 - l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    // exact integer-cents arithmetic on both sides: value_c·10⁴ > Σvalue_c,
    // no decimal/double rounding an engine could disagree on (DuckDB's SUM
    // over BIGINT widens to HUGEINT — cast back; the decimal→BIGINT cents
    // cast is exact because prices carry 2 decimals)
    "q11_important_stock" ->
      """WITH sv AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT) *
        |             CAST(l_quantity AS BIGINT)) AS BIGINT) AS value_c
        |  FROM lineitem, supplier, nation
        |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
        |  GROUP BY l_partkey)
        |SELECT l_partkey AS p_partkey,
        |  CAST(value_c AS DOUBLE) / 100.0 AS part_value
        |FROM sv
        |WHERE value_c * 10000 > (SELECT CAST(SUM(value_c) AS BIGINT) FROM sv)
        |ORDER BY part_value DESC, p_partkey""".stripMargin,
    "q12_shipmode_priority" ->
      """SELECT l_returnflag AS ship_class,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem, orders
        |WHERE l_orderkey = o_orderkey
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
        |GROUP BY ship_class ORDER BY ship_class""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                 CAST(1 - l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4))
        |       AS DOUBLE) AS revenue
        |FROM lineitem, orders, customer, supplier, nation, region
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                 CAST(1 - l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4))
        |       AS DOUBLE) AS revenue
        |FROM lineitem, orders, customer
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-06-01'
        |  AND l_shipdate > TIMESTAMP '1996-06-01'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "j06_asof_join" ->
      """SELECT p.event_id, p.user_id, c.event_id AS last_click_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (
        |  SELECT * FROM events WHERE event_type = 'click'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1) c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    "q9_profit_by_nation" ->
      """SELECT r_name, n_name,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                 CAST(1 - l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4))
        |       AS DOUBLE) AS revenue,
        |  CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4)) *
        |                 CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4))
        |       AS DOUBLE) AS supply_cost,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                 CAST(1 - l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) -
        |       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4)) *
        |                 CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4))
        |       AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY r_name, n_name, o_year
        |ORDER BY r_name, n_name, o_year""".stripMargin,
    "q18_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS BIGINT)) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 250)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS o_totalprice,
        |  CAST(total_qty AS BIGINT) AS total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    // The literal correlated EXISTS / NOT-EXISTS form — the oracle replays
    // the SPEC, not the decorrelated plan, so the single-pass rewrite above
    // is cross-checked against the subquery semantics it claims to equal.
    "q21_waiting_suppliers" ->
      """SELECT n_name, s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey
        |  AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |  AND s_nationkey = n_nationkey
        |GROUP BY n_name, s_name
        |ORDER BY numwait DESC, n_name, s_name
        |LIMIT 100""".stripMargin,
    // the literal Q13 form: ON-clause filter inside the LEFT OUTER join —
    // the zero bucket comes from join misses, which a WHERE would delete
    "q13_cust_dist" ->
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM (
        |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // the literal correlated form: the per-part average re-derived per
    // outer row; the 0.2·avg predicate spelled in exact integer arithmetic
    // (5·qty·cnt < sum) so no float division can disagree between engines
    "q17_small_qty" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey
        |  AND p_brand = 'Brand#23'
        |  AND 5 * CAST(l_quantity AS BIGINT) *
        |      (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        |    < (SELECT SUM(CAST(l_quantity AS BIGINT)) FROM lineitem l2
        |       WHERE l2.l_partkey = p_partkey)""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT 100.0 *
        |  CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))
        |    ELSE 0 END) AS DECIMAL(38,4)) AS DOUBLE) /
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE)
        |  AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= '1996-03-01' AND l_shipdate < '1996-04-01'""".stripMargin,
    "q19_discounted_revenue" ->
      """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    // the literal Q2 form: a correlated = (SELECT MIN ...) per outer row
    "q2_min_cost_supplier" ->
      """SELECT p_partkey, p_brand, s_name, n_name, min_price
        |FROM (
        |  SELECT l.l_partkey, l.l_extendedprice AS min_price,
        |         MIN(l.l_suppkey) AS s_suppkey
        |  FROM lineitem l
        |  WHERE l.l_extendedprice = (
        |    SELECT MIN(l2.l_extendedprice) FROM lineitem l2
        |    WHERE l2.l_partkey = l.l_partkey)
        |  GROUP BY l.l_partkey, l.l_extendedprice) best
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier USING (s_suppkey)
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY min_price DESC, p_partkey
        |LIMIT 100""".stripMargin,
    // the literal Q15 view-over-max form; ties kept by construction
    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS rev
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |  CAST(CAST(rev AS DECIMAL(38,4)) AS DOUBLE) AS total_revenue
        |FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev = (SELECT MAX(rev) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    // the literal Q22 form: scalar-avg subquery spelled in the SAME exact
    // arithmetic (bal·n > Σbal) so no decimal-division rounding can
    // disagree, plus NOT EXISTS for the inactivity test
    "q22_inactive_rich" ->
      """WITH pos AS (
        |  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS s, COUNT(*) AS n
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS totacctbal
        |FROM customer, nation, pos
        |WHERE c_nationkey = n_nationkey
        |  AND CAST(c_acctbal AS DECIMAL(18,4)) * pos.n > pos.s
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "j01_exact_enrich" ->
      """SELECT p_brand, COUNT(*) AS n_items,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "j02_twophase_enrich" ->
      """WITH facts AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN 'Customer#' || lpad(CAST(o_custkey AS VARCHAR), 9, '0')
        |         WHEN o_orderkey % 3 = 1 THEN lpad(CAST(o_custkey AS VARCHAR), 7, '0')
        |         ELSE 'UNKNOWN-' || CAST(o_orderkey AS VARCHAR) END AS vendor
        |  FROM orders),
        |exact AS (
        |  SELECT f.o_orderkey, f.vendor, c.c_custkey, c.c_mktsegment
        |  FROM facts f LEFT JOIN customer c ON f.vendor = c.c_name),
        |hits AS (
        |  SELECT o_orderkey, vendor, c_custkey AS matched_custkey,
        |         c_mktsegment AS matched_segment, 'exact' AS match_type
        |  FROM exact WHERE c_custkey IS NOT NULL),
        |misses AS (SELECT o_orderkey, vendor FROM exact WHERE c_custkey IS NULL),
        |fz AS (
        |  SELECT m.o_orderkey, m.vendor, c.c_custkey, c.c_mktsegment,
        |         row_number() OVER (PARTITION BY m.o_orderkey ORDER BY c.c_custkey) AS rn
        |  FROM misses m LEFT JOIN customer c
        |    ON contains(lower(c.c_name), lower(m.vendor)))
        |SELECT * FROM hits
        |UNION ALL
        |SELECT o_orderkey, vendor, c_custkey AS matched_custkey,
        |       c_mktsegment AS matched_segment,
        |       CASE WHEN c_custkey IS NOT NULL THEN 'fuzzy' ELSE 'none' END AS match_type
        |FROM fz WHERE rn = 1
        |ORDER BY o_orderkey""".stripMargin,
    // the normalization fold inlined as the same regex chain on both sides
    "j02b_normalized_enrich" ->
      """WITH facts AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN '  ' || upper('Customer#' || lpad(CAST(o_custkey AS VARCHAR), 9, '0')) || '*TXN' || CAST(o_orderkey AS VARCHAR)
        |         WHEN o_orderkey % 3 = 1 THEN lpad(CAST(o_custkey AS VARCHAR), 7, '0') || '*POS-' || CAST(o_orderkey % 97 AS VARCHAR)
        |         ELSE 'UNKNOWN-' || CAST(o_orderkey AS VARCHAR) || '*X' END AS vendor
        |  FROM orders),
        |nf AS (
        |  SELECT o_orderkey, vendor,
        |    trim(regexp_replace(regexp_replace(lower(vendor), '\*.*$', ''),
        |      '[^a-z0-9]+', ' ', 'g')) AS vendor_norm
        |  FROM facts),
        |nd AS (
        |  SELECT c_custkey, c_mktsegment,
        |    trim(regexp_replace(regexp_replace(lower(c_name), '\*.*$', ''),
        |      '[^a-z0-9]+', ' ', 'g')) AS c_name_norm
        |  FROM customer),
        |exact AS (
        |  SELECT f.o_orderkey, f.vendor, f.vendor_norm, c.c_custkey, c.c_mktsegment
        |  FROM nf f LEFT JOIN nd c ON f.vendor_norm = c.c_name_norm),
        |hits AS (
        |  SELECT o_orderkey, vendor, vendor_norm, c_custkey AS matched_custkey,
        |         c_mktsegment AS matched_segment, 'exact' AS match_type
        |  FROM exact WHERE c_custkey IS NOT NULL),
        |misses AS (SELECT o_orderkey, vendor, vendor_norm FROM exact WHERE c_custkey IS NULL),
        |fz AS (
        |  SELECT m.o_orderkey, m.vendor, m.vendor_norm, c.c_custkey, c.c_mktsegment,
        |         row_number() OVER (PARTITION BY m.o_orderkey ORDER BY c.c_custkey) AS rn
        |  FROM misses m LEFT JOIN nd c
        |    ON contains(c.c_name_norm, m.vendor_norm))
        |SELECT * FROM hits
        |UNION ALL
        |SELECT o_orderkey, vendor, vendor_norm, c_custkey AS matched_custkey,
        |       c_mktsegment AS matched_segment,
        |       CASE WHEN c_custkey IS NOT NULL THEN 'fuzzy' ELSE 'none' END AS match_type
        |FROM fz WHERE rn = 1
        |ORDER BY o_orderkey""".stripMargin,
    "j03_group_scalar_attach" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(o_totalprice AS DECIMAL(18,4)) * COUNT(*) OVER w
        |    > SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS above_avg
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey)
        |ORDER BY o_orderkey""".stripMargin,
    "j04_band_join" ->
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'error' AND b.event_type = 'click'
        | AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 2 HOUR
        |ORDER BY a_id, b_id""".stripMargin,
    "j07_bloom_semi" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l_orderkey AND o_totalprice > 450000.0)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "j09_fuzzy_pairs" ->
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part)
        |SELECT a.name AS a_name, b.name AS b_name,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM n a JOIN n b ON a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 2
        |ORDER BY a_name, b_name""".stripMargin,
    "j05_exists_probe" ->
      """SELECT e.event_id, e.user_id FROM events e
        |WHERE e.event_type = 'error' AND EXISTS (
        |  SELECT 1 FROM events c
        |  WHERE c.event_type = 'click' AND c.user_id = e.user_id
        |    AND abs(epoch_us(c.ts) - epoch_us(e.ts)) <= 3600000000)
        |ORDER BY e.event_id""".stripMargin
  )
}
