package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Enrichment semantics (J1+J2+O3) vs a direct transcription of the
  * reference loop (main.py:94-101 → database.py:83-126), plus q-gram
  * candidate equivalence with the naive ranked theta join. */
class EnrichmentSpec extends SparkSpec {
  import spark.implicits._

  // vendor_mappings fixture (FIXTURES.md A3): exact, fuzzy single, fuzzy
  // multi-candidate (tie → lowest id), and no-match cases.
  val mappings = Seq(
    (1L, "AMAZON MKTPL", "51000", "01", "100", "2001", "200"),
    (2L, "STARBUCKS COFFEE #1234", "52000", "02", "101", "2002", "201"),
    (3L, "THE HOME DEPOT STORE", "53000", "03", "102", "2003", "202"),
    (4L, "HOME DEPOT RENTAL", "54000", "04", "103", "2004", "203"),
    (5L, "ZCASE Mixed UPPER lower", "55000", "05", "104", "2005", "204")
  ).toDF("id", "vendor", "gl_account", "location", "program", "funder", "department")

  val txns = Seq(
    (10L, "AMAZON MKTPL"),        // exact hit
    (11L, "STARBUCKS COFFEE"),    // fuzzy: mapping 2 contains it
    (12L, "HOME DEPOT"),          // fuzzy: mappings 3 AND 4 contain it → id 3 wins
    (13L, "UNKNOWN VENDOR LLC"),  // none
    (14L, "mixed upper"),         // fuzzy case-insensitive → id 5
    (15L, "ab")                   // short (< Q): exercises short-key fallback; no match
  ).toDF("txn_id", "vendor")

  /** The reference loop, verbatim semantics, driver-side: mapping `id`
    * by fact id, plus the match type (a null key matches nothing). */
  def referenceEnrich(maps: DataFrame = mappings,
                      facts: DataFrame = txns): Map[Long, (Option[Long], String)] = {
    val dims = maps.orderBy("id").select("id", "vendor").as[(Long, String)].collect()
    facts.select("txn_id", "vendor").as[(Long, String)].collect().map {
      case (tid, null) => tid -> (None, "none")
      case (tid, vendor) =>
        val exact = dims.find(_._2 == vendor)
        val hit = exact.map((_, "exact")).orElse(
          dims.find(m => m._2.toLowerCase.contains(vendor.toLowerCase)).map((_, "fuzzy")))
        tid -> (hit.map(_._1._1), hit.map(_._2).getOrElse("none"))
    }.toMap
  }

  test("twoPhase matches the reference loop on every case") {
    val got = Enrichment.twoPhase(txns, mappings, "txn_id", "vendor", "id", "vendor",
        Seq("gl_account", "location", "program", "funder", "department"))
      .select("txn_id", "gl_account", "match_type")
      .collect().map(r => r.getLong(0) -> (Option(r.getString(1)), r.getString(2))).toMap
    val want = referenceEnrich().map { case (tid, (mid, mt)) =>
      tid -> (mid.map(id => s"5${id}000"), mt)
    }
    assert(got.keySet === want.keySet)
    for ((tid, (gl, mt)) <- want) {
      assert(got(tid)._2 === mt, s"match_type for txn $tid")
      assert(got(tid)._1 === gl, s"gl_account for txn $tid")
    }
  }

  test("fuzzy tie-break picks the lowest mapping id") {
    val row = Enrichment.twoPhase(txns, mappings, "txn_id", "vendor", "id", "vendor",
        Seq("gl_account")).filter($"txn_id" === 12L).collect().head
    assert(row.getAs[String]("gl_account") === "53000") // id 3, not 4
    assert(row.getAs[String]("match_type") === "fuzzy")
  }

  test("normalizeVendor folds real card-processor noise (goldens)") {
    def norm(s: String): String =
      Seq(s).toDF("v").select(Enrichment.normalizeVendor(col("v")))
        .head.getString(0)
    // the canonical dirty strings: star-suffixed transaction codes, case
    // noise, punctuation, doubled/stray whitespace — hand-computed goldens
    assert(norm("AMZN Mktp US*1X2Y3") === "amzn mktp us")
    assert(norm("SQ *COFFEE  BAR") === "sq")
    assert(norm("STARBUCKS COFFEE #1234") === "starbucks coffee 1234")
    assert(norm("  The-Home.Depot  STORE ") === "the home depot store")
    assert(norm("PAYPAL *GRUBHUB FOOD") === "paypal")
    assert(norm("Customer#000000042") === "customer 000000042")
    // idempotent: the fold is a fixed point of itself
    for (s <- Seq("AMZN Mktp US*1X2Y3", "STARBUCKS COFFEE #1234",
      "  The-Home.Depot  STORE "))
      assert(norm(norm(s)) === norm(s), s)
  }

  test("normalized two-phase enrichment matches messy vendors plain contains cannot") {
    // messy facts: every one defeats raw equality AND raw lower-contains,
    // but lands after normalization on both sides
    val messyTxns = Seq(
      (20L, "AMAZON  MKTPL*US1Z"),       // exact after fold (star code cut)
      (21L, "starbucks-coffee #1234*9Q"),// exact after fold (case+punct)
      (22L, "HOME.DEPOT*POS7"),          // fuzzy after fold: ids 3 AND 4 → 3
      (23L, "TOTALLY UNKNOWN*X"),        // none
      (24L, "MIXED  upper*TXN")          // fuzzy after fold → id 5
    ).toDF("txn_id", "vendor")
      .withColumn("vendor_norm", Enrichment.normalizeVendor(col("vendor")))
    val dim = mappings
      .withColumn("vendor_norm", Enrichment.normalizeVendor(col("vendor")))
    // sanity: the RAW two-phase finds none of the matchable ones
    val raw = Enrichment.twoPhase(messyTxns.drop("vendor_norm"), mappings,
        "txn_id", "vendor", "id", "vendor", Seq("gl_account"))
      .filter($"match_type" =!= "none").count()
    assert(raw === 0L, "messy fixtures must defeat the un-normalized join")
    val got = Enrichment.twoPhase(messyTxns, dim, "txn_id", "vendor_norm",
        "id", "vendor_norm", Seq("gl_account"))
      .select("txn_id", "gl_account", "match_type")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2))).toSet
    assert(got === Set(
      (20L, Some("51000"), "exact"),
      (21L, Some("52000"), "exact"),
      (22L, Some("53000"), "fuzzy"), // lowest-id tie-break preserved
      (23L, None, "none"),
      (24L, Some("55000"), "fuzzy")))
  }

  test("every fact appears exactly once in the output") {
    val out = Enrichment.twoPhase(txns, mappings, "txn_id", "vendor", "id", "vendor", Seq("gl_account"))
    assert(out.count() === txns.count())
    assert(out.select("txn_id").distinct().count() === txns.count())
  }

  test("twoPhase ≡ reference loop on randomized vendor universes (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val tokens = Seq("ACME", "AMAZON", "MKTPL", "STORE", "COFFEE", "DEPOT",
      "LLC", "INC", "a1", "b2", "x")
    val genName = Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf(tokens)))
      .map(_.mkString(" "))
    val genCase = Gen.listOfN(8, genName).flatMap { dims =>
      val mixed = Gen.oneOf(
        genName,                                  // arbitrary vendor
        Gen.oneOf(dims),                          // exact-match vendor
        Gen.oneOf(dims).map(d =>                  // substring of a dim name
          d.substring(0, math.max(1, d.length / 2)).toLowerCase))
      Gen.listOfN(12, mixed).map(facts => (dims, facts))
    }
    val prop = forAll(genCase) { case (dims, factKeys) =>
      val dimDf = dims.zipWithIndex.map { case (v, i) => (i.toLong, v, s"gl$i") }
        .toDF("id", "vendor", "gl_account")
      val factDf = factKeys.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("txn_id", "vendor")
      val rows = Enrichment.twoPhase(factDf, dimDf, "txn_id", "vendor", "id", "vendor",
          Seq("gl_account")).collect()
      val got = rows.map(r => r.getLong(0) -> (Option(r.getString(2)), r.getString(3))).toMap
      // reference loop semantics, driver-side (duplicate dim keys: lowest
      // id wins, like the UNIQUE-keyed table's fetchone)
      val dimsSorted = dims.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val want = factKeys.zipWithIndex.map { case (v, i) =>
        val exact = dimsSorted.find(_._2 == v)
        val hit = exact.map(d => (d, "exact")).orElse(
          dimsSorted.find(d => d._2.toLowerCase.contains(v.toLowerCase)).map((_, "fuzzy")))
        i.toLong -> (hit.map(h => s"gl${h._1._1}"), hit.map(_._2).getOrElse("none"))
      }.toMap
      Prop(rows.length == factKeys.size && got == want) :|
        s"rows=${rows.length}/${factKeys.size} got=$got want=$want dims=$dims facts=$factKeys"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("q-gram fuzzyContains ≡ naive theta join on random-ish vendor sets") {
    // facts drawn from customer names at sf0.001: substrings + garbage
    val dim = graft.Tables.customer(spark, sf0001)
      .select(col("c_custkey").as("id"), col("c_name").as("vendor"),
        col("c_mktsegment").as("gl_account"))
    val facts = graft.Tables.orders(spark, sf0001).limit(400)
      .select(col("o_orderkey").as("txn_id"),
        when(col("o_orderkey") % 4 === 0, lpad((col("o_custkey") % 1000).cast("string"), 6, "0"))
          .when(col("o_orderkey") % 4 === 1, concat(lit("junk-"), col("o_orderkey")))
          .when(col("o_orderkey") % 4 === 2, lit("mer#0"))  // len 5 ≥ Q, common substring
          .otherwise(lit("ab"))                             // short path
          .as("vendor"))
    def rows(df: DataFrame): Set[(Long, Option[String], String)] =
      df.select("txn_id", "gl_account", "match_type").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2))).toSet
    val fast = rows(Enrichment.twoPhase(facts, dim, "txn_id", "vendor", "id", "vendor",
      Seq("gl_account")))
    // naive: broadcast theta join ranked (exact desc, id asc), then a left
    // join so that facts without a candidate count as `none`
    val naive = {
      import org.apache.spark.sql.expressions.Window
      val d = broadcast(dim.toDF("d_id", "d_vendor", "d_gl"))
      val exact = col("d_vendor") === col("vendor")
      val best = facts.join(d, contains(lower(col("d_vendor")), lower(col("vendor"))))
        .withColumn("rn", row_number().over(
          Window.partitionBy("txn_id").orderBy(exact.desc, col("d_id").asc)))
        .filter(col("rn") === 1)
        .select(col("txn_id"), col("d_gl"),
          when(exact, "exact").otherwise("fuzzy").as("mt"))
      rows(facts.join(best, Seq("txn_id"), "left")
        .select(col("txn_id"), col("d_gl").as("gl_account"),
          coalesce(col("mt"), lit("none")).as("match_type")))
    }
    assert(fast.size === 400)
    assert(fast === naive)
  }

  test("match rule edge cases: exact beats a lower id, case, duplicates, empty, null, non-ASCII") {
    val dim = Seq(
      (1L, "ACME CORP"),     // contains "ACME", but a higher id is exact
      (2L, "ACME"),
      (3L, "globex"),        // differs from id 4 only in case
      (4L, "GLOBEX"),
      (6L, "INITECH"),       // duplicated key: the lower id 5 wins
      (5L, "INITECH"),
      (7L, "CAFÉ ÉCLAIR")    // É folds to é in Java and in Spark alike
    ).toDF("id", "vendor")
      .withColumn("gl_account", concat(lit("gl"), col("id").cast("string")))
    val facts = Seq[(Long, String)](
      (10L, "ACME"),         // exact id 2, not fuzzy id 1
      (11L, "GLOBEX"),       // exact id 4, not fuzzy id 3
      (12L, "globex"),       // exact id 3
      (13L, "INITECH"),      // exact id 5
      (14L, ""),             // every key contains "": fuzzy id 1
      (15L, null),           // none
      (16L, "café éclair"),  // fuzzy id 7 through the case fold
      (17L, "éCLAIR"),       // fuzzy id 7
      (18L, "É")             // short key: fuzzy id 7
    ).toDF("txn_id", "vendor")
    val got = Enrichment.twoPhase(facts, dim, "txn_id", "vendor", "id", "vendor",
        Seq("gl_account"))
      .select("txn_id", "gl_account", "match_type")
      .collect().map(r => r.getLong(0) -> (Option(r.getString(1)), r.getString(2))).toMap
    val want = referenceEnrich(dim, facts).map { case (tid, (mid, mt)) =>
      tid -> (mid.map(id => s"gl$id"), mt)
    }
    assert(want === Map(
      10L -> (Some("gl2"), "exact"), 11L -> (Some("gl4"), "exact"),
      12L -> (Some("gl3"), "exact"), 13L -> (Some("gl5"), "exact"),
      14L -> (Some("gl1"), "fuzzy"), 15L -> (None, "none"),
      16L -> (Some("gl7"), "fuzzy"), 17L -> (Some("gl7"), "fuzzy"),
      18L -> (Some("gl7"), "fuzzy")))
    assert(got === want)
  }
}
