package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Q-gram inverted index for substring-containment joins.
  *
  * `contains(dimKey, factKey)` implies every q-gram of `factKey` occurs in
  * `dimKey`. So: index the dim side by all its q-grams, probe with ONE
  * q-gram per fact — the *least frequent* one by dim document-frequency —
  * and only verify `contains` on the surviving candidates. Facts holding a
  * q-gram absent from the entire index can match nothing and are dropped
  * before any comparison.
  *
  * Cost: |dim|·len(dimKey) index rows (built once, broadcastable for
  * user-curated dims) + per fact the document frequency of its rarest gram —
  * versus |facts|·|dim| string scans for the naive theta join. This is the
  * standard q-gram filter for substring/similarity joins and the shape that
  * survives 100 TB fact tables.
  */
object QGramIndex {
  val Q = 4

  /** All q-grams of a string column as an array (empty if len < q). */
  def qgrams(s: Column): Column =
    when(length(s) >= Q,
      array_distinct(transform(sequence(lit(1), length(s) - (Q - 1)),
        i => s.substr(i, lit(Q))))
    ).otherwise(array().cast("array<string>"))
}

/** Two-phase vendor enrichment: exact equality lookup first, then a fuzzy
  * substring-containment fallback for the misses, first-candidate-wins.
  *
  * Re-expresses the reference's per-row SQLite lookup loop
  * (main.py:94-101 → database.py:92-124) as three relational ops:
  *
  *   1. broadcast left outer equi-join (exact phase, database.py:92-97);
  *   2. broadcast theta-join `contains(lower(dimKey), lower(factKey))` on the
  *      exact-miss subset only (fuzzy phase, database.py:109-114 —
  *      `LOWER(vendor) LIKE LOWER('%' || txn || '%')`);
  *   3. deterministic first-match tie-break via `row_number` ordered by the
  *      dimension id (the reference's `fetchone()` returns SQLite scan order
  *      ≈ insertion id — we make that explicit, SURVEY.md §7.4).
  *
  * Scale: the dimension is user-curated and broadcast-size by the
  * reference's contract — but the engine no longer HINTS that (round 14,
  * measured at sf10's 1.5M-row dim): every equi join here carries no
  * static broadcast, so AQE broadcasts the dim/gram frames at runtime when
  * their MEASURED size is small (the contract case — identical physical
  * plan, PlanSpec-pinned on the final adaptive plan) and keeps a scalable
  * shuffle join when a 100×-oversized dim would have made the old hint a
  * 1.4 GB forced broadcast (the q-gram index at sf10 is 22.5M rows). The
  * one remaining hint is the short-key theta join, whose
  * BroadcastNestedLoopJoin needs a declared resident side and whose input
  * is the bounded `len < Q` tail. The exact phase still prunes the
  * expensive path, mirroring the reference's fast path. At 100 TB the
  * fuzzy slot upgrades to an LSH similarity join (graft.dedup.MinHash).
  */
object Enrichment {

  /** Vendor-string normalization for dirty-data matching (the j02b phase):
    * real card-processor strings ("AMZN Mktp US*1X2Y3", "SQ *COFFEE  BAR")
    * defeat plain `contains` with case noise, transaction codes, and
    * punctuation. The fold, applied to BOTH sides before the exact and
    * fuzzy phases (the t20 canonicalization discipline for vendor keys):
    *   1. lowercase;
    *   2. cut at the first `*` — the card-network convention separating
    *      the merchant descriptor from the store/transaction code;
    *   3. every non-alphanumeric run → one space (folds `#`, `-`, `.`,
    *      doubled spaces alike);
    *   4. trim.
    * Pure codegen projections, mirrored verbatim in the DuckDB oracle. */
  def normalizeVendor(s: Column): Column =
    trim(regexp_replace(regexp_replace(lower(s), "\\*.*$", ""),
      "[^a-z0-9]+", " "))

  /** @param facts     fact table; must contain `factId` and `factKey`
    * @param dim       broadcast-size dimension
    * @param factId    unique row id of `facts` (tie-break partition key)
    * @param factKey   join key on the fact side (e.g. vendor string)
    * @param dimId     unique, orderable id of `dim` (tie-break order)
    * @param dimKey    join key on the dim side
    * @param payload   dim columns to copy onto matched facts
    * @return facts ++ payload ++ `match_type` in {exact, fuzzy, none}
    */
  def twoPhase(facts: DataFrame, dim: DataFrame, factId: String, factKey: String,
               dimId: String, dimKey: String, payload: Seq[String]): DataFrame = {
    val dimNames = (dimId +: dimKey +: payload).distinct
    // The reference declares the mapping key UNIQUE (database.py:63); for
    // arbitrary input we impose it: lowest dimId wins per key — exactly the
    // `fetchone` scan-order rule — so the exact join can never fan a fact
    // out into multiple rows. Dim is broadcast-size; this dedup is cheap.
    val keyWins = Window.partitionBy(col(dimKey)).orderBy(col(dimId).asc)
    val dimUnique = dim.select(dimNames.map(col): _*)
      .withColumn("__kr", row_number().over(keyWins))
      .filter(col("__kr") === 1).drop("__kr")
    // Fresh attribute ids per phase (toDF re-aliases) — the two joins must
    // not share dim lineage or Catalyst sees an ambiguous self-join. No
    // static broadcast hint: AQE broadcasts a contract-size dim from its
    // runtime-measured size and keeps the shuffle join for an oversized one.
    def dimFor(phase: String): (DataFrame, String => Column) = {
      val pre = s"__${phase}_"
      val d = dimUnique.toDF(dimNames.map(pre + _): _*)
      (d, (n: String) => col(pre + n))
    }

    val (d1, e) = dimFor("e")
    // MATERIALIZED: the exact-phase join feeds FIVE consumers — the hit
    // projection, and through the miss set the fuzzy probe build, the
    // long-fact candidate join, the short-key theta join, and the final
    // left join that re-attaches the fuzzy verdicts. Unshared, each one
    // re-ran the facts scan + vendor derivation + exact join (measured at
    // sf0.1: j02b's 5 s was dominated by those repeated derivations).
    val exact = graft.util.Caches.materialize(
      facts.join(d1, facts(factKey) === e(dimKey), "left"))
    val hits = exact.filter(e(dimId).isNotNull)
      .select(facts.columns.map(col) ++ payload.map(p => e(p).as(p)) :+
        lit("exact").as("match_type"): _*)
    val misses = exact.filter(e(dimId).isNull).select(facts.columns.map(col): _*)

    // one fuzzy subtree; misses left-join it so no-match facts fall out of
    // the same pass (an anti-join against the result would re-execute the
    // whole fuzzy plan — DataFrame DAGs don't dedupe shared subtrees)
    val best = fuzzyContains(misses, dimUnique, factId, factKey, dimId, dimKey, payload)
      .withColumnRenamed("match_type", "__mt")
    val fuzzyResolved = misses
      .join(best.select((factId +: "__mt" +: payload).map(col): _*), Seq(factId), "left")
      .select(facts.columns.map(col) ++ payload.map(col) :+
        coalesce(col("__mt"), lit("none")).as("match_type"): _*)

    hits.unionByName(fuzzyResolved)
  }

  /** Fuzzy phase via [[QGramIndex]]: facts whose key is substring-contained
    * in a dim key, first dim (lowest dimId) wins. Facts shorter than Q fall
    * back to the naive broadcast theta join (bounded, rare). Returns only
    * matched facts, `match_type = "fuzzy"`. */
  def fuzzyContains(misses: DataFrame, dim: DataFrame, factId: String, factKey: String,
                    dimId: String, dimKey: String, payload: Seq[String]): DataFrame = {
    import QGramIndex.{qgrams, Q}
    val dimNames = (dimId +: dimKey +: payload).distinct
    val pre = "__fz_"
    val d = dim.select(dimNames.map(col): _*).toDF(dimNames.map(pre + _): _*)
      .withColumn("__dk", lower(col(pre + dimKey)))
    val f = (n: String) => col(pre + n)

    val missesL = misses.withColumn("__lk", lower(col(factKey)))
    val longFacts = missesL.filter(length(col("__lk")) >= Q)
    val shortFacts = missesL.filter(length(col("__lk")) < Q)

    // dim-side q-gram inverted index + document frequencies — dim-scaled
    // frames (|dim|·len rows), so no static broadcast hints anywhere on
    // this path: at contract scale AQE broadcasts them at runtime, at the
    // measured sf10 scale (22.5M gram rows off a 1.5M-row dim) the joins
    // stay shuffled instead of forcing a 1.4 GB broadcast
    // MATERIALIZED: grams feeds both the document-frequency aggregate and
    // the candidate join — unshared, the dim scan, the key-dedup window and
    // the q-gram explode ran twice (three times when AQE broadcast the df
    // aggregate). At sf10 the index is 22.5M rows, the scale where a cached
    // copy would crowd the join's sorters.
    val grams = graft.util.Caches.materialize(
      d.withColumn("__g", explode(qgrams(col("__dk")))))
    val gramDf = grams.groupBy("__g").agg(count(lit(1)).as("__df"))

    // per fact: probe with its least-frequent gram; df=0 ⇒ no match possible
    val probe = longFacts
      .select(col(factId).as("__fid"), explode(qgrams(col("__lk"))).as("__g"))
      .join(gramDf, Seq("__g"), "left")
      .na.fill(0L, Seq("__df"))
      .groupBy("__fid")
      .agg(min(struct(col("__df"), col("__g"))).as("__m"))
      .filter(col("__m.__df") > 0)
      .select(col("__fid"), col("__m.__g").as("__probe"))

    // probe is fact-sized (one row per miss) — never broadcast it; the
    // factId equi-join shuffles both fact-sized sides, which is the shape
    // that survives a fact-table scale-up
    val longCand = longFacts
      .join(probe, longFacts(factId) === col("__fid"))
      .join(grams, col("__probe") === grams("__g"))
      .filter(contains(col("__dk"), col("__lk")))
    // the short-key (< Q chars) theta join keeps its hint: a contains
    // predicate plans as BroadcastNestedLoopJoin, which NEEDS a declared
    // resident side — and this tail is the documented bounded-rare path
    val shortCand = shortFacts.join(broadcast(d), contains(col("__dk"), col("__lk")))

    val outCols = misses.columns.map(col) ++ payload.map(p => f(p).as(p)) :+
      lit("fuzzy").as("match_type")
    val firstWins = Window.partitionBy(col(factId)).orderBy(f(dimId).asc)
    longCand.select(misses.columns.map(col) ++ dimNames.map(n => f(n)): _*)
      .unionByName(shortCand.select(misses.columns.map(col) ++ dimNames.map(n => f(n)): _*))
      .withColumn("__rn", row_number().over(firstWins))
      .filter(col("__rn") === 1)
      .select(outCols: _*)
  }
}
