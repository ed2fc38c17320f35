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

/** Vendor enrichment: the reference's exact-then-fuzzy lookup as one ranked
  * candidate pass.
  *
  * The reference (main.py:94-101 → database.py:92-124) tries an exact key
  * first and falls back to `LOWER(vendor) LIKE LOWER('%' || txn || '%')`,
  * first row wins. An exact key also contains the fact key after `lower`,
  * so both phases draw from one candidate set: the dim rows whose lowered
  * key contains the fact's lowered key. Ranking each fact's candidates by
  * (exact key first, then the lowest dimension id) picks the reference's
  * row: the exact match when there is one, else the first containing row
  * (the reference's `fetchone()` returns SQLite scan order ≈ insertion id —
  * we make that explicit, SURVEY.md §7.4).
  *
  * Scale: the dimension is user-curated and broadcast-size by the
  * reference's contract, but the engine does not HINT that (round 14,
  * measured at sf10's 1.5M-row dim): every equi join here carries no
  * static broadcast, so AQE broadcasts the dim/gram frames at runtime when
  * their MEASURED size is small (the contract case, PlanSpec-pinned on the
  * final adaptive plan) and keeps a scalable shuffle join when a
  * 100×-oversized dim would have made a hint a 1.4 GB forced broadcast
  * (the q-gram index at sf10 is 22.5M rows). The one hint is the short-key
  * theta join, whose BroadcastNestedLoopJoin needs a declared resident side
  * and whose input is the bounded `len < Q` tail. At 100 TB the containment
  * slot upgrades to an LSH similarity join (`Dedup.minHashBands`).
  */
object Enrichment {

  /** Vendor-string normalization for dirty-data matching (the j02b phase):
    * real card-processor strings ("AMZN Mktp US*1X2Y3", "SQ *COFFEE  BAR")
    * defeat plain `contains` with case noise, transaction codes, and
    * punctuation. The fold, applied to BOTH sides before matching (the t20
    * canonicalization discipline for vendor keys):
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
    * @param dim       dimension (mapping) table
    * @param factId    unique row id of `facts` (tie-break partition key)
    * @param factKey   join key on the fact side (e.g. vendor string)
    * @param dimId     unique, orderable id of `dim` (tie-break order)
    * @param dimKey    join key on the dim side
    * @param payload   dim columns to copy onto matched facts
    * @return facts ++ payload ++ `match_type` in {exact, fuzzy, none}
    */
  def twoPhase(facts: DataFrame, dim: DataFrame, factId: String, factKey: String,
               dimId: String, dimKey: String, payload: Seq[String]): DataFrame = {
    import QGramIndex.{qgrams, Q}
    val dimNames = (dimId +: dimKey +: payload).distinct
    // The reference declares the mapping key UNIQUE (database.py:63); for
    // arbitrary input we impose it: lowest dimId wins per key — exactly the
    // `fetchone` scan-order rule — so no two candidates of a fact are
    // exact. Prefixed names keep the dim apart from the fact columns.
    val pre = "__d_"
    val f = (n: String) => col(pre + n)
    val keyWins = Window.partitionBy(col(dimKey)).orderBy(col(dimId).asc)
    val d = dim.select(dimNames.map(col): _*)
      .withColumn("__kr", row_number().over(keyWins))
      .filter(col("__kr") === 1).drop("__kr")
      .toDF(dimNames.map(pre + _): _*)
      .withColumn("__dk", lower(f(dimKey)))

    // MATERIALIZED: the facts feed four consumers — the probe build, the
    // long-key candidate join, the short-key theta join and the final left
    // join. Unshared, each one re-ran the facts subtree (statement parsing
    // in the pipeline; measured at sf0.1: j02b's 5 s was dominated by such
    // repeated derivations).
    val factsL = graft.util.Caches.materialize(facts.withColumn("__lk", lower(col(factKey))))
    val longFacts = factsL.filter(length(col("__lk")) >= Q)
    val shortFacts = factsL.filter(length(col("__lk")) < Q)

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

    // probe is fact-sized (one row per fact) — never broadcast it; the
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

    // one ranking over every containing candidate: the case-sensitive
    // exact key first, then the lowest dimId
    val candCols = col(factId) +: (f(dimKey) === col(factKey)).as("__ex") +:
      dimNames.map(f)
    val rank = Window.partitionBy(col(factId)).orderBy(col("__ex").desc, f(dimId).asc)
    val winners = longCand.select(candCols: _*)
      .unionByName(shortCand.select(candCols: _*))
      .withColumn("__rn", row_number().over(rank))
      .filter(col("__rn") === 1)
      .select(col(factId) +: payload.map(f) :+
        when(col("__ex"), "exact").otherwise("fuzzy").as("__mt"): _*)

    // facts left-join the winners so no-match facts fall out of the same
    // pass (an anti-join against the winners would re-execute the whole
    // candidate plan — DataFrame DAGs don't dedupe shared subtrees)
    factsL.join(winners, Seq(factId), "left")
      .select(facts.columns.map(col) ++ payload.map(p => f(p).as(p)) :+
        coalesce(col("__mt"), lit("none")).as("match_type"): _*)
  }
}
