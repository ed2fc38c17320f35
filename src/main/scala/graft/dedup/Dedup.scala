package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.text.TextAnalysis.{fingerprint, shingles, tokens}

/** Deduplication tier for training-data pipelines: exact (hash groupBy),
  * n-gram Jaccard, MinHash+LSH, and SimHash near-dup detection.
  *
  * Scale design (the whole point of each variant):
  *  - exact: one shuffle on a 128-bit fingerprint — embarrassingly scalable.
  *  - n-gram Jaccard: the *exact* similarity join — O(pairs sharing a
  *    shingle); fine at 10⁵ docs, quadratic blowup risk at 10⁹. It is the
  *    correctness oracle for the sketch variants.
  *  - MinHash+LSH: signatures are a fixed 16 longs/doc regardless of doc
  *    size; banding turns all-pairs into an equi-join on (band, band_sig) —
  *    the only pairs materialized are hash-bucket collisions. This is the
  *    100 TB path (cost ≈ |docs|·|shingles|·|seeds| map-side + tiny joins).
  *  - SimHash: one 60-bit code/doc; near-dup = small Hamming distance.
  *
  * All hashes are md5-derived (hex→int64) so every engine computes identical
  * values — murmur/xxhash implementations differ across engines.
  */
object Dedup {

  /** 60-bit engine-portable hash: top 15 hex chars of md5, as int64 ≥ 0. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")

  /** Exact dedup: keep the lowest doc_id per content fingerprint. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.text.TextAnalysis.withCanonicalId(docs, idCol, textCol)
      .filter(col(idCol) === col("canonical_id"))
      .drop("canonical_id")

  /** Distinct (doc_id, shingle) pairs — shared by Jaccard and MinHash. */
  private def shingleRows(docs: DataFrame): DataFrame =
    graft.text.TextAnalysis.shingleRows(docs)

  /** Repartitions `docs` to the session's default parallelism when its
    * planned partition count is below it; otherwise returns it untouched.
    * The engine's one scan-widening rule, for the plan shape where it
    * measured a gain: the shingle explode off a one-split scan (a
    * single-row-group parquet table) fused into one dominant stage, which
    * would otherwise run on one core. That is the Σdf² inverted self-join
    * behind [[ngramJaccardPairs]] and [[containmentPairs]], the band-index
    * join of [[incrementalNearDupPairs]], and the shingle aggregate of the
    * d2c/d11c dispatch statistic (d11c measured 3.3 → 5.0 s at sf0.1 on 4
    * cores without it). Other scans measured no gain from widening, and
    * multi-stage shingle consumers pay per-stage task overhead on the
    * extra partitions. On an already parallel scan `spread` does nothing.
    * Round-robin placement is deterministic under retries
    * (sort-before-repartition), and every downstream fold is
    * order-independent, so results do not depend on the core count. */
  private def spread(docs: DataFrame): DataFrame = {
    val want = docs.sparkSession.sparkContext.defaultParallelism
    // rdd.getNumPartitions plans the frame but launches no job
    if (docs.rdd.getNumPartitions < want) docs.repartition(want) else docs
  }

  /** (b_id, a_id, common, na, nb) for every doc pair sharing a shingle:
    * the inverted-index self-join with direct overlap counting behind the
    * naive d2 and d11 joins (one shuffle on the shingle key, one on the
    * pair). `common` is the shared-shingle count, `na`/`nb` the sizes. */
  private def overlapCounts(docs: DataFrame): DataFrame = {
    val sh = graft.util.Caches.materialize(shingleRows(spread(docs)))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.toDF("a_id", "s")
      .join(sh.toDF("b_id", "s2"), col("s") === col("s2") && col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("common"))
      .join(sizes.toDF("a_id", "na"), "a_id")
      .join(sizes.toDF("b_id", "nb"), "b_id")
  }

  /** D2: exact n-gram Jaccard similarity join — inverted-index self-join
    * with direct overlap counting (one join + one aggregation). The right
    * default when the pairs-sharing-a-shingle volume (Σ df²) is tractable,
    * which holds for dense small-vocabulary corpora like the test data;
    * for zipf-distributed real text where a few hot shingles make Σ df²
    * explode, use [[ngramJaccardPairsPrefix]] (equivalent results, see
    * DedupSpec). */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double): DataFrame =
    overlapCounts(docs)
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))

  /** D2 scale path: **prefix filtering** (Bayardo et al., WWW'07; Chaudhuri
    * et al., ICDE'06). Under a global rarity order on shingles, any pair
    * with jaccard ≥ τ must share a shingle inside each doc's first
    * `n − ⌈τ·n⌉ + 1` shingles (if all shared shingles sat outside a's
    * prefix, overlap ≤ ⌈τ·na⌉ − 1 < τ·na ≤ required overlap). Candidates
    * come from a prefix×prefix equi-join — the hot shingles that blow up
    * Σ df² land outside every prefix — then only candidates get the
    * full-set verify. */
  def ngramJaccardPairsPrefix(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = graft.util.Caches.materialize(shingleRows(docs))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val freq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val rarityOrder = Window.partitionBy("doc_id").orderBy("df", "s")
    // NOT materialized (round 16, measured): an eager cache-and-count here
    // cost more than the duplicated derivation it saved, and ran at query
    // construction even for consumers whose final action prunes this
    // subtree (d6's unique-key left join under a count(): 0.29 → 2.26 s).
    // The self-join's two derivations stay.
    val prefixes = sh.join(freq, "s")
      .withColumn("rank", row_number().over(rarityOrder))
      .join(sizes, "doc_id")
      .filter(col("rank") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select("doc_id", "s", "n")
    val cand = prefixes.toDF("a_id", "s", "na")
      .join(prefixes.toDF("b_id", "s2", "nb"),
        col("s") === col("s2") && col("a_id") < col("b_id"))
      // exact length filter (Arasu/Chaudhuri/Kaushik, VLDB'06): jaccard ≥ τ
      // forces min(n_a,n_b) ≥ τ·max (overlap ≤ min, so j ≤ min/max) —
      // applied BEFORE the distinct, so length-incompatible collisions
      // never reach the dedup exchange. The 1e-12 margin keeps the float
      // comparison conservative (zero false negatives; the true jaccard
      // test downstream re-filters).
      .filter(least(col("na"), col("nb")).cast("double") >=
        greatest(col("na"), col("nb")).cast("double") * lit(threshold - 1e-12))
      .select("a_id", "b_id").distinct()
    // Verify WITHOUT re-exploding shingles through the candidate stream:
    // pairsCommon would join each candidate to all of a's shingle ROWS
    // (|cand|·|shingles/doc| intermediate — at sf10 that sort-merge sort
    // spilled the disk to death, twice). Instead each doc's distinct
    // shingles ship ONCE as an array per candidate side, and the overlap is
    // one codegen'd array_intersect per pair — |cand| rows through two
    // hash joins (build side = the n-doc array table, never sorted), no
    // row explosion anywhere. d3/d10 keep the exploded form: their LSH
    // candidate sets are collision-sized, where re-exploding is cheaper
    // than building array tables.
    val arrs = sh.groupBy("doc_id")
      .agg(collect_list(col("s")).as("arr"), count(lit(1)).as("n"))
    cand
      .join(arrs.toDF("a_id", "arr_a", "na").hint("shuffle_hash"), "a_id")
      .join(arrs.toDF("b_id", "arr_b", "nb").hint("shuffle_hash"), "b_id")
      .withColumn("common",
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** D11: Broder CONTAINMENT join — the OTHER resemblance metric from the
    * original shingling paper (Broder, SEQUENCES'97): c(A,B) = |A∩B|/|A|,
    * the fraction of A's shingles inside B. Where Jaccard finds near-
    * DUPLICATES, containment finds SUBSET relationships — quoted posts,
    * boilerplate-wrapped articles, excerpt pages — which resemblance
    * misses when |B| ≫ |A| (j = |A∩B|/|A∪B| → 0 while c → 1). Directional:
    * each unordered overlap pair yields both orientations, filtered on
    * the contained side's ratio. Same inverted-join overlap count as d2
    * (one shuffle on the shingle key, one on the pair) — the small-corpus
    * ORACLE form, like naive d2; [[containmentPairsPrefix]] is the scale
    * path (MinHash bands would be the WRONG one: bands sample the union,
    * so high-containment/low-resemblance pairs rarely collide). */
  def containmentPairs(docs: DataFrame, tau: Double): DataFrame =
    overlapCounts(docs)
      .select(explode(array(
        struct(col("a_id").as("contained_id"), col("b_id").as("container_id"),
          (col("common").cast("double") / col("na")).as("containment")),
        struct(col("b_id").as("contained_id"), col("a_id").as("container_id"),
          (col("common").cast("double") / col("nb")).as("containment")))).as("p"))
      .select(col("p.contained_id"), col("p.container_id"), col("p.containment"))
      .filter(col("containment") >= tau)

  /** D11 scale path: ONE-SIDED prefix filtering. The Bayardo prefix rule
    * adapts to containment on the CONTAINED side only: c(A,B) ≥ τ forces a
    * shared shingle inside A's first |A| − ⌈τ·|A|⌉ + 1 rarest shingles
    * (all shared shingles outside that prefix would cap overlap at
    * ⌈τ|A|⌉ − 1 < τ|A|), but B admits NO pruning — a tiny quote must find
    * an arbitrarily large container, which is also why MinHash bands are
    * the WRONG scale path here (bands sample the union, and high-
    * containment/low-resemblance pairs are exactly the ones that never
    * collide). Candidates = A-prefix ⋈ full index, rarest-first keeping
    * the df factor small; verify is the d2b array-intersect form. Zero
    * false negatives by construction — the oracle is d11's naive SQL, so
    * a hash match proves it (the d2b pattern). */
  def containmentPairsPrefix(docs: DataFrame, tau: Double): DataFrame = {
    val sh = graft.util.Caches.materialize(shingleRows(docs))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val freq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val rarityOrder = Window.partitionBy("doc_id").orderBy("df", "s")
    // every shingle's 1-based rank in ITS doc under the GLOBAL rarity
    // order — built once, MATERIALIZED: the prefix side filters it, the
    // index side reads it whole, and the shared order is what makes the
    // PPJoin positional bound below valid. The frame is corpus-scaled (all
    // shingle rows + rank); at sf10 a cached copy squats the storage
    // region the shuffle sorters need (UNABLE_TO_ACQUIRE_MEMORY, measured).
    val ranked = graft.util.Caches.materialize(sh.join(freq, "s")
      .withColumn("rank", row_number().over(rarityOrder))
      .join(sizes, "doc_id"))
    val prefixes = ranked
      .filter(col("rank") <= col("n") - ceil(lit(tau) * col("n")) + 1)
      .select(col("doc_id").as("a_id"), col("s"), col("n").as("na"),
        col("rank").as("pa"))
    val index = ranked.select(col("doc_id").as("b_id"), col("s").as("s2"),
      col("n").as("nb"), col("rank").as("pb"))
    // PPJoin positional filter (Xiao, Wang, Lin & Yu, WWW'08 §3.2): all
    // common shingles of a qualifying pair sit at ranks ≥ (pa, pb) of its
    // FIRST common shingle, so overlap ≤ 1 + min(na − pa, nb − pb) there;
    // pruning each match on its own bound keeps the first-match row of
    // every true pair (the bound is valid at the first common shingle),
    // and candidates are a distinct over matches — zero false negatives,
    // proven by the unchanged naive-SQL oracle hash. The keep condition
    // mirrors the verify's own `overlap/na ≥ τ` double compare (division
    // by a positive na is monotone), dodging any ceil(τ·na) rounding
    // corner.
    val cand = prefixes
      .join(index, col("s") === col("s2"))
      .filter(col("a_id") =!= col("b_id"))
      .filter((lit(1L) + least(col("na") - col("pa"), col("nb") - col("pb")))
        .cast("double") / col("na") >= lit(tau))
      .select("a_id", "b_id", "na").distinct()
    val arrs = sh.groupBy("doc_id").agg(collect_list(col("s")).as("arr"))
    cand
      .join(arrs.toDF("a_id", "arr_a").hint("shuffle_hash"), "a_id")
      .join(arrs.toDF("b_id", "arr_b").hint("shuffle_hash"), "b_id")
      .withColumn("containment",
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("double") / col("na"))
      .filter(col("containment") >= tau)
      .select(col("a_id").as("contained_id"), col("b_id").as("container_id"),
        col("containment"))
  }

  /** Measured-stats dispatch threshold for [[ngramJaccardPairsAuto]]: route
    * to the naive inverted join while Σdf²/Σdf ≤ this, else prefix filter.
    * Σdf² is the naive join's exact output volume, Σdf the corpus shingle
    * volume, so the ratio is "how many candidate rows per corpus row the
    * naive plan shuffles" — scale-free, computable in one cheap aggregate.
    * Calibrated on both regimes at sf0.1-equivalent size (round 11, this
    * box, min-over-runs):
    *   - decorrelated test corpus  r≈10.7: naive 3.75 s, prefix 4.11 s
    *     (naive also wins at sf10, where r stays ≈11 by salting);
    *   - light boilerplate         r≈9.6:  naive 1.27 s, prefix 2.69 s;
    *   - mid boilerplate           r≈32:   naive 1.47 s, prefix 2.00 s;
    *   - moderate boilerplate      r≈141:  naive 4.96 s, prefix 4.24 s;
    *   - heavy boilerplate         r≈1251: naive 89.4 s, prefix 31.3 s.
    * Crossover sits in the measured (32, 141) bracket; 50 errs toward
    * prefix, whose wrong-side cost is a constant factor while the naive
    * plan's grows with the square of the hot-shingle df. */
  val ngramNaiveMaxRatio = 50.0

  /** Docs-sample cap for the d2c deciding statistic. Round-12 sf10
    * measurement: the EXACT statistic (full shingle df aggregate) cost
    * 12.4 s — 44% of the naive winner's 28.1 s — so past this cap the
    * ratio is ESTIMATED from a deterministic md5 hash-sample of documents
    * with the binomial-thinning correction r ≈ (r̂ − (1−f))/f: a shingle
    * with corpus df d appears in an f-sample Binomial(d, f) times, so
    * E[Σd_s²] ≈ f²·Σd² + f(1−f)·Σd and the sampled ratio concentrates on
    * f·r + (1−f). The regimes the threshold separates (r ≈ 11 / 141 /
    * 1251) sit orders of magnitude apart — far beyond the estimator's
    * noise at ≥50k sampled docs. Corpora at or under the cap keep f = 1:
    * the statistic is EXACT there, so small-corpus routing (every spec
    * regime and the oracle gate) is bit-identical to round 11. */
  val dispatchSampleDocs = 50000L

  /** D2 auto: ONE public entry point that measures the deciding statistic
    * and routes — the round-11 dispatch ask. The naive/prefix twins stay
    * public for the oracle gate; this is what a user should call, so the
    * scale-killer (naive on boilerplate text, prefix overhead on
    * decorrelated corpora) can no longer be picked silently. The stats
    * pass is one shingle aggregation over at most [[dispatchSampleDocs]]
    * sampled documents — sub-10% of either variant's runtime at sf10. */
  def ngramJaccardPairsAuto(docs: DataFrame, threshold: Double): DataFrame =
    ngramJaccardChoose(docs, threshold)._2

  /** The sampled deciding statistic shared by the d2c and d11c routers:
    * r = Σdf²/Σdf over a ≤`sampleCap`-doc md5 sample with the binomial-
    * thinning correction (exact at f = 1). Both families shuffle the SAME
    * Σdf² candidate stream on their naive path, so one statistic governs
    * both. One count job sizes the fraction — cheap for table-backed
    * frames (the driver contract); a caller with an expensive docs
    * derivation should cache it, since the chosen variant re-reads it. */
  private def dispatchRatio(docs: DataFrame, sampleCap: Long): Double = {
    val n = docs.count()
    val f = if (n <= sampleCap) 1.0 else sampleCap.toDouble / n
    val statDocs =
      if (f >= 1.0) docs
      else docs.filter(
        md5Hash60(concat(lit("d2cstat|"), col("doc_id").cast("string")))
          < lit((f * (1L << 60).toDouble).toLong))
    val row = shingleRows(spread(statDocs))
      .groupBy("s").agg(count(lit(1)).as("df"))
      .agg((sum(col("df") * col("df")).cast("double") /
        sum(col("df")).cast("double")).as("r"))
      .head
    // empty corpus (zero shingle rows): the sums are NULL — route to the
    // naive path, which returns the same empty pair frame the explicit
    // variants do, instead of NPEing on getDouble
    val rHat = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
    if (f >= 1.0) rHat else math.max(0.0, (rHat - (1.0 - f)) / f)
  }

  private[graft] def ngramJaccardChoose(docs: DataFrame, threshold: Double,
                                        sampleCap: Long = dispatchSampleDocs)
      : (String, DataFrame) = {
    val r = dispatchRatio(docs, sampleCap)
    if (r <= ngramNaiveMaxRatio) ("naive", ngramJaccardPairs(docs, threshold))
    else ("prefix", ngramJaccardPairsPrefix(docs, threshold))
  }

  /** d11c: the containment family's measured-stats router — same statistic
    * and threshold as d2c (the naive containment join shuffles the
    * identical Σdf² candidate stream; measured sf10 decorrelated corpus:
    * naive 27.5 s vs prefix 377.9 s — a 13.7× wrong-side cost, WORSE than
    * d2's because the container side cannot length-filter). */
  private[graft] def containmentChoose(docs: DataFrame, tau: Double,
                                       sampleCap: Long = dispatchSampleDocs)
      : (String, DataFrame) = {
    val r = dispatchRatio(docs, sampleCap)
    if (r <= ngramNaiveMaxRatio) ("naive", containmentPairs(docs, tau))
    else ("prefix", containmentPairsPrefix(docs, tau))
  }

  def containmentPairsAuto(docs: DataFrame, tau: Double): DataFrame =
    containmentChoose(docs, tau)._2

  val numHashes = 16
  val bandSize = 4

  /** The MinHash family: one md5 per shingle, then 16 xor-universal
    * perturbations — avoids 16 md5 evaluations (or a 16× row explosion) per
    * shingle; the whole signature is ONE wide aggregation per doc. The
    * constants are themselves md5-derived so both engines can literal-inline
    * identical values. */
  val seedConstants: Seq[Long] = (0 until numHashes).map { i =>
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"seed|$i".getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString.take(15), 16)
  }

  /** MinHash signatures: (doc_id, band, band_sig) — one row per band,
    * produced by a single groupBy with 16 `min(h ^ cᵢ)` aggregates.
    * Takes the (doc_id, s) shingle table (see [[minHashLshPairs]] for the
    * cached composition). */
  def minHashBands(sh: DataFrame): DataFrame = {
    val mins = seedConstants.zipWithIndex.map { case (c, i) =>
      min(expr(s"__h ^ ${c}L")).as(s"mh$i")
    }
    val bandStructs = (0 until numHashes / bandSize).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until bandSize).map(k => col(s"mh${b * bandSize + k}").cast("string")): _*)
          .as("band_sig"))
    }
    sh.withColumn("__h", md5Hash60(col("s")))
      .groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.band_sig").as("band_sig"))
  }

  /** D3: MinHash+LSH near-dup pairs, verified with true Jaccard. Candidate
    * generation is an equi-join on (band, band_sig); only collisions are
    * verified. */
  def minHashLshPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = graft.util.Caches.materialize(shingleRows(docs))
    val bands = minHashBands(sh)
    val cand = bands.toDF("a_id", "band", "sig")
      .join(bands.toDF("b_id", "band2", "sig2"),
        col("band") === col("band2") && col("sig") === col("sig2") &&
          col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    pairsCommon(cand, sh, sizes, threshold)
  }

  /** Shared verify step: true Jaccard for an explicit candidate pair set. */
  private def pairsCommon(cand: DataFrame, sh: DataFrame, sizes: DataFrame,
                          threshold: Double): DataFrame = {
    val shA = sh.toDF("a_id", "sa")
    val shB = sh.toDF("bb_id", "sb")
    cand.join(shA, "a_id")
      .join(shB, col("b_id") === col("bb_id") && col("sa") === col("sb"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.toDF("a_id", "na"), "a_id")
      .join(sizes.toDF("b_id", "nb"), "b_id")
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  val simHashBits = 60

  /** D4: 60-bit frequency-weighted SimHash (Charikar) per doc — token
    * weight = occurrence count (unweighted distinct-token SimHash cannot
    * separate docs drawn from one small vocabulary: their token *sets* all
    * coincide; their frequency profiles don't). One wide aggregation (60
    * signed bit-sums per doc), no bit-row explosion — and ONE shuffle:
    * summing ±1 per token OCCURRENCE is identical to summing ±count per
    * distinct token (Σ_tok ±cnt = Σ_occ ±1), so the per-(doc, token)
    * counting aggregate an earlier version ran first was a redundant full
    * shuffle of the token table; the 60 bit-sums are map-side partials
    * straight off the explode. */
  def simHash(docs: DataFrame): DataFrame = {
    val bitSums = (0 until simHashBits).map { j =>
      sum(when(expr(s"(h >> $j) & 1") === 1, lit(1L)).otherwise(lit(-1L))).as(s"s$j")
    }
    val code = (0 until simHashBits)
      .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("h", md5Hash60(col("tok")))
      .groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), code.as("simhash"))
  }

  /** D4 pairs: Hamming distance ≤ maxHamming, found by **generalized
    * pigeonhole block banding** (Manku, Jain & Das Sarma, WWW'07) instead of
    * an all-pairs join: split the 60-bit code into `m = maxHamming + r`
    * disjoint blocks — a pair within `maxHamming` differing bits touches at
    * most `maxHamming` blocks, so at least `r` blocks agree *exactly*, and
    * in particular SOME r-sized block combination agrees on every member —
    * equi-join per combination, verify exact Hamming inline, dedupe the
    * survivors. `r` trades join-key width against decomposition width:
    * r=1 is the classic one-block pigeonhole (m rows/doc, ~⌊60/m⌋-bit
    * keys); r=2 keys on block PAIRS (C(m,2) rows/doc, double-width keys),
    * so uniform-bucket collisions shrink ~2^blockBits-fold while the join
    * input grows ~(m−1)/2-fold. Which side wins depends on the corpus's
    * actual bucket histogram, so the default MEASURES both candidate
    * volumes and picks (the measured cost model in [[simHashPairsR]]); the result set is provably
    * r-invariant (DedupSpec pins r ∈ {1,2,3} ≡ all-pairs, PropertySpec
    * pins the combinatorial completeness argument). */
  def simHashPairs(docs: DataFrame, maxHamming: Int): DataFrame =
    simHashPairsR(docs, maxHamming, 0)

  /** [[simHashPairs]] with an explicit combination order r (0 = choose by
    * measured cost). The codes travel WITH the combo rows through the band
    * equi-join, so the exact-Hamming verify runs inline on the raw
    * candidate stream — and there is NO distinct stage at all: a pair is
    * emitted only from the combo formed by its LOWEST r agreeing blocks
    * (testable inline from the riding codes: every lower non-member block
    * must disagree), so each surviving pair leaves the join exactly once.
    * On this corpus the survivor stream carries ~4.5× (r=1) to ~12× (r=2)
    * duplicate multiplicity — a near pair agreeing on c blocks hits C(c,r)
    * combos — and shuffling it into a dedup exchange cost more at sf1 than
    * the wider keys saved; the first-match predicate replaces that whole
    * exchange with a few codegen'd mask tests per joined row. */
  def simHashPairsR(docs: DataFrame, maxHamming: Int, rSel: Int): DataFrame = {
    val codes = graft.util.Caches.materialize(simHash(docs))
    // the count materializes the shared cache AND gates the measurement:
    // below ~20k docs even the worst-case r=1 join is a few 10⁷ rows and
    // the model's own aggregations exceed any possible win
    val n = codes.count()
    val degenerate = simHashBits / (maxHamming + 2) < 2
    val (r, vol) =
      if (rSel > 0)
        (rSel,
          if (n < 20000L) 0L
          else simHashCandidatesRaw(codes, maxHamming, rSel)._1)
      else if (n < 20000L || degenerate) (1, 0L)
      else {
        val (v1, i1) = simHashCandidatesRaw(codes, maxHamming, 1)
        val (v2, i2) = simHashCandidatesRaw(codes, maxHamming, 2)
        if (v2 + comboInputWeight * i2 < v1 + comboInputWeight * i1) (2, v2)
        else (1, v1)
      }
    // Join parallelism from the MEASURED volume (the g2 lesson): the combo
    // join has few distinct keys with near-quadratic per-key output, so at
    // the session default each task streams billions of join rows and the
    // wall clock is one straggler (measured at sf10: 624 s at 32
    // partitions → 134 s at 512, identical plan). ~35M join rows per task
    // keeps tasks second-scale at any corpus size; the single hottest KEY
    // remains un-split — on a zipf-coded corpus the next lever is salting
    // the probe side, the standard skew escape.
    val parts = math.max(
      codes.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      math.min(2048L, vol / 35000000L).toInt)
    val m = maxHamming + r
    val bounds = blockBounds(m)
    def bmask(b: Int): Long =
      ((1L << (bounds(b + 1) - bounds(b))) - 1) << bounds(b)
    // First-match test in closed form (a 66-branch CASE knocked the whole
    // stage out of codegen — 25× slower): build the pair's agree-block
    // BITMASK (m mask-compare-select terms over the riding codes) and emit
    // iff no block the combo requires to disagree actually agrees —
    // (agreeMask & md) = 0, with `md` the combo's constant riding the left
    // decomposition row (the join key already proves the members agree).
    // A pair whose agree-set is S passes for exactly one combo: the lowest
    // r elements of S. ORDER MATTERS: the xor/popcount Hamming test runs
    // FIRST — it is ~5 long ops and kills ~98% of the joined stream, so
    // the ~4·m-op first-match arithmetic only ever touches survivors (at
    // sf10 the reversed order cost 3.5× the whole query).
    val agreeMask = (0 until m).map { j =>
      s"(CASE WHEN ((ha ^ hb) & ${bmask(j)}L) = 0 THEN ${1L << j}L ELSE 0L END)"
    }.mkString(" + ")
    val rows = comboRows(codes, maxHamming, r)
    // SHUFFLE_HASH, not sort-merge: the decomposition has few distinct
    // keys (C(m,r)·2^keyBits), so every key group holds thousands of rows
    // — far past SMJ's 2048-row in-memory group buffer, after which each
    // probe row re-iterates the group through a spillable sorter-backed
    // array (measured at sf10: the identical join ran 2–5× slower under
    // SMJ than as a hash join). A hash relation keeps the group in memory
    // per partition (inputRows/parts ≈ 1M rows ≈ tens of MB), and neither
    // corpus-sized side could ever broadcast at 100 TB.
    rows.toDF("a_id", "ha", "cmb", "bv", "md")
      .repartition(parts, col("cmb"), col("bv"))
      .join(rows.toDF("b_id", "hb", "cmb", "bv", "md2").drop("md2")
        .repartition(parts, col("cmb"), col("bv")).hint("SHUFFLE_HASH"),
        Seq("cmb", "bv"))
      .filter(col("a_id") < col("b_id") &&
        bit_count(expr("ha ^ hb")).cast("bigint") <= maxHamming &&
        expr(s"(($agreeMask) & md) = 0"))
      .withColumn("hamming", bit_count(expr("ha ^ hb")).cast("bigint"))
      .select("a_id", "b_id", "hamming")
  }

  /** Disjoint block bounds covering the 60 code bits as evenly as m allows. */
  private def blockBounds(m: Int): IndexedSeq[Int] =
    (0 until m).scanLeft(0) { (acc, b) =>
      acc + simHashBits / m + (if (b < simHashBits % m) 1 else 0)
    }.toIndexedSeq

  /** Generalized pigeonhole decomposition: one row per (doc, r-combo of the
    * m = maxHamming + r blocks). The combo key is the code masked to the
    * member blocks' bit positions — the blocks are disjoint, so the masked
    * code IS the concatenated block values, packed into one long with no
    * hashing and no per-block shifts. Each row also carries the combo's
    * must-disagree BLOCK-INDEX bitmask (`md` — blocks below the combo's
    * highest member that are not members): attaching the constant at
    * explode time (n·C(m,r) rows) lets the join-side first-match filter
    * read it as a plain column instead of re-deriving it per joined row
    * (an element_at(array(...), cmb) lookup allocated a fresh 66-element
    * array for EVERY of the 11.5B joined rows at sf10). */
  private def comboRows(codes: DataFrame, maxHamming: Int, r: Int): DataFrame = {
    val m = maxHamming + r
    val bounds = blockBounds(m)
    val structs = (0 until m).combinations(r).toIndexedSeq.zipWithIndex.map {
      case (blks, cid) =>
        val mask = blks.map { b =>
          ((1L << (bounds(b + 1) - bounds(b))) - 1) << bounds(b)
        }.reduce(_ | _)
        val md = (0 until blks.max).filterNot(blks.contains(_))
          .map(j => 1L << j).foldLeft(0L)(_ | _)
        struct(lit(cid).as("cmb"), expr(s"simhash & ${mask}L").as("bv"),
          lit(md).as("md"))
    }
    codes.select(col("doc_id"), col("simhash"),
        explode(array(structs: _*)).as("s"))
      .select(col("doc_id"), col("simhash"),
        col("s.cmb").as("cmb"), col("s.bv").as("bv"), col("s.md").as("md"))
  }

  /** Join-input row weight in the r-choice cost model: a decomposed row is
    * exploded, shuffle-written, shuffle-read, and hashed into (or probed
    * against) the join relation on both sides — ~4 touches — while a
    * candidate row costs one codegen'd xor/popcount/filter pass.
    *
    * The model itself (inline in [[simHashPairsR]]): measure — never
    * guess — which combination order is cheaper for THIS corpus. The exact
    * candidate volume Σ_buckets C(cnt, 2) of each decomposition comes from
    * one aggregation over its (cmb, bv) table ([[simHashCandidatesRaw]] —
    * n·m rows for r=1, n·C(m,2) for r=2, noise next to the join they
    * steer), plus the decomposition's own row count at this weight. On
    * uniform codes r=2 wins once n ≫ 2^blockBits (collisions shrink
    * ~2^blockBits-fold, input grows ~(m−1)/2-fold); on the sf10 corpus it
    * cuts d4's join rows 3.1× (35.6B → 11.5B measured) — but a corpus
    * whose bucket histogram is already sparse keeps the narrower r=1
    * decomposition. Deterministic: exact integer counts of the data.
    * Known bias: the model cannot price the FIRST-MATCH work, which runs
    * on the Hamming-surviving pairs × their combo multiplicity (~2.5×
    * higher at r=2) — unknowable without running the join. Where
    * survivors rival join rows (dense near-dup corpora at small n) the
    * choice can cost ~20%; where the join stream dominates it is
    * decisively right. */
  private val comboInputWeight = 4L

  /** (joinRows, inputRows) of the r-decomposition without running the join —
    * the exact quantities the r-choice cost model weighs. */
  private def simHashCandidatesRaw(codes: DataFrame, maxHamming: Int, r: Int): (Long, Long) = {
    val agg = comboRows(codes, maxHamming, r).groupBy("cmb", "bv")
      .agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) DIV 2")).as("vol"), sum(col("c")).as("rows"))
      .head()
    (agg.getLong(0), agg.getLong(1))
  }

  // ---- oracle-checked queries --------------------------------------------

  def d1ExactDedup(spark: SparkSession, dir: String): DataFrame =
    exactDedup(Tables.documents(spark, dir), "doc_id", "text")
      .select("doc_id", "fp", "lang", "n_chars").orderBy("doc_id")

  def d2NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(Tables.documents(spark, dir), 0.5).orderBy("a_id", "b_id")

  def d11Containment(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.documents(spark, dir), 0.6)
      .orderBy("contained_id", "container_id")

  /** d11b: the prefix-filtered scale path; its oracle is d11's NAIVE SQL —
    * a hash match is the zero-false-negative proof (the d2b pattern). */
  def d11bContainmentPrefix(spark: SparkSession, dir: String): DataFrame =
    containmentPairsPrefix(Tables.documents(spark, dir), 0.6)
      .orderBy("contained_id", "container_id")

  def d11cContainmentAuto(spark: SparkSession, dir: String): DataFrame =
    containmentPairsAuto(Tables.documents(spark, dir), 0.6)
      .orderBy("contained_id", "container_id")

  /** d2b: the prefix-filtered SCALE path as its own driver query. Its
    * oracle is the NAIVE all-shingle SQL — a hash match is an independent
    * proof of the Bayardo prefix theorem's zero-false-negative claim on
    * real data, and the bench row measures what the filter actually buys
    * at each scale (the hot-shingle Σdf² mass lands outside every prefix). */
  def d2bJaccardPrefix(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairsPrefix(Tables.documents(spark, dir), 0.5)
      .orderBy("a_id", "b_id")

  /** d2c: the dispatching entry point as a driver query. On the test
    * corpus the statistic r ≈ 2-11 ≪ 50, so the route is the naive join —
    * the oracle is therefore the same naive SQL (the oracle gate runs at a
    * fixed corpus, so the dispatch choice is deterministic there; DedupSpec
    * separately proves the prefix route fires on a boilerplate regime). */
  def d2cJaccardAuto(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairsAuto(Tables.documents(spark, dir), 0.5)
      .orderBy("a_id", "b_id")

  def d3MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minHashLshPairs(Tables.documents(spark, dir), 0.5).orderBy("a_id", "b_id")

  def d4Simhash(spark: SparkSession, dir: String): DataFrame =
    simHashPairs(Tables.documents(spark, dir), 10).orderBy("a_id", "b_id")

  /** The production regime: a tight Hamming threshold (3 of 60) gives
    * r=1: 4 pigeonhole blocks of 15 bits (collisions ~n²/32768 per block,
    * vs the demo threshold's n²/32) or r=2: 5 blocks of 12 bits keyed on
    * the C(5,2)=10 block pairs — 24-bit keys, collisions ~n²/2²⁴ per
    * combo. The measured cost model picks per corpus; this is the variant
    * you actually run at 100 TB. */
  def d4bSimhashTight(spark: SparkSession, dir: String): DataFrame =
    simHashPairs(Tables.documents(spark, dir), 3).orderBy("a_id", "b_id")

  /** Per-document duplicated-shingle coverage — the C4/RefinedWeb-style
    * document-quality metric: what fraction of a doc's distinct 3-gram
    * shingles also appear in at least one OTHER document. Unlike the pair
    * queries (d2-d5) this never materializes pairs at all: one shuffle to
    * count each shingle's document frequency, one join back (skewed hot
    * shingles are AQE-split, and the per-doc agg is partial), so cost is
    * O(|shingles|) — runnable over the full corpus at any scale as a
    * filtering signal before the pairwise tiers. */
  def dupNgramCoverage(docs: DataFrame): DataFrame = {
    val sh = graft.util.Caches.materialize(shingleRows(docs))
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    sh.join(dfreq, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac", col("n_dup").cast("double") / col("n_shingles"))
  }

  def d8DupNgramCoverage(spark: SparkSession, dir: String): DataFrame =
    dupNgramCoverage(Tables.documents(spark, dir)).orderBy("doc_id")

  /** D10: incremental (new-batch × indexed-corpus) near-dup check — the
    * ingest-time shape of d3: in production the corpus's band table is a
    * precomputed index that only APPENDS; each arriving batch computes its
    * own bands and equi-joins against the index, so per-batch cost is
    * O(batch + collisions) and the corpus is never self-joined again. Here
    * the "new batch" is the `doc_id % 10 = 0` stratum of one table so the
    * whole flow (index side, probe side, Jaccard verify) is oracle-gated;
    * swapping the stratum filter for `readStream` micro-batches is the
    * only change streaming ingest needs (foreachBatch + the k2 upsert sink
    * appends accepted docs' bands to the index). */
  def incrementalNearDupPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = graft.util.Caches.materialize(shingleRows(spread(docs)))
    val bands = graft.util.Caches.materialize(minHashBands(sh))
    val probe = bands.filter(col("doc_id") % 10 === 0).toDF("a_id", "band", "sig")
    val index = bands.filter(col("doc_id") % 10 =!= 0).toDF("b_id", "band2", "sig2")
    val cand = probe
      .join(index, col("band") === col("band2") && col("sig") === col("sig2"))
      .select("a_id", "b_id").distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    pairsCommon(cand, sh, sizes, threshold)
  }

  def d10IncrementalNearDup(spark: SparkSession, dir: String): DataFrame =
    incrementalNearDupPairs(Tables.documents(spark, dir), 0.5)
      .orderBy("a_id", "b_id")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_exact_dedup" -> (d1ExactDedup _),
    "d2_ngram_jaccard" -> (d2NgramJaccard _),
    "d2b_jaccard_prefix" -> (d2bJaccardPrefix _),
    "d2c_jaccard_auto" -> (d2cJaccardAuto _),
    "d3_minhash_lsh" -> (d3MinhashLsh _),
    "d4_simhash" -> (d4Simhash _),
    "d4b_simhash_tight" -> (d4bSimhashTight _),
    "d8_dup_ngram_coverage" -> (d8DupNgramCoverage _),
    "d10_incremental_neardup" -> (d10IncrementalNearDup _),
    "d11_containment" -> (d11Containment _),
    "d11b_containment_prefix" -> (d11bContainmentPrefix _),
    "d11c_containment_auto" -> (d11cContainmentAuto _)
  )

  private[graft] val shingleSqlCtes =
    """toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN
      |    list_distinct(list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |    ELSE [] END) AS s
      |  FROM toks),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  private lazy val d2NaiveSql: String =
    s"""WITH $shingleSqlCtes,
      |pairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT a_id, b_id,
      |  CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
      |FROM pairs p JOIN sizes sa ON p.a_id = sa.doc_id
      |             JOIN sizes sb ON p.b_id = sb.doc_id
      |WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.5
      |ORDER BY a_id, b_id""".stripMargin

  private lazy val d11NaiveSql: String =
    s"""WITH $shingleSqlCtes,
      |pairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |dirs AS (
      |  SELECT p.a_id AS contained_id, p.b_id AS container_id,
      |    CAST(common AS DOUBLE) / sa.n AS containment
      |  FROM pairs p JOIN sizes sa ON p.a_id = sa.doc_id
      |  UNION ALL
      |  SELECT p.b_id, p.a_id, CAST(common AS DOUBLE) / sb.n
      |  FROM pairs p JOIN sizes sb ON p.b_id = sb.doc_id)
      |SELECT contained_id, container_id, containment FROM dirs
      |WHERE containment >= 0.6
      |ORDER BY contained_id, container_id""".stripMargin

  def oracle: Map[String, String] = Map(
    "d8_dup_ngram_coverage" ->
      s"""WITH $shingleSqlCtes,
        |dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s)
        |SELECT sh.doc_id, COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN dfreq.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(SUM(CASE WHEN dfreq.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS dup_frac
        |FROM sh JOIN dfreq USING (s)
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,
    "d1_exact_dedup" ->
      """WITH f AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS fp, lang, n_chars,
        |    MIN(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS canon
        |  FROM documents)
        |SELECT doc_id, fp, lang, n_chars FROM f WHERE doc_id = canon
        |ORDER BY doc_id""".stripMargin,
    "d2_ngram_jaccard" -> d2NaiveSql,
    // directional Broder containment: both orientations of each overlap
    // pair, filtered on the CONTAINED side's ratio ("dirs" — `both` is a
    // DuckDB reserved word)
    "d11_containment" -> d11NaiveSql,
    // the prefix-filtered path must produce the IDENTICAL directional
    // pair set — its oracle IS the naive form (zero-false-negative proof)
    "d11b_containment_prefix" -> d11NaiveSql,
    // the router picks a variant; both produce the naive result set
    "d11c_containment_auto" -> d11NaiveSql,
    // the prefix-filtered path must produce the IDENTICAL pair set — its
    // oracle IS the naive form, so a hash match proves zero false negatives
    "d2b_jaccard_prefix" -> d2NaiveSql,
    // the dispatcher picks naive here (r ≈ 2 ≪ 50 on this corpus) and both
    // variants are pair-set identical anyway — one oracle text serves all 3
    "d2c_jaccard_auto" -> d2NaiveSql,
    "d3_minhash_lsh" ->
      s"""WITH $minhashPairsSqlCtes
        |SELECT a_id, b_id, jaccard FROM pairs ORDER BY a_id, b_id""".stripMargin,
    "d10_incremental_neardup" ->
      s"""WITH ${minhashPairsSqlCtesWhere("a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0")}
        |SELECT a_id, b_id, jaccard FROM pairs ORDER BY a_id, b_id""".stripMargin,
    "d4_simhash" -> simHashSql(10),
    "d4b_simhash_tight" -> simHashSql(3)
  )

  /** CTE chain ending in `pairs(a_id, b_id, jaccard)` — d3's verified
    * MinHash-LSH pair set. Shared by the d3 oracle and d7's cluster oracle
    * (Clusters.scala) so the edge definition cannot drift between them. */
  private[graft] def minhashPairsSqlCtes: String =
    minhashPairsSqlCtesWhere("a.doc_id < b.doc_id")

  /** Same chain with a caller-chosen candidate-pair predicate — d10 swaps
    * the self-join's `a < b` for the new-batch × indexed-corpus split. */
  private[graft] def minhashPairsSqlCtesWhere(pred: String): String = {
    val minExprs = seedConstants.zipWithIndex
      .map { case (c, i) => s"MIN(xor(h, $c)) AS mh$i" }.mkString(",\n    ")
    val bandSelects = (0 until numHashes / bandSize).map { b =>
      val sig = (0 until bandSize).map(k => s"CAST(mh${b * bandSize + k} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $sig AS band_sig FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""$shingleSqlCtes,
      |hashes AS (
      |  SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM sh),
      |mh AS (
      |  SELECT doc_id,
      |    $minExprs
      |  FROM hashes GROUP BY doc_id),
      |bands AS (
      |  $bandSelects),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.band_sig = b.band_sig AND $pred),
      |common AS (
      |  SELECT c.a_id, c.b_id, COUNT(*) AS common
      |  FROM cand c JOIN sh x ON x.doc_id = c.a_id
      |              JOIN sh y ON y.doc_id = c.b_id AND y.s = x.s
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a_id, b_id,
      |    CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
      |  FROM common p JOIN sizes sa ON p.a_id = sa.doc_id
      |                JOIN sizes sb ON p.b_id = sb.doc_id
      |  WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.5)""".stripMargin
  }

  /** d4 oracle, parameterized by the Hamming threshold. The SQL states the
    * all-pairs semantics; the engine's pigeonhole banding is proven
    * output-identical in DedupSpec, so one oracle text serves both. */
  private def simHashSql(maxHamming: Int): String = {
    val bitSums = (0 until simHashBits)
      .map(j => s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN cnt ELSE -cnt END) AS s$j")
      .mkString(",\n    ")
    val code = (0 until simHashBits)
      .map(j => s"CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(trim(text), '\\s+')) AS tok
      |  FROM documents),
      |tc AS (
      |  SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY doc_id, tok),
      |th AS (
      |  SELECT doc_id, cnt, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tc),
      |bits AS (
      |  SELECT doc_id,
      |    $bitSums
      |  FROM th GROUP BY doc_id),
      |codes AS (
      |  SELECT doc_id, $code AS simhash FROM bits)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |FROM codes a JOIN codes b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming
      |ORDER BY a_id, b_id""".stripMargin
  }
}
