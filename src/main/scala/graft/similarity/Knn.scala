package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - [[bruteForceTopK]]: exact top-k by inner product (= cosine here: the
  *    test vectors are unit-norm). The query set broadcasts; scoring is a
  *    BroadcastNestedLoopJoin + a per-pair ordered fold (`zip_with` +
  *    `aggregate`, left-to-right), so the double arithmetic is bit-identical
  *    across engines and partition counts — no shuffle at all on the corpus
  *    side beyond the final per-query top-k.
  *  - [[lshTopK]]: sign-random-projection LSH — L hash tables of b-bit
  *    bucket codes; only same-bucket vectors are scored. The 100 TB path:
  *    candidate generation is an equi-join on (table, code), cost ∝ bucket
  *    collisions instead of |queries|×|corpus|. Code width grows with the
  *    corpus ([[codeBits]]) so buckets stay sparse as n grows.
  *  - [[cosineExactPairs]]: exact cosine pairs over a fixed query stratum —
  *    the sampled ground-truth audit a production sketch pipeline runs
  *    alongside the sketch (recall measurement without the O(n²) bill).
  *
  * Every projection is an *ordered* fold over the array (never an unordered
  * `sum` aggregate), so codes and scores are partition-count-independent AND
  * engine-exact — the LSH queries are DuckDB-oracle-checkable, hyperplanes
  * inlined as SQL literals ([[codesSql]]).
  */
object Knn {

  /** Ordered left-fold dot product of two float arrays, in double — the
    * summation order is the array order in both engines, making results
    * bit-exact vs DuckDB's `list_reduce`. Backed by the codegen
    * [[graft.functions.DotFold]] expression (a tight primitive loop with
    * the fold's exact arithmetic); the original `zip_with` + `aggregate`
    * formulation computed the identical numbers but as an interpreted
    * higher-order function — one lambda bind + box per element, excluded
    * from whole-stage codegen — which dominated every exact-scan tier's
    * profile at scale. */
  def dotFold(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot_fold(a, b)

  /** Query-stratum size: a fixed COUNT, deliberately NOT a fraction of the
    * corpus. Round 7's empirical scale curve measured the old fractional
    * stratum (`vec_id % 20 = 0`) at 89.6×/84.2× wall-time growth for 10×
    * data on the exact/quantized tiers — |queries| and |corpus| both grew,
    * making the scan O(n²/20) and the broadcast side unbounded. With a
    * constant query count the exact tiers are O(queryN · n): linear in the
    * corpus, and the broadcast side is ≤ queryN rows by construction at ANY
    * scale. This is the production shape — an audit/eval query set is a
    * fixed workload, not a census of the corpus. */
  val queryN = 100

  private def queryKey(id: Column): Column =
    graft.dedup.Dedup.md5Hash60(concat(lit("knnq|"), id.cast("string")))

  /** The deterministic fixed-count query stratum: the [[queryN]] vectors
    * whose md5-derived key is smallest (ties broken by id — keys are
    * 60-bit md5 prefixes, so collisions are negligible but the order is
    * total either way). `orderBy.limit(n)` plans as TakeOrderedAndProject:
    * a per-partition top-N then one N-row merge — an O(n) scan with no
    * global sort, safe at any corpus size. Returns `(a_id, ea)` so exact
    * tiers can broadcast the vectors directly. */
  def queryVectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
        queryKey(col("vec_id")).as("qk"))
      .orderBy(col("qk"), col("a_id")).limit(queryN)
      .select("a_id", "ea")

  /** Just the stratum ids (single `vec_id` column), for semi-join
    * filtering of code/probe frames in the sketch tiers. */
  def queryIds(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), queryKey(col("vec_id")).as("qk"))
      .orderBy(col("qk"), col("vec_id")).limit(queryN)
      .select("vec_id")

  /** The same stratum as a DuckDB CTE (`q_ids(vec_id)`) — md5 prefix→int64
    * is the engine-portable hash idiom shared with the dedup tier, so both
    * engines pick the identical [[queryN]] ids at every corpus size. */
  private[similarity] val queryIdsSql: String =
    s"""q_ids AS (
       |  SELECT vec_id FROM (
       |    SELECT vec_id, row_number() OVER (ORDER BY
       |        CAST('0x' || substr(md5('knnq|' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
       |        vec_id) AS qr
       |    FROM embeddings)
       |  WHERE qr <= $queryN)""".stripMargin

  /** Exact top-k inner-product neighbors for the fixed-count query stratum
    * ([[queryVectors]]). Norms are one fold per *vector* (broadcast-joined
    * in), not per pair — per-pair norm recomputation cost
    * |queries|·|corpus| redundant folds. */
  def bruteForceTopK(emb: DataFrame, k: Int): DataFrame = {
    val q = queryVectors(emb)
    val c = emb.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    val norms = emb.select(col("vec_id").as("id"),
      dotFold(col("embedding"), col("embedding")).as("n2"))
    // q broadcasts BY DESIGN and is bounded: ≤ queryN rows by construction
    // at any corpus size (the non-equi pairing needs one resident side).
    val scored = c.join(broadcast(q), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), dotFold(col("ea"), col("eb")).as("dot"))
    val rk = Window.partitionBy("a_id").orderBy(col("dot").desc, col("b_id").asc)
    // norms is corpus-sized: NO broadcast hint — the top-k frame it joins is
    // |queries|·k rows, so AQE broadcasts that (small) side at runtime; a
    // hint here would materialize the whole corpus on the driver at scale.
    scored.withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= k)
      .join(norms.toDF("a_id", "na2"), "a_id")
      .join(norms.toDF("b_id", "nb2"), "b_id")
      .select(col("a_id"), col("rk"), col("b_id"), col("dot"),
        (col("dot") / (sqrt(col("na2")) * sqrt(col("nb2")))).as("cosine"))
  }

  /** Default code width — the driver's correctness gate runs at a fixed 500
    * vectors where [[codeBits]] resolves to 9; 8 is the floor for tiny specs. */
  val lshBits = 8
  val lshTables = 4
  val maxDims = 64

  /** Scale the bucket-code width with the corpus: b = ⌈log₂(n)⌉ keeps
    * expected bucket occupancy O(1), so candidate volume stays ~n·L instead
    * of n²/2^b. Capped at 24 (16M buckets/table) — beyond that you grow L
    * or multiprobe, not b. Exact integer log (leading-zeros), because the
    * float formula `ceil(ln n / ln 2)` is off-by-one at 2^29, 2^31, 2^39,
    * 2^47 — a width flip right at a power-of-two corpus size. */
  def codeBits(n: Long): Int = {
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(n, 2) - 1)
    math.min(24, math.max(lshBits, ceilLog2))
  }

  /** Deterministic md5-derived hyperplane component ∈ [-0.5, 0.5) — a pure
    * function of (table, bit, dim), independent of code width, computed on
    * the driver and shipped as literals both to Spark and into the DuckDB
    * oracle SQL. */
  def planeVal(t: Int, j: Int, i: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane|$t|$j|$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16).toDouble / 1152921504606846976.0 /* 2^60 */ - 0.5
  }

  def planeRow(t: Int, j: Int): IndexedSeq[Double] =
    (0 until maxDims).map(planeVal(t, j, _))

  /** (vec id, table, bucket code): L × b-bit sign-random-projection codes.
    * Each projection is an ordered `zip_with`+`aggregate` fold of the row's
    * embedding against a literal plane row — per-row arithmetic with a fixed
    * evaluation order, so the sign bits are identical under any partitioning
    * (an unordered `sum` could flip a near-zero projection between runs) and
    * identical to DuckDB's `list_reduce`. No shuffle: the old
    * posexplode+groupBy formulation paid one for the same numbers. */
  def srpCodes(emb: DataFrame, bits: Int = lshBits): DataFrame = {
    val codes = (0 until lshTables).map { t =>
      struct(lit(t).as("t"),
        (0 until bits).map { j =>
          // zero-null variant of the codegen fold — replays the old
          // coalesce(x·p, 0.0) zip_with arithmetic term-for-term
          val proj = graft.functions.GraftFunctions.dot_fold_zero(
            col("embedding"), typedLit(planeRow(t, j)))
          when(proj > 0, lit(1L << j)).otherwise(0L)
        }.reduce(_ + _).as("code"))
    }
    emb.select(col("vec_id").as("id"), explode(array(codes: _*)).as("tc"))
      .select(col("id"), col("tc.t").as("t"), col("tc.code").as("code"))
  }

  /** Shared scoring tail of the LSH variants: exact dots for an explicit
    * (a_id, b_id) candidate set, then per-query top-k. One definition so the
    * tie-break order (`dot desc, b_id asc`) and the fold arithmetic cannot
    * drift between probe strategies. Both embedding lookups are plain
    * shuffle equi-joins — every frame here scales with the corpus (even the
    * query stratum is n/20), so no side carries a broadcast hint; AQE still
    * broadcasts whichever side is genuinely small at runtime. */
  private[similarity] def scoredTopK(emb: DataFrame, cand: DataFrame, k: Int): DataFrame = {
    val q = emb.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val c = emb.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    val dots = cand.join(c, "b_id").join(q, "a_id")
      .select(col("a_id"), col("b_id"), dotFold(col("ea"), col("eb")).as("dot"))
    val rk = Window.partitionBy("a_id").orderBy(col("dot").desc, col("b_id").asc)
    dots.withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= k)
      .select(col("a_id"), col("rk"), col("b_id"), col("dot"))
  }

  /** Approximate top-k: union of same-bucket candidates over all tables.
    * Recall vs [[bruteForceTopK]] is asserted in KnnSpec. */
  def lshTopK(emb: DataFrame, k: Int, bits: Int = lshBits): DataFrame = {
    // both sides of the bucket self-join read the codes; pushdown of the
    // query-side filter differentiates the subtrees and defeats exchange
    // reuse, so cache the sketch (a few KB per thousand vectors)
    val codes = graft.util.Caches.materialize(srpCodes(emb, bits))
    // stratum semi-join: queryIds is ≤ queryN rows by construction, the one
    // legitimately-broadcast frame in this family
    val qc = codes.join(broadcast(queryIds(emb).withColumnRenamed("vec_id", "id")), "id")
      .toDF("a_id", "t", "code")
    val bc = codes.toDF("b_id", "t", "code")
    val cand = qc.join(bc, Seq("t", "code")).filter(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id").distinct()
    scoredTopK(emb, cand, k)
  }

  /** Multiprobe variant of [[lshTopK]]: each query additionally probes every
    * Hamming-1 neighbor bucket (flip one code bit). Multiprobe is how LSH
    * keeps recall while [[codeBits]] widens codes for scale: b+1 probes per
    * table recover most of the candidates a 1-bit-narrower code would see,
    * at probe cost ∝ b instead of bucket-size cost ∝ n/2^b — the standard
    * width/recall escape hatch (Lv et al., VLDB'07). Candidate generation
    * stays a pure equi-join on (table, code); only the probe side fans out. */
  def lshTopKMultiprobe(emb: DataFrame, k: Int, bits: Int = lshBits): DataFrame = {
    val codes = graft.util.Caches.materialize(srpCodes(emb, bits))
    val probes = (0 until bits).map(j => col("code").bitwiseXOR(lit(1L << j))) :+ col("code")
    val qc = codes.join(broadcast(queryIds(emb).withColumnRenamed("vec_id", "id")), "id")
      .select(col("id").as("a_id"), col("t"), explode(array(probes: _*)).as("code"))
    val bc = codes.toDF("b_id", "t", "code")
    val cand = qc.join(bc, Seq("t", "code")).filter(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id").distinct()
    scoredTopK(emb, cand, k)
  }

  /** s7: the all-corpus approximate kNN GRAPH — top-k neighbors for EVERY
    * vector, not just the fixed query stratum. This is the production
    * primitive behind SemDeDup-quality curation and graph-based dedup: the
    * corpus IS the query set, so an exact build is n² and off the table at
    * any real scale. Multiprobe LSH candidate generation (same Hamming-1
    * probes as [[lshTopKMultiprobe]], over every vector) keeps candidate
    * volume O(n·L·b) with b = [[codeBits]] ≈ log₂ n and O(1) expected
    * bucket occupancy — an O(n log n) pair budget instead of n², every
    * stage a shuffle equi-join + one rank-filter window (WindowGroupLimit
    * pushdown), nothing corpus-sized broadcast. Vectors whose probes hit
    * only singleton buckets contribute no rows — the standard LSH-graph
    * recall trade, pinned by KnnSpec's coverage/recall floor. */
  def knnGraph(emb: DataFrame, k: Int, bits: Int = lshBits,
               nRows: Long = 0L): DataFrame = {
    // The corpus IS the query set here, so the candidate stream is
    // ~6·n·(bits+1) pairs (bucket occupancy 6.1–6.5 measured at
    // n = 200k/600k). Two scale choices follow, both measured on the
    // round-11 sf10→sf30 curve where time grew 4.35× at 3× data while
    // the candidate count itself grew 3.12× (i.e. the pair budget was
    // linear and the EXECUTION shape was not):
    //  1. Score INSIDE the bucket join. Both embeddings are already
    //     co-located in the joined row, so the dot is computed where the
    //     data sits and only (a_id, b_id, dot) ever shuffles again. The
    //     stratum variants attach embeddings to candidates afterwards
    //     (scoredTopK) — right when candidates are collision-sized, but
    //     here that shape moved ~n·(b+1)·occupancy rows × two 64-float
    //     payloads (tens of GB at 600k vectors) through the verify
    //     exchanges. Duplicate pairs from multi-table/multi-probe
    //     collisions re-verify (~3% extra dots) and dedup AFTER scoring
    //     (dots of the same pair are bit-identical), replacing the wide
    //     distinct+join-back with one skinny aggregate.
    //  2. Volume-derived parallelism (the g2 closeParts pattern): ~1.5M
    //     candidate rows per task at any n; the session default stands
    //     when nRows is unknown (0) — right for the bounded-stratum
    //     variants that share this file.
    val defaultParts = emb.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val parts = math.max(defaultParts,
      (6L * nRows * (bits + 1) / 1500000L).toInt)
    val codesE = graft.util.Caches.materialize(srpCodes(emb, bits)
      .join(emb.select(col("vec_id").as("id"), col("embedding").as("e")), "id"))
    val probes = (0 until bits).map(j => col("code").bitwiseXOR(lit(1L << j))) :+ col("code")
    val qc = codesE.select(col("id").as("a_id"), col("t"), col("e").as("ea"),
        explode(array(probes: _*)).as("code"))
      .repartition(parts, col("t"), col("code"))
    val bc = codesE.select(col("id").as("b_id"), col("t"), col("e").as("eb"),
        col("code"))
      .repartition(parts, col("t"), col("code"))
    val scored = qc.join(bc, Seq("t", "code"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), dotFold(col("ea"), col("eb")).as("dot"))
      // one a_id exchange serves the pair dedup (a_id ⊂ (a_id, b_id)
      // clustering), the top-k window, AND bounds every task's rows
      .repartition(parts, col("a_id"))
      .groupBy("a_id", "b_id").agg(max(col("dot")).as("dot"))
    val rk = Window.partitionBy("a_id").orderBy(col("dot").desc, col("b_id").asc)
    scored.withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= k)
      .select(col("a_id"), col("rk"), col("b_id"), col("dot"))
  }

  def s7KnnGraph(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.cachedCount(spark, dir, "embeddings")
    knnGraph(Tables.embeddings(spark, dir), 5, dirBits(spark, dir), n)
      .orderBy("a_id", "rk")
  }

  val quantScale = 127

  /** Int8 scalar quantization: each component becomes ⌊x·127⌋ ∈ [-128,127]
    * (unit-norm vectors ⇒ |x| ≤ 1). `floor` of an exact double product is
    * engine-exact, and the scores are pure BIGINT folds — so unlike float
    * sketches this needs no ordered-fold care at all. */
  def quantize(e: Column): Column =
    transform(e, x => floor(x.cast("double") * quantScale).cast("long"))

  private def intDotFold(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot_fold(a, b) // array<long> ⇒ BIGINT fold

  /** Two-stage quantized kNN: scan int8 codes for approximate scores, keep
    * `k · rerank` candidates per query, then re-score ONLY those at full
    * precision. This is the memory-bandwidth play every production vector
    * store makes at scale: stage 1 reads 1 byte/dim instead of 4 (4× less
    * scan traffic than [[bruteForceTopK]] for the same access pattern),
    * stage 2 touches |queries|·k·rerank full vectors instead of the corpus.
    * Same by-design query-stratum broadcast as the exact baseline (the
    * non-equi scan needs one resident side), and the stratum is a FIXED
    * COUNT ([[queryN]]) — so the broadcast is bounded and the int8 scan is
    * O(queryN · n), linear in the corpus; the rerank joins are plain
    * shuffle equi-joins — candidate frames only. */
  def quantizedTopK(emb: DataFrame, k: Int, rerank: Int = 4): DataFrame = {
    val qc = emb.select(col("vec_id").as("b_id"), quantize(col("embedding")).as("qb"))
    val qq = qc.toDF("a_id", "qa")
      .join(broadcast(queryIds(emb).withColumnRenamed("vec_id", "a_id")), "a_id")
    val approx = qc.join(broadcast(qq), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), intDotFold(col("qa"), col("qb")).as("qdot"))
    val w1 = Window.partitionBy("a_id").orderBy(col("qdot").desc, col("b_id").asc)
    val cand = approx.withColumn("qrk", row_number().over(w1))
      .filter(col("qrk") <= k * rerank)
      .select("a_id", "b_id", "qdot")
    val q = emb.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val c = emb.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    val w2 = Window.partitionBy("a_id").orderBy(col("dot").desc, col("b_id").asc)
    cand.join(c, "b_id").join(q, "a_id")
      .select(col("a_id"), col("b_id"), col("qdot"),
        dotFold(col("ea"), col("eb")).as("dot"))
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= k)
      .select("a_id", "rk", "b_id", "qdot", "dot")
  }

  /** Embedding-cosine near-dup pairs: LSH-bucketed candidate generation +
    * exact cosine verify ≥ threshold. The dedup-tier twin of lshTopK —
    * cost ∝ bucket collisions, never |corpus|². */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double,
                         bits: Int = lshBits): DataFrame = {
    val codes = graft.util.Caches.materialize(srpCodes(emb, bits))
    val cand = codes.toDF("a_id", "t", "code")
      .join(codes.toDF("b_id", "t", "code"), Seq("t", "code"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val va = emb.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val vb = emb.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    val norms = emb.select(col("vec_id").as("id"),
      sqrt(dotFold(col("embedding"), col("embedding"))).as("nrm"))
    // va/vb/norms are all corpus-sized — shuffle equi-joins only (a
    // broadcast hint on any of them is a driver-side copy of the whole
    // embedding table at scale); cand is already collision-bounded.
    cand.join(va, "a_id").join(vb, "b_id")
      .join(norms.toDF("a_id", "na"), "a_id")
      .join(norms.toDF("b_id", "nb"), "b_id")
      .select(col("a_id"), col("b_id"),
        (dotFold(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Exact cosine pairs over the fixed-count query stratum
    * ([[queryVectors]]) — the sampled brute-force audit for the sketch
    * tier: at 100 TB you never run all-pairs, you run exact cosine for a
    * fixed sample of queries and measure sketch recall against it. Same
    * broadcast + ordered-fold shape as [[bruteForceTopK]], so it is
    * oracle-exact. */
  def cosineExactPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val q = queryVectors(emb)
    val c = emb.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    val norms = emb.select(col("vec_id").as("id"),
      sqrt(dotFold(col("embedding"), col("embedding"))).as("nrm"))
    // q broadcasts BY DESIGN and is bounded (≤ queryN rows): the non-equi
    // pairing needs one side resident. norms is corpus-sized, so its joins
    // are plain shuffle equi-joins — no hint.
    c.join(broadcast(q), col("a_id") =!= col("b_id"))
      .join(norms.toDF("a_id", "na"), "a_id")
      .join(norms.toDF("b_id", "nb"), "b_id")
      .select(col("a_id"), col("b_id"),
        (dotFold(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  def s1KnnExact(spark: SparkSession, dir: String): DataFrame =
    bruteForceTopK(Tables.embeddings(spark, dir), 5).orderBy("a_id", "rk")

  /** Auto code width for a driver table — the count comes from
    * Tables.cachedCount (memoized; no per-invocation counting job). */
  private def dirBits(spark: SparkSession, dir: String): Int =
    codeBits(Tables.cachedCount(spark, dir, "embeddings"))

  def s2KnnLsh(spark: SparkSession, dir: String): DataFrame =
    lshTopK(Tables.embeddings(spark, dir), 5, dirBits(spark, dir))
      .orderBy("a_id", "rk")

  def s2bKnnMultiprobe(spark: SparkSession, dir: String): DataFrame =
    lshTopKMultiprobe(Tables.embeddings(spark, dir), 5, dirBits(spark, dir))
      .orderBy("a_id", "rk")

  def d5EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    cosineNearDupPairs(Tables.embeddings(spark, dir), 0.3, dirBits(spark, dir))
      .orderBy("a_id", "b_id")

  def d5bCosineExact(spark: SparkSession, dir: String): DataFrame =
    cosineExactPairs(Tables.embeddings(spark, dir), 0.3).orderBy("a_id", "b_id")

  def s4KnnQuantized(spark: SparkSession, dir: String): DataFrame =
    quantizedTopK(Tables.embeddings(spark, dir), 5).orderBy("a_id", "rk")

  /** Reduced dimensionality for the s6 coarse stage — 24 of 64 dims cuts
    * stage-1 multiplies 2.7×; on unit-norm gaussian corpora (the hardest
    * JL case: every neighbor dot is close) fewer dims cost too much
    * coarse-ranking signal for a 5-of-500 top-k (measured: 16 dims ⇒ 0.20
    * recall at rerank 4; 24 dims + rerank 8 ⇒ see KnnSpec floor). */
  val redDims = 24

  /** Deterministic md5-derived REDUCTION plane component — a separate key
    * family from the LSH hyperplanes ([[planeVal]]), same construction. */
  def rplaneVal(j: Int, i: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rplane|$j|$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16).toDouble / 1152921504606846976.0 - 0.5
  }

  def rplaneRow(j: Int): IndexedSeq[Double] =
    (0 until maxDims).map(rplaneVal(j, _))

  /** `(vec_id, red)`: the corpus projected to [[redDims]] dims by the fixed
    * random-projection matrix — Johnson–Lindenstrauss: random projections
    * approximately preserve inner products, so a cheap coarse ranking in
    * the [[redDims]]-dim space recovers most of the true top-k, which an exact rerank
    * then fixes. One corpus pass, [[redDims]] ordered [[dotFold]]s per row
    * (codegen), every number engine-exact. */
  def reduceVectors(emb: DataFrame): DataFrame = {
    val comps = (0 until redDims).map { j =>
      graft.functions.GraftFunctions.dot_fold_zero(
        col("embedding"), typedLit(rplaneRow(j)))
    }
    emb.select(col("vec_id"), array(comps: _*).as("red"))
  }

  /** s6: two-stage kNN through the reduced space — coarse top `k · rerank`
    * by reduced-space dot, exact full-precision rerank of only those
    * candidates. The dimensionality-reduction sibling of [[quantizedTopK]]
    * (compress the SCAN, rerank exactly): stage 1 is O(queryN·n·redDims)
    * with the same bounded-broadcast query stratum; stage 2 touches
    * |queries|·k·rerank full vectors through plain shuffle equi-joins. */
  def reducedTopK(emb: DataFrame, k: Int, rerank: Int = 8): DataFrame = {
    // the reduced frame is a SKETCH (24 doubles/row, smaller than the
    // embeddings) read by both the query and corpus sides — cache it like
    // the LSH codes frame, or the 24-fold reduction pass runs twice
    val red = graft.util.Caches.materialize(reduceVectors(emb))
    val rq = red.toDF("a_id", "ra")
      .join(broadcast(queryIds(emb).withColumnRenamed("vec_id", "a_id")), "a_id")
    val rc = red.toDF("b_id", "rb")
    val approx = rc.join(broadcast(rq), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), dotFold(col("ra"), col("rb")).as("rdot"))
    val w1 = Window.partitionBy("a_id").orderBy(col("rdot").desc, col("b_id").asc)
    val cand = approx.withColumn("qrk", row_number().over(w1))
      .filter(col("qrk") <= k * rerank)
      .select("a_id", "b_id", "rdot")
    val q = emb.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val c = emb.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    val w2 = Window.partitionBy("a_id").orderBy(col("dot").desc, col("b_id").asc)
    cand.join(c, "b_id").join(q, "a_id")
      .select(col("a_id"), col("b_id"), col("rdot"),
        dotFold(col("ea"), col("eb")).as("dot"))
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= k)
      .select("a_id", "rk", "b_id", "rdot", "dot")
  }

  /** s6 defaults shared with the oracle SQL — the oracle interpolates
    * `s6K * s6Rerank` so changing either can never silently desynchronize
    * the engine and the DuckDB twin. */
  private[similarity] val s6K = 5
  private[similarity] val s6Rerank = 8

  def s6KnnReduced(spark: SparkSession, dir: String): DataFrame =
    reducedTopK(Tables.embeddings(spark, dir), s6K, s6Rerank)
      .orderBy("a_id", "rk")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_knn_exact" -> (s1KnnExact _),
    "s2_knn_lsh" -> (s2KnnLsh _),
    "s2b_knn_multiprobe" -> (s2bKnnMultiprobe _),
    "s4_knn_quantized" -> (s4KnnQuantized _),
    "s6_knn_reduced" -> (s6KnnReduced _),
    "s7_knn_graph" -> (s7KnnGraph _),
    "d5_embedding_neardup" -> (d5EmbeddingNearDup _),
    "d5b_cosine_exact" -> (d5bCosineExact _)
  )

  /** Max code width the oracle SQL is generated for; terms above the
    * runtime width are gated off by the `w` CTE. */
  private val maxOracleBits = 24

  /** DuckDB fold of `expr[i] · plane[i]` over the first maxDims positions —
    * textual twin of the Spark [[graft.functions.DotFold]] zero-null fold.
    * Literals are emitted in SCIENTIFIC notation: DuckDB types a plain
    * decimal literal as DECIMAL(18,17) and its decimal→double conversion
    * (scaled-int64 · 10⁻¹⁷ in float arithmetic) is NOT correctly rounded —
    * measured 1-ulp wobble that broke s6's rdot column (the sign-only LSH
    * code folds masked it). An e-notation literal is typed DOUBLE and
    * parsed with correct rounding, so 17 significant digits round-trip to
    * the exact double Spark inlines. */
  private def foldSql(arr: String, lits: IndexedSeq[Double]): String = {
    // Locale.ROOT: a JVM under a comma-decimal default locale (de_DE, …)
    // would otherwise emit '1,23e-01', which DuckDB misparses.
    val litList = lits
      .map(d => String.format(java.util.Locale.ROOT, "%.17e", Double.box(d)))
      .mkString(", ")
    s"""list_reduce(list_transform(range(1, ${maxDims + 1}),
       |        i -> coalesce(CAST($arr[i] AS DOUBLE) * ([$litList])[i], 0.0)),
       |        (acc, x) -> acc + x)""".stripMargin
  }

  /** Exact integer ceil-log2 width in SQL: `length(bin(n-1))` is
    * floor(log2(n-1))+1 = ⌈log₂ n⌉ with no float detour — the same value as
    * the engine's leading-zeros [[codeBits]] at EVERY corpus size, so the
    * oracle tracks the engine's auto width at any scale factor. */
  private val widthSql =
    """w AS (
      |  SELECT GREATEST(8, LEAST(24, length(bin(GREATEST(COUNT(*), 2) - 1)))) AS width
      |  FROM embeddings)""".stripMargin

  /** `codes` CTE body: one SELECT per hash table, sign-bit sums inlined with
    * the literal hyperplanes — byte-for-byte the numbers Spark computes.
    * All 24 bit terms are emitted, each gated on `j < w.width`; CASE
    * branches evaluate lazily, so unused widths cost nothing. */
  private def codesSql: String = {
    val tableSelects = (0 until lshTables).map { t =>
      val bitTerms = (0 until maxOracleBits).map { j =>
        s"""CASE WHEN $j < w.width THEN
           |      (CASE WHEN ${foldSql("embedding", planeRow(t, j))} > 0
           |       THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)
           |      ELSE CAST(0 AS BIGINT) END""".stripMargin
      }.mkString("\n      + ")
      s"""SELECT vec_id AS id, $t AS t,
         |      $bitTerms AS code
         |    FROM embeddings CROSS JOIN w""".stripMargin
    }.mkString("\n    UNION ALL\n    ")
    s"""$widthSql,
       |codes AS (
       |    $tableSelects)""".stripMargin
  }

  private[graft] val dotSql =
    """list_reduce(list_transform(range(1, len(a.embedding) + 1),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
      |      (acc, x) -> acc + x)""".stripMargin

  private val normsSql =
    """norms AS (
      |  SELECT vec_id AS id,
      |    sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |      (acc, x) -> acc + x)) AS nrm
      |  FROM embeddings)""".stripMargin

  def oracle: Map[String, String] = Map(
    "s1_knn_exact" ->
      s"""WITH $queryIdsSql,
        |q AS (
        |  SELECT vec_id AS a_id, embedding AS ea FROM embeddings
        |  WHERE vec_id IN (SELECT vec_id FROM q_ids)),
        |norms AS (
        |  SELECT vec_id AS id,
        |    list_reduce(list_transform(range(1, len(embedding) + 1),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |      (acc, x) -> acc + x) AS n2
        |  FROM embeddings),
        |scored AS (
        |  SELECT a_id, b.vec_id AS b_id,
        |    list_reduce(list_transform(range(1, len(ea) + 1),
        |      i -> CAST(ea[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
        |      (acc, x) -> acc + x) AS dot
        |  FROM q JOIN embeddings b ON b.vec_id <> a_id),
        |ranked AS (
        |  SELECT a_id, b_id, dot,
        |    row_number() OVER (PARTITION BY a_id ORDER BY dot DESC, b_id) AS rk
        |  FROM scored)
        |SELECT a_id, rk, b_id, dot,
        |  dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
        |FROM ranked JOIN norms na ON na.id = a_id JOIN norms nb ON nb.id = b_id
        |WHERE rk <= 5 ORDER BY a_id, rk""".stripMargin,
    "s2_knn_lsh" ->
      s"""WITH $codesSql,
        |$queryIdsSql,
        |cand AS (
        |  SELECT DISTINCT qc.id AS a_id, c.id AS b_id
        |  FROM codes qc JOIN codes c ON c.t = qc.t AND c.code = qc.code AND c.id <> qc.id
        |  WHERE qc.id IN (SELECT vec_id FROM q_ids)),
        |dots AS (
        |  SELECT cand.a_id, cand.b_id,
        |    $dotSql AS dot
        |  FROM cand JOIN embeddings a ON a.vec_id = cand.a_id
        |            JOIN embeddings b ON b.vec_id = cand.b_id),
        |ranked AS (
        |  SELECT a_id, b_id, dot,
        |    row_number() OVER (PARTITION BY a_id ORDER BY dot DESC, b_id) AS rk
        |  FROM dots)
        |SELECT a_id, rk, b_id, dot FROM ranked WHERE rk <= 5
        |ORDER BY a_id, rk""".stripMargin,
    "s2b_knn_multiprobe" ->
      s"""WITH $codesSql,
        |$queryIdsSql,
        |qp AS (
        |  SELECT c.id AS a_id, c.t,
        |    CASE WHEN p.k = w.width THEN c.code
        |         ELSE xor(c.code, CAST(1 AS BIGINT) << p.k) END AS code
        |  FROM codes c CROSS JOIN (SELECT unnest(range(0, ${maxOracleBits + 1})) AS k) p
        |       CROSS JOIN w
        |  WHERE c.id IN (SELECT vec_id FROM q_ids) AND p.k <= w.width),
        |cand AS (
        |  SELECT DISTINCT qp.a_id, b.id AS b_id
        |  FROM qp JOIN codes b ON b.t = qp.t AND b.code = qp.code AND b.id <> qp.a_id),
        |dots AS (
        |  SELECT cand.a_id, cand.b_id,
        |    $dotSql AS dot
        |  FROM cand JOIN embeddings a ON a.vec_id = cand.a_id
        |            JOIN embeddings b ON b.vec_id = cand.b_id),
        |ranked AS (
        |  SELECT a_id, b_id, dot,
        |    row_number() OVER (PARTITION BY a_id ORDER BY dot DESC, b_id) AS rk
        |  FROM dots)
        |SELECT a_id, rk, b_id, dot FROM ranked WHERE rk <= 5
        |ORDER BY a_id, rk""".stripMargin,
    "s7_knn_graph" ->
      s"""WITH $codesSql,
        |qp AS (
        |  SELECT c.id AS a_id, c.t,
        |    CASE WHEN p.k = w.width THEN c.code
        |         ELSE xor(c.code, CAST(1 AS BIGINT) << p.k) END AS code
        |  FROM codes c CROSS JOIN (SELECT unnest(range(0, ${maxOracleBits + 1})) AS k) p
        |       CROSS JOIN w
        |  WHERE p.k <= w.width),
        |cand AS (
        |  SELECT DISTINCT qp.a_id, b.id AS b_id
        |  FROM qp JOIN codes b ON b.t = qp.t AND b.code = qp.code AND b.id <> qp.a_id),
        |dots AS (
        |  SELECT cand.a_id, cand.b_id,
        |    $dotSql AS dot
        |  FROM cand JOIN embeddings a ON a.vec_id = cand.a_id
        |            JOIN embeddings b ON b.vec_id = cand.b_id),
        |ranked AS (
        |  SELECT a_id, b_id, dot,
        |    row_number() OVER (PARTITION BY a_id ORDER BY dot DESC, b_id) AS rk
        |  FROM dots)
        |SELECT a_id, rk, b_id, dot FROM ranked WHERE rk <= 5
        |ORDER BY a_id, rk""".stripMargin,
    "d5_embedding_neardup" ->
      s"""WITH $codesSql,
        |cand AS (
        |  SELECT DISTINCT x.id AS a_id, y.id AS b_id
        |  FROM codes x JOIN codes y ON y.t = x.t AND y.code = x.code AND x.id < y.id),
        |$normsSql
        |SELECT cand.a_id, cand.b_id,
        |  $dotSql / (na.nrm * nb.nrm) AS cosine
        |FROM cand JOIN embeddings a ON a.vec_id = cand.a_id
        |          JOIN embeddings b ON b.vec_id = cand.b_id
        |          JOIN norms na ON na.id = cand.a_id
        |          JOIN norms nb ON nb.id = cand.b_id
        |WHERE $dotSql / (na.nrm * nb.nrm) >= 0.3
        |ORDER BY cand.a_id, cand.b_id""".stripMargin,
    "s4_knn_quantized" ->
      s"""WITH $queryIdsSql,
        |qc AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * $quantScale) AS BIGINT)) AS q
        |  FROM embeddings),
        |approx AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    list_reduce(list_transform(range(1, len(a.q) + 1),
        |      i -> a.q[i] * b.q[i]), (acc, x) -> acc + x) AS qdot
        |  FROM qc a JOIN qc b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id IN (SELECT vec_id FROM q_ids)),
        |cand AS (
        |  SELECT a_id, b_id, qdot,
        |    row_number() OVER (PARTITION BY a_id ORDER BY qdot DESC, b_id) AS qrk
        |  FROM approx),
        |dots AS (
        |  SELECT cand.a_id, cand.b_id, cand.qdot,
        |    $dotSql AS dot
        |  FROM cand JOIN embeddings a ON a.vec_id = cand.a_id
        |            JOIN embeddings b ON b.vec_id = cand.b_id
        |  WHERE cand.qrk <= 20),
        |ranked AS (
        |  SELECT a_id, b_id, qdot, dot,
        |    row_number() OVER (PARTITION BY a_id ORDER BY dot DESC, b_id) AS rk
        |  FROM dots)
        |SELECT a_id, rk, b_id, qdot, dot FROM ranked WHERE rk <= 5
        |ORDER BY a_id, rk""".stripMargin,
    "s6_knn_reduced" -> {
      val redList = (0 until redDims)
        .map(j => foldSql("embedding", rplaneRow(j))).mkString(",\n      ")
      s"""WITH $queryIdsSql,
        |red AS (
        |  SELECT vec_id, [
        |      $redList] AS red
        |  FROM embeddings),
        |approx AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    list_reduce(list_transform(range(1, $redDims + 1),
        |      i -> a.red[i] * b.red[i]), (acc, x) -> acc + x) AS rdot
        |  FROM red a JOIN red b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id IN (SELECT vec_id FROM q_ids)),
        |cand AS (
        |  SELECT a_id, b_id, rdot,
        |    row_number() OVER (PARTITION BY a_id ORDER BY rdot DESC, b_id) AS qrk
        |  FROM approx),
        |dots AS (
        |  SELECT cand.a_id, cand.b_id, cand.rdot,
        |    $dotSql AS dot
        |  FROM cand JOIN embeddings a ON a.vec_id = cand.a_id
        |            JOIN embeddings b ON b.vec_id = cand.b_id
        |  WHERE cand.qrk <= ${s6K * s6Rerank}),
        |ranked AS (
        |  SELECT a_id, b_id, rdot, dot,
        |    row_number() OVER (PARTITION BY a_id ORDER BY dot DESC, b_id) AS rk
        |  FROM dots)
        |SELECT a_id, rk, b_id, rdot, dot FROM ranked WHERE rk <= $s6K
        |ORDER BY a_id, rk""".stripMargin
    },
    "d5b_cosine_exact" ->
      s"""WITH $queryIdsSql,
        |q AS (
        |  SELECT vec_id AS a_id FROM q_ids),
        |$normsSql
        |SELECT q.a_id, b.vec_id AS b_id,
        |  $dotSql / (na.nrm * nb.nrm) AS cosine
        |FROM q JOIN embeddings a ON a.vec_id = q.a_id
        |       JOIN embeddings b ON b.vec_id <> q.a_id
        |       JOIN norms na ON na.id = q.a_id
        |       JOIN norms nb ON nb.id = b.vec_id
        |WHERE $dotSql / (na.nrm * nb.nrm) >= 0.3
        |ORDER BY q.a_id, b_id""".stripMargin
  )
}
