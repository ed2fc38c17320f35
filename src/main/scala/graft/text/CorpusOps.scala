package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.dedup.Dedup
import graft.text.TextAnalysis.tokens

/** Corpus-curation operators a large-scale training-data pipeline runs after
  * dedup/quality: deterministic stratified sampling, benchmark
  * decontamination, and sequence packing. All three are pure relational
  * dataflow (windows + joins over md5-derived keys), so they are
  * DuckDB-oracle-checked like the rest of the engine.
  *
  * Scale notes:
  *  - sampling: one shuffle on the stratum key; the sample key is a hash of
  *    the row id (not `rand()`), so the sample is reproducible across runs,
  *    engines, and cluster sizes — the property a training run needs to be
  *    re-creatable.
  *  - decontamination: shingle inverted-index semi-join — cost ∝ postings of
  *    the benchmark shingles only (the benchmark side is tiny by
  *    construction; at 100 TB it broadcasts).
  *  - packing: per-stratum running token offsets; one shuffle, no collect.
  */
object CorpusOps {

  /** Deterministic stratified sample: keep ⌈frac·|stratum|⌉ docs per
    * stratum, chosen by md5 rank — reproducible "uniform" sampling with
    * exact per-stratum quotas (rand()-based sampling gives neither). */
  def stratifiedSample(docs: DataFrame, strataCol: String, frac: Double): DataFrame = {
    val key = Dedup.md5Hash60(concat(lit("sample|"), col("doc_id").cast("string")))
    val w = Window.partitionBy(strataCol).orderBy(key.asc, col("doc_id").asc)
    docs
      .withColumn("smp_rank", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(strataCol)))
      .filter(col("smp_rank") <= ceil(lit(frac) * col("__cnt")))
      .select(col("doc_id"), col(strataCol), col("smp_rank"))
  }

  /** Scale path for sampling: hash-threshold — keep docs whose md5 key
    * falls in the bottom `frac` of the key space. Zero shuffles and no
    * global rank (the exact-quota variant must sort inside each stratum,
    * which at 100 TB makes a hot language one giant task); the tradeoff is
    * a binomial(n, frac) sample size instead of an exact quota. Same
    * deterministic key family as [[stratifiedSample]], so the two are
    * consistent audits of each other. */
  def hashSample(docs: DataFrame, frac: Double): DataFrame =
    docs
      .filter(Dedup.md5Hash60(concat(lit("sample|"), col("doc_id").cast("string")))
        < lit((frac * (1L << 60).toDouble).toLong))
      .select("doc_id", "lang")

  /** Benchmark decontamination: training docs sharing ≥1 3-gram shingle
    * with any benchmark doc (here the `doc_id % 100 = 0` stratum plays the
    * held-out eval set). Returns the contamination audit — per doc, how many
    * benchmark docs and distinct shingles it collides with — which is what
    * you act on (drop or flag) before a training run. */
  def decontaminate(docs: DataFrame): DataFrame = {
    val sh = graft.util.Caches.materialize(TextAnalysis.shingleRows(docs))
    val bench = sh.filter(col("doc_id") % 100 === 0).toDF("bench_id", "s2")
    sh.filter(col("doc_id") % 100 =!= 0)
      .join(broadcast(bench), col("s") === col("s2"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("bench_id")).as("n_benchmarks"),
        countDistinct(col("s")).as("n_shingles"))
  }

  /** Sequence packing (concat-and-chunk): within each stratum, documents are
    * laid end-to-end in id order and cut into fixed token-budget sequences;
    * a doc's sequence is the budget-bucket its start offset lands in. The
    * standard pretraining batch-assembly shape, as a window cumsum — no
    * driver-side loop, one shuffle on the stratum.
    *
    * The cumsum is inherently sequential per window partition, so a hot
    * stratum (one dominant language) is one giant task under the global
    * key. `shardSize > 0` is the 100 TB fix: the partition key becomes
    * `(lang, doc_id div shardSize)` and token offsets RESTART at every
    * shard boundary — each window task is bounded by shardSize docs, and
    * the result is deterministic because the restart points are a pure
    * function of doc_id, not of partitioning. Sharded output carries the
    * `shard` column, since (shard, seq_id) is the sequence identity there.
    * `shardSize = 0` (default) keeps the exact global packing. */
  def packSequences(docs: DataFrame, budget: Int, shardSize: Long = 0L): DataFrame = {
    val sharded = shardSize > 0
    val base = if (sharded) docs.withColumn("shard", expr(s"doc_id div $shardSize")) else docs
    val w = (if (sharded) Window.partitionBy("lang", "shard") else Window.partitionBy("lang"))
      .orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    val packed = base
      .withColumn("n_tokens", size(tokens(col("text"))).cast("bigint"))
      .withColumn("strt", sum("n_tokens").over(w) - col("n_tokens"))
      .withColumn("seq_id", expr(s"strt div $budget"))
    if (sharded)
      packed.select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"), col("seq_id"))
    else
      packed.select(col("doc_id"), col("lang"), col("n_tokens"), col("seq_id"))
  }

  /** Deterministic train/val/test split: the md5 key space is cut at exact
    * integer thresholds (80% / 10% / 10% of 2^60) — the assignment is a
    * pure per-row projection (zero shuffles), reproducible across runs,
    * engines, and cluster sizes, and adding documents never reassigns
    * existing ones (the property `rand()`-splits and modulo-splits lack
    * when the corpus grows). Distinct key salt from [[hashSample]] so
    * sampling and splitting stay independent events. */
  val splitTrainMax: Long = (1L << 60) / 10 * 8
  val splitValMax: Long = (1L << 60) / 10 * 9
  def splitAssign(docs: DataFrame): DataFrame = {
    val key = Dedup.md5Hash60(concat(lit("split|"), col("doc_id").cast("string")))
    docs.select(col("doc_id"), col("lang"),
      when(key < splitTrainMax, "train")
        .when(key < splitValMax, "val")
        .otherwise("test").as("split"))
  }

  def t5SampleStratified(spark: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.documents(spark, dir), "lang", 0.1)
      .orderBy("lang", "smp_rank")

  def t5bSampleHash(spark: SparkSession, dir: String): DataFrame =
    hashSample(Tables.documents(spark, dir), 0.1).orderBy("doc_id")

  def t5cSplitAssign(spark: SparkSession, dir: String): DataFrame =
    splitAssign(Tables.documents(spark, dir)).orderBy("doc_id")

  def t6Decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminate(Tables.documents(spark, dir)).orderBy("doc_id")

  def t7PackSequences(spark: SparkSession, dir: String): DataFrame =
    packSequences(Tables.documents(spark, dir), 4096).orderBy("lang", "doc_id")

  /** t7b: the bounded-task scale path — shards of 40 docs, 512-token budget
    * so shard-internal sequence boundaries actually occur at sf0.01. */
  def t7bPackSharded(spark: SparkSession, dir: String): DataFrame =
    packSequences(Tables.documents(spark, dir), 512, shardSize = 40L)
      .orderBy("lang", "doc_id")

  /** Target mixture for [[mixtureSample]]: lang → share of the output
    * budget. A real pipeline reads this from config (sources/Config); the
    * dataflow is what matters here. */
  val mixtureTarget: Seq[(String, Double)] = Seq(
    "en" -> 0.4, "es" -> 0.2, "de" -> 0.2, "fr" -> 0.2)
  val mixtureBudget: Long = 200L

  /** T15: mixture resampling — the domain-mixing step of a training-data
    * pipeline: downsample each language to `share × budget` documents.
    * Per-group acceptance keeps the scan map-side: the only shuffle is the
    * lang-cardinality count, whose output joins back by broadcast; every
    * document then passes a local threshold test, so the op scales as one
    * pass over the corpus regardless of group sizes (same shape as t5b,
    * with a per-group rate).
    *
    * Acceptance `k·have < want·2^60` (⇔ k/2^60 < want/have) is evaluated in
    * exact DECIMAL cross-multiplication — no float rate, no float compare —
    * so membership is engine-exact and growth-stable: adding documents only
    * tightens each group's rate, never reshuffles the key space. Groups
    * with have ≤ want accept everything (k < 2^60 makes the test vacuous).*/
  def mixtureSample(spark: SparkSession, docs: DataFrame): DataFrame = {
    val want = mixtureTarget.map { case (l, s) => (l, (s * mixtureBudget).toLong) }
    val wantDf = spark.createDataFrame(want).toDF("lang", "want")
    val have = docs.groupBy("lang").agg(count(lit(1)).as("have"))
    val rates = have.join(wantDf, "lang")
    val key = Dedup.md5Hash60(concat(lit("mix|"), col("doc_id").cast("string")))
    docs.select(col("doc_id"), col("lang"), key.as("k"))
      .join(broadcast(rates), Seq("lang"))
      .filter(col("k").cast("decimal(19,0)") * col("have").cast("decimal(10,0)") <
        col("want").cast("decimal(10,0)") * lit(1L << 60).cast("decimal(19,0)"))
      .select("doc_id", "lang", "have", "want")
      .orderBy("doc_id")
  }

  def t15MixtureSample(spark: SparkSession, dir: String): DataFrame =
    mixtureSample(spark, Tables.documents(spark, dir))

  /** Words per chunk for [[chunkDedupRewrite]]. */
  val chunkWords = 10

  /** T16: exact duplicate-chunk REMOVAL (the RefinedWeb "exact substring
    * deduplication" step at fixed chunk granularity): split every document
    * into consecutive `chunkWords`-word chunks, drop each chunk whose text
    * occurs in more than one document corpus-wide, and rebuild the cleaned
    * text from the survivors in order. d8 SCORES per-doc duplicate-shingle
    * coverage; this op REWRITES the corpus — the step that actually feeds a
    * training run.
    *
    * Dataflow: chunking is map-side (one explode over ⌈len/W⌉ chunk ids);
    * then one count-distinct-docs aggregate on the chunk text (partial
    * aggregation collapses repeats before the shuffle), one equi anti-join
    * back on the chunk key, one per-doc rebuild aggregate. No all-pairs
    * join anywhere — a hot chunk costs its postings in the count, and the
    * anti-join probe side stays (doc, chunk)-sized. The rebuild's
    * collect_list is per-document (bounded by document length, not corpus),
    * ordered deterministically by chunk id via array_sort. */
  def chunkDedupRewrite(docs: DataFrame): DataFrame = {
    val w = chunkWords
    val chunks = docs
      .select(col("doc_id"), tokens(lower(trim(col("text")))).as("l"))
      .select(col("doc_id"), col("l"),
        explode(sequence(lit(0),
          ceil(size(col("l")) / lit(w.toDouble)).cast("int") - 1)).as("g"))
      .select(col("doc_id"), col("g"),
        concat_ws(" ", slice(col("l"), col("g") * w + 1, lit(w))).as("chunk"))
    val dup = chunks.groupBy("chunk")
      .agg(countDistinct("doc_id").as("nd")).filter(col("nd") > 1)
      .select("chunk")
    val kept = chunks.join(dup, Seq("chunk"), "left_anti")
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("g"), col("chunk")))),
        s => s.getField("chunk"))).as("clean_text"))
    val totals = chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    docs.select("doc_id")
      .join(totals, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  def t16ChunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunkDedupRewrite(Tables.documents(spark, dir))

  /** T18: deterministic weighted systematic sampling — pick ~k documents
    * with probability proportional to size (weight = n_chars), the classic
    * PPS scheme for building a size-balanced subcorpus. A document is picked
    * iff the k-grid `⌊cum·k/total⌋` advances across its weight span
    * `(cum−w, cum]` — pure integer arithmetic over exact prefix sums, so
    * membership is engine-exact and reproducible (no float rates, no rand).
    *
    * The prefix sum is the distributed two-pass scan, NOT a global-ORDER
    * window (which would serialize the corpus through one task):
    * range-partition by doc_id and sort within partitions (one shuffle);
    * per-partition weight totals — a ≤|partitions|-row aggregate — come to
    * the driver, their exclusive scan is broadcast back as each partition's
    * offset, and a per-partition iterator adds local running weight to the
    * offset. `mapPartitions` is the honest tool here: a stateful scan over
    * a sorted partition is exactly the per-partition imperative logic
    * Catalyst's window model can only express by re-shuffling.
    *
    * Overflow: `cum·k` stays in BIGINT while `total·k < 2^63` — at 9.2e16
    * total chars (≈ 92 PB of text) the multiplication moves to
    * DECIMAL(38,0); the grid test itself is unchanged. */
  def weightedSystematic(spark: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val ranged = graft.util.Caches.materialize(
      docs.select(col("doc_id").cast("long"), col("n_chars").cast("long"))
        .repartitionByRange(col("doc_id"))
        .sortWithinPartitions("doc_id")
        .withColumn("__pid", spark_partition_id()))
    val partSums = ranged.groupBy("__pid").agg(sum("n_chars").as("w"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val total = partSums.map(_._2).sum
    if (total == 0L)
      return spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("n_chars"), lit(0L).as("cum"))
    val offsets = partSums.scanLeft(0L)(_ + _._2).init
    val offDf = partSums.map(_._1).zip(offsets).toSeq.toDF("__pid", "__off")
    ranged.join(broadcast(offDf), Seq("__pid")) // streamed side keeps its sort
      .select(col("doc_id"), col("n_chars"), col("__off"))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var cum = -1L
        it.map { case (id, w, off) =>
          if (cum < 0L) cum = off
          cum += w
          (id, w, cum)
        }
      }
      .toDF("doc_id", "n_chars", "cum")
      .filter(expr(s"(cum * $k) div $total > ((cum - n_chars) * $k) div $total"))
  }

  def t18WeightedSample(spark: SparkSession, dir: String): DataFrame =
    weightedSystematic(spark, Tables.documents(spark, dir), 100)
      .orderBy("doc_id")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t18_weighted_sample" -> (t18WeightedSample _),
    "t15_mixture_sample" -> (t15MixtureSample _),
    "t16_chunk_dedup" -> (t16ChunkDedup _),
    "t5_sample_stratified" -> (t5SampleStratified _),
    "t5b_sample_hash" -> (t5bSampleHash _),
    "t5c_split_assign" -> (t5cSplitAssign _),
    "t6_decontaminate" -> (t6Decontaminate _),
    "t7_pack_sequences" -> (t7PackSequences _),
    "t7b_pack_sharded" -> (t7bPackSharded _)
  )

  def oracle: Map[String, String] = Map(
    "t18_weighted_sample" ->
      """WITH w AS (
        |  SELECT doc_id, n_chars,
        |    CAST(SUM(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS cum,
        |    CAST(SUM(n_chars) OVER () AS BIGINT) AS total
        |  FROM documents)
        |SELECT doc_id, n_chars, cum FROM w
        |WHERE (cum * 100) // total > ((cum - n_chars) * 100) // total
        |ORDER BY doc_id""".stripMargin,
    "t15_mixture_sample" ->
      s"""WITH want(lang, want) AS (
        |  VALUES ${mixtureTarget.map { case (l, s) =>
               s"('$l', ${(s * mixtureBudget).toLong})" }.mkString(", ")}),
        |have AS (SELECT lang, COUNT(*) AS have FROM documents GROUP BY lang),
        |keyed AS (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 15)
        |         AS BIGINT) AS k
        |  FROM documents)
        |SELECT k.doc_id, k.lang, h.have, CAST(w.want AS BIGINT) AS want
        |FROM keyed k JOIN have h USING (lang) JOIN want w USING (lang)
        |WHERE CAST(k.k AS DECIMAL(19,0)) * CAST(h.have AS DECIMAL(10,0))
        |    < CAST(w.want AS DECIMAL(10,0)) * CAST(1152921504606846976 AS DECIMAL(19,0))
        |ORDER BY k.doc_id""".stripMargin,
    "t16_chunk_dedup" ->
      s"""WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS l
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, l,
        |    unnest(range(0, CAST(ceil(len(l) / ${chunkWords}.0) AS BIGINT))) AS g
        |  FROM t),
        |chunks AS (
        |  SELECT doc_id, g,
        |    array_to_string(
        |      list_slice(l, g * $chunkWords + 1, g * $chunkWords + $chunkWords),
        |      ' ') AS chunk
        |  FROM g),
        |dup AS (
        |  SELECT chunk FROM chunks GROUP BY chunk
        |  HAVING COUNT(DISTINCT doc_id) > 1),
        |kept AS (
        |  SELECT c.doc_id, c.g, c.chunk FROM chunks c
        |  WHERE c.chunk NOT IN (SELECT chunk FROM dup)),
        |reb AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(chunk, ' ' ORDER BY g) AS clean_text
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM chunks GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(t2.n_chunks, 0) AS n_chunks,
        |  COALESCE(r.n_kept, 0) AS n_kept,
        |  COALESCE(r.clean_text, '') AS clean_text
        |FROM documents d
        |LEFT JOIN tot t2 USING (doc_id)
        |LEFT JOIN reb r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "t5_sample_stratified" ->
      """WITH keyed AS (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 15)
        |         AS BIGINT) AS k
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS smp_rank,
        |    COUNT(*) OVER (PARTITION BY lang) AS cnt
        |  FROM keyed)
        |SELECT doc_id, lang, smp_rank FROM r
        |WHERE smp_rank <= CEIL(0.1 * cnt)
        |ORDER BY lang, smp_rank""".stripMargin,
    "t5b_sample_hash" ->
      s"""SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) < ${(0.1 * (1L << 60).toDouble).toLong}
        |ORDER BY doc_id""".stripMargin,
    "t5c_split_assign" ->
      s"""SELECT doc_id, lang,
        |  CASE WHEN CAST('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15)
        |            AS BIGINT) < $splitTrainMax THEN 'train'
        |       WHEN CAST('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15)
        |            AS BIGINT) < $splitValMax THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t6_decontaminate" ->
      s"""WITH ${Dedup.shingleSqlCtes},
        |hits AS (
        |  SELECT a.doc_id, b.doc_id AS bench_id, a.s
        |  FROM sh a JOIN sh b ON b.s = a.s
        |  WHERE b.doc_id % 100 = 0 AND a.doc_id % 100 <> 0)
        |SELECT doc_id, COUNT(DISTINCT bench_id) AS n_benchmarks,
        |  COUNT(DISTINCT s) AS n_shingles
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t7b_pack_sharded" ->
      """WITH t AS (
        |  SELECT doc_id, lang, doc_id // 40 AS shard,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, shard, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS strt
        |  FROM t)
        |SELECT doc_id, lang, shard, n_tokens, strt // 512 AS seq_id
        |FROM c ORDER BY lang, doc_id""".stripMargin,
    "t7_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS strt
        |  FROM t)
        |SELECT doc_id, lang, n_tokens, strt // 4096 AS seq_id
        |FROM c ORDER BY lang, doc_id""".stripMargin
  )
}
