package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis tier for large-scale training-data pipelines: token
  * counting, quality scoring, language-ID heuristics, and document
  * fingerprinting — all pure codegen'd Column expressions (no UDFs), so the
  * whole stage stays inside WholeStageCodegen and scales linearly with the
  * document count; there is no shuffle except the final aggregations. */
object TextAnalysis {

  /** Whitespace tokens of a trimmed text column. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Word n-gram shingles (distinct), the unit of near-dup similarity.
    *
    * Formulated as slice + zip_with rather than `transform(sequence, i =>
    * element_at(toks, i)...)`: an element_at inside a lambda re-evaluates
    * the `toks` expression per element (subexpression elimination can't
    * reach into higher-order-function lambdas), which turned one split per
    * row into ~3·|shingles| regex splits — a measured 8× slowdown on the
    * shingle stage. Pass a *materialized* tokens column (see
    * [[shingleRows]]) for full effect. */
  def shingles(toks: Column, n: Int = 3): Column = {
    val m = size(toks) - (n - 1)
    val parts = (0 until n).map(o => slice(toks, lit(o + 1), greatest(m, lit(0))))
    val joined = parts.reduce((a, b) => zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
    array_distinct(when(m > 0, joined).otherwise(array().cast("array<string>")))
  }

  /** Distinct (id, shingle) pairs with the token array materialized behind a
    * projection boundary, so the tokenizing split runs once per document.
    * NOT widened here (round-16 A/B, two interleaved passes each way):
    * widening every shingle consumer was net NEGATIVE (+2.16 s over the
    * family) — multi-stage/iterative consumers (prefix variants, cluster
    * loops) pay per-stage task overhead on the widened partitioning at
    * bench scale. Only the dedup consumers whose single Σdf² self-join
    * stage dominates widen, through `Dedup.spread`. */
  def shingleRows(docs: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(shingles(col("__toks"))).as("s"))

  /** BPE-ish subtoken split: letter runs, digit runs, single other chars. */
  val subtokenPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Content fingerprint (rolling-hash analog): md5 over normalized text —
    * identical across engines, unlike murmur/xxhash. */
  def fingerprint(text: Column): Column = md5(lower(trim(text)))

  /** The one shared exact-dedup invariant: adds `fp` (content fingerprint)
    * and `canonical_id` (lowest id per fingerprint). Used by exact dedup,
    * fingerprint reporting, and the cleaning pipeline so the rule can never
    * drift between them. */
  def withCanonicalId(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String): org.apache.spark.sql.DataFrame = {
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    df.withColumn("fp", fingerprint(col(textCol)))
      .withColumn("canonical_id", min(idCol).over(byFp))
  }

  /** T1: token / distinct-token / subtoken counts per document. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(t).cast("bigint").as("n_tokens"),
        size(array_distinct(t)).cast("bigint").as("n_distinct"),
        size(regexp_extract_all(lower(col("text")), lit(subtokenPattern), lit(0)))
          .cast("bigint").as("n_subtokens"))
      .orderBy("doc_id")
  }

  val stopwords = Seq("the", "a", "of", "and", "in", "to")

  /** T2: quality scoring — type-token ratio, length saturation, stopword
    * ratio combined into one deterministic double formula. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(t).cast("bigint"))
      .withColumn("n_distinct", size(array_distinct(t)).cast("bigint"))
      .withColumn("n_stop",
        size(filter(t, x => x.isInCollection(stopwords))).cast("bigint"))
      .withColumn("sum_len",
        aggregate(transform(t, x => length(x)), lit(0), (acc, x) => acc + x).cast("bigint"))
      .withColumn("ttr", col("n_distinct").cast("double") / col("n_tokens"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("avg_token_len", col("sum_len").cast("double") / col("n_tokens"))
      .withColumn("quality",
        col("ttr") * 0.5 + least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.3 +
          col("stop_ratio") * 0.2)
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("n_stop"),
        col("ttr"), col("stop_ratio"), col("avg_token_len"), col("quality"))
      .orderBy("doc_id")
  }

  /** Language signature token lists for the n-gram/stopword langid
    * heuristic. Deliberately tiny — a real deployment swaps in full
    * character-n-gram profiles; the dataflow is identical. */
  val langSignatures: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of"),
    "es" -> Seq("el", "la", "de", "y"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "et", "les"))

  /** T3: language-ID — score each language's signature hits, argmax with a
    * fixed preference order for ties. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(lower(col("text")))
    val scored = langSignatures.foldLeft(Tables.documents(spark, dir)) {
      case (df, (lang, sig)) =>
        df.withColumn(s"hits_$lang",
          size(filter(t, x => x.isInCollection(sig))).cast("bigint"))
    }
    val best = langSignatures.map(_._1).map(l => col(s"hits_$l"))
    val predicted = langSignatures.map(_._1).foldRight(lit("unknown")) {
      case (lang, els) =>
        when(col(s"hits_$lang") === greatest(best: _*) && col(s"hits_$lang") > 0, lang)
          .otherwise(els)
    }
    scored
      .withColumn("predicted", predicted)
      .withColumn("is_correct", col("predicted") === col("lang"))
      .select(col("doc_id") +: langSignatures.map { case (l, _) => col(s"hits_$l") } :+
        col("predicted") :+ col("is_correct"): _*)
      .orderBy("doc_id")
  }

  /** T4: md5 content fingerprint + canonical-copy marking (exact-dedup
    * building block; graft.dedup.Dedup uses the same fingerprint). */
  def fingerprintDocs(spark: SparkSession, dir: String): DataFrame = {
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    withCanonicalId(Tables.documents(spark, dir), "doc_id", "text")
      .withColumn("n_copies", count(lit(1)).over(byFp))
      .select(col("doc_id"), col("fp"), col("canonical_id"),
        col("n_copies"), (col("doc_id") === col("canonical_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** T13: corpus bigram language model — count word bigrams across the
    * corpus and attach the conditional probability
    * p(w2|w1) = c(w1,w2)/c(w1,·); top-20 head of the model. Bigrams come
    * from zipping a materialized token array with its own tail
    * (slice+zip_with — the projection-boundary pattern [[docShingles]]
    * documents; never element_at in a lambda), so the corpus pass is one
    * explode. Downstream state is vocabulary-sized, not corpus-sized: one
    * (w1,w2) count shuffle with map-side partial agg, one w1 window over
    * the counts frame, TakeOrdered for the head. c(w1,·) sums bigram counts
    * (not raw unigrams), so probabilities are row-stochastic by
    * construction. */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(lower(trim(col("text"))))
    val pairs = Tables.documents(spark, dir)
      .select(t.as("t"))
      .select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val counts = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    val byW1 = org.apache.spark.sql.expressions.Window.partitionBy("w1")
    counts
      .withColumn("c1", sum("n").over(byW1))
      .withColumn("cond_p", col("n").cast("double") / col("c1").cast("double"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** T14: per-document LM scoring (the CCNet-style quality signal: score
    * every document against a corpus language model) using the t13 bigram
    * model. Dataflow: one explode for per-doc bigram occurrences, one
    * (w1,w2) count shuffle + w1 window for the model (vocabulary-sized
    * state, NOT corpus-sized), one equi-join of occurrences against the
    * model, one per-doc aggregate. At 100 TB the model frame is the small
    * side (vocab², zipf-truncated in practice) — AQE broadcasts it; the
    * occurrence side never collects.
    *
    * Determinism: no float SUMMATION crosses the aggregate — per-doc state
    * is exact integer sums (`sum_n`, `sum_c1`) and min/max over per-row
    * single IEEE divisions, so results are engine-exact without the decimal
    * carrier (the t9 integer-ratio idf pattern). `pooled_cond_p` is one
    * division of two exact integers; ln/exp perplexity is deliberately
    * avoided (libm vs java.lang.Math diverge at ulp level). */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(lower(trim(col("text"))))
    val docBigrams = graft.util.Caches.materialize(
      Tables.documents(spark, dir)
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"), explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
        .select(col("doc_id"), col("p.w1"), col("p.w2")))
    val byW1 = org.apache.spark.sql.expressions.Window.partitionBy("w1")
    val model = docBigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .withColumn("c1", sum("n").over(byW1))
    val condP = col("n").cast("double") / col("c1").cast("double")
    val scored = docBigrams.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum("n").as("sum_n"),
        sum("c1").as("sum_c1"),
        min(condP).as("min_cond_p"),
        max(condP).as("max_cond_p"))
      .withColumn("pooled_cond_p",
        col("sum_n").cast("double") / col("sum_c1").cast("double"))
    Tables.documents(spark, dir).select("doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("sum_n"), col("sum_c1"), col("min_cond_p"), col("max_cond_p"),
        col("pooled_cond_p"))
      .orderBy("doc_id")
  }

  /** T22: CCNet-style quality buckets (Wenzek et al. 2020 §4.3: score every
    * document against a corpus LM, split the corpus into head/middle/tail
    * thirds, train on the head). The score is [[lmScore]]'s pooled
    * conditional probability (higher = more fluent — ordered DESC where
    * CCNet's perplexity orders ASC, the same ranking); the tertile split is
    * an EXACT integer rank rule (rk ≤ ⌈n/3⌉ → head, ≤ ⌈2n/3⌉ → middle)
    * over [[graft.operators.SetOpsWindows.withGlobalRank]]'s range-
    * partitioned rank — never a one-task global window (the a25/o5
    * discipline). Docs with no scoreable bigram land in an explicit
    * `unscored` bucket rather than vanishing. */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = graft.util.Caches.materialize(
      lmScore(spark, dir).select("doc_id", "pooled_cond_p"))
    val (ranked, n) = graft.operators.SetOpsWindows.withGlobalRank(spark,
      scored.filter(col("pooled_cond_p").isNotNull), "rk",
      Seq(col("pooled_cond_p").desc, col("doc_id").asc))
    val b1 = (n + 2) / 3
    val b2 = (2 * n + 2) / 3
    val assigned = ranked.select(col("doc_id"),
      when(col("rk") <= b1, "head")
        .when(col("rk") <= b2, "middle")
        .otherwise("tail").as("bucket"),
      col("rk"))
    scored.select("doc_id")
      .join(assigned, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("bucket"), lit("unscored")).as("bucket"),
        col("rk").as("quality_rank"))
      .orderBy("doc_id")
  }

  /** T17: Count-Min heavy hitters — build the fixed-state sketch with the
    * [[graft.functions.CmsSketch]] TypedImperativeAggregate (one map-side
    * pass, depth·width longs per partial), then probe it for every word
    * above a RELATIVE mass threshold (est·200 ≥ total ⇔ est ≥ 0.5% of
    * occurrences — integer compare, growth-stable across scale factors).
    * The probe side reuses the same md5 column family the sketch hashes
    * with, so estimate lookup is pure relational dataflow against the
    * broadcast one-row sketch. `overcount = est − exact` exposes the
    * sketch's one-sided collision error (deliberately non-zero: width 64
    * vs the ~40-word synthetic vocabulary). */
  def cmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val depth = 4; val width = 64
    val words = graft.util.Caches.materialize(
      Tables.documents(spark, dir)
        .select(explode(tokens(lower(trim(col("text"))))).as("w")))
    val sketch = words.agg(
      graft.functions.CmsCatalyst.cms_sketch(col("w"), depth, width).as("sk"),
      count(lit(1)).as("total"))
    val wc = words.groupBy("w").agg(count(lit(1)).as("exact_n"))
    val est = (0 until depth).map { j =>
      element_at(col("sk"),
        (graft.dedup.Dedup.md5Hash60(concat(lit(s"cms$j|"), col("w"))) % width)
          .cast("int") + lit(j * width + 1))
    }.reduce(least(_, _))
    wc.crossJoin(broadcast(sketch))
      .withColumn("cms_est", est)
      .filter(col("cms_est") * 200 >= col("total"))
      .select(col("w"), col("exact_n"), col("cms_est"),
        (col("cms_est") - col("exact_n")).as("overcount"))
      .orderBy("w")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t1_token_stats" -> (tokenStats _),
    "t13_bigram_lm" -> (bigramLm _),
    "t14_lm_score" -> (lmScore _),
    "t22_ccnet_buckets" -> (ccnetBuckets _),
    "t17_cms_heavyhitters" -> (cmsHeavyHitters _),
    "t2_quality_score" -> (qualityScore _),
    "t3_langid" -> (langId _),
    "t4_fingerprint" -> (fingerprintDocs _)
  )

  def oracle: Map[String, String] = Map(
    "t17_cms_heavyhitters" ->
      """WITH words AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |tot AS (SELECT COUNT(*) AS total FROM words),
        |wc AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
        |h AS (
        |  SELECT w, c, j,
        |    CAST('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || '|' || w), 1, 15)
        |         AS BIGINT) % 64 AS cell
        |  FROM wc CROSS JOIN (VALUES (0), (1), (2), (3)) d(j)),
        |cells AS (
        |  SELECT j, cell, CAST(SUM(c) AS BIGINT) AS cellsum
        |  FROM h GROUP BY j, cell),
        |est AS (
        |  SELECT h.w, h.c, MIN(cl.cellsum) AS cms_est
        |  FROM h JOIN cells cl USING (j, cell) GROUP BY h.w, h.c)
        |SELECT w, CAST(c AS BIGINT) AS exact_n, CAST(cms_est AS BIGINT) AS cms_est,
        |  CAST(cms_est - c AS BIGINT) AS overcount
        |FROM est CROSS JOIN tot
        |WHERE cms_est * 200 >= total ORDER BY w""".stripMargin,
    "t13_bigram_lm" ->
      """WITH t AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS l FROM documents),
        |pos AS (
        |  SELECT l, unnest(range(1, len(l))) AS p FROM t),
        |pairs AS (
        |  SELECT l[p] AS w1, l[p + 1] AS w2 FROM pos),
        |counts AS (
        |  SELECT w1, w2, COUNT(*) AS n FROM pairs GROUP BY w1, w2),
        |withc AS (
        |  SELECT w1, w2, n, CAST(SUM(n) OVER (PARTITION BY w1) AS BIGINT) AS c1
        |  FROM counts)
        |SELECT w1, w2, n, c1, CAST(n AS DOUBLE) / CAST(c1 AS DOUBLE) AS cond_p
        |FROM withc ORDER BY n DESC, w1, w2 LIMIT 20""".stripMargin,
    // t22 reuses t14's scoring CTEs verbatim, then ranks the scoreable
    // docs (pooled DESC, doc_id tie-break — identical IEEE divisions on
    // both engines, so the order is engine-exact) into integer tertiles
    "t22_ccnet_buckets" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents),
        |pos AS (
        |  SELECT doc_id, l, unnest(range(1, len(l))) AS p FROM t),
        |db AS (
        |  SELECT doc_id, l[p] AS w1, l[p + 1] AS w2 FROM pos),
        |counts AS (
        |  SELECT w1, w2, COUNT(*) AS n FROM db GROUP BY w1, w2),
        |model AS (
        |  SELECT w1, w2, n, CAST(SUM(n) OVER (PARTITION BY w1) AS BIGINT) AS c1
        |  FROM counts),
        |sc AS (
        |  SELECT d.doc_id,
        |    CAST(SUM(m.n) AS DOUBLE) / CAST(SUM(m.c1) AS DOUBLE) AS pooled
        |  FROM db d JOIN model m ON d.w1 = m.w1 AND d.w2 = m.w2
        |  GROUP BY d.doc_id),
        |ranked AS (
        |  SELECT doc_id, pooled,
        |    row_number() OVER (ORDER BY pooled DESC, doc_id) AS rk
        |  FROM sc),
        |tot AS (SELECT COUNT(*) AS n FROM ranked)
        |SELECT d.doc_id,
        |  CASE WHEN r.rk IS NULL THEN 'unscored'
        |       WHEN r.rk <= (tot.n + 2) // 3 THEN 'head'
        |       WHEN r.rk <= (2 * tot.n + 2) // 3 THEN 'middle'
        |       ELSE 'tail' END AS bucket,
        |  r.rk AS quality_rank
        |FROM documents d LEFT JOIN ranked r ON d.doc_id = r.doc_id
        |CROSS JOIN tot
        |ORDER BY d.doc_id""".stripMargin,
    "t14_lm_score" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM documents),
        |pos AS (
        |  SELECT doc_id, l, unnest(range(1, len(l))) AS p FROM t),
        |db AS (
        |  SELECT doc_id, l[p] AS w1, l[p + 1] AS w2 FROM pos),
        |counts AS (
        |  SELECT w1, w2, COUNT(*) AS n FROM db GROUP BY w1, w2),
        |model AS (
        |  SELECT w1, w2, n, CAST(SUM(n) OVER (PARTITION BY w1) AS BIGINT) AS c1
        |  FROM counts),
        |sc AS (
        |  SELECT d.doc_id, COUNT(*) AS n_bigrams,
        |    CAST(SUM(m.n) AS BIGINT) AS sum_n,
        |    CAST(SUM(m.c1) AS BIGINT) AS sum_c1,
        |    MIN(CAST(m.n AS DOUBLE) / CAST(m.c1 AS DOUBLE)) AS min_cond_p,
        |    MAX(CAST(m.n AS DOUBLE) / CAST(m.c1 AS DOUBLE)) AS max_cond_p
        |  FROM db d JOIN model m ON d.w1 = m.w1 AND d.w2 = m.w2
        |  GROUP BY d.doc_id)
        |SELECT doc.doc_id, CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  sc.sum_n, sc.sum_c1, sc.min_cond_p, sc.max_cond_p,
        |  CAST(sc.sum_n AS DOUBLE) / CAST(sc.sum_c1 AS DOUBLE) AS pooled_cond_p
        |FROM documents doc LEFT JOIN sc ON doc.doc_id = sc.doc_id
        |ORDER BY doc.doc_id""".stripMargin,
    "t1_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_distinct,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_subtokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t2_quality_score" ->
      """WITH s AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
        |    CAST(len(list_filter(t, x -> x IN ('the','a','of','and','in','to'))) AS BIGINT) AS n_stop,
        |    CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sum_len
        |  FROM s)
        |SELECT doc_id, n_tokens, n_distinct, n_stop,
        |  CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
        |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
        |  CAST(sum_len AS DOUBLE) / n_tokens AS avg_token_len,
        |  (CAST(n_distinct AS DOUBLE) / n_tokens) * 0.5
        |    + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
        |    + (CAST(n_stop AS DOUBLE) / n_tokens) * 0.2 AS quality
        |FROM c ORDER BY doc_id""".stripMargin,
    "t3_langid" ->
      """WITH s AS (
        |  SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
        |h AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(t, x -> x IN ('the','a','and','of'))) AS BIGINT) AS hits_en,
        |    CAST(len(list_filter(t, x -> x IN ('el','la','de','y'))) AS BIGINT) AS hits_es,
        |    CAST(len(list_filter(t, x -> x IN ('der','die','das','und'))) AS BIGINT) AS hits_de,
        |    CAST(len(list_filter(t, x -> x IN ('le','la','et','les'))) AS BIGINT) AS hits_fr
        |  FROM s),
        |p AS (
        |  SELECT *,
        |    CASE WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) AND hits_en > 0 THEN 'en'
        |         WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) AND hits_es > 0 THEN 'es'
        |         WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) AND hits_de > 0 THEN 'de'
        |         WHEN hits_fr = greatest(hits_en, hits_es, hits_de, hits_fr) AND hits_fr > 0 THEN 'fr'
        |         ELSE 'unknown' END AS predicted
        |  FROM h)
        |SELECT doc_id, hits_en, hits_es, hits_de, hits_fr, predicted,
        |  predicted = lang AS is_correct
        |FROM p ORDER BY doc_id""".stripMargin,
    "t4_fingerprint" ->
      """WITH f AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents)
        |SELECT doc_id, fp,
        |  MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id,
        |  COUNT(*) OVER (PARTITION BY fp) AS n_copies,
        |  doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS is_canonical
        |FROM f ORDER BY doc_id""".stripMargin
  )
}
