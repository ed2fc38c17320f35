package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Entity resolution (record linkage) — the COMPOSED pipeline the pieces
  * were built for: q-gram-blocked fuzzy pairing (Joins.fuzzyNamePairs) →
  * transitive closure into entity clusters (Clusters.connectedComponents,
  * label domain = the names themselves, min = lexicographic) → canonical
  * record election per cluster (most-frequent variant, deterministic
  * tie-break). This is the dedup shape master-data and training-corpus
  * author/source normalization actually need: a~b and b~c must merge
  * a,b,c even though a~c was never emitted by the pair stage.
  *
  * Scale shape: every stage is already individually scale-audited — the
  * pair stage never goes n² (q-gram blocking + length bound), the closure
  * is large-star/small-star (rounds logarithmic in the pair graph's size),
  * and the election is one window over the cluster key. Singleton names
  * (no fuzzy neighbor) skip the closure entirely — they join back as their
  * own cluster, so the component stage only ever sees the pair graph, not
  * the corpus.
  *
  * Ref: generalizes the reference's exact vendor-name upsert
  * (database.py:109-114 exact-then-LIKE lookup) to transitive fuzzy
  * groups with an elected canonical form.
  */
object EntityResolution {

  /** er1: cluster part-name variants at edit distance ≤ 2 and elect a
    * canonical name per cluster (most parts carry it; ties break to the
    * lexicographically smallest). Output: one row per DISTINCT name with
    * its cluster id (= min name in the component), cluster size in
    * distinct names, the variant's part count, and the elected canonical. */
  def er1EntityClusters(spark: SparkSession, dir: String): DataFrame = {
    val names = graft.util.Caches.materialize(
      Tables.part(spark, dir)
        .groupBy(col("p_name").as("name"))
        .agg(countDistinct("p_partkey").as("n_parts")))
    val pairs = graft.operators.Joins
      .fuzzyNamePairs(names.select("name"), 2)
      .select(col("a_name").as("a_id"), col("b_name").as("b_id"))
    val comps = Clusters.connectedComponents(pairs)._1
      .select(col("doc_id").as("name"), col("cluster_id"), col("cluster_size"))
    val all = names.join(comps, Seq("name"), "left")
      .select(col("name"),
        coalesce(col("cluster_id"), col("name")).as("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        col("n_parts"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_parts").desc, col("name").asc)
    all
      .withColumn("canonical", first("name").over(w))
      .orderBy("name")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "er1_entity_clusters" -> (er1EntityClusters _)
  )

  /** Oracle: brute-force pair spec (n² levenshtein — the blocking is an
    * optimization, not a semantics change), `WITH RECURSIVE` transitive
    * closure on the name domain (d7's spec pattern, string labels), then
    * the same deterministic election window. */
  def oracle: Map[String, String] = Map(
    "er1_entity_clusters" ->
      """WITH RECURSIVE names AS (
        |  SELECT p_name AS name, COUNT(DISTINCT p_partkey) AS n_parts
        |  FROM part GROUP BY p_name),
        |pairs AS (
        |  SELECT a.name AS a_id, b.name AS b_id
        |  FROM names a JOIN names b ON a.name < b.name
        |  WHERE levenshtein(a.name, b.name) <= 2),
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
        |comp AS (
        |  SELECT id AS name, MIN(r) AS cluster_id FROM reach GROUP BY id),
        |sized AS (
        |  SELECT name, cluster_id,
        |    COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |  FROM comp),
        |allr AS (
        |  SELECT n.name,
        |    COALESCE(s.cluster_id, n.name) AS cluster_id,
        |    CAST(COALESCE(s.cluster_size, 1) AS BIGINT) AS cluster_size,
        |    CAST(n.n_parts AS BIGINT) AS n_parts
        |  FROM names n LEFT JOIN sized s ON s.name = n.name)
        |SELECT name, cluster_id, cluster_size, n_parts,
        |  first_value(name) OVER (PARTITION BY cluster_id
        |                          ORDER BY n_parts DESC, name) AS canonical
        |FROM allr ORDER BY name""".stripMargin
  )
}
