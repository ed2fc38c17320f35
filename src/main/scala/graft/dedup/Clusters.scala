package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Duplicate-cluster formation: connected components over a near-dup pair
  * graph. Pair detection (d2/d3/d4) yields *edges*; a curation pipeline
  * needs *clusters* — "keep one doc per component" — which is transitive:
  * a~b and b~c put a,c in one cluster even when a~c was never emitted.
  *
  * Algorithm: alternating large-star/small-star (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14). Each round rewires the
  * canonical `(hi, lo)` edge set towards smaller ids without changing its
  * connectivity; at the fixpoint the edges form flat stars, each centred on
  * its component's minimum id. That labeling is unique (min over a
  * connected set), so the result is deterministic regardless of round
  * schedule or partitioning, and an engine-independent DuckDB
  * `WITH RECURSIVE` transitive closure can gate it exactly.
  *
  * Scale shape: each round is two windowed minimums on the vertex id and a
  * `distinct`, three shuffles, with `localCheckpoint` truncating the
  * lineage — the standard Spark iterative-algorithm pattern. Rounds grow
  * with the log of the graph size (O(log² n) worst case, ~log n observed),
  * not with its diameter, so a long-chain pair graph (e.g. shingled
  * near-dups of a boilerplate ladder) costs no more rounds than a clique.
  *
  * Ref: the reference dedupes statements per account-month by last-wins
  * (database.py upsert); clustering generalizes that to transitive
  * near-dup groups, the shape LLM-corpus dedup actually needs.
  */
object Clusters {

  /** Round cap: a 200-vertex chain converges in ≤12 rounds (ClustersSpec). */
  private val MaxRounds = 30

  /** Large-star operation: every vertex connects its strictly larger
    * neighbors to the minimum of its closed neighborhood. Input and output
    * edges are canonical `(hi, lo)` with `hi > lo`; the output may repeat
    * an edge (small-star dedups). One shuffle: the neighborhood minimum is
    * a window over both orientations of each edge, not an aggregate joined
    * back. The tree height halves each application. */
  private def largeStar(e: DataFrame): DataFrame =
    e.select(explode(array(
        struct(col("hi").as("u"), col("lo").as("v")),
        struct(col("lo").as("u"), col("hi").as("v")))).as("p"))
      .select("p.*")
      .withColumn("m", least(col("u"), min("v").over(Window.partitionBy("u"))))
      .filter(col("v") > col("u"))
      .select(col("v").as("hi"), col("m").as("lo"))

  /** Small-star operation: every vertex connects its smaller neighbors
    * (and itself) to the minimum of that set. Self-loops are dropped;
    * output is distinct and canonical `(hi, lo)`, `hi > lo`. */
  private def smallStar(e: DataFrame): DataFrame =
    e.withColumn("m", min("lo").over(Window.partitionBy("hi")))
      .select(explode(array(
        struct(col("lo").as("hi"), col("m").as("lo")),
        struct(col("hi"), col("m").as("lo")))).as("p"))
      .select("p.*")
      .filter(col("hi") =!= col("lo"))
      .distinct()

  /** Connected components of an undirected edge list `(a_id, b_id)` of any
    * orderable id type. Returns `(doc_id, cluster_id, cluster_size)` for
    * every vertex that appears in at least one edge, `cluster_id` = min
    * doc_id in the component, plus the round count for specs.
    *
    * Convergence test: the child→parent edge set is a union of FLAT stars
    * iff every `hi` carries exactly one edge and no parent (`lo`) is itself
    * a child (`hi`) — a direct structural fixpoint test (both ops leave
    * flat stars unchanged), sound without reasoning about which
    * intermediate shapes the alternation can reach. Both conditions come
    * out of one aggregate over the already-checkpointed round output. Both
    * operations preserve the original graph's connectivity, so flat stars
    * ⟺ every vertex points at its component minimum. Empty or already-flat
    * input converges in the first round. */
  def connectedComponents(edges: DataFrame): (DataFrame, Int) = {
    // no checkpoint or distinct here: both ops tolerate repeated edges, and
    // the first round's checkpoint materializes the caller's edge plan once
    var cur = edges
      .select(greatest(col("a_id"), col("b_id")).as("hi"),
        least(col("a_id"), col("b_id")).as("lo"))
      .filter(col("hi") =!= col("lo"))
    var iter = 0
    var converged = false
    while (!converged && iter < MaxRounds) {
      val next = smallStar(largeStar(cur)).localCheckpoint()
      val notFlat = next
        .select(col("hi").as("v"), lit(1).as("hi_deg"), lit(0).as("is_lo"))
        .unionByName(next.select(col("lo").as("v"), lit(0).as("hi_deg"), lit(1).as("is_lo")))
        .groupBy("v").agg(sum("hi_deg").as("hd"), max("is_lo").as("il"))
        .filter(col("hd") > 1 || (col("hd") === 1 && col("il") === 1))
      cur = next
      converged = notFlat.isEmpty
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $MaxRounds rounds")
    // flat stars: each child `hi` occurs once, so a star's size is its edge
    // count + 1, and its smallest child also emits the centre's own row
    val star = Window.partitionBy("lo")
    val labels = cur
      .select(col("lo").as("cluster_id"), (count(lit(1)).over(star) + 1).as("cluster_size"),
        when(col("hi") === min("hi").over(star), array(col("hi"), col("lo")))
          .otherwise(array(col("hi"))).as("ids"))
      .select(explode(col("ids")).as("doc_id"), col("cluster_id"), col("cluster_size"))
    (labels, iter)
  }

  /** d7: duplicate clusters over the MinHash-LSH near-dup pairs (d3's
    * exact output is the edge list, so the oracle can rebuild it in SQL). */
  def d7DupClusters(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(
      Dedup.minHashLshPairs(Tables.documents(spark, dir), 0.5)
        .select("a_id", "b_id"))._1
      .orderBy("doc_id")

  /** d7b: the same query as d7. It stays registered under its own name so
    * the suite keeps 206 queries and both names' oracle results and bench
    * histories stay comparable across the switch to one algorithm. */
  def d7bDupClustersStar(spark: SparkSession, dir: String): DataFrame =
    d7DupClusters(spark, dir)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d7_dup_clusters" -> (d7DupClusters _),
    "d7b_dup_clusters_star" -> (d7bDupClustersStar _)
  )

  /** The oracle states the SPEC — transitive closure via `WITH RECURSIVE`
    * (every vertex reaches its whole component; min reached id = cluster) —
    * rather than mirroring the star rounds; both reach the same unique
    * fixpoint. Edges are d3's pair query verbatim. */
  private val closureSql: String =
    s"""WITH RECURSIVE ${Dedup.minhashPairsSqlCtes},
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION ALL SELECT b_id, a_id FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
       |comp AS (
       |  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM comp ORDER BY doc_id""".stripMargin

  def oracle: Map[String, String] = Map(
    "d7b_dup_clusters_star" -> closureSql,
    "d7_dup_clusters" -> closureSql
  )
}
