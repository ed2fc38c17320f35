package graft.dedup

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame

class ClustersSpec extends SparkSpec {
  import spark.implicits._

  def rows(df: DataFrame) =
    df.select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq

  def cc(edges: Seq[(Long, Long)]) =
    rows(Clusters.connectedComponents(edges.toDF("a_id", "b_id"))._1)

  test("components: chain, pair, and triangle resolve to min-id labels") {
    val got = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L)))
    assert(got === Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L),
      (20L, 20L, 3L), (21L, 20L, 3L), (22L, 20L, 3L)))
  }

  test("long path converges past one hop per round (diameter > 1)") {
    // path 1-2-...-8 (diameter 7), edges given high id first
    val got = cc((1L to 7L).map(i => (i + 1, i)))
    assert(got === (1L to 8L).map(i => (i, 1L, 8L)))
  }

  test("components are partition-invariant") {
    val edges = (1L to 7L).map(i => (i + 1, i)) ++ Seq((100L, 200L))
    val a = cc(edges)
    val b = rows(Clusters.connectedComponents(
      edges.toDF("a_id", "b_id").repartition(13))._1)
    assert(a === b)
  }

  test("empty edge list yields an empty clustering (no crash, converged)") {
    assert(cc(Seq.empty) === Seq.empty)
  }

  test("star converges in logarithmic rounds on a long chain") {
    // path 1-2-...-200: diameter 199 — min-label propagation would need
    // ~199 rounds; the alternating star algorithm must stay logarithmic.
    val (df, rounds) = Clusters.connectedComponents(
      (1L to 199L).map(i => (i + 1, i)).toDF("a_id", "b_id"))
    assert(rows(df) === (1L to 200L).map(i => (i, 1L, 200L)))
    assert(rounds <= 12, s"expected O(log n) rounds on a 200-chain, got $rounds")
  }

  test("star components are partition-invariant and handle empty input") {
    // pseudo-random graph over 60 ids, checked against a union-find whose
    // roots are component minima, at 1 and 13 input partitions
    val edges = (0L until 80L).map(i => ((i * 37 + 11) % 60, (i * 53 + 7) % 60))
      .filter { case (a, b) => a != b }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else find(p)
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val vertices = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
    val sizes = vertices.groupBy(find).map { case (r, vs) => r -> vs.size.toLong }
    val expected = vertices.map(v => (v, find(v), sizes(find(v))))
    assert(cc(edges) === expected)
    assert(rows(Clusters.connectedComponents(
      edges.toDF("a_id", "b_id").repartition(13))._1) === expected)
    assert(cc(Seq.empty) === Seq.empty)
  }

  test("String ids: components are labeled by their lexicographic minimum") {
    // er1's label domain: the chain's first vertex "m" is not its minimum "a"
    val edges = Seq(("m", "c"), ("c", "x"), ("x", "a"), ("q", "p"))
    val got = Clusters.connectedComponents(edges.toDF("a_id", "b_id"))._1
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      ("a", "a", 4L), ("c", "a", 4L), ("m", "a", 4L), ("p", "p", 2L),
      ("q", "p", 2L), ("x", "a", 4L)))
  }

  test("d7 clusters cover exactly the docs that appear in d3 pairs") {
    val pairs = Dedup.minHashLshPairs(Tables.documents(spark, sf001), 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    val clustered = Clusters.connectedComponents(
        Dedup.minHashLshPairs(Tables.documents(spark, sf001), 0.5)
          .select("a_id", "b_id"))._1
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    val vertices = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(clustered.keySet === vertices)
    // every emitted pair lands inside one cluster
    assert(pairs.forall(p => clustered(p._1) === clustered(p._2)))
    // cluster label is a member of its own cluster
    assert(clustered.values.toSet.subsetOf(vertices))
  }
}
