package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Quality harnesses of the approximate top-k tiers: recall and cell
  * assignment against exact search. Not part of the driver contract;
  * per-query timing is `Bench`'s (its JSON `metrics` and plan files). */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (args.headOption.contains("pqrecall")) { profilePqRecall(dir); return }
    if (args.headOption.contains("s9bdiag")) { profileS9bDiag(dir); return }
    if (args.headOption.contains("mawidth")) { profileMaWidth(dir); return }
    System.err.println("usage: Profile <mode>; modes: pqrecall, mawidth, s9bdiag")
  }

  /** Recall of the PQ/IVFADC tiers vs exact brute force at a given Lloyd
    * iteration count — iters=0 IS the round-13 sampled-init codebook (same
    * md5 anchor set as the old fit), so the iters=0 vs iters=2 delta is
    * the measured quality gain behind the PqSpec/IvfPqSpec floor raise. */
  def profilePqRecall(dir: String): Unit = {
    val spark = GraftSession()
    import graft.similarity.{Knn, Pq}
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val exact = Knn.bruteForceTopK(emb, 5).select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nlist = math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)
    val nprobe = math.max(2, nlist / 4)
    val ksub = Pq.ksubFor(n)
    def recall(df: DataFrame): Double = {
      val got = df.select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & got).size.toDouble / exact.size
    }
    println(s"n=$n nlist=$nlist nprobe=$nprobe ksub=$ksub queries=${exact.size / 5}")
    for (iters <- Seq(0, 1, 2, 4)) {
      val cb = Pq.fitCodebook(emb, ksub, iters)
      println(f"s8  iters=$iters recall=${recall(Pq.pqTopK(emb, cb, 5, 8))}%.4f")
      println(f"s9  iters=$iters recall=${
        recall(Pq.ivfPqTopK(emb, nlist, nprobe, ksub, 5, 8, iters = iters))}%.4f")
      println(f"s9b iters=$iters recall=${
        recall(Pq.twoLevelIvfPqTopK(emb, nlist, nprobe, ksub, 5, 8, iters = iters))}%.4f")
      graft.util.Caches.releaseAll()
    }
    // multi-assign width scan at the production Lloyd setting (ma = ncoarse
    // makes the union ALL cells — the hierarchical assignment degenerates
    // to flat, so the row must match s9 and anchors the curve's ceiling)
    val ncoarse = math.max(2, math.ceil(math.sqrt(nlist.toDouble)).toInt)
    for (ma <- 1 to ncoarse) {
      println(f"s9b multiAssign=$ma recall=${
        recall(Pq.twoLevelIvfPqTopK(emb, nlist, nprobe, ksub, 5, 8,
          multiAssign = ma))}%.4f")
      graft.util.Caches.releaseAll()
    }
    spark.stop()
  }

  /** The two-level IVF anchors of the s9b tier over `emb`: the nlist
    * md5-ranked fine anchors `ranked` (cell, ce, r), the first ncoarse of
    * them as coarse groups `coarse` (g, cg), and each fine anchor's
    * nearest coarse group `fineGroups` (cell, g, ce). */
  private def anchors(emb: DataFrame) = {
    import graft.similarity.Knn
    import org.apache.spark.sql.expressions.Window
    val n = emb.count()
    val nlist = math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)
    val ncoarse = math.max(2, math.ceil(math.sqrt(nlist.toDouble)).toInt)
    val ak = graft.dedup.Dedup.md5Hash60(
      concat(lit("ivfanchor|"), col("vec_id").cast("string")))
    val ranked = graft.util.Caches.materialize(emb
      .select(col("vec_id").as("cell"), col("embedding").as("ce"), ak.as("ak"))
      .orderBy(col("ak"), col("cell")).limit(nlist)
      .withColumn("r", row_number().over(Window.orderBy(col("ak"), col("cell"))))
      .select("cell", "ce", "r"))
    val coarse = ranked.filter(col("r") <= ncoarse)
      .select(col("cell").as("g"), col("ce").as("cg"))
    val fineGroups = ranked.select(col("cell"), col("ce"))
      .crossJoin(broadcast(coarse))
      .select(col("cell"), col("ce"), col("g"),
        Knn.dotFold(col("ce"), col("cg")).as("gd"))
      .groupBy("cell")
      .agg(max_by(col("g"), struct(col("gd"), (-col("g")).as("ng"))).as("g"),
        first(col("ce")).as("ce"))
    (n, nlist, ncoarse, ranked, coarse, fineGroups)
  }

  /** The s9b width router's raw inputs on a given tier: the rank
    * histogram of each sampled vector's flat-optimal coarse group, the
    * cumulative coverage per candidate width, and the width the router
    * picks — the calibration evidence behind multiAssignCoveragePct. */
  def profileMaWidth(dir: String): Unit = {
    val spark = GraftSession()
    import graft.similarity.Pq
    val emb = Tables.embeddings(spark, dir)
    val (n, nlist, ncoarse, ranked, coarse, fineGroups) = anchors(emb)
    println(s"n=$n nlist=$nlist ncoarse=$ncoarse")
    val hist = Pq.multiAssignHistogram(emb, ranked, coarse, fineGroups)
    val total = hist.values.sum
    var cum = 0L
    (1 to ncoarse).foreach { r =>
      cum += hist.getOrElse(r, 0L)
      println(f"rank=$r count=${hist.getOrElse(r, 0L)} coverage=${cum * 100.0 / total}%.1f%%")
    }
    val w = Pq.chooseWidth(hist, ncoarse)
    println(s"router picks ma=$w (coverage bar ${Pq.multiAssignCoveragePct}%, cap ${Pq.coarseMultiAssign})")
    spark.stop()
  }

  /** s9b multi-assign diagnostics: how many corpus vectors' FINE CELL
    * differs between (a) flat argmax over all nlist anchors (s9's rule),
    * (b) top-1-coarse-group hierarchical (round-14 s9b), and (c) the
    * top-2-coarse union (round-15 s9b) — quantifies how much of the flat
    * assignment the multi-assign recovers. */
  def profileS9bDiag(dir: String): Unit = {
    val spark = GraftSession()
    import graft.similarity.Knn
    val emb = Tables.embeddings(spark, dir)
    val (n, nlist, ncoarse, ranked, coarse, fineGroups) = anchors(emb)
    // flat: argmax over ALL fine anchors
    val flat = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(ranked.select(col("cell"), col("ce"))))
      .select(col("vec_id"),
        Knn.dotFold(col("embedding"), col("ce")).as("fd"), col("cell"))
      .groupBy("vec_id")
      .agg(max_by(col("cell"), struct(col("fd"), (-col("cell")).as("nc"))).as("cell_flat"))
    // hierarchical with k coarse groups
    def hier(k: Int) = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("embedding"), col("g"),
        Knn.dotFold(col("embedding"), col("cg")).as("cd"))
      .groupBy("vec_id")
      .agg(slice(array_sort(collect_list(struct((-col("cd")).as("ncd"), col("g")))),
          1, k).as("top"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"), explode(col("top.g")).as("g"))
      .join(broadcast(fineGroups.select(col("g"), col("cell"), col("ce"))), "g")
      .select(col("vec_id"),
        Knn.dotFold(col("embedding"), col("ce")).as("fd"), col("cell"))
      .groupBy("vec_id")
      .agg(max_by(col("cell"), struct(col("fd"), (-col("cell")).as("nc"))).as("cell_h"))
    println(s"n=$n nlist=$nlist ncoarse=$ncoarse")
    for (k <- Seq(1, 2, 3)) {
      val diff = flat.join(hier(k), "vec_id")
        .filter(col("cell_flat") =!= col("cell_h")).count()
      println(f"top-$k coarse: $diff of $n vectors land OFF the flat-optimal cell (${100.0 * diff / n}%.1f%%)")
    }
    spark.stop()
  }
}
