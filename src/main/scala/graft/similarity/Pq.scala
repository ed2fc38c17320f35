package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PqFunctions._

/** Product-quantization ANN (s8) — the memory tier below scalar int8
  * (`Knn.quantizedTopK`): m = 8 sub-codes of 1 byte each = 8 B/vector vs
  * s4's 64 B and the raw 256 B, the compression shape that lets a
  * corpus-scale candidate index live in executor memory (Jégou, Douze &
  * Schmid, TPAMI 2011; the FAISS `IVF,PQ8` default).
  *
  * Codebooks (round 14): deterministic Lloyd-refined k-means per subspace —
  * the md5-smallest [[lloydSampleN]] corpus vectors ("pqanchor|" family)
  * are the TRAINING SAMPLE, the first ksub of them the init, and
  * [[lloydIters]] fixed Lloyd iterations (assign by the same
  * `dot − ½‖c‖²` argmax the encoder uses, ties to the lower row; centroid
  * = component mean accumulated in sample rank order) refine them. The fit
  * is a pure, JVM-deterministic function of the data; the resulting
  * centroids are exported to BOTH engines as `%.17e` round-tripping
  * literals — the s3 fitted-centroid discipline — so the DuckDB oracle
  * replays the ENTIRE pipeline downstream of the fit (encode argmax, LUT,
  * ADC fold, rerank) and the driver gate stays rows+schema+hash. Versus
  * the round-13 sampled-init codebooks this is the classic quality step:
  * Lloyd monotonically lowers sample quantization MSE, which tightens the
  * ADC dot approximation at the same 8 B/vector cost (measured recall
  * deltas recorded in PqSpec/IvfPqSpec floors).
  *
  * Scale shape at 100 TB:
  *  - codebook fit is a corpus TakeOrdered of ≤ [[lloydSampleN]] ≤ 2048
  *    rows + a driver-side Lloyd over ≤ 1 MB of doubles — bounded driver
  *    state, same budget class as s3's fitted centroids;
  *  - encode is ONE corpus map pass (ksub·d multiplies/row, fixed — O(n)
  *    total, unlike IVF-flat's O(n·√n) assignment), emitting the 8-byte
  *    code array: the only corpus-sized frame the scan ever touches;
  *  - each query computes its LUT once (m·ksub sub-dots = 16 KB) and the
  *    ADC scan resolves every corpus code by m = 8 array lookups — no
  *    float multiply on the corpus side at all; the query-LUT frame is
  *    bounded (queryN × 16 KB ≈ 1.6 MB) and broadcasts by design;
  *  - the only corpus-sized exchange carries (a_id, b_id, adot) — codes
  *    and scores, never raw vectors (PlanSpec-pinned);
  *  - exact rerank touches |queries|·k·rerank full vectors through plain
  *    equi-joins, the s4/s6 tail. */
object Pq {

  /** m sub-quantizers × dsub dims each = the full [[Knn.maxDims]]. */
  val m = 8
  val dsub: Int = Knn.maxDims / m

  /** 1-byte codes: up to 256 codebook rows; capped by the corpus (the gate
    * corpus at sf0.01 is 500 vectors — 256 anchors of 500 still exercises
    * the real regime; tiny spec corpora cap lower). */
  def ksubFor(n: Long): Int = math.min(256L, n).toInt

  /** Lloyd training-sample size: 8 points per codeword (capped by the
    * corpus). Large enough that centroids move off their init toward real
    * cluster means, small enough that the fit stays a bounded driver-side
    * step (≤ 2048 × 64 doubles = 1 MB collected). */
  def lloydSampleN(ksub: Int, n: Long): Int = math.min(8L * ksub, n).toInt

  /** Fixed Lloyd iteration count — determinism demands a constant, and on
    * a coarse product codebook the first two sweeps capture nearly all of
    * the MSE drop (the classic k-means convergence profile). */
  val lloydIters = 2

  private[similarity] val s8K = 5
  private[similarity] val s8Rerank = 8

  /** Deterministic per-subspace Lloyd over a collected sample. Input rows
    * are full d-dim double vectors in md5-rank order; init codewords are
    * the first ksub rows. Each sweep assigns every sample point to its
    * best codeword under the ENCODER's own metric (`dot − ½‖c‖²`, strict >
    * keeps the lower row — [[graft.functions.PqOps.encode]]'s exact tie
    * rule) and replaces each non-empty codeword with the component mean of
    * its points, accumulated in sample order. Every operation is IEEE
    * double in a fixed order, so the fit is bit-reproducible across JVMs —
    * which is all the oracle needs, since the result ships to DuckDB as
    * literals rather than being re-derived in SQL. */
  private[graft] def lloydRefine(sample: Array[Array[Double]],
                                 ksub: Int, iters: Int): Array[Double] = {
    val d = m * dsub
    require(sample.length >= ksub, s"sample ${sample.length} < ksub $ksub")
    val cb = Array.tabulate(ksub, d)((c, i) => sample(c)(i))
    var it = 0
    while (it < iters) {
      var j = 0
      while (j < m) {
        // ½‖c_j‖² once per codeword per sweep, the encoder's fold order
        val hcc = new Array[Double](ksub)
        var c = 0
        while (c < ksub) {
          var acc = 0.0
          var i = 0
          while (i < dsub) { val v = cb(c)(j * dsub + i); acc += v * v; i += 1 }
          hcc(c) = 0.5 * acc
          c += 1
        }
        val sums = Array.ofDim[Double](ksub, dsub)
        val counts = new Array[Long](ksub)
        var p = 0
        while (p < sample.length) {
          val x = sample(p)
          var best = Double.NegativeInfinity
          var bestC = 0
          c = 0
          while (c < ksub) {
            var acc = 0.0
            var i = 0
            while (i < dsub) { acc += x(j * dsub + i) * cb(c)(j * dsub + i); i += 1 }
            val s = acc - hcc(c)
            if (s > best) { best = s; bestC = c } // strict >: lower row wins ties
            c += 1
          }
          counts(bestC) += 1
          var i = 0
          while (i < dsub) { sums(bestC)(i) += x(j * dsub + i); i += 1 }
          p += 1
        }
        c = 0
        while (c < ksub) {
          if (counts(c) > 0) {
            var i = 0
            while (i < dsub) {
              cb(c)(j * dsub + i) = sums(c)(i) / counts(c)
              i += 1
            }
          } // empty cell: keep the previous codeword (standard Lloyd rule)
          c += 1
        }
        j += 1
      }
      it += 1
    }
    cb.flatten
  }

  /** The flattened s8 codebook: Lloyd-refined over the md5-smallest
    * [[lloydSampleN]] corpus vectors widened to double (exact), init =
    * first ksub sample rows. Bounded collect, bounded driver compute. */
  def fitCodebook(emb: DataFrame, ksub: Int,
                  iters: Int = lloydIters): Array[Double] = {
    val n = lloydSampleN(ksub, Long.MaxValue) // cap applied by limit below
    val ak = graft.dedup.Dedup.md5Hash60(
      concat(lit("pqanchor|"), col("vec_id").cast("string")))
    val sample = emb.select(col("embedding"), ak.as("ak"), col("vec_id"))
      .orderBy(col("ak"), col("vec_id")).limit(n)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    lloydRefine(sample, ksub, iters)
  }

  /** PQ top-k: encode → ADC scan over the broadcast query LUTs → exact
    * rerank of the top k·rerank ADC survivors per query. */
  def pqTopK(emb: DataFrame, cbFlat: Array[Double], k: Int,
             rerank: Int): DataFrame = {
    val ksub = cbFlat.length / (m * dsub)
    // MATERIALIZE the code index: unmaterialized, the encode projection
    // sits on the exchange-free stream side of the pair join and
    // whole-stage codegen defers it into the join's inner loop — pq_encode
    // (m·ksub·dsub multiplies) re-ran once per OUTPUT pair, i.e. queryN×
    // per corpus vector (measured at sf0.1: the ADC stage was 7.9 s
    // single-task vs 0.4 s with codes materialized). Materialized, this is
    // the one-pass index build the docstring promises.
    val codes = graft.util.Caches.materialize(
      emb.select(col("vec_id").as("b_id"),
        pq_encode(col("embedding"), cbFlat, m, dsub).as("codes")))
    // queryN LUT rows of m·ksub doubles — bounded at any corpus size, the
    // one legitimately-broadcast frame of the scan (the non-equi pairing
    // needs a resident side, same as bruteForceTopK's query stratum)
    val qlut = emb.join(broadcast(Knn.queryIds(emb)), "vec_id")
      .select(col("vec_id").as("a_id"),
        pq_lut(col("embedding"), cbFlat, m, dsub).as("lut"))
    val approx = codes.join(broadcast(qlut), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        pq_adc(col("lut"), col("codes"), ksub).as("adot"))
    val w1 = Window.partitionBy("a_id").orderBy(col("adot").desc, col("b_id").asc)
    val cand = approx.withColumn("qrk", row_number().over(w1))
      .filter(col("qrk") <= k * rerank)
      .select("a_id", "b_id", "adot")
    // exact rerank — candidate frames only (|queries|·k·rerank rows), the
    // corpus joins are plain equi-joins AQE broadcasts the small side of
    val q = emb.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val c = emb.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    val w2 = Window.partitionBy("a_id").orderBy(col("dot").desc, col("b_id").asc)
    cand.join(c, "b_id").join(q, "a_id")
      .select(col("a_id"), col("b_id"), col("adot"),
        Knn.dotFold(col("ea"), col("eb")).as("dot"))
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= k)
      .select("a_id", "rk", "b_id", "adot", "dot")
  }

  def s8KnnPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    val n = graft.Tables.cachedCount(spark, dir, "embeddings")
    val ksub = ksubFor(n)
    val cb = fitCodebook(emb, ksub)
    register("s8_knn_pq", s8OracleSql(cb, ksub))
    pqTopK(emb, cb, s8K, s8Rerank).orderBy("a_id", "rk")
  }

  // ---------------------------------------------------------------- s9 —
  // IVF + PQ on residuals (IVFADC — Jégou, Douze & Schmid TPAMI 2011 §III;
  // the FAISS `IVFx,PQ8` composite): the memory shape AND the scan shape
  // of corpus-scale vector search in one index. s8 compresses to 8 B/vector
  // but still ADC-scans the whole corpus per query; s3b/s3c restrict the
  // scan to nprobe cells but keep 256 B float vectors resident. s9 stores
  // 8 B codes + a cell id and scans only the probed cells' codes:
  //
  //   x ≈ ce(cell(x)) + decode(codes(x))            (residual quantization)
  //   q·x ≈ q·ce + Σ_j lut_q[j][codes_j(x)]         (ADC with a cell offset)
  //
  // One SHARED residual codebook across cells (the FAISS default): the
  // query LUT then depends only on q — m·ksub sub-dots once per query, NOT
  // once per (query, cell) — and the per-cell term is the scalar q·ce the
  // probe ranking already computed. The coarse quantizer stays a pure
  // function of the data (md5 anchors) and the residual codebook ships as
  // fitted literals, so the DuckDB oracle replays the entire pipeline
  // downstream of the fit and the gate is rows+schema+hash like s3b/s8.
  //
  // Scale shape at 100 TB:
  //  - coarse anchors: nlist ≈ √n md5-smallest vectors (s3b) — broadcast;
  //  - assignment: s9 keeps the s3b one-pass max_by (n·nlist dots,
  //    O(n^1.5) flat); [[s9bKnnIvfPq2Level]] swaps in the s3c two-level
  //    assign (O(n^1.25)) with the search side UNCHANGED, and
  //    [[s9cKnnAuto]] routes between them on the s3d cutover;
  //  - codes: the ONE corpus-sized frame — (b_id, cell, 8 B codes);
  //  - search: probes (queryN·nprobe rows, 3 scalar cols) and query LUTs
  //    (queryN × 16 KB) broadcast; the codes⋈probes hash join prunes
  //    unprobed cells in-stream, so the scan touches nprobe/nlist of the
  //    corpus and does m = 8 lookups + adds per survivor, no float
  //    multiply; only (a_id, b_id, adot) ever shuffles;
  //  - exact rerank on the k·rerank ADC survivors per query (the s8 tail).
  private[similarity] val s9K = 5
  private[similarity] val s9Rerank = 8

  /** The s9 residual training sample: residuals (embedding − assigned
    * anchor) of the [[lloydSampleN]] corpus vectors with the smallest
    * "pqresanchor|" md5 key, in rank order, computed in double (exact:
    * float→double widening, one IEEE subtraction per element). The
    * assignment argmax for the sample replays the corpus rule exactly
    * (highest dot, ties to the lower cell), so sampled residuals ARE the
    * corpus residuals of those ids. Lloyd-refined like [[fitCodebook]]. */
  def fitResidualCodebook(emb: DataFrame, anchors: DataFrame, ksub: Int,
                          iters: Int = lloydIters): Array[Double] = {
    val ck = graft.dedup.Dedup.md5Hash60(
      concat(lit("pqresanchor|"), col("vec_id").cast("string")))
    val chosen = emb.select(col("vec_id"), col("embedding"), ck.as("ck"))
      .orderBy(col("ck"), col("vec_id")).limit(lloydSampleN(ksub, Long.MaxValue))
    val sample = chosen.crossJoin(broadcast(anchors))
      .select(col("vec_id"), col("ck"), col("embedding"), col("cell"),
        col("ce"), Knn.dotFold(col("embedding"), col("ce")).as("adot"))
      .withColumn("ark", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("adot").desc, col("cell").asc)))
      .filter(col("ark") === 1)
      .orderBy(col("ck"), col("vec_id"))
      .select("embedding", "ce").collect()
      .map { r =>
        val x = r.getSeq[Float](0); val a = r.getSeq[Float](1)
        x.indices.map(i => x(i).toDouble - a(i).toDouble).toArray
      }
    lloydRefine(sample, ksub, iters)
  }

  /** IVFADC top-k: coarse-assign → residual-encode → probe nprobe cells →
    * ADC over probed codes (+ the q·ce cell offset) → exact rerank. */
  def ivfPqTopK(emb: DataFrame, nlist: Int, nprobe: Int, ksub: Int, k: Int,
                rerank: Int, fitted: Array[Double] => Unit = _ => (),
                iters: Int = lloydIters): DataFrame = {
    // nlist ≈ √n rows, read by the fit, the assign, the code build and the
    // probe scorer — persisted so the corpus-wide TakeOrdered runs once
    val anchors = graft.util.Caches.materialize(
      Ivf.anchorList(emb, "ivfanchor|", nlist).select("cell", "ce"))
    val cb = fitResidualCodebook(emb, anchors, ksub, iters)
    fitted(cb)
    // s3b's one-pass assignment argmax; the embedding rides the aggregate
    // so the encode needs no second corpus join against the raw table
    val assign = Ivf.argmax(emb.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(anchors))
        .select(col("vec_id"), col("embedding"), col("cell"),
          Knn.dotFold(col("embedding"), col("ce")).as("adot")),
      col("vec_id").as("b_id"), "cell", "adot", "embedding")
    // the index: the ONE corpus-sized frame of the scan — cell + 8 B codes
    val codes = assign.join(broadcast(anchors), "cell")
      .select(col("b_id"), col("cell"),
        pq_encode_res(col("embedding"), col("ce"), cb, m, dsub).as("codes"))
    searchCells(emb, codes, anchors, nprobe, cb, ksub, k, rerank)
  }

  /** The shared IVFADC SEARCH side (identical for flat and two-level
    * coarse assignment — the swap touches only how `codes` was built):
    * per-query probes of the nprobe best `cells` (cell, ce)
    * ([[Ivf.probeRank]]) → per-query LUT → cell-pruned ADC scan with the
    * q·ce offset → exact rerank. */
  private def searchCells(emb: DataFrame, codes: DataFrame, cells: DataFrame,
                          nprobe: Int, cb: Array[Double], ksub: Int,
                          k: Int, rerank: Int): DataFrame = {
    val stratum = emb.join(broadcast(Knn.queryIds(emb)), "vec_id")
      .select(col("vec_id"), col("embedding"))
    // probe ranking keeps the anchor dot: it IS the ADC cell offset q·ce
    val probes = Ivf.probeRank(stratum.crossJoin(broadcast(cells))
        .select(col("vec_id"), col("cell"),
          Knn.dotFold(col("embedding"), col("ce")).as("adot")), "adot", nprobe)
      .select(col("vec_id").as("a_id"), col("cell"), col("adot").as("qcdot"))
    // MATERIALIZE the code index: same defect and fix as [[pqTopK]] — the
    // codes frame ends in a pq_encode_res projection on the exchange-free
    // stream side of the probes join, so codegen re-evaluated the residual
    // encode once per (code, probe) MATCH instead of once per vector.
    val codesM = graft.util.Caches.materialize(codes)
    // one 16 KB LUT per query — cell-independent because the codebook is
    // shared, broadcast SEPARATELY from probes (a LUT per probe row would
    // multiply the broadcast by nprobe)
    val qlut = stratum.select(col("vec_id").as("a_id"),
      pq_lut(col("embedding"), cb, m, dsub).as("lut"))
    val approx = codesM.join(broadcast(probes), "cell")
      .filter(col("a_id") =!= col("b_id"))
      .join(broadcast(qlut), "a_id")
      .select(col("a_id"), col("b_id"),
        (col("qcdot") + pq_adc(col("lut"), col("codes"), ksub)).as("adot"))
    val w1 = Window.partitionBy("a_id").orderBy(col("adot").desc, col("b_id").asc)
    val cand = approx.withColumn("qrk", row_number().over(w1))
      .filter(col("qrk") <= k * rerank)
      .select("a_id", "b_id", "adot")
    val q = emb.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val c = emb.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    val w2 = Window.partitionBy("a_id").orderBy(col("dot").desc, col("b_id").asc)
    cand.join(c, "b_id").join(q, "a_id")
      .select(col("a_id"), col("b_id"), col("adot"),
        Knn.dotFold(col("ea"), col("eb")).as("dot"))
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= k)
      .select("a_id", "rk", "b_id", "adot", "dot")
  }

  /** Driver query: IVFADC top-5, the s3b nlist/nprobe curve and the s8
    * codebook size. */
  def s9KnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    val n = graft.Tables.cachedCount(spark, dir, "embeddings")
    val nlist = Ivf.nlistFor(n)
    val nprobe = Ivf.nprobeFor(nlist)
    val ksub = ksubFor(n)
    ivfPqTopK(emb, nlist, nprobe, ksub, s9K, s9Rerank,
        cb => register("s9_knn_ivfpq", s9OracleSql(cb, ksub)))
      .orderBy("a_id", "rk")
  }

  // --------------------------------------------------------------- s9b —
  // IVFADC with the TWO-LEVEL coarse assignment (round-13 VERDICT #1): s9's
  // remaining scale cost is its flat O(n·nlist) = O(n^1.5) assignment — the
  // exact term the s3 family already solved (s3c's IMI-style two-level
  // assign, `Ivf.twoLevelAnchorTopK`, O(n·2√nlist) = O(n^1.25), measured
  // 7.4× cheaper than flat at sf10's 500k vectors). s9b composes that
  // assignment with the UNCHANGED residual-PQ search side ([[searchCells]]):
  // pick the [[coarseMultiAssign]] nearest of ncoarse ≈ √nlist coarse
  // anchors, then the nearest fine anchor within the UNION of those groups;
  // residual-encode against the chosen fine anchor exactly as s9 does.
  // Round 15: the multi-assign (top-[[coarseMultiAssign]] coarse groups,
  // the standard IMI recall recovery — Babenko & Lempitsky, "The Inverted
  // Multi-Index", CVPR 2012 use the same widen-the-coarse-candidates move)
  // closes the round-14 hierarchical-recall gap: a vector whose best fine
  // anchor lives in a runner-up coarse group now finds it. Cost grows from
  // n·(ncoarse + nlist/ncoarse) to n·(ncoarse + ma·nlist/ncoarse) dots —
  // still O(n·√nlist) = O(n^1.25) at any fixed ma, (1+ma)/√nlist of
  // flat's n·nlist (4.5× under flat at sf10's nlist = 708). The ADC
  // identity, the probe side (queries rank ALL nlist fine anchors —
  // queryN·nlist, noise), and the codes-only-shuffle property untouched.

  /** Coarse groups each corpus vector is assigned against before the fine
    * argmax. The width is MEASURED, not assumed — the synthetic corpus is
    * near-isotropic, so the textbook "top-2 recovers nearly all of flat"
    * does NOT hold here (`Profile s9bdiag`: 63% of vectors land off the
    * flat-optimal cell at ma = 1, still 47% at ma = 2; `Profile pqrecall`
    * n = 2000: ma = 1..7 → .418 .418 .414 .450 .476 .488 .484, where
    * ma = ncoarse = 7 degenerates to flat and exactly reproduces s9's
    * .484 — the curve's built-in correctness anchor). ma = 5 is the knee:
    * within 0.008 of flat at n = 2000, and at small corpora (ncoarse ≤ 5)
    * the union covers every group, so the quantizer IS flat — the clamp
    * that makes the gate-scale oracle exact. On a real clustered corpus
    * the same fixed width only gets cheaper: clusters concentrate the
    * best fine anchor into fewer coarse groups, never more. */
  val coarseMultiAssign = 5

  /** Round 16 — the width is now ROUTED off measured stats (VERDICT #6),
    * the `*_auto` dispatcher discipline: [[measuredMultiAssign]] computes,
    * on the md5-ranked 2048-vector sample at fit time, the rank of each
    * vector's FLAT-optimal fine cell's coarse group within that vector's
    * own coarse ordering, and picks the smallest width whose cumulative
    * coverage clears [[multiAssignCoveragePct]] — capped at
    * [[coarseMultiAssign]], the isotropic-corpus knee (beyond it the
    * measured recall curve is flat-to-noise: .476/.488/.484 at ma 5/6/7).
    * On THIS near-isotropic corpus the sample coverage stays under the
    * bar through the cap, so the cap binds and the behavior is
    * round-15's ma = 5 exactly (the recall pins at n = 500 and n = 2000
    * carry over unchanged); on a clustered corpus — where the best fine
    * anchor concentrates into few coarse groups — the measured rank mass
    * sits at 1-2 and the router chooses a floor-2 width, shrinking the
    * fine pass from 5·n·nlist/ncoarse to 2·n·nlist/ncoarse dots
    * (IvfPqSpec pins this on an 8-cluster fixture). Integer-exact
    * (cum·100 ≥ pct·total), deterministic (md5 sample, count histogram),
    * and bounded: 2048·nlist dots ≈ 2.9M even at n = 2M. */
  val multiAssignCoveragePct = 95

  /** Smallest multi-assign width covering ≥ [[multiAssignCoveragePct]]%
    * of the sample's flat-optimal coarse groups; floor 2 (the measured
    * non-degenerate pin), cap [[coarseMultiAssign]] (the isotropic knee). */
  def measuredMultiAssign(emb: DataFrame, ranked: DataFrame,
                          coarse: DataFrame, fineGroups: DataFrame,
                          ncoarse: Int): Int =
    chooseWidth(multiAssignHistogram(emb, ranked, coarse, fineGroups), ncoarse)

  /** The pure chooser over the rank histogram — exact integer compare. */
  def chooseWidth(hist: Map[Int, Long], ncoarse: Int): Int = {
    val cap = math.min(coarseMultiAssign, ncoarse)
    val total = hist.values.sum
    var cum = 0L
    var w = 1
    while (w < cap) {
      cum += hist.getOrElse(w, 0L)
      if (cum * 100L >= multiAssignCoveragePct.toLong * total)
        return math.max(2, w)
      w += 1
    }
    cap
  }

  /** Rank histogram of the sample's flat-optimal coarse groups. */
  def multiAssignHistogram(emb: DataFrame, ranked: DataFrame,
                           coarse: DataFrame,
                           fineGroups: DataFrame): Map[Int, Long] = {
    val wk = graft.dedup.Dedup.md5Hash60(
      concat(lit("mawidth|"), col("vec_id").cast("string")))
    val sample = emb.select(col("vec_id"), col("embedding"), wk.as("wk"))
      .orderBy(col("wk"), col("vec_id")).limit(2048)
    // flat-optimal fine cell per sample vector (s9's rule: dot desc, ties
    // to the lower cell id)
    val flatBest = Ivf.argmax(sample
        .crossJoin(broadcast(ranked.select(col("cell"), col("ce"))))
        .select(col("vec_id"), col("embedding"), col("cell"),
          Knn.dotFold(col("embedding"), col("ce")).as("fd")),
      col("vec_id"), "cell", "fd", "embedding")
    // rank of that cell's coarse group within the vector's coarse ordering
    val ranks = flatBest
      .join(broadcast(fineGroups.select(col("cell"), col("g").as("gopt"))), "cell")
      .crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("gopt"), col("g"),
        Knn.dotFold(col("embedding"), col("cg")).as("cd"))
      .withColumn("crk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cd").desc, col("g").asc)))
      .filter(col("g") === col("gopt"))
    ranks.groupBy("crk").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap // ≤ ncoarse rows
  }

  /** Two-level IVFADC top-k. The anchors and the group split are
    * [[Ivf.twoLevelAnchors]] and the fine pass is [[Ivf.argmax]], as in
    * `Ivf.twoLevelAnchorTopK`, with two differences: the coarse pass keeps
    * the top `ma` groups (cd desc, ties to the lower g — the same ordering
    * as the old argmax, so multiAssign = 1 reproduces round 14 exactly)
    * rather than only the winner, and — round 16 — both ranking
    * aggregates run over NARROW id/score rows, with the embedding and the
    * winning anchor re-attached by plain joins afterward (the residual
    * encode needs them). The top-k selection itself is a bounded sort-and-slice of the
    * ncoarse dots per vector — one exchanged row per corpus vector, and
    * the aggregate's sort-based-fallback spill is proportional to 24 B
    * rows, never to the vectors (the r16 sf100 ENOSPC lesson). */
  def twoLevelIvfPqTopK(emb: DataFrame, nlist: Int, nprobe: Int, ksub: Int,
                        k: Int, rerank: Int,
                        fitted: (Array[Double], Int) => Unit = (_, _) => (),
                        iters: Int = lloydIters,
                        multiAssign: Int = 0): DataFrame = {
    // multiAssign = 0 (the default) routes the width off the measured
    // sample stats; an explicit value pins it (spec/diagnostic paths)
    val (ranked, coarse, fineGroups) = Ivf.twoLevelAnchors(emb, nlist)
    val ma =
      if (multiAssign > 0) multiAssign
      else measuredMultiAssign(emb, ranked, coarse, fineGroups, Ivf.ncoarseFor(nlist))
    val cb = fitResidualCodebook2Level(emb, coarse, fineGroups, ksub, iters, ma)
    fitted(cb, ma)
    // corpus pass 1: top-ma coarse groups (n·ncoarse dots, unchanged) —
    // sort-and-slice of the per-vector dot list replaces the single
    // argmax; struct(-cd, g) ascending ≡ (cd desc, g asc), the exact old
    // tie rule. The ranking stream is NARROW (vec_id, g, cd — 24 B rows):
    // collect_list aggregates run as ObjectHashAggregate, whose sort-based
    // fallback (128 in-memory keys by default) SORTS the full input on
    // both sides of the exchange — round 15 carried the 256 B embedding
    // through this aggregate via first(), which at 2M vectors spilled
    // ~77 GB and ENOSPC'd the box (measured, r16). Dropping the vector
    // from the ranked rows makes the fallback sort megabytes; the
    // embedding re-attaches below with one table-scan-proportional join.
    val coarseTop = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("g"),
        Knn.dotFold(col("embedding"), col("cg")).as("cd"))
      .groupBy("vec_id")
      .agg(slice(array_sort(collect_list(struct((-col("cd")).as("ncd"), col("g")))),
          1, ma).as("top"))
      .select(col("vec_id"), explode(col("top.g")).as("g"))
    // re-attach the vector for the fine dots: one hash join keyed on
    // vec_id — n narrow rows against the n-row vector table, the same
    // order of traffic as the scan that produced them (and ~1000× less
    // than the embedding-carrying fallback sort it replaces)
    val coarseAssign = coarseTop
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
    // corpus pass 2: nearest fine anchor within the UNION of the assigned
    // groups (n·ma·(nlist/ncoarse) dots on average; group cell sets are
    // disjoint — fineGroups maps each cell to exactly one g). Same
    // narrow-ranking discipline: the argmax aggregates (b_id, cell, fd)
    // rows only; the winner's anchor vector and the embedding re-attach
    // by one broadcast join + one vec-table join for the residual encode.
    val fineBest = Ivf.argmax(coarseAssign
        .join(broadcast(fineGroups.select(col("g"), col("cell"), col("ce"))), "g")
        .select(col("vec_id"), col("cell"),
          Knn.dotFold(col("embedding"), col("ce")).as("fd")),
      col("vec_id").as("b_id"), "cell", "fd")
    val fineAssign = fineBest
      .join(broadcast(ranked.select(col("cell"), col("ce"))), "cell")
      .join(emb.select(col("vec_id").as("b_id"), col("embedding")), "b_id")
    val codes = fineAssign.select(col("b_id"), col("cell"),
      pq_encode_res(col("embedding"), col("ce"), cb, m, dsub).as("codes"))
    // search side: s9's — the probes rank ALL fine anchors per query vector
    searchCells(emb, codes, ranked.select(col("cell"), col("ce")), nprobe,
      cb, ksub, k, rerank)
  }

  /** The s9b residual training sample: like [[fitResidualCodebook]] but
    * the per-sample assignment replays the TWO-LEVEL rule (top
    * [[coarseMultiAssign]] coarse groups, then fine argmax over the union
    * — window formulations of the corpus passes' aggregates, same dot
    * folds, same ties-to-lower), so sampled residuals are the corpus
    * residuals of those ids under s9b's own quantizer. */
  def fitResidualCodebook2Level(emb: DataFrame, coarse: DataFrame,
                                fineGroups: DataFrame, ksub: Int,
                                iters: Int = lloydIters,
                                multiAssign: Int = coarseMultiAssign): Array[Double] = {
    val ck = graft.dedup.Dedup.md5Hash60(
      concat(lit("pqresanchor|"), col("vec_id").cast("string")))
    val chosen = emb.select(col("vec_id"), col("embedding"), ck.as("ck"))
      .orderBy(col("ck"), col("vec_id")).limit(lloydSampleN(ksub, Long.MaxValue))
    val cass = chosen.crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("ck"), col("embedding"), col("g"),
        Knn.dotFold(col("embedding"), col("cg")).as("cd"))
      .withColumn("crk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cd").desc, col("g").asc)))
      .filter(col("crk") <= multiAssign)
      .select("vec_id", "ck", "embedding", "g")
    val sample = cass
      .join(broadcast(fineGroups.select(col("g"), col("cell"), col("ce"))), "g")
      .select(col("vec_id"), col("ck"), col("embedding"), col("cell"), col("ce"),
        Knn.dotFold(col("embedding"), col("ce")).as("fd"))
      .withColumn("frk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("fd").desc, col("cell").asc)))
      .filter(col("frk") === 1)
      .orderBy(col("ck"), col("vec_id"))
      .select("embedding", "ce").collect()
      .map { r =>
        val x = r.getSeq[Float](0); val a = r.getSeq[Float](1)
        x.indices.map(i => x(i).toDouble - a(i).toDouble).toArray
      }
    lloydRefine(sample, ksub, iters)
  }

  /** Driver query: two-level IVFADC, same nlist/nprobe/ksub curve as s9. */
  def s9bKnnIvfPq2Level(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    val n = graft.Tables.cachedCount(spark, dir, "embeddings")
    val nlist = Ivf.nlistFor(n)
    val nprobe = Ivf.nprobeFor(nlist)
    val ksub = ksubFor(n)
    twoLevelIvfPqTopK(emb, nlist, nprobe, ksub, s9K, s9Rerank,
        (cb, ma) => register("s9b_knn_ivfpq_2level", s9bOracleSql(cb, ksub, ma)))
      .orderBy("a_id", "rk")
  }

  /** IVFADC measured-stats dispatch: the assignment term is structurally
    * identical to the s3 anchor family's (flat n·nlist dots vs two-level
    * n·2√nlist), so the routing reuses [[Ivf.flatQuantizerMaxN]] — the
    * cutover calibrated on the measured s3b/s3c bracket. At the sf0.01
    * gate (n = 500) this deterministically routes flat, and the registered
    * oracle is the routed variant's fitted SQL. */
  def s9cKnnAuto(spark: SparkSession, dir: String): DataFrame = {
    val n = graft.Tables.cachedCount(spark, dir, "embeddings")
    val (df, src) =
      if (Ivf.chooseAnchorIvf(n) == "flat") (s9KnnIvfPq(spark, dir), "s9_knn_ivfpq")
      else (s9bKnnIvfPq2Level(spark, dir), "s9b_knn_ivfpq_2level")
    fittedOracles.get(src).foreach(register("s9c_knn_ivfpq_auto", _))
    df
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("s8_knn_pq" -> (s8KnnPq _),
        "s9_knn_ivfpq" -> (s9KnnIvfPq _),
        "s9b_knn_ivfpq_2level" -> (s9bKnnIvfPq2Level _),
        "s9c_knn_ivfpq_auto" -> (s9cKnnAuto _))

  // ------------------------------------------------------------ oracles —
  // Fitted at query time (the codebook literals depend on the data), the
  // Ivf.s3FittedOracle mechanism: Verify runs every query BEFORE dumping
  // oracle_sql.json, so within a driver round the registered SQL carries
  // exactly the codebook that produced the dumped parquet. The twins
  // recompute everything DOWNSTREAM of the fit from the parquet — anchor
  // ranking, assignment argmax, residuals as per-element double
  // subtraction, the per-subspace encode argmax (dot − ½‖c‖², ties to the
  // lower row), ascending-j ADC folds, exact rerank — with every fold in
  // the engine's evaluation order (ascending index, zero/first-element
  // init: 0.0 + x ≡ x bit-exactly); the codebook itself arrives as
  // round-tripping %.17e literals, the same discipline as s3's k-means
  // centroids and d5's hyperplanes.
  @volatile private var fittedOracles: Map[String, String] = Map.empty
  private def register(name: String, sql: String): Unit =
    synchronized { fittedOracles += name -> sql }

  def oracle: Map[String, String] = fittedOracles

  private def litD(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.17e", Double.box(d))

  /** `cbanchors(cbid, cv)` VALUES rows: ksub 1-based codewords, each a
    * full d-dim double literal list (the flattened codebook re-sliced per
    * subspace by the shared `cb` CTE). */
  private def cbValuesSql(cbFlat: Array[Double], ksub: Int): String = {
    val d = m * dsub
    (0 until ksub).map { c =>
      s"(${c + 1}, [${(0 until d).map(i => litD(cbFlat(c * d + i))).mkString(", ")}])"
    }.mkString(",\n    ")
  }

  /** The per-subspace codebook slices + ½‖c‖² constants, derived from the
    * literal rows exactly as the engine's halfNorms derives them from
    * cbFlat (ascending-index fold, ×0.5 at the end). */
  private def cbCteSql(cbFlat: Array[Double], ksub: Int): String =
    s"""cbanchors(cbid, cv) AS (VALUES
       |    ${cbValuesSql(cbFlat, ksub)}),
       |js AS (SELECT unnest(range(0, $m)) AS j),
       |cb AS (
       |  SELECT a.cbid, js.j,
       |    a.cv[js.j*$dsub+1 : js.j*$dsub+$dsub] AS csub,
       |    0.5 * list_reduce(list_transform(a.cv[js.j*$dsub+1 : js.j*$dsub+$dsub],
       |      x -> x * x), (acc, x) -> acc + x) AS hcc
       |  FROM cbanchors a CROSS JOIN js)""".stripMargin

  private def s8OracleSql(cbFlat: Array[Double], ksub: Int): String =
    s"""WITH ${cbCteSql(cbFlat, ksub)},
      |enc AS (
      |  SELECT vec_id AS b_id, j, cbid AS code FROM (
      |    SELECT e.vec_id, c.j, c.cbid,
      |      row_number() OVER (PARTITION BY e.vec_id, c.j ORDER BY
      |        (list_reduce(list_transform(range(1, ${dsub + 1}),
      |           i -> CAST(e.embedding[c.j*$dsub + i] AS DOUBLE) * c.csub[i]),
      |           (acc, x) -> acc + x) - c.hcc) DESC, c.cbid) AS erk
      |    FROM embeddings e CROSS JOIN cb c) t WHERE erk = 1),
      |${Knn.queryIdsSql},
      |lut AS (
      |  SELECT e.vec_id AS a_id, c.j, c.cbid,
      |    list_reduce(list_transform(range(1, ${dsub + 1}),
      |      i -> CAST(e.embedding[c.j*$dsub + i] AS DOUBLE) * c.csub[i]),
      |      (acc, x) -> acc + x) AS pdot
      |  FROM embeddings e CROSS JOIN cb c
      |  WHERE e.vec_id IN (SELECT vec_id FROM q_ids)),
      |adc AS (
      |  SELECT l.a_id, enc.b_id,
      |    list_reduce(list(l.pdot ORDER BY l.j), (acc, x) -> acc + x) AS adot
      |  FROM enc JOIN lut l ON l.j = enc.j AND l.cbid = enc.code
      |  WHERE l.a_id <> enc.b_id
      |  GROUP BY l.a_id, enc.b_id),
      |cand AS (
      |  SELECT a_id, b_id, adot,
      |    row_number() OVER (PARTITION BY a_id ORDER BY adot DESC, b_id) AS qrk
      |  FROM adc),
      |dots AS (
      |  SELECT cand.a_id, cand.b_id, cand.adot,
      |    ${Knn.dotSql} AS dot
      |  FROM cand JOIN embeddings a ON a.vec_id = cand.a_id
      |            JOIN embeddings b ON b.vec_id = cand.b_id
      |  WHERE cand.qrk <= ${s8K * s8Rerank}),
      |ranked AS (
      |  SELECT a_id, b_id, adot, dot,
      |    row_number() OVER (PARTITION BY a_id ORDER BY dot DESC, b_id) AS rk
      |  FROM dots)
      |SELECT a_id, rk, b_id, adot, dot FROM ranked WHERE rk <= $s8K
      |ORDER BY a_id, rk""".stripMargin

  // s9: the full IVFADC replay — s3b's anchor/assignment CTEs, residuals
  // as per-element double subtraction, the LITERAL codebook, encode/LUT
  // CTEs on RESIDUALS, the probe's anchor dot re-used as the ADC cell
  // offset, exact rerank.
  private def s9OracleSql(cbFlat: Array[Double], ksub: Int): String =
    s"""WITH params AS (
      |  SELECT GREATEST(4, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) AS nlist,
      |         GREATEST(2, GREATEST(4, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) // 4) AS nprobe
      |  FROM embeddings),
      |anchors AS (
      |  SELECT cell, ce FROM (
      |    SELECT vec_id AS cell, embedding AS ce,
      |      row_number() OVER (ORDER BY
      |        CAST('0x' || substr(md5('ivfanchor|' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
      |        vec_id) AS r
      |    FROM embeddings) t CROSS JOIN params
      |  WHERE r <= params.nlist),
      |adots AS (
      |  SELECT e.vec_id, a.cell,
      |    list_reduce(list_transform(range(1, len(e.embedding) + 1),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(a.ce[i] AS DOUBLE)),
      |      (acc, x) -> acc + x) AS adot
      |  FROM embeddings e CROSS JOIN anchors a),
      |arked AS (
      |  SELECT vec_id, cell, adot,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY adot DESC, cell) AS ark
      |  FROM adots),
      |assign AS (SELECT vec_id AS b_id, cell FROM arked WHERE ark = 1),
      |res AS (
      |  SELECT s.b_id, s.cell,
      |    list_transform(range(1, len(e.embedding) + 1),
      |      i -> CAST(e.embedding[i] AS DOUBLE) - CAST(a.ce[i] AS DOUBLE)) AS rv
      |  FROM assign s JOIN embeddings e ON e.vec_id = s.b_id
      |       JOIN anchors a USING (cell)),
      |${cbCteSql(cbFlat, ksub)},
      |enc AS (
      |  SELECT b_id, j, cbid AS code FROM (
      |    SELECT r.b_id, c.j, c.cbid,
      |      row_number() OVER (PARTITION BY r.b_id, c.j ORDER BY
      |        (list_reduce(list_transform(range(1, ${dsub + 1}),
      |           i -> r.rv[c.j*$dsub + i] * c.csub[i]),
      |           (acc, x) -> acc + x) - c.hcc) DESC, c.cbid) AS erk
      |    FROM res r CROSS JOIN cb c) t WHERE erk = 1),
      |${Knn.queryIdsSql},
      |probes AS (
      |  SELECT r.vec_id AS a_id, r.cell, r.adot AS qcdot
      |  FROM arked r CROSS JOIN params
      |  WHERE r.vec_id IN (SELECT vec_id FROM q_ids)
      |    AND r.ark <= params.nprobe),
      |lut AS (
      |  SELECT e.vec_id AS a_id, c.j, c.cbid,
      |    list_reduce(list_transform(range(1, ${dsub + 1}),
      |      i -> CAST(e.embedding[c.j*$dsub + i] AS DOUBLE) * c.csub[i]),
      |      (acc, x) -> acc + x) AS pdot
      |  FROM embeddings e CROSS JOIN cb c
      |  WHERE e.vec_id IN (SELECT vec_id FROM q_ids)),
      |adc AS (
      |  SELECT p.a_id, s.b_id,
      |    p.qcdot + list_reduce(list(l.pdot ORDER BY l.j), (acc, x) -> acc + x) AS adot
      |  FROM probes p
      |  JOIN assign s USING (cell)
      |  JOIN enc ON enc.b_id = s.b_id
      |  JOIN lut l ON l.a_id = p.a_id AND l.j = enc.j AND l.cbid = enc.code
      |  WHERE p.a_id <> s.b_id
      |  GROUP BY p.a_id, s.b_id, p.qcdot),
      |cand AS (
      |  SELECT a_id, b_id, adot,
      |    row_number() OVER (PARTITION BY a_id ORDER BY adot DESC, b_id) AS qrk
      |  FROM adc),
      |dots AS (
      |  SELECT cand.a_id, cand.b_id, cand.adot,
      |    ${Knn.dotSql} AS dot
      |  FROM cand JOIN embeddings a ON a.vec_id = cand.a_id
      |            JOIN embeddings b ON b.vec_id = cand.b_id
      |  WHERE cand.qrk <= ${s9K * s9Rerank}),
      |ranked AS (
      |  SELECT a_id, b_id, adot, dot,
      |    row_number() OVER (PARTITION BY a_id ORDER BY dot DESC, b_id) AS rk
      |  FROM dots)
      |SELECT a_id, rk, b_id, adot, dot FROM ranked WHERE rk <= $s9K
      |ORDER BY a_id, rk""".stripMargin

  // s9b: the s3c two-level assignment CTEs (coarse split of the SAME
  // ranked anchor list, fine-anchor→group argmax, corpus top-
  // coarseMultiAssign-coarse-then-fine-over-the-union — each tie to the
  // lower id) feeding the s9
  // residual/encode/probe/ADC/rerank chain unchanged. cassign's crk <=
  // coarseMultiAssign is the whole multi-assign in SQL: fassign's join
  // against both groups' cells followed by frk = 1 IS the union argmax.
  private def s9bOracleSql(cbFlat: Array[Double], ksub: Int,
                           ma: Int = coarseMultiAssign): String =
    s"""WITH params AS (
      |  SELECT GREATEST(4, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) AS nlist,
      |         GREATEST(2, GREATEST(4, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) // 4) AS nprobe,
      |         GREATEST(2, CAST(ceil(sqrt(GREATEST(4, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)))) AS BIGINT)) AS ncoarse
      |  FROM embeddings),
      |anchors AS (
      |  SELECT cell, ce, r FROM (
      |    SELECT vec_id AS cell, embedding AS ce,
      |      row_number() OVER (ORDER BY
      |        CAST('0x' || substr(md5('ivfanchor|' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
      |        vec_id) AS r
      |    FROM embeddings) t CROSS JOIN params
      |  WHERE r <= params.nlist),
      |coarse AS (
      |  SELECT cell AS g, ce AS cg FROM anchors CROSS JOIN params
      |  WHERE r <= params.ncoarse),
      |finegrp AS (
      |  SELECT cell, ce, g FROM (
      |    SELECT f.cell, f.ce, c.g,
      |      row_number() OVER (PARTITION BY f.cell ORDER BY
      |        list_reduce(list_transform(range(1, len(f.ce) + 1),
      |          i -> CAST(f.ce[i] AS DOUBLE) * CAST(c.cg[i] AS DOUBLE)),
      |          (acc, x) -> acc + x) DESC, c.g) AS grk
      |    FROM anchors f CROSS JOIN coarse c) t WHERE grk = 1),
      |cassign AS (
      |  SELECT vec_id, g FROM (
      |    SELECT e.vec_id, c.g,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_reduce(list_transform(range(1, len(e.embedding) + 1),
      |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cg[i] AS DOUBLE)),
      |          (acc, x) -> acc + x) DESC, c.g) AS crk
      |    FROM embeddings e CROSS JOIN coarse c) t WHERE crk <= $ma),
      |fassign AS (
      |  SELECT b_id, cell FROM (
      |    SELECT e.vec_id AS b_id, f.cell,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_reduce(list_transform(range(1, len(e.embedding) + 1),
      |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(f.ce[i] AS DOUBLE)),
      |          (acc, x) -> acc + x) DESC, f.cell) AS frk
      |    FROM embeddings e JOIN cassign ca ON ca.vec_id = e.vec_id
      |         JOIN finegrp f ON f.g = ca.g) t WHERE frk = 1),
      |res AS (
      |  SELECT s.b_id, s.cell,
      |    list_transform(range(1, len(e.embedding) + 1),
      |      i -> CAST(e.embedding[i] AS DOUBLE) - CAST(a.ce[i] AS DOUBLE)) AS rv
      |  FROM fassign s JOIN embeddings e ON e.vec_id = s.b_id
      |       JOIN anchors a ON a.cell = s.cell),
      |${cbCteSql(cbFlat, ksub)},
      |enc AS (
      |  SELECT b_id, j, cbid AS code FROM (
      |    SELECT r.b_id, c.j, c.cbid,
      |      row_number() OVER (PARTITION BY r.b_id, c.j ORDER BY
      |        (list_reduce(list_transform(range(1, ${dsub + 1}),
      |           i -> r.rv[c.j*$dsub + i] * c.csub[i]),
      |           (acc, x) -> acc + x) - c.hcc) DESC, c.cbid) AS erk
      |    FROM res r CROSS JOIN cb c) t WHERE erk = 1),
      |${Knn.queryIdsSql},
      |qdots AS (
      |  SELECT e.vec_id, a.cell,
      |    list_reduce(list_transform(range(1, len(e.embedding) + 1),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(a.ce[i] AS DOUBLE)),
      |      (acc, x) -> acc + x) AS adot
      |  FROM embeddings e CROSS JOIN anchors a
      |  WHERE e.vec_id IN (SELECT vec_id FROM q_ids)),
      |probes AS (
      |  SELECT a_id, cell, qcdot FROM (
      |    SELECT d.vec_id AS a_id, d.cell, d.adot AS qcdot,
      |      row_number() OVER (PARTITION BY d.vec_id ORDER BY d.adot DESC, d.cell) AS ark
      |    FROM qdots d) t CROSS JOIN params
      |  WHERE ark <= params.nprobe),
      |lut AS (
      |  SELECT e.vec_id AS a_id, c.j, c.cbid,
      |    list_reduce(list_transform(range(1, ${dsub + 1}),
      |      i -> CAST(e.embedding[c.j*$dsub + i] AS DOUBLE) * c.csub[i]),
      |      (acc, x) -> acc + x) AS pdot
      |  FROM embeddings e CROSS JOIN cb c
      |  WHERE e.vec_id IN (SELECT vec_id FROM q_ids)),
      |adc AS (
      |  SELECT p.a_id, s.b_id,
      |    p.qcdot + list_reduce(list(l.pdot ORDER BY l.j), (acc, x) -> acc + x) AS adot
      |  FROM probes p
      |  JOIN fassign s USING (cell)
      |  JOIN enc ON enc.b_id = s.b_id
      |  JOIN lut l ON l.a_id = p.a_id AND l.j = enc.j AND l.cbid = enc.code
      |  WHERE p.a_id <> s.b_id
      |  GROUP BY p.a_id, s.b_id, p.qcdot),
      |cand AS (
      |  SELECT a_id, b_id, adot,
      |    row_number() OVER (PARTITION BY a_id ORDER BY adot DESC, b_id) AS qrk
      |  FROM adc),
      |dots AS (
      |  SELECT cand.a_id, cand.b_id, cand.adot,
      |    ${Knn.dotSql} AS dot
      |  FROM cand JOIN embeddings a ON a.vec_id = cand.a_id
      |            JOIN embeddings b ON b.vec_id = cand.b_id
      |  WHERE cand.qrk <= ${s9K * s9Rerank}),
      |ranked AS (
      |  SELECT a_id, b_id, adot, dot,
      |    row_number() OVER (PARTITION BY a_id ORDER BY dot DESC, b_id) AS rk
      |  FROM dots)
      |SELECT a_id, rk, b_id, adot, dot FROM ranked WHERE rk <= $s9K
      |ORDER BY a_id, rk""".stripMargin
}
