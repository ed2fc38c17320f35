package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over relational edge lists — PageRank as the flagship
  * iterative-join shape (the family of the large-star/small-star components
  * in [[graft.dedup.Clusters]]: per round a shuffle join on the vertex id +
  * a combiner-friendly aggregation, lineage truncated by `localCheckpoint`;
  * unlike Clusters, which rewires its whole edge set each round, PageRank
  * re-reads one fixed edge frame, so it pins that frame's partitioning).
  *
  * Determinism contract: all rank arithmetic is SCALED-INTEGER (`Long`,
  * rank × 10¹²) with explicit integral division, never floating point.
  * Summing longs is order-independent, so the result is hash-exact across
  * partitionings AND across engines — the DuckDB oracle replays the same
  * five unrolled iterations with `//` division and matches bit-for-bit.
  * (A double-typed rank would desync on shuffle order alone.)
  *
  * Scale shape (100 TB): the edge list is the big side — it is joined once
  * per iteration against the vertex-sized rank frame on `src`, then
  * aggregated on `dst` with map-side partial sums. Edges are partitioned
  * once up front and reused; each iteration shuffles only O(V) rank rows
  * plus the map-side-combined contribution partials, never re-shuffles the
  * edge list. Iteration count is fixed (power iteration, k=5 here), so the
  * job graph is static — no driver-side convergence reads at all.
  *
  * Ref: the reference has no graph tier; this generalizes its enrichment
  * joins (`database.py` vendor lookups) to link-analysis over the same star
  * schema, the shape corpus-curation pipelines use for source-authority
  * weighting.
  */
object Graph {

  /** Rank fixed-point carrier: ranks sum to ~Scale (1.0 × 10¹²). */
  val Scale = 1000000000000L

  /** Power-iteration PageRank over a directed edge list `(src, dst)`.
    * Precondition (guaranteed by symmetrized callers): every vertex occurs
    * as BOTH a src and a dst, so there is no dangling mass and the
    * per-iteration `groupBy("dst")` reaches the full vertex set.
    * Returns `(id, r)` with `r` the scaled-integer rank after `iterations`
    * rounds of `r' = T + ⌊85 · Σ_{u→v} ⌊r_u / deg_u⌋ / 100⌋`.
    *
    * Edge representation: ADJACENCY LISTS, not edge rows. Setup folds the
    * caller's edge derivation into one `groupBy(src)` that collects each
    * vertex's out-neighbors into a SET (out-degree = array size, so the
    * old separate degree aggregate + join + second checkpoint are gone),
    * then checkpoints the V-row result with its hash(src) partitioning
    * pinned. `collect_set` means edges are SET-semantics (a repeated
    * (src, dst) row counts once) — so callers can feed the raw,
    * non-deduplicated pair stream and skip their own `distinct()`: the
    * map-side partial sets dedup in-stage, folding what used to be two
    * full shuffles (distinct + adjacency groupBy) into one. The payoff is per-round: the iteration joins two VERTEX-sized
    * frames — under sort-merge the edge-row formulation re-sorted all of E
    * every round (the checkpoint preserves partitioning, not sort order)
    * — and the E-row stream exists only between the `explode` and the
    * map-side partial aggregation that consumes it in the same stage, so
    * raw edges never shuffle. Per-round shuffle traffic: O(V) rank rows in,
    * O(V·partitions) combined partials out.
    *
    * Hub safety at 100 TB: one row would otherwise hold a vertex's whole
    * neighbor list, so [[adjacency]] splits any list longer than
    * `maxAdjLen` across k rows — each carrying the vertex's TOTAL degree,
    * which keeps the per-edge share ⌊r/deg⌋ row-local and the split rows'
    * contributions summing to the identical result (GraphSpec pins the
    * equality on a synthetic hub). The split happens in-stage after the
    * aggregate: no extra shuffle, and the checkpoint's per-row size is
    * bounded by maxAdjLen regardless of hub degree. */
  def pageRank(edges: DataFrame, iterations: Int,
               maxAdjLen: Int = defaultMaxAdjLen): DataFrame = {
    val adj = graft.util.Checkpoints.partitioned(adjacency(edges, maxAdjLen), "src")
    // split rows carry part > 0 — vertex count is the part-0 row count
    // (map-side countable; a distinct would cost the shuffle the split
    // representation exists to avoid). This count is adj's first action,
    // so it also fills the adjacency checkpoint.
    val n = adj.filter(col("part") === 0).count()
    val teleport = (15L * Scale) / (100L * n)
    // The round checkpoints are lazy too (no per-round job launch; the
    // whole loop executes inside the consumer's single action) and keep
    // the hash(id) claim: each round's rank frame already ends
    // hash-partitioned on its group key, so carrying that claim into the
    // next round makes the rank-side join exchange VANISH — one round
    // moves nothing but its own combined aggregation partials.
    var ranks = graft.util.Checkpoints.partitioned(
      adj.filter(col("part") === 0)
        .select(col("src").as("id"), lit(Scale / n).as("r")), "id")
    var i = 0
    while (i < iterations) {
      ranks = graft.util.Checkpoints.partitioned(
        pageRankStep(adj, ranks, teleport), "id")
      i += 1
    }
    ranks
  }

  /** Default neighbor-list split length: 2²⁰ longs ≈ 8 MB per adjacency
    * row — far above any vertex in the driver data, low enough that a
    * power-law hub can never make a single row unmanageable. */
  val defaultMaxAdjLen: Int = 1 << 20

  /** SET-semantics adjacency in ONE `groupBy(src)` shuffle (map-side
    * partial sets dedup in-stage), split into ≤`maxAdjLen`-element rows:
    * `(src, deg, part, adj)` with `deg` the vertex's TOTAL out-degree on
    * every split row and `part` the 0-based slice index. The slice
    * transform runs in the aggregate's output stage — no extra exchange. */
  private[graft] def adjacency(edges: DataFrame, maxAdjLen: Int): DataFrame = {
    require(maxAdjLen > 0, s"maxAdjLen must be positive, got $maxAdjLen")
    edges.groupBy("src").agg(collect_set(col("dst")).as("all"))
      .select(col("src"), size(col("all")).as("deg"),
        posexplode(expr(
          s"transform(sequence(0, (size(all) - 1) div $maxAdjLen), " +
            s"i -> slice(all, i * $maxAdjLen + 1, $maxAdjLen))"))
          .as(Seq("part", "adj")))
  }

  /** One power iteration against the pinned-partitioning adjacency frame —
    * exposed so PlanSpec can count the exchanges a single round actually
    * executes (the lazy-checkpoint chain hides upstream plans from the
    * final frame's queryExecution). The per-vertex share ⌊r/deg⌋ is
    * computed ONCE per adjacency row before the explode (using the carried
    * TOTAL degree, so hub-split rows contribute identically); each
    * exploded row carries it to its dst. */
  private[graft] def pageRankStep(adj: DataFrame, ranks: DataFrame,
                                  teleport: Long): DataFrame =
    adj
      .join(ranks.withColumnRenamed("id", "src"), "src")
      .select(expr("r div deg").as("c"), explode(col("adj")).as("dst"))
      .groupBy("dst").agg(sum("c").as("s"))
      .select(col("dst").as("id"),
        (lit(teleport) + expr("(85 * s) div 100")).as("r"))

  /** Emit both directions of each undirected pair `(c, s)` in ONE pass —
    * the union formulation re-runs the pair derivation per branch (Spark
    * shares no common subplans). */
  private def symmetrize(pairs: DataFrame): DataFrame =
    pairs
      .select(explode(array(
        struct(col("c").as("src"), col("s").as("dst")),
        struct(col("s").as("src"), col("c").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Personalized (seeded) PageRank over WEIGHTED edges `(src, dst, w)`:
    * teleport mass returns only to the seed set (uniformly), and each
    * vertex distributes rank proportionally to edge weight —
    * `r' = T·[v ∈ seeds] + ⌊85 · Σ_{u→v} ⌊r_u · w_uv / W_u⌋ / 100⌋` with
    * `W_u` the total out-weight. Same scaled-integer determinism contract
    * as [[pageRank]]; `r·w ≤ 10¹²·|orders per pair|` stays far from long
    * overflow. Non-seed vertices start (and teleport) at zero — relevance
    * flows outward from the seeds only. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iterations: Int): DataFrame =
    // Weighted adjacency: one groupBy(src) collects (dst, w) structs AND
    // the out-weight total in the same aggregate — the edge derivation runs
    // once, with no separate wsum join (see [[pageRank]] for the per-round
    // payoff of the V-row adjacency representation).
    personalizedPageRankAdj(
      edges.groupBy("src").agg(
        collect_list(struct(col("dst"), col("w"))).as("adj"),
        sum("w").as("wsum")),
      seeds, iterations)

  /** g1b's weighted adjacency in ONE corpus-scaled exchange (round 16 —
    * the sf100 disk boundary's reducible half): the symmetrized
    * `(src, dst, ok)` triple stream goes straight into
    * `groupBy(src).collect_set(struct(dst, ok))` — collect_set partially
    * DEDUPS map-side (an order's repeated same-supplier lineitems collapse
    * before the shuffle, which `repartition().distinct()` never did), and
    * the one exchange it plans is the only corpus-scaled exchange of the
    * whole build. Downstream, the per-pair distinct-order counts and the
    * out-weight total derive IN-STAGE: the explode preserves the hash(src)
    * partitioning, and both re-aggregations cluster on supersets of
    * {src}, so neither plans an exchange (PlanSpec pins the chain at one).
    * The old build was TWO overlapping corpus-scaled exchanges — the
    * (c, s)-repartitioned triple dedup feeding a second groupBy(src) over
    * the symmetrized weighted pairs — whose concurrent shuffle spill was
    * g1b's 3× ENOSPC at sf100 (SCALECURVE r15). Row-size note: the
    * intermediate per-src set carries distinct (dst, ok) pairs — in this
    * schema ≤ ~10 orders/customer and ~600 lineitems/supplier, far below
    * any split threshold; a power-law graph would split it the
    * [[adjacency]] way. */
  private[graft] def weightedAdjacencyFromTriples(symTriples: DataFrame): DataFrame =
    symTriples
      .groupBy("src")
      .agg(collect_set(struct(col("dst"), col("ok"))).as("pairs"))
      .select(col("src"), explode(col("pairs")).as("p"))
      .groupBy(col("src"), col("p.dst").as("dst"))
      .agg(count(lit(1)).as("w"))
      .groupBy("src")
      .agg(collect_list(struct(col("dst"), col("w"))).as("adj"),
        sum("w").as("wsum"))

  /** PPR over a pre-built `(src, adj, wsum)` weighted adjacency. The seed
    * flag is folded into the SAME checkpoint: the left join's build side
    * is the vertex-sized seed frame (its small shuffle is the only
    * traffic; the adjacency is already hash(src), which the checkpoint's
    * repartition then elides), so one checkpoint, filled inside the
    * query's final action, carries adjacency, out-weight AND seed flag — a
    * separate `vertices` checkpoint would be a second full V-row
    * materialization for a column this join attaches in-stage. */
  private[graft] def personalizedPageRankAdj(adjBase: DataFrame,
                                             seeds: DataFrame,
                                             iterations: Int): DataFrame = {
    val nSeeds = seeds.count()
    val teleport = (15L * Scale) / (100L * nSeeds)
    val seedSet = seeds.select(col("id").as("src"), lit(true).as("is_seed"))
    val adj = graft.util.Checkpoints.partitioned(
      adjBase
        .join(seedSet, Seq("src"), "left")
        .select(col("src"), col("adj"), col("wsum"),
          coalesce(col("is_seed"), lit(false)).as("is_seed")),
      "src")
    // vertices joins the contrib frame EVERY iteration on id — it is a
    // PROJECTION of the pinned adj frame (no second checkpoint): the
    // hash(src) claim rewrites through the alias to hash(id), so the
    // per-round attach join stays exchange-free on this side.
    val vertices = adj.select(col("src").as("id"), col("is_seed"))
    // partitioning-preserving lazy round checkpoints — see [[pageRank]]
    var ranks = graft.util.Checkpoints.partitioned(
      vertices.select(col("id"),
        when(col("is_seed"), lit(Scale / nSeeds)).otherwise(lit(0L)).as("r")),
      "id")
    var i = 0
    while (i < iterations) {
      ranks = graft.util.Checkpoints.partitioned(
        pprStep(adj, vertices, ranks, teleport), "id")
      i += 1
    }
    ranks
  }

  /** One personalized-PageRank iteration — exposed for the PlanSpec
    * exchange pin, like [[pageRankStep]]. The weighted share
    * ⌊r·w/wsum⌋ is per-EDGE (unlike pageRank's per-vertex share), so it is
    * computed after the explode; r and wsum ride along per row. */
  private[graft] def pprStep(adj: DataFrame, vertices: DataFrame,
                             ranks: DataFrame, teleport: Long): DataFrame = {
    val contrib = adj
      .join(ranks.withColumnRenamed("id", "src"), "src")
      .select(col("r"), col("wsum"), explode(col("adj")).as("e"))
      .select(col("e.dst").as("dst"), expr("(r * e.w) div wsum").as("c"))
      .groupBy("dst").agg(sum("c").as("s"))
    vertices
      .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left")
      .select(col("id"),
        (when(col("is_seed"), lit(teleport)).otherwise(lit(0L)) +
          expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
  }

  /** g1: PageRank over the symmetrized customer↔supplier purchase graph.
    * Vertices interleave the two key spaces (customer → 2k, supplier →
    * 2k+1); edges are the DISTINCT (custkey, suppkey) pairs reachable
    * through orders ⋈ lineitem, both directions. Top-100 by rank with a
    * full deterministic tie-break. */
  def g1PageRank(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey")
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    // NO .distinct() on the pairs: pageRank's collect_set adjacency build
    // dedups map-side inside its one shuffle — a pre-dedup here would add a
    // second full exchange of the pair stream for nothing (measured: the
    // distinct + adjacency-groupBy pair was the old two-shuffle setup).
    val pairs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
    // symmetrize via explode, not union: a union's two branches would each
    // re-run the pair derivation (no common-subplan sharing) — the explode
    // reads it once and emits both directions in the same pass
    val edges = symmetrize(pairs)
    pageRank(edges, 5)
      .select(
        when(col("id") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
        expr("id div 2").as("entity_key"),
        col("r").as("rank_e12"))
      .orderBy(desc("rank_e12"), col("kind"), col("entity_key"))
      .limit(100)
  }

  /** g1b: personalized PageRank seeded at the BUILDING-segment customers,
    * over order-count-weighted edges — "supplier authority as seen from one
    * market segment", the relevance-propagation shape recommendation and
    * source-weighting pipelines use. Seeds with no orders are not graph
    * vertices; the teleport mass addressed to them is dropped identically
    * in both engines (they still count in the seed normalizer). */
  def g1bPersonalized(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey")
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    // symmetrize the TRIPLES (not pre-weighted pairs) in the same one-pass
    // explode as [[g1PageRank]]; the distinct-order weighting happens
    // inside [[weightedAdjacencyFromTriples]]'s single exchange
    val sym = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"),
        col("o_orderkey").as("ok"))
      .select(explode(array(
        struct(col("c").as("src"), col("s").as("dst"), col("ok")),
        struct(col("s").as("src"), col("c").as("dst"), col("ok")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.ok").as("ok"))
    val seeds = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select((col("c_custkey") * 2).as("id"))
    personalizedPageRankAdj(weightedAdjacencyFromTriples(sym), seeds, 5)
      .select(
        when(col("id") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
        expr("id div 2").as("entity_key"),
        col("r").as("rank_e12"))
      .orderBy(desc("rank_e12"), col("kind"), col("entity_key"))
      .limit(100)
  }

  /** Triangle counting via DEGREE-ORDERED ORIENTATION (the MapReduce
    * formulation of Cohen '09 / Suri-Vassilvitskii WWW'11): orient every
    * undirected edge from its lower-(degree, id) endpoint to the higher
    * one — a strict total order, so each triangle survives as exactly one
    * (s→t1, s→t2, t1→t2) wedge-plus-closing-edge. The payoff at scale:
    * out-degree under this orientation is O(√m) regardless of hub size
    * (a vertex of degree d only KEEPS edges to neighbors of degree ≥ d, and
    * there are at most 2√m vertices of degree ≥ √m... classic argument), so
    * the wedge fan-out Σ outdeg² is O(m^1.5) worst-case instead of Σ deg²,
    * which a hub vertex makes quadratic. Both stages are plain equi-joins
    * (on wedge apex, then on the candidate pair) — shuffle-partitionable,
    * no theta join. The orientation key packs (degree, id) into one long:
    * deg·2³² + id, unique because ids are. */
  /** Bloom-prune cutover for [[triangleCounts]] (round-12 g2-floor
    * measurement, this box, min-over-3):
    *   - sf0.1, m = 1.2M: close WITHOUT bloom 3.1 s vs 3.7 s with + 1.8 s
    *     build — the probe CPU on 41M wedges plus the build pass exceed
    *     the shuffle it saves; bloomless g2 is ~2 s faster end-to-end;
    *   - sf1, m = 12M: the prune saved 31.4 → 7.6 s of the closing phase
    *     (round-10 measurement) — overwhelming win.
    * Crossover sits in the (1.2M, 12M) bracket; 2M errs toward KEEPING
    * the bloom because its wrong-side cost is a ~2 s constant while the
    * bloomless wrong side shuffles the full Θ(m^1.5) wedge volume. */
  val bloomMinEdges = 2000000L

  def triangleCounts(edges: DataFrame): DataFrame =
    triangleCounts(edges, bloomMinEdges)

  def triangleCounts(edges: DataFrame, bloomCutover: Long): DataFrame = {
    // edges: undirected distinct pairs (u, v), u < v, both Long.
    // MATERIALIZED: the degree count and the orientation join both read
    // it (unshared, the edge derivation runs once per consumer). At sf10 a
    // cached edge list squats the storage half of the unified pool the
    // wedge stage's sorters need, the measured failure behind
    // Caches.materialize's spill branch.
    val e = graft.util.Caches.materialize(edges)
    // m sizes the Bloom prune and the closing join's partitioning, so it
    // is needed while the plan is built; on a cached e this count is the
    // pass that fills the cache.
    val m = e.count()
    val deg = e.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy("x").agg(count(lit(1)).as("d"))
    val key = (d: Column, id: Column) => d * lit(4294967296L) + id
    // MATERIALIZED: the wedge build reads this FOUR times (Bloom build,
    // both wedge legs, closing-edge probe); unshared, the degree-join
    // chain and the edge derivation under it would run 4×.
    val oriented = graft.util.Caches.materialize(e
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
      .select(
        when(key(col("du"), col("u")) < key(col("dv"), col("v")),
          struct(col("u").as("s"), col("v").as("t"),
            key(col("dv"), col("v")).as("tk")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"),
          key(col("du"), col("u")).as("tk"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.tk").as("tk"))
      // One comparison per EDGE (not per wedge) enforces the packing
      // contract — cheaper than letting a violation corrupt counts.
      .where(assert_true(
        col("s").between(0L, 2147483647L) && col("t").between(0L, 2147483647L),
        lit("triangleCounts: vertex ids must lie in [0, 2^31) for key packing"))
        .isNull))
    // wedges at apex s: out-neighbor pairs ordered by orientation key, so
    // the closing edge (t1→t2) is probed in ITS oriented direction. The
    // candidate pair is PACKED into one long (t1·2³² + t2 — requires ids in
    // [0, 2³¹): the HIGH word must stay below 2³¹ or the signed-long product
    // overflows; the low word below 2³² would merely collide. Same contract
    // as the orientation key's deg·2³² + id. Violations would silently
    // corrupt counts, so the bound is asserted on the degree frame below),
    // so the wedge frame that feeds the biggest shuffle of the query is two
    // longs per row ((s, ck), 16 bytes) instead of three columns, the join
    // hashes one key instead of two, and both endpoints are recovered
    // arithmetically after the match — no wide payload ever moves.
    val pack = (a: Column, b: Column) => a * lit(4294967296L) + b
    val packedE = oriented.select(pack(col("s"), col("t")).as("ck"))
    // The closing-edge join is where the O(m^1.5) wedge volume meets the
    // network: at sf1, 411M wedges probed 12M edges and only ~19M closed —
    // 95% of the biggest shuffle of the query was discarded AFTER moving.
    // Two measured fixes (sf1: 31.4 s → 7.6 s for this phase):
    //  1. a runtime Bloom prune, Spark's InjectRuntimeFilter pattern made
    //     explicit: build a filter over the m packed edge keys, drop
    //     non-closing wedges MAP-SIDE before they ever shuffle. No false
    //     negatives ⇒ the exact join output is unchanged; false positives
    //     only ride the shuffle to be dropped by the join. The filter is
    //     capped at 100M expected keys (~120 MB bits at 1% FPR): past the
    //     cap the FPR degrades gracefully — the prune thins, the join
    //     stays exact — instead of the filter itself becoming a
    //     corpus-scaled broadcast. The m-row count behind the sizing is a
    //     cached-frame scan, not an extra derivation.
    //  2. SHUFFLE_HASH on the edge side: sort-merge would SORT the wedge
    //     side (the whole point of the prune is that it is huge); hashing
    //     the m/N-rows-per-task edge side instead is the textbook
    //     asymmetric-join choice and stays bounded at any scale.
    // The prune is CONDITIONAL on the measured edge count (see
    // [[bloomMinEdges]]): below the cutover the probe CPU + build pass
    // exceed the shuffle saved and the whole stage is skipped — the
    // round-12 g2 small-scale-floor cut. The exactness argument is
    // unchanged either way (the bloom only ever drops rows the join would
    // drop). Codegen Expression, not a Scala UDF: the probe runs once per
    // WEDGE (the highest-volume filter in the engine) and a UDF would box
    // every row and split the stage out of whole-stage codegen. The
    // expression holds the Broadcast handle, so the bits ship once via
    // torrent, and resolves the filter once per codegen instance
    // (ExpressionsSpec pins both the semantics and the codegen
    // participation).
    val mightClose: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
      if (m < bloomCutover) None
      else {
        val bloom = packedE.stat.bloomFilter("ck",
          math.max(1L, math.min(m, 100000000L)), 0.01)
        val bloomBc = oriented.sparkSession.sparkContext.broadcast(bloom)
        Some(ck => graft.functions.GraftFunctions.bloom_probe(ck, bloomBc))
      }
    // A bare SHUFFLE_HASH hint is a hard requirement Spark cannot back out
    // of, and with a FIXED partition count the per-task hash relation grows
    // with the corpus — the sf10 curve run caught exactly that failure
    // ("Can't acquire … to build hash relation" at 120M edges / 32
    // partitions). Size the closing join's partitioning from the measured
    // edge count instead: ≤ ~1.5M build rows per task at ANY scale, both
    // sides repartitioned on ck so the join adds no extra exchange. This is
    // what a production cluster does by setting shuffle.partitions to the
    // data — made explicit for the one stage whose build side is pinned.
    // ~300k build rows per task ≈ 7 MB of packed longs: small enough that
    // 32 concurrent builders fit a stock executor's execution pool with the
    // wedge-side shuffle buffers live (1.5M rows/task still died on a
    // 100M-edge corpus in an 8 GB JVM — measured, not theorized).
    val defaultParts = oriented.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val closeParts = math.max(defaultParts, (m / 300000L).toInt + 1)
    // Wedge generation: ORIENTED ADJACENCY + in-array pairing (the same
    // shape as g2's basket build), not a self-join. One m-row exchange on
    // the apex replaces the former TWO apex repartitions + sort-merge
    // self-join, and the pairing emits each wedge ONCE (k1 < k2 by
    // construction: sort_array orders neighbors by tk, strict because tk
    // is unique) where the join emitted Σoutdeg² rows and filtered half
    // AFTER materializing them (measured: this stage 3.2 s → 2.0 s at
    // sf0.1). The m-derived partition count still bounds every task's
    // wedge output — the 120M-edge pointer-array failure mode.
    //
    // Pairing is a TWO-generator chain, not one flatten(transform(...)):
    // a single flattened pair array is outdeg²/2 structs materialized in
    // ONE row before its explode, and the orientation only caps outdeg at
    // O(√m) — a max-out-degree apex (a large surviving clique) would
    // build an O(m)-element array, gigabytes at 10⁸ edges. Exploding the
    // neighbor list FIRST (posexplode) and slicing the tail per exploded
    // row keeps every materialized value O(outdeg) = O(√m) — ~350 KB at
    // 120M edges — while the generators stream the same Σoutdeg² total
    // volume row-by-row into the shuffle writer. Carrying ns across the
    // first generator duplicates O(outdeg) bytes per neighbor, Σoutdeg²
    // total — the same order as the wedge volume itself, and it never
    // crosses the network (both generators live in one stage).
    val adjO = oriented
      .repartition(closeParts, col("s"))
      .groupBy("s")
      .agg(sort_array(collect_list(struct(col("tk"), col("t")))).as("ns"))
    val wedges = adjO
      .select(col("s"), col("ns"), posexplode(col("ns")))
      .select(col("s"), col("col.t").as("t1"),
        explode(expr("transform(slice(ns, pos + 2, size(ns)), y -> y.t)")).as("t2"))
      .select(col("s"), pack(col("t1"), col("t2")).as("ck"))
    val closed = mightClose.map(p => wedges.filter(p(col("ck")))).getOrElse(wedges)
      .repartition(closeParts, col("ck"))
      .join(packedE.repartition(closeParts, col("ck")).hint("SHUFFLE_HASH"), "ck")
    closed
      .select(explode(array(col("s"),
        expr("ck div 4294967296"), pmod(col("ck"), lit(4294967296L)))).as("part"))
      .groupBy("part").agg(count(lit(1)).as("n_triangles"))
  }

  /** Multi-source BFS: minimum hop distance from any seed vertex, capped at
    * `maxHops` — the frontier-expansion (Pregel) formulation. Per round: one
    * equi-join of the edge list against the CURRENT FRONTIER only (not the
    * full distance table — a vertex is expanded exactly once, the round it
    * is first reached), a `distinct` on the new candidates, and a left-anti
    * probe against the settled set. The schedule is fixed (no driver-side
    * convergence read), so all rounds execute inside the consumer's single
    * action; lazy `localCheckpoint` truncates the union lineage at
    * materialization — the [[pageRank]] pattern.
    *
    * Scale shape (100 TB): per-round shuffle traffic is O(frontier ⋈ edges),
    * which telescopes to O(E) total across ALL rounds — each edge fires the
    * round its source is settled, once. The settled set is vertex-sized.
    * Seeds not present in the edge list are legal: they surface at hops 0
    * and expand nothing. */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    // Adjacency build, as in [[pageRank]] (same hub-split builder — the
    // step is degree-free, and split rows' exploded neighbors are unioned
    // by the distinct anyway): one groupBy(src) materializes the edge
    // derivation ONCE into a V-row frame with pinned
    // hashpartitioning(src, N) — every round's frontier join is then
    // vertex-sized on both sides (a bare edge list would re-sort E rows
    // per round under sort-merge, and an unpinned checkpoint would
    // re-SHUFFLE them, turning the telescoping O(E)-total contract into
    // O(E·maxHops)).
    val adjE = graft.util.Checkpoints.partitioned(
      adjacency(edges, defaultMaxAdjLen).select("src", "adj"), "src")
    var dist = seeds.select(col("id"), lit(0).cast("int").as("hops"))
      .localCheckpoint(false)
    var frontier = dist.select("id")
    var h = 1
    while (h <= maxHops) {
      // the frontier checkpoint carries hash(id) (the step ends in a
      // distinct on id; the anti join preserves it), so the next round's
      // adjacency join is exchange-free on the frontier side too. The
      // settled set stays a plain lazy checkpoint: its union has no single
      // partitioning to carry, and repartitioning it per round would cost
      // exactly the exchange it saves in the anti probe.
      val next = graft.util.Checkpoints.partitioned(
        bfsStep(adjE, frontier, dist, h), "id")
      dist = dist.unionByName(next).localCheckpoint(false)
      frontier = next.select("id")
      h += 1
    }
    dist
  }

  /** One frontier expansion — exposed for the PlanSpec exchange pin, like
    * [[pageRankStep]]. */
  private[graft] def bfsStep(adjE: DataFrame, frontier: DataFrame,
                             dist: DataFrame, h: Int): DataFrame =
    adjE.join(frontier.withColumnRenamed("id", "src"), "src")
      .select(explode(col("adj")).as("id")).distinct()
      .join(dist, Seq("id"), "left_anti")
      .withColumn("hops", lit(h).cast("int"))

  /** g3: hop distance from the BUILDING-segment customers to every entity in
    * the symmetrized co-purchase graph (the [[g1PageRank]] vertex space) —
    * "how many purchase links from the target audience is each supplier?",
    * the reachability/blast-radius shape lineage and influence analyses
    * run. Hop cap 4; vertices further than that (or disconnected) are
    * absent by contract, identically in both engines. */
  def g3BfsHops(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey")
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    // no pre-dedup — bfsHops' collect_set adjacency dedups in its one
    // shuffle (see [[g1PageRank]])
    val pairs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
    val edges = symmetrize(pairs)
    val seeds = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select((col("c_custkey") * 2).as("id"))
    bfsHops(edges, seeds, 4)
      .select(
        when(col("id") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
        expr("id div 2").as("entity_key"),
        col("hops"))
      .orderBy("kind", "entity_key")
  }

  /** g2: per-part triangle counts in the co-purchase graph (parts sharing
    * an order are adjacent). The per-order pair fan-out is |order|² — bounded
    * by the order-size cap here (≤7 lineitems); an unbounded-basket corpus
    * would cap or sample baskets before pairing, which changes the graph,
    * not the counting algorithm.
    *
    * Measured at sf0.1: 1.196M edges over 20k vertices (avg degree ~120,
    * max 222) — a DENSE graph. Degree ordering caps oriented out-degree at
    * 97 and cuts wedge volume to 41.1M vs Σd²/2 ≈ 149M unoriented (3.6×);
    * on a hub-skewed production graph the gap is the difference between
    * O(m^1.5) and O(m·d_max). The remaining local cost is constant-factor
    * (three ~1-40M-row shuffles), not algorithmic. */
  def g2Triangles(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    // Per-order baskets via ONE orderkey shuffle (map-side partial sets),
    // pairs generated inside the array — the equivalent self-join shuffles
    // the lineitem projection twice and sort-merges 6M×6M before producing
    // the identical pair stream (measured 4.5 s → ~2 s at sf0.1). The
    // per-order basket is bounded (≤7 lineitems, see docstring), so the
    // in-array pair fan-out is a bounded-task operation, not a skew risk.
    val baskets = li.groupBy("ok").agg(sort_array(collect_set("pk")).as("ps"))
    val edges = baskets
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))"
      )).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
    triangleCounts(edges).orderBy("part")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g1_pagerank" -> (g1PageRank _),
    "g1b_ppr" -> (g1bPersonalized _),
    "g2_triangles" -> (g2Triangles _),
    "g3_bfs_hops" -> (g3BfsHops _)
  )

  /** The oracle unrolls the same four frontier expansions as chained CTEs:
    * nₖ = new vertices at hop k (reached, not yet settled), dₖ = settled
    * set after round k. Set semantics (DISTINCT + NOT EXISTS) make every
    * round engine-exact — there is no arithmetic at all. */
  private val bfsSql: String = {
    val iters = (1 to 4).map { k =>
      s"""n$k AS (
         |  SELECT DISTINCT e.dst AS id FROM edges e
         |  JOIN d${k - 1} p ON p.id = e.src
         |  WHERE NOT EXISTS (SELECT 1 FROM d${k - 1} x WHERE x.id = e.dst)),
         |d$k AS (
         |  SELECT id, hops FROM d${k - 1}
         |  UNION ALL SELECT id, $k AS hops FROM n$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL SELECT s, c FROM pairs),
       |d0 AS (
       |  SELECT c_custkey * 2 AS id, 0 AS hops FROM customer
       |  WHERE c_mktsegment = 'BUILDING'),
       |$iters
       |SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  id // 2 AS entity_key, CAST(hops AS INT) AS hops
       |FROM d4
       |ORDER BY kind, entity_key""".stripMargin
  }

  /** The oracle unrolls the same five power iterations as chained CTEs —
    * scaled-integer `//` division makes every intermediate exact, so the
    * fixed iteration count (not a convergence threshold) is the whole
    * schedule and both engines land on identical longs. */
  private val pagerankSql: String = {
    val iters = (1 to 5).map { k =>
      s"""r$k AS (
         |  SELECT e.dst AS id,
         |    (SELECT t FROM tp) + (85 * SUM(r.r // d.deg)) // 100 AS r
         |  FROM edges e
         |  JOIN r${k - 1} r ON r.id = e.src
         |  JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL SELECT s, c FROM pairs),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |nn AS (SELECT COUNT(*) AS n FROM deg),
       |tp AS (SELECT 15000000000000 // (100 * n) AS t FROM nn),
       |r0 AS (SELECT src AS id, (SELECT 1000000000000 // n FROM nn) AS r FROM deg),
       |$iters
       |SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  id // 2 AS entity_key, CAST(r AS BIGINT) AS rank_e12
       |FROM r5
       |ORDER BY rank_e12 DESC, kind, entity_key
       |LIMIT 100""".stripMargin
  }

  private val pprSql: String = {
    val iters = (1 to 5).map { k =>
      s"""c$k AS (
         |  SELECT e.dst AS id, SUM(r.r * e.w // w2.wsum) AS s
         |  FROM edges e
         |  JOIN r${k - 1} r ON r.id = e.src
         |  JOIN ws w2 ON w2.src = e.src
         |  GROUP BY e.dst),
         |r$k AS (
         |  SELECT v.id,
         |    CASE WHEN v.is_seed THEN (SELECT t FROM tp) ELSE 0 END
         |      + (85 * COALESCE(c.s, 0)) // 100 AS r
         |  FROM v LEFT JOIN c$k c ON c.id = v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH pw AS (
       |  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
       |    COUNT(DISTINCT l_orderkey) AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT c AS src, s AS dst, w FROM pw
       |  UNION ALL SELECT s, c, w FROM pw),
       |ws AS (SELECT src, SUM(w) AS wsum FROM edges GROUP BY src),
       |seeds AS (SELECT c_custkey * 2 AS id FROM customer
       |          WHERE c_mktsegment = 'BUILDING'),
       |ns AS (SELECT COUNT(*) AS n FROM seeds),
       |tp AS (SELECT 15000000000000 // (100 * n) AS t FROM ns),
       |v AS (SELECT ws.src AS id, (seeds.id IS NOT NULL) AS is_seed
       |      FROM ws LEFT JOIN seeds ON ws.src = seeds.id),
       |r0 AS (SELECT id, CASE WHEN is_seed
       |         THEN (SELECT 1000000000000 // n FROM ns) ELSE 0 END AS r
       |       FROM v),
       |$iters
       |SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  id // 2 AS entity_key, CAST(r AS BIGINT) AS rank_e12
       |FROM r5
       |ORDER BY rank_e12 DESC, kind, entity_key
       |LIMIT 100""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "g1_pagerank" -> pagerankSql,
    "g1b_ppr" -> pprSql,
    "g3_bfs_hops" -> bfsSql,
    // The oracle counts each triangle once via the x<y<z canonical form —
    // orientation-free, so it cross-checks the degree-ordering trick rather
    // than replaying it.
    "g2_triangles" ->
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |tri AS (
        |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |FROM (SELECT unnest([x, y, z]) AS part FROM tri)
        |GROUP BY part ORDER BY part""".stripMargin
  )
}
