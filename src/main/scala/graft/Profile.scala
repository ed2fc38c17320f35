package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch profiler: times sub-stages of the heavy queries. Not part of the
  * driver contract. */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (args.headOption.contains("s7vol")) { profileS7Volume(dir); return }
    if (args.headOption.contains("pqrecall")) { profilePqRecall(dir); return }
    if (args.headOption.contains("s9bdiag")) { profileS9bDiag(dir); return }
    if (args.headOption.contains("mawidth")) { profileMaWidth(dir); return }
    if (args.headOption.contains("j02plan")) { profileJ02Plan(dir); return }
    if (args.headOption.contains("jobs")) { profileJobs(dir, args.drop(1)); return }
    if (args.headOption.contains("s8stage")) { profileS8(dir); return }
    if (args.headOption.contains("s8var")) { profileS8Var(dir); return }
    if (args.headOption.contains("plans")) { profilePlans(dir, args.drop(1)); return }
    if (args.headOption.contains("loadcost")) { profileLoadCost(dir); return }
    System.err.println("usage: Profile <mode> [args]; modes: jobs <query,...>, " +
      "plans <query,...>, pqrecall, mawidth, s9bdiag, s7vol, j02plan, s8stage, " +
      "s8var, loadcost")
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

  /** The s9b width router's raw inputs on a given tier: the rank
    * histogram of each sampled vector's flat-optimal coarse group, the
    * cumulative coverage per candidate width, and the width the router
    * picks — the calibration evidence behind multiAssignCoveragePct. */
  def profileMaWidth(dir: String): Unit = {
    val spark = GraftSession()
    import graft.similarity.{Knn, Pq}
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, dir)
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
    import spark.implicits._
    import graft.similarity.{Knn, Pq}
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, dir)
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

  /** s8 stage decomposition (round 16): where does the single fat task go?
    * Times each sub-frame of pqTopK with a count, then the full query. */
  def profileS8(dir: String): Unit = {
    val spark = GraftSession()
    import graft.similarity.{Knn, Pq}
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val ksub = Pq.ksubFor(n)
    for (pass <- 1 to 2) {
      graft.util.Caches.releaseAll(); System.gc(); Thread.sleep(300)
      var tPrev = System.nanoTime()
      def mark(name: String): Unit = {
        val now = System.nanoTime()
        println(f"[s8 $pass] ${(now - tPrev) / 1e9}%7.2fs  $name")
        tPrev = now
      }
      val cb = Pq.fitCodebook(emb, ksub)
      mark("fitCodebook (collect + Lloyd)")
      import graft.functions.PqFunctions._
      val codes = emb.select(col("vec_id").as("b_id"),
        pq_encode(col("embedding"), cb, Pq.m, Pq.dsub).as("codes"))
      codes.write.format("noop").mode("overwrite").save()
      mark("codes (encode scan)")
      val qlut = emb.join(broadcast(Knn.queryIds(emb)), "vec_id")
        .select(col("vec_id").as("a_id"),
          pq_lut(col("embedding"), cb, Pq.m, Pq.dsub).as("lut"))
      qlut.write.format("noop").mode("overwrite").save()
      mark("qlut")
      val approx = codes.join(broadcast(qlut), col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"),
          pq_adc(col("lut"), col("codes"), ksub).as("adot"))
      approx.write.format("noop").mode("overwrite").save()
      mark("approx (BNLJ + ADC) noop")
      println(s"[s8 $pass] approx rows: ${approx.count()}")
      mark("approx count")
      val w1 = Window.partitionBy("a_id").orderBy(col("adot").desc, col("b_id").asc)
      val cand = approx.withColumn("qrk", row_number().over(w1))
        .filter(col("qrk") <= 40)
        .select("a_id", "b_id", "adot")
      cand.write.format("noop").mode("overwrite").save()
      mark("cand (window top-k) noop")
      val full = Pq.pqTopK(emb, cb, 5, 8)
      println(s"[s8 $pass] full rows: ${full.count()}")
      mark("full pqTopK")
    }
    spark.stop()
  }

  /** s8 ADC-join variants (round 16): current shape (wide BNLJ carrying the
    * 16 KB lut per pair) vs narrow-BNLJ-then-equi-lut-attach. */
  def profileS8Var(dir: String): Unit = {
    val spark = GraftSession()
    import graft.similarity.{Knn, Pq}
    import graft.functions.PqFunctions._
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val ksub = Pq.ksubFor(n)
    val cb = Pq.fitCodebook(emb, ksub)
    val codes = emb.select(col("vec_id").as("b_id"),
      pq_encode(col("embedding"), cb, Pq.m, Pq.dsub).as("codes"))
    val qlut = emb.join(broadcast(Knn.queryIds(emb)), "vec_id")
      .select(col("vec_id").as("a_id"),
        pq_lut(col("embedding"), cb, Pq.m, Pq.dsub).as("lut"))
    def run(name: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      for (pass <- 1 to 3) {
        System.gc(); Thread.sleep(200)
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"[s8var] $name pass $pass: ${(System.nanoTime() - t0) / 1e9}%6.2fs")
      }
    }
    // A: current shape
    val a = codes.join(broadcast(qlut), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        pq_adc(col("lut"), col("codes"), ksub).as("adot"))
    run("A wide-BNLJ")(a)
    // C: same join, no adc — ids only (does the join itself cost 7 s?)
    val cVar = codes.join(broadcast(qlut), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"))
    run("C join-ids-only")(cVar)
    // D: same join, one raw lut element (is ArrayData access the cost?)
    val dVar = codes.join(broadcast(qlut), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), element_at(col("lut"), 1).as("x"))
    run("D join+1-element")(dVar)
    // E: same join, sum of 8 fixed lut elements via builtins
    val eVar = codes.join(broadcast(qlut), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        (0 until 8).map(j => element_at(col("lut"), j * ksub + 1)).reduce(_ + _).as("x"))
    run("E join+8-elements")(eVar)
    // F: adc against a repartitioned (parallel) stream side
    val fVar = codes.repartition(32).join(broadcast(qlut), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        pq_adc(col("lut"), col("codes"), ksub).as("adot"))
    run("F adc 32-partition stream")(fVar)
    // H: codes PERSISTED before the pair join — if fast, the defect is
    // pq_encode re-evaluated per joined output row, not the adc
    val codesP = codes.persist()
    val h = codesP.join(broadcast(qlut), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        pq_adc(col("lut"), col("codes"), ksub).as("adot"))
    run("H persisted-codes")(h)
    codesP.unpersist()
    // I: qlut inputs also under suspicion? lut re-eval per output row would
    // be 100 rows × 2000 matches — force only lut materialization
    val qlutP = qlut.persist()
    val iVar = codes.join(broadcast(qlutP), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        pq_adc(col("lut"), col("codes"), ksub).as("adot"))
    run("I persisted-qlut")(iVar)
    qlutP.unpersist()
    // G: pure JVM microbench of PqOps.adc on unsafe arrays — is the kernel
    // itself slow, or only its evaluation context inside the plan?
    locally {
      import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      val lut = UnsafeArrayData.fromPrimitiveArray(Array.fill(8 * ksub)(1.0))
      val cds = UnsafeArrayData.fromPrimitiveArray(Array.fill(8)(3))
      var acc = 0.0
      val t0 = System.nanoTime()
      var i = 0
      while (i < 200000) {
        acc += graft.functions.PqOps.adc(lut, cds, ksub).doubleValue()
        i += 1
      }
      println(f"[s8var] G jvm-adc 200k calls: ${(System.nanoTime() - t0) / 1e9}%6.3fs (acc=$acc)")
    }
    println("=== A plan ==="); a.explain("formatted")
    spark.stop()
  }

  /** Cost of repeated Tables.load (file listing + parquet footer schema
    * inference per call) vs a memoized DataFrame. */
  def profileLoadCost(dir: String): Unit = {
    val spark = GraftSession()
    Tables.documents(spark, dir).count() // warm FS cache + codegen
    for (pass <- 1 to 3) {
      var t0 = System.nanoTime()
      var i = 0
      while (i < 100) { Tables.load(spark, dir, "lineitem"); i += 1 }
      println(f"[loadcost] pass $pass: 100 fresh loads ${(System.nanoTime() - t0) / 1e9}%6.3fs")
      val df = Tables.load(spark, dir, "lineitem")
      t0 = System.nanoTime()
      i = 0
      while (i < 100) { df.select(col("l_orderkey")); i += 1 }
      println(f"[loadcost] pass $pass: 100 memo reuses ${(System.nanoTime() - t0) / 1e9}%6.3fs")
    }
    spark.stop()
  }

  /** Dump .explain("formatted") of named driver queries to files under
    * plans/r16/ — the optimization round's before/after plan evidence.
    * Usage: runMain graft.Profile plans <suffix> <name>[,<name>...] */
  def profilePlans(dir: String, args: Array[String]): Unit = {
    val spark = GraftSession()
    val suffix = args.headOption.getOrElse("before")
    val names = args.drop(1).flatMap(_.split(",")).filter(_.nonEmpty)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("plans/r16"))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"plans/r16/${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plans] wrote plans/r16/${name}_$suffix.txt")
      graft.util.Caches.releaseAll()
    }
    spark.stop()
  }

  /** Round-16 optimization profiler: per-JOB wall-time breakdown of named
    * driver queries at bench parallelism. A SparkListener records every
    * job's submit→end span plus its stage/task counts; gaps between jobs
    * are DRIVER time (planning, collect post-processing, oracle-SQL
    * string building, Lloyd fits). Three passes per query, the same
    * releaseAll/gc hygiene as Bench.once, so pass 3 is the quiet-state
    * read. Usage: runMain graft.Profile jobs <name>[,<name>...] */
  def profileJobs(dir: String, names: Array[String]): Unit = {
    val spark = GraftSession()
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String, Int)]()
    @volatile var stageTasks = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.put(js.jobId, (js.time,
          Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""),
          js.stageInfos.size))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, desc, nStages) = jobs.getOrDefault(je.jobId, (je.time, "", 0))
        done.add((je.jobId, t0, je.time, desc, nStages))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stageTasks += sc.stageInfo.numTasks
        val si = sc.stageInfo
        val ms = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
        if (ms >= 300)
          println(f"      stage ${si.stageId}%4d ${ms / 1e3}%7.3fs tasks=${si.numTasks}%-4d ${si.name.take(110)}")
      }
    })
    val targets = names.flatMap(_.split(",")).filter(_.nonEmpty)
    Tables.documents(spark, dir).count() // session warm
    for (name <- targets; pass <- 1 to 3) {
      graft.util.Caches.releaseAll(); System.gc(); Thread.sleep(500)
      done.clear(); jobs.clear(); stageTasks = 0L
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // drain the listener bus so late job-end events land (private API —
      // a short sleep is enough for a profiler)
      Thread.sleep(300)
      val js = done.toArray(Array.empty[(Int, Long, Long, String, Int)]).sortBy(_._2)
      val jobTotal = js.map(j => j._3 - j._2).sum / 1e3
      println(f"== $name pass $pass: wall $wall%.2fs, ${js.length} jobs " +
        f"(sum ${jobTotal}%.2fs), driver-gap ${wall - jobTotal}%.2fs, " +
        f"$stageTasks tasks, $n rows")
      if (pass == 3)
        js.foreach { case (id, s, e, desc, nst) =>
          println(f"   job $id%3d ${(e - s) / 1e3}%7.3fs stages=$nst  ${desc.take(90)}")
        }
    }
    spark.stop()
  }

  /** j02 de-hinting attribution (round-15 VERDICT #3): times j02 and j02b
    * over several spaced runs and dumps the FINAL adaptive plan's join
    * strategies + exchange count, to separate the AQE
    * shuffle-then-convert tax from measurement noise. */
  def profileJ02Plan(dir: String): Unit = {
    val spark = GraftSession()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec, BroadcastNestedLoopJoinExec}
    Tables.documents(spark, dir).count() // warm the session
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(nodes)
    }
    for (name <- Seq("j02_twophase_enrich", "j02b_normalized_enrich")) {
      val fn = SparkEntry.queries(name)
      for (pass <- 1 to 3) {
        graft.util.Caches.releaseAll(); System.gc(); Thread.sleep(500)
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        println(f"$name pass $pass: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      val df = fn(spark, dir)
      df.count()
      val all = nodes(df.queryExecution.executedPlan)
      val joins = all.collect {
        case _: BroadcastHashJoinExec => "BHJ"
        case _: ShuffledHashJoinExec => "SHJ"
        case _: SortMergeJoinExec => "SMJ"
        case _: BroadcastNestedLoopJoinExec => "BNLJ"
      }
      val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
      println(s"$name final adaptive plan: joins=${joins.groupBy(identity)
        .map { case (k, v) => s"$k×${v.size}" }.toSeq.sorted.mkString(",")} " +
        s"shuffleExchanges=$shuffles")
    }
    spark.stop()
  }

  /** s7 candidate-volume decomposition: is sf10→sf30 growth the pair
    * budget (algorithmic) or the verify/execution regime? */
  def profileS7Volume(dir: String): Unit = {
    val spark = GraftSession()
    import graft.similarity.Knn
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val bits = Knn.codeBits(n)
    val t0 = System.nanoTime()
    val codes = Knn.srpCodes(emb, bits)
    val probes = (0 until bits).map(j => col("code").bitwiseXOR(lit(1L << j))) :+ col("code")
    val qc = codes.select(col("id").as("a_id"), col("t"),
      explode(array(probes: _*)).as("code"))
    val bc = codes.toDF("b_id", "t", "code")
    val joined = qc.join(bc, Seq("t", "code")).filter(col("a_id") =!= col("b_id"))
    val rawPairs = joined.count()
    val t1 = System.nanoTime()
    val cand = joined.select("a_id", "b_id").distinct().count()
    val t2 = System.nanoTime()
    println(f"[s7vol] n=$n bits=$bits rawPairs=$rawPairs distinctCand=$cand " +
      f"joinCount=${(t1 - t0) / 1e9}%.1fs distinct=${(t2 - t1) / 1e9}%.1fs")
    spark.stop()
  }
}
