package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** A fixed list of registered `SparkEntry.queries`, one pass in list order.
  *
  * Each query is timed from the call that builds its DataFrame to the end
  * of `collect()`, which evaluates every output row and column (a `count()`
  * would let the optimizer prune whole subtrees). Correctness: every
  * result's row count and order-independent content hash equal the
  * expectations committed with the benchmark. */
final class QueryMix(a: Main.Args) extends Main.Workload {
  import QueryMix._

  private val fns = graft.SparkEntry.queries
  Mix.foreach { case (q, _) => require(fns.contains(q), s"query $q is not registered") }
  private val expected: Map[String, (Long, String)] = {
    val tree = Json.mapper.readTree(Paths.get(a.expected).toFile)
    Mix.map { case (q, _) =>
      val e = tree.get(q)
      require(e != null, s"no expectation for $q in ${a.expected}")
      q -> ((e.get("rows").asLong, e.get("hash").asText))
    }.toMap
  }

  private var attemptedOps = 0
  private var failedOps = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  // plain passes: per query (seconds, rows)
  private val plain = mutable.ArrayBuffer.empty[Seq[(String, Double, Long)]]
  private val traced = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val tracedQueries = mutable.ArrayBuffer.empty[(String, Double, Seq[String])]

  def warm(spark: SparkSession): Unit = Mix.foreach { case (q, _) =>
    fns(q)(spark, a.data).collect()
    Main.hygiene()
  }

  def pass(spark: SparkSession, n: Int, tracer: Option[Tracer]): Unit = {
    val results = Mix.zipWithIndex.map { case ((q, module), i) =>
      val op = n * Mix.size + i
      attemptedOps += 1
      try {
        val (secs, rows, span) = tracer match {
          case None =>
            val t0 = System.nanoTime()
            val rows = fns(q)(spark, a.data).collect()
            ((System.nanoTime() - t0) / 1e9, rows, None)
          case Some(t) =>
            val (root, (s, rows)) = t.root(op, q) { root =>
              t.span(op, s"$module.query", root)(fns(q)(spark, a.data))(_.collect())
            }
            ((root.end - root.start) / 1e3, rows, Some(s))
        }
        val (count, hash) = (rows.length.toLong, Stats.multisetHash(rows.map(rowString)))
        if (!expected.get(q).contains((count, hash))) {
          failedOps += 1
          failures += s"pass $n $q: $count rows hash $hash, expected ${expected.get(q)}"
        }
        Some((q, module, secs, count, span))
      } catch {
        case e: Exception =>
          failedOps += 1
          failures += s"pass $n $q: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      } finally Main.hygiene()
    }.flatten
    if (results.size == Mix.size) tracer match {
      case None => plain += results.map { case (q, _, s, r, _) => (q, s, r) }
      case Some(t) =>
        t.drain()
        val spans = results.flatMap(_._5)
        results.foreach { case (q, _, s, _, sp) => tracedQueries += ((q, s, sp.toSeq.flatMap(t.planDigests))) }
        traced += Modules.flatMap { m =>
          val ms = spans.filter(_.name == s"$m.query")
          Map(s"$m.query_s" -> ms.map(s => (s.end - s.start) / 1e3).sum) ++ t.counters(s"$m.query", ms)
        }.toMap + ("total_s" -> results.map(_._3).sum)
    }
  }

  def attempted: Int = attemptedOps
  def failed: Int = failedOps

  private def passSeconds(p: Seq[(String, Double, Long)]): Double = p.map(_._2).sum

  def endToEnd: ListMap[String, (Double, String)] = {
    val ps = if (plain.nonEmpty) plain.toSeq else Seq(Seq(("", Double.NaN, 0L)))
    ListMap(
      "op_p50_s" -> (Stats.median(ps.flatten.map(_._2)), "s"),
      "rows_per_s" -> (Stats.median(ps.map(p => p.map(_._3).sum / passSeconds(p))), "1/s"))
  }

  def perLayer: ListMap[String, Double] = {
    val keys = traced.headOption.map(_.keys.toSeq).getOrElse(Nil)
    val layers = keys.map(k => k -> Stats.median(traced.map(_(k)).toSeq)).toMap
    val overhead = if (plain.nonEmpty && traced.nonEmpty)
      Stats.median(traced.map(_("total_s")).toSeq) - Stats.median(plain.map(passSeconds).toSeq)
    else 0.0
    Layers.complete(layers - "total_s" + ("trace.overhead_s" -> overhead))
  }

  def detail: ListMap[String, Any] = {
    val times = plain.flatten.groupBy(_._1)
    ListMap(
      "query_p50_s" -> (if (plain.nonEmpty) Stats.median(plain.flatten.map(_._2).toSeq) else null),
      "query_samples" -> plain.flatten.size,
      "mix_s" -> (if (plain.nonEmpty) Stats.median(plain.map(passSeconds).toSeq) else null),
      "pass_s" -> plain.map(passSeconds),
      "per_query_s" -> ListMap(Mix.map { case (q, _) =>
        q -> (times.get(q).map(ts => Stats.median(ts.map(_._2).toSeq)).getOrElse(null): Any) }: _*),
      "traced_passes" -> traced.map(m => ListMap(m.toSeq.sortBy(_._1): _*)),
      "traced_queries" -> tracedQueries.map { case (q, s, ds) =>
        ListMap("query" -> q, "seconds" -> s, "plans" -> ds) },
      "failures" -> failures)
  }
}

object QueryMix {
  /** (query, module that registers it). One per module, plus two light
    * operators: the heavy ones are sites of eager materialization and AQE
    * broadcast conversion (j02, d2b, s8) and a query whose `count()` the
    * optimizer prunes (t14); q1 and hll are bound by per-query driver
    * overhead. */
  val Mix: Seq[(String, String)] = Seq(
    "j02_twophase_enrich" -> "operators", "d2b_jaccard_prefix" -> "dedup",
    "s8_knn_pq" -> "similarity", "t14_lm_score" -> "text",
    "mm5_pixel_stats" -> "multimodal", "q1_agg" -> "operators",
    "hll_distinct" -> "operators")

  val Modules: Seq[String] = Seq("operators", "dedup", "similarity", "text", "multimodal")

  /** A result row as text: doubles to 7 significant digits (aggregation
    * order moves their last bits), map entries sorted; everything else as
    * Spark returns it. */
  def rowString(r: Row): String = r.toSeq.map(cell).mkString("\u0001")

  private def cell(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.6e"
    case f: Float => cell(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case o => o.toString
  }

  /** Maintenance mode: run every query of the mix on `--data` twice and
    * write its row count and content hash to `--expected`; fails if the
    * two runs disagree. */
  def writeExpected(a: Main.Args): Unit = {
    val spark = graft.GraftSession()
    val fns = graft.SparkEntry.queries
    def once(q: String): (Long, String) = {
      val rows = fns(q)(spark, a.data).collect()
      Main.hygiene()
      (rows.length.toLong, Stats.multisetHash(rows.map(rowString)))
    }
    val got = Mix.map { case (q, _) =>
      val (r1, r2) = (once(q), once(q))
      require(r1 == r2, s"$q is not repeatable: $r1 vs $r2")
      q -> r1
    }
    Files.writeString(Paths.get(a.expected), got.map { case (q, (n, h)) =>
      s"""  "$q": {"rows": $n, "hash": "$h"}""" }.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}

/** Every per-layer metric name, in report order; a workload reports 0 for
  * the layers it does not run. */
object Layers {
  val Values: Seq[String] = Seq(
    "sources.decode_s", "sources.words", "sources.files_empty", "sources.sqlite_s",
    "pipeline.parse_s", "pipeline.txns", "pipeline.sink_csv_s", "pipeline.sink_xlsx_s",
    "operators.enrich_s", "operators.enrich_exact_frac", "operators.enrich_fuzzy_frac") ++
    QueryMix.Modules.map(m => s"$m.query_s") :+ "trace.overhead_s"
  val Groups: Seq[String] =
    Seq("sources", "pipeline.parse", "operators.enrich", "pipeline.sink") ++ QueryMix.Modules.map(_ + ".query")
  val Counters: Seq[String] = Seq("jobs", "prebuild_jobs", "tasks", "exec_cpu_s",
    "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb", "driver_gap_s")
  val All: Seq[String] = Values ++ Groups.flatMap(g => Counters.map(c => s"$g.$c"))

  def complete(m: Map[String, Double]): ListMap[String, Double] = {
    val unknown = m.keySet -- All
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    ListMap(All.map(k => k -> m.getOrElse(k, 0.0)): _*)
  }
}
