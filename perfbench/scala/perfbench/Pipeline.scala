package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.util.CollectionAccumulator

import graft.operators.Enrichment
import graft.pipeline.{ExcelSink, Report, Statement}
import graft.sources.{Ingest, Sqlite}

/** The statement pipeline as a user runs it: scan a directory of PDF
  * statements, decode words, read the vendor mappings db, parse and
  * enrich, and write the report (CSV, plus the xlsx workbook when `xlsx`).
  * One pass is one batch; batches rotate over the corpus's batch dirs.
  *
  * Correctness of every batch: the CSV report equals the corpus's truth
  * file as a multiset of rows (date, vendor, signed amount, description,
  * the five payload columns, receipt flag), the workbook holds one row per
  * report row plus the header, and no scanned file decodes to zero words
  * (the PDF reader returns no words for a file it fails to decode, so an
  * empty file is counted as a failed operation, never as a fast one). */
final class Pipeline(a: Main.Args, xlsx: Boolean) extends Main.Workload {
  private val mappingsPath = s"${a.corpus}/mappings.db"
  private val batches: Seq[String] =
    Files.list(Paths.get(a.corpus)).iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("batch")).toSeq.sorted.map(b => s"${a.corpus}/$b")
  require(batches.nonEmpty, s"no batch directories under ${a.corpus}")
  private val truth: Map[String, Truth] = (batches :+ s"${a.corpus}/warm").map(d => d -> Truth(d)).toMap
  private var glCodes: Seq[String] = Nil

  private var attemptedOps = 0
  private var failedOps = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private val plain = mutable.ArrayBuffer.empty[(Double, Int)]          // (seconds, report rows)
  private val traced = mutable.ArrayBuffer.empty[Map[String, Double]]  // per-layer values of one op
  private val reportHashes = mutable.LinkedHashMap.empty[String, String]

  def warm(spark: SparkSession): Unit = {
    glCodes = Sqlite.readTable(spark, mappingsPath, "vendor_mappings")
      .select("gl_account").distinct().collect().flatMap(r => Option(r.getString(0))).sorted.toSeq
    val dir = s"${a.corpus}/warm"
    val out = Paths.get(a.work, "warm")
    Main.deleteTree(out)
    val empty = spark.sparkContext.collectionAccumulator[String]("empty files")
    runPlain(spark, dir, out, empty)
    val problems = check(dir, out, empty)
    require(problems.isEmpty, s"warm-up batch is wrong: ${problems.mkString("; ")}")
    Main.hygiene()
  }

  def pass(spark: SparkSession, n: Int, tracer: Option[Tracer]): Unit = {
    if (tracer.nonEmpty && !compositionChecked) checkComposition(spark)
    val dir = batches(n % batches.size)
    val out = Paths.get(a.work, s"pass$n")
    val empty = spark.sparkContext.collectionAccumulator[String]("empty files")
    val (secs, layers) =
      try tracer match {
        case None =>
          val t0 = System.nanoTime()
          runPlain(spark, dir, out, empty)
          ((System.nanoTime() - t0) / 1e9, None)
        case Some(t) =>
          val (root, values) = runTraced(spark, t, n, dir, out, empty)
          ((root.end - root.start) / 1e3, Some(values))
      } catch {
        case e: Exception =>
          failures += s"pass $n: ${e.getClass.getSimpleName}: ${e.getMessage}"
          (Double.NaN, None)
      }
    val problems = if (secs.isNaN) Seq("threw") else check(dir, out, empty)
    val files = pdfs(dir).size
    attemptedOps += 1 + files
    failedOps += (if (problems.isEmpty) 0 else 1) + empty.value.asScala.toSet.size
    if (problems.nonEmpty) failures += s"pass $n ($dir): ${problems.mkString("; ")}"
    else layers match {
      case None => plain += ((secs, truth(dir).rows.size))
      case Some(v) => traced += v + ("total_s" -> secs)
    }
    Main.deleteTree(out)
    Main.hygiene()
  }

  private def pdfs(dir: String): Seq[Path] =
    Files.list(Paths.get(dir)).iterator.asScala.filter(_.toString.endsWith(".pdf")).toSeq

  private def runPlain(spark: SparkSession, dir: String, out: Path,
                       empty: CollectionAccumulator[String]): Unit = {
    val words = Ingest.extractWords(Ingest.binaryScan(spark, dir), Pipeline.extractor(empty))
    val mappings = Sqlite.readTable(spark, mappingsPath, "vendor_mappings")
    val report = Report.pipeline(words, mappings)
    Report.writeCsv(report, out.resolve("csv").toString)
    if (xlsx) writeXlsx(report, out)
  }

  private def writeXlsx(report: DataFrame, out: Path): Unit =
    ExcelSink.write(report, out.resolve("report.xlsx").toString,
      dropdowns = Map("GL_Account" -> glCodes), currencyCols = Set("Amount"),
      centeredCols = Set("Date"))

  /** The same calls as [[runPlain]], split at each layer boundary: every
    * layer's output is materialized before the next layer gets it, and each
    * call is one span. The parse and enrich calls repeat the composition
    * inside `Report.pipeline`; [[checkComposition]] fails the run if the two
    * drift apart. */
  private def runTraced(spark: SparkSession, t: Tracer, op: Int, dir: String, out: Path,
                        empty: CollectionAccumulator[String]): (Span, Map[String, Double]) = {
    def persisted(d: DataFrame): (DataFrame, Long) = { val m = d.persist(); (m, m.count()) }
    val (root, (spans, nWords, nTxns, kinds)) = t.root(op, "batch") { root =>
      val (sDecode, (words, nWords)) = t.span(op, "sources.decode", root)(
        Ingest.extractWords(Ingest.binaryScan(spark, dir), Pipeline.extractor(empty)))(persisted)
      val (sSqlite, mappings) = t.span(op, "sources.sqlite", root)(
        Sqlite.readTable(spark, mappingsPath, "vendor_mappings"))(identity)
      val (sParse, (txns, nTxns)) = t.span(op, "pipeline.parse", root)(
        Pipeline.parse(words))(persisted)
      val (sEnrich, (enriched, kinds)) = t.span(op, "operators.enrich", root)(
        Pipeline.enrich(txns, mappings)) { d =>
        val m = d.persist()
        (m, m.groupBy("match_type").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      }
      val report = Report.reportProjection(enriched)
      val (sCsv, _) = t.span(op, "pipeline.sink_csv", root)(report)(
        Report.writeCsv(_, out.resolve("csv").toString))
      val sXlsx = if (xlsx) Seq(t.span(op, "pipeline.sink_xlsx", root)(report)(writeXlsx(_, out))._1)
        else Nil
      Seq(words, txns, enriched).foreach(_.unpersist())
      (Seq(sDecode, sSqlite, sParse, sEnrich, sCsv) ++ sXlsx, nWords, nTxns, kinds)
    }
    val expect = truth(dir).kinds
    require(kinds.getOrElse("exact", 0L) == expect.getOrElse("exact", 0) &&
      kinds.getOrElse("fuzzy", 0L) == expect.getOrElse("fuzzy", 0),
      s"match types $kinds, expected $expect")
    t.drain()
    planRecords(s"pass$op") = spans.map(s => s.name -> t.planDigests(s))
    val named = spans.map(s => s.name -> s).toMap
    def secs(name: String): Double = named.get(name).map(s => (s.end - s.start) / 1e3).getOrElse(0.0)
    def of(names: String*): Seq[Span] = names.flatMap(named.get)
    (root, Map(
      "sources.decode_s" -> secs("sources.decode"), "sources.words" -> nWords.toDouble,
      "sources.files_empty" -> empty.value.asScala.toSet.size.toDouble,
      "sources.sqlite_s" -> secs("sources.sqlite"),
      "pipeline.parse_s" -> secs("pipeline.parse"), "pipeline.txns" -> nTxns.toDouble,
      "operators.enrich_s" -> secs("operators.enrich"),
      "operators.enrich_exact_frac" -> kinds.getOrElse("exact", 0L).toDouble / nTxns,
      "operators.enrich_fuzzy_frac" -> kinds.getOrElse("fuzzy", 0L).toDouble / nTxns,
      "pipeline.sink_csv_s" -> secs("pipeline.sink_csv"),
      "pipeline.sink_xlsx_s" -> secs("pipeline.sink_xlsx")) ++
      t.counters("sources", of("sources.decode", "sources.sqlite")) ++
      t.counters("pipeline.parse", of("pipeline.parse")) ++
      t.counters("operators.enrich", of("operators.enrich")) ++
      t.counters("pipeline.sink", of("pipeline.sink_csv", "pipeline.sink_xlsx")))
  }

  private var compositionChecked = false

  /** Fails unless the traced composition ([[Pipeline.parse]],
    * [[Pipeline.enrich]], `Report.reportProjection`) analyzes to the same
    * plan as `Report.pipeline` on the same inputs, so the per-layer figures
    * time what the end-to-end figures time. Run once per traced run on the
    * warm-up batch, outside the timed regions. */
  private def checkComposition(spark: SparkSession): Unit = {
    val words = Ingest.extractWords(Ingest.binaryScan(spark, s"${a.corpus}/warm"),
      Ingest.defaultExtractor)
    val mappings = Sqlite.readTable(spark, mappingsPath, "vendor_mappings")
    def plan(d: DataFrame): String = Tracer.normalize(d.queryExecution.analyzed.toString)
    val engine = plan(Report.pipeline(words, mappings))
    val traced = plan(Report.reportProjection(Pipeline.enrich(Pipeline.parse(words), mappings)))
    require(engine == traced, "the traced layers no longer compose to Report.pipeline:\n" +
      s"Report.pipeline:\n$engine\ntraced:\n$traced")
    compositionChecked = true
    Main.hygiene()
  }

  private val planRecords = mutable.LinkedHashMap.empty[String, Seq[(String, Seq[String])]]

  /** Problems with the report written to `out` for batch `dir`. */
  private def check(dir: String, out: Path, empty: CollectionAccumulator[String]): Seq[String] = {
    val expect = truth(dir)
    val problems = mutable.ArrayBuffer.empty[String]
    val emptyFiles = empty.value.asScala.toSet
    if (emptyFiles.nonEmpty) problems += s"${emptyFiles.size} files decoded to zero words"
    val parts = Option(out.resolve("csv").toFile.listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    if (parts.size != 1) problems += s"${parts.size} CSV part files"
    else {
      val lines = Files.readAllLines(parts.head.toPath).asScala.toSeq
      if (lines.headOption.contains(Pipeline.Header)) {
        val got = lines.tail.map(Pipeline.csvRow)
        reportHashes(dir) = Stats.multisetHash(got)
        if (got.sorted != expect.rows.sorted) {
          val (g, e) = (got.diff(expect.rows), expect.rows.diff(got))
          problems += s"report differs from truth: ${g.size} unexpected rows (${g.take(2).mkString(" | ")}), " +
            s"${e.size} missing (${e.take(2).mkString(" | ")})"
        }
      } else problems += s"CSV header ${lines.headOption}"
    }
    if (xlsx) {
      val zf = new java.util.zip.ZipFile(out.resolve("report.xlsx").toFile)
      try {
        val sheet = new String(zf.getInputStream(zf.getEntry("xl/worksheets/sheet1.xml")).readAllBytes(), "UTF-8")
        val rows = "<row ".r.findAllMatchIn(sheet).size
        if (rows != expect.rows.size + 1) problems += s"workbook has $rows rows, expected ${expect.rows.size + 1}"
      } finally zf.close()
    }
    problems.toSeq
  }

  def attempted: Int = attemptedOps
  def failed: Int = failedOps

  def endToEnd: ListMap[String, (Double, String)] = {
    val ok = if (plain.nonEmpty) plain.toSeq else Seq((Double.NaN, 0))
    ListMap(
      "op_p50_s" -> (Stats.median(ok.map(_._1)), "s"),
      "rows_per_s" -> (Stats.median(ok.map { case (s, r) => r / s }), "1/s"))
  }

  def perLayer: ListMap[String, Double] = {
    val keys = traced.headOption.map(_.keys.toSeq.sorted).getOrElse(Nil)
    val layers = ListMap(keys.map(k => k -> Stats.median(traced.map(_(k)).toSeq)): _*)
    val overhead = if (plain.nonEmpty && traced.nonEmpty)
      Stats.median(traced.map(_("total_s")).toSeq) - Stats.median(plain.map(_._1).toSeq) else 0.0
    Layers.complete(layers - "total_s" + ("trace.overhead_s" -> overhead))
  }

  def detail: ListMap[String, Any] = ListMap(
    "op_samples_s" -> plain.map(_._1), "op_rows" -> plain.map(_._2),
    "batch_p50_s" -> (if (plain.nonEmpty) Stats.median(plain.map(_._1).toSeq) else null),
    "txns_per_s" -> (if (plain.nonEmpty) plain.map(_._2).sum / plain.map(_._1).sum else null),
    "traced_ops" -> traced.map(m => ListMap(m.toSeq.sortBy(_._1): _*)),
    "plan_digests" -> planRecords.map { case (k, ps) => k -> ListMap(ps: _*) },
    "report_hashes" -> reportHashes.map { case (d, h) => Paths.get(d).getFileName.toString -> h },
    "truth_rows" -> batches.map(b => truth(b).rows.size),
    "failures" -> failures)
}

object Pipeline {
  val Header = "Date,Vendor,Amount,Description,GL_Account,Location,Program,Funder,Department,Receipt_Received"

  /** `Report.pipeline`'s parse step: statement rows plus their stable id. */
  def parse(words: DataFrame): DataFrame =
    Statement.parse(words).withColumn("txn_id", xxhash64(col("file"), col("page"), col("row_id")))

  /** `Report.pipeline`'s enrichment step. */
  def enrich(txns: DataFrame, mappings: DataFrame): DataFrame =
    Enrichment.twoPhase(txns, mappings, factId = "txn_id", factKey = "vendor",
      dimId = "id", dimKey = "vendor",
      payload = Seq("gl_account", "location", "program", "funder", "department"))

  /** The default extractor, recording files that decode to no words. */
  def extractor(empty: CollectionAccumulator[String]): Ingest.WordExtractor = (path, content) => {
    val it = Ingest.defaultExtractor(path, content).buffered
    if (!it.hasNext) empty.add(path)
    it
  }

  /** One report CSV line as a truth row: amount as signed cents. */
  def csvRow(line: String): String = {
    val f = line.split(",", -1).map(s => if (s == "\"\"") "" else s)
    (f.take(2) ++ Seq(math.round(f(2).toDouble * 100).toString) ++ f.drop(3)).mkString("\t")
  }
}

/** A batch's truth file: report rows as tab-joined strings, and the number
  * of transactions of each match type. */
final case class Truth(rows: Seq[String], kinds: Map[String, Int])

object Truth {
  def apply(dir: String): Truth = {
    val lines = Files.readAllLines(Paths.get(dir, "truth.tsv")).asScala.toSeq.filter(_.nonEmpty)
    val fields = lines.map(_.split("\t", -1))
    Truth(fields.map(f => (f.take(9) :+ "false").mkString("\t")),
      fields.groupBy(_(9)).map { case (k, v) => k -> v.size })
  }
}
