package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Enrichment

/** Report assembly + sink (excel_builder.py:17-181, K1/P4/P5/K3).
  *
  * The reference writes a styled .xlsx with dropdown validation. The same
  * frame goes to two sinks: [[writeCsv]], a single-file CSV with the exact
  * report column contract, and [[ExcelSink]] in this package, the styled
  * workbook whose dropdown lists take the values of [[dropdownValues]]. */
object Report {

  /** P4: transaction → report projection — rename/reorder to the 10 report
    * columns, constant `Receipt_Received = false` (excel_builder.py:39-54). */
  def reportProjection(txns: DataFrame): DataFrame =
    txns.select(
      col("date").as("Date"),
      col("vendor").as("Vendor"),
      col("amount").cast("double").as("Amount"),
      col("description").as("Description"),
      coalesce(col("gl_account"), lit("")).as("GL_Account"),
      coalesce(col("location"), lit("")).as("Location"),
      coalesce(col("program"), lit("")).as("Program"),
      coalesce(col("funder"), lit("")).as("Funder"),
      coalesce(col("department"), lit("")).as("Department"),
      lit(false).as("Receipt_Received"))

  /** P5: `"code - name"` dropdown display values per code type
    * (excel_builder.py:104-135), sorted by code (O2). */
  def dropdownValues(codes: DataFrame): DataFrame =
    codes.select(col("code_type"),
        concat_ws(" - ", col("code"), col("name")).as("display"))
      .orderBy("code_type", "display")

  /** Full reference pipeline: words + vendor mappings → enriched report
    * rows (§3.1 stages 4-8 as one plan; COA codes feed the dropdown sheet
    * via [[dropdownValues]], not the rows). */
  def pipeline(words: DataFrame, mappings: DataFrame): DataFrame = {
    // txn id must be STABLE across plan-subtree re-evaluations (the
    // enrichment DAG evaluates the fact subtree in several branches);
    // monotonically_increasing_id depends on partition/fetch order and can
    // differ between evaluations on a cluster — hash the row identity.
    val txns = Statement.parse(words)
      .withColumn("txn_id", xxhash64(col("file"), col("page"), col("row_id")))
    val enriched = Enrichment.twoPhase(txns, mappings,
      factId = "txn_id", factKey = "vendor", dimId = "id", dimKey = "vendor",
      payload = Seq("gl_account", "location", "program", "funder", "department"))
    reportProjection(enriched)
  }

  /** K3: timestamped report filename (excel_builder.py:56-59). */
  def reportFilename(now: java.time.LocalDateTime): String =
    "credit_card_transactions_" +
      now.format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")) + ".csv"

  /** K1: single-file CSV sink (human-scale output → coalesce(1) is correct
    * here; large outputs keep their parallelism and drop the coalesce). */
  def writeCsv(report: DataFrame, path: String): Unit =
    report.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
}
