package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §3.1 end-to-end: the assembled reference pipeline (stages 3-8) as one
  * lazy plan — statement words → transactions → two-phase vendor
  * enrichment → report projection → sinks. */
object PipelineE2ESpec {
  /** The vendor_mappings fixture: two exact vendors, one the fuzzy phase
    * finds by containment. */
  def mappings(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "AMAZON MKTPL", "51000", "01", "100", "2001", "200"),
      (2L, "THE BIG BOX STORE COMPANY", "53000", "03", "102", "2003", "202"),
      (3L, "COFFEE SHOP", "52000", "02", "101", "2002", "201")
    ).toDF("id", "vendor", "gl_account", "location", "program", "funder", "department")
  }
}

class PipelineE2ESpec extends SparkSpec {
  import spark.implicits._
  lazy val words = StatementSpec.words.toDF()

  val mappings = PipelineE2ESpec.mappings(spark)

  lazy val report = Report.pipeline(words, mappings)

  test("report rows carry enrichment from both join phases") {
    val rows = report.collect()
      .map(r => r.getAs[String]("Vendor") ->
        (r.getAs[String]("GL_Account"), r.getAs[Double]("Amount"))).toMap
    assert(rows.size === 4)
    assert(rows("AMAZON MKTPL") === (("51000", 39.12)))       // exact phase
    assert(rows("BIG BOX STORE") === (("53000", 1234.56)))    // fuzzy phase (mapping contains vendor)
    assert(rows("COFFEE SHOP") === (("52000", 4.75)))         // exact phase
    assert(rows("REFUND VENDOR") === (("", -15.0)))           // none → empty strings
  }

  test("report contract: 10 columns, Receipt_Received always false") {
    assert(report.columns.toSeq === Seq("Date", "Vendor", "Amount", "Description",
      "GL_Account", "Location", "Program", "Funder", "Department", "Receipt_Received"))
    assert(report.filter(col("Receipt_Received")).count() === 0)
  }

  test("pipeline output flows into both sinks") {
    val dir = java.nio.file.Files.createTempDirectory("report")
    Report.writeCsv(report, dir.resolve("csv").toString)
    val back = spark.read.option("header", "true").csv(dir.resolve("csv").toString)
    assert(back.count() === 4)
    ExcelSink.write(report, dir.resolve("report.xlsx").toString,
      dropdowns = Map("GL_Account" -> Seq("51000 - Office", "52000 - Coffee", "53000 - Retail")),
      currencyCols = Set("Amount"), centeredCols = Set("Date"))
    assert(java.nio.file.Files.size(dir.resolve("report.xlsx")) > 500)
  }
}
