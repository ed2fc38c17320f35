package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Statement pipeline golden test on the FIXTURES.md A1 word table, plus the
  * row clustering ([[graft.sources.Pdf.anchorRows]]) checked against the
  * reference's greedy anchor rule (SURVEY.md §7.4). */
object StatementSpec {
  case class W(file: String, page: Int, text: String, x0: Double, x1: Double,
               top: Double, bottom: Double)

  def headerWords(file: String, page: Int): Seq[W] = Seq(
    W(file, page, "Transaction", 50, 110, 180, 190),
    W(file, page, "Details", 115, 150, 180, 190),
    W(file, page, "Credits", 465.0, 501.6, 210.0, 220),
    W(file, page, "Charges", 540.0, 572.3, 210.0, 220),
    W(file, page, "Trans", 40, 70, 225.0, 235),
    W(file, page, "Post", 80, 105, 225.3, 235),
    W(file, page, "Reference", 115, 160, 224.8, 235))

  /** A parseable row: all words share one top, so the page's (top, x0)
    * order — which rows inherit, like the reference — reads left-to-right. */
  def txnRow(file: String, page: Int, top: Double, date: String, ref: String,
             desc: Seq[String], amt: String, amtX1: Double): Seq[W] = {
    val dateW = Seq(W(file, page, date, 40, 65, top, top + 10),
      W(file, page, date, 70, 95, top, top + 10),
      W(file, page, ref, 100, 160, top, top + 10))
    val descW = desc.zipWithIndex.map { case (d, i) =>
      W(file, page, d, 170 + i * 60, 225 + i * 60, top, top + 10)
    }
    dateW ++ descW :+ W(file, page, amt, amtX1 - 30, amtX1, top, top + 10)
  }

  val words: Seq[W] =
    headerWords("stmt.pdf", 1) ++
      txnRow("stmt.pdf", 1, 240, "01/03", "2466XY", Seq("AMAZON", "MKTPL"), "39.12", 571) ++
      txnRow("stmt.pdf", 1, 255, "01/05", "8832AB", Seq("REFUND", "VENDOR"), "15.00", 501) ++
      txnRow("stmt.pdf", 1, 270, "01/15", "9921CD", Seq("PAYMENT", "THANK", "YOU"), "500.00", 571) ++
      txnRow("stmt.pdf", 1, 300, "01/20", "5555EF", Seq("BIG", "BOX", "STORE"), "1,234.56", 570) ++
      // footer: no leading MM/DD dates → rejected by F3
      Seq(W("stmt.pdf", 1, "Subtotal", 40, 90, 330, 340),
        W("stmt.pdf", 1, "1,788.68", 540, 570, 330, 340)) ++
      // jitter puts the reference number slightly ABOVE the dates: in the
      // inherited (top, x0) order it becomes words[0], so the row fails the
      // MM/DD checks — the reference rejects it and so must we
      Seq(W("stmt.pdf", 1, "01/09", 40, 65, 315, 325),
        W("stmt.pdf", 1, "01/09", 70, 95, 315, 325),
        W("stmt.pdf", 1, "7777GG", 100, 160, 314.6, 325),
        W("stmt.pdf", 1, "JITTER", 170, 230, 315, 325),
        W("stmt.pdf", 1, "SHOP", 235, 290, 315, 325),
        W("stmt.pdf", 1, "9.99", 540, 570, 315, 325)) ++
      // page 2 lacks "Transaction Details" → F1 skips it entirely
      Seq(W("stmt.pdf", 2, "Rewards", 40, 90, 100, 110),
        W("stmt.pdf", 2, "Summary", 95, 140, 100, 110)) ++
      headerWords("other.pdf", 1) ++
      txnRow("other.pdf", 1, 250, "02/10", "1199ZZ", Seq("COFFEE", "SHOP"), "4.75", 568)

}

class StatementSpec extends SparkSpec {
  import spark.implicits._
  import StatementSpec.{words, W}

  lazy val out = Statement.parse(words.toDF()).collect()
    .map(r => (r.getAs[String]("date"), r.getAs[String]("vendor"),
      r.getAs[java.math.BigDecimal]("amount").doubleValue()))
    .toSet

  test("golden transactions: charges, comma amounts, multi-file union") {
    assert(out.contains(("01/03", "AMAZON MKTPL", 39.12)))
    assert(out.contains(("01/20", "BIG BOX STORE", 1234.56)))
    assert(out.contains(("02/10", "COFFEE SHOP", 4.75)))
  }

  test("credit rows (amount left of threshold) are negated") {
    assert(out.contains(("01/05", "REFUND VENDOR", -15.0)))
  }

  test("payment rows, footers, and non-detail pages are dropped") {
    assert(out.size === 4)
    assert(!out.exists(_._2.contains("PAYMENT")))
  }

  test("a row whose ref number jitters above the dates is rejected (positional order parity)") {
    assert(!out.exists(_._2.contains("JITTER")))
  }

  test("optional year resolution handles the statement-period boundary") {
    val txns = Seq(("01/03", "A"), ("12/28", "B")).toDF("date", "vendor")
    val dated = Statement.withResolvedDates(txns, 2024, 1)
      .select("date", "date_resolved").collect()
      .map(r => r.getString(0) -> r.getDate(1).toString).toMap
    assert(dated("01/03") === "2024-01-03")
    assert(dated("12/28") === "2023-12-28") // December on a January statement
  }

  test("empty-input guard aborts like the reference") {
    val empty = words.toDF().filter($"page" === 999)
    intercept[IllegalStateException] {
      Statement.requireTransactions(Statement.parse(empty))
    }
    assert(Statement.requireTransactions(Statement.parse(words.toDF())).count() === 4)
  }

  test("clustering ≡ reference's anchor rule (chain drift splits rows)") {
    // 100.0, 102.9, 105.8: the ANCHOR rule groups {100.0, 102.9} | {105.8}
    // (105.8 − 100.0 ≥ 3); a lag-to-previous-word rule would wrongly
    // chain-merge all three (per-word gaps are 2.9). pdf_parser.py:267-276.
    val tops = Seq(100.0, 102.9, 105.8, 120.0, 122.9, 125.7, 140.0, 160.0, 160.1)
    val ws = tops.zipWithIndex.map { case (t, i) =>
      W("f", 1, s"w$i", i * 10.0, i * 10.0 + 8, t, t + 8)
    }
    // reference rule verbatim: anchor = row's first word top
    val expected = {
      val sorted = tops.sorted
      var anchor = sorted.head; var row = 0
      sorted.map { t =>
        if (math.abs(t - anchor) >= 3) { row += 1; anchor = t }
        row
      }
    }
    val gotSizes = graft.sources.Pdf.anchorRows(ws.sortBy(w => (w.top, w.x0)), (w: W) => w.top, 3.0)
      .map(_.length)
    assert(gotSizes.sum === tops.length)
    val wantSizes = expected.groupBy(identity).toSeq.sortBy(_._1).map(_._2.length)
    assert(gotSizes === wantSizes)
    assert(wantSizes.take(2) === Seq(2, 1)) // the drift case actually splits
  }
}
