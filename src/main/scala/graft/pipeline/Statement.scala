package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Pdf

/** The reference's statement-parsing dataflow (pdf_parser.py:90-395),
  * re-expressed over a positional word table
  * `(file, page, text, x0, x1, top, bottom)` — the output of any PDF word
  * extractor (FIXTURES.md A1). Like the reference's per-page loop, it makes
  * one pass per page: a single `groupByKey((file, page))` fold
  * ([[pageRows]]) computes the page predicate, the header row and the
  * credit threshold from the page's words and clusters the words below the
  * header into rows; a row-level Catalyst projection ([[parseRows]]) then
  * turns rows into transactions. The plan is lazy, scans `words` once and
  * shuffles once, on (file, page), so pages parallelize freely.
  */
object Statement {

  val mmdd = "^\\d{2}/\\d{2}$"
  val amountShape = "^[\\d,]+\\.\\d{2}$"

  case class PageWord(file: String, page: Int, text: String,
                      x0: Double, x1: Double, top: Double)
  case class RowWord(x0: Double, text: String, x1: Double)
  case class PageRow(file: String, page: Int, row_id: Long, ws: Seq[RowWord],
                     column_threshold: Double)

  /** One page's rows, from all of its words:
    *  - F1: the page's text, its words in (top, x0, text) order, must
    *    mention "Transaction Details" (pdf_parser.py:108-110);
    *  - J5+A4: the header top is the topmost `Trans` word with a `Post` and
    *    a `Reference` on the same line, |Δtop| < 2 (pdf_parser.py:205-226);
    *  - J4+A3: the credit/charge column threshold is the midpoint of the
    *    right edges of a `Credits`/`Charges` pair on the same line, charges
    *    right of credits (pdf_parser.py:137-146, 195-203). The reference
    *    takes the first pair in word-scan order; the minimum
    *    (cred_top, cred_x1, chg_x1) is the topmost-leftmost pair,
    *    deterministically;
    *  - F10: only words below `header_top + 5` are clustered
    *    (pdf_parser.py:259-260);
    *  - A1: rows are [[Pdf.anchorRows]] of those words in the same order
    *    (a (top, x0) tie falls to the text, so rows do not depend on the
    *    order words arrive in) with tolerance 3 (pdf_parser.py:267-276).
    *    Rows keep that order: the reference never re-sorts within a row,
    *    and `_parse_row`'s positional logic consumes it, so a word jittered
    *    slightly above the dates becomes words[0] and the row is rejected,
    *    as the reference does.
    * A page without detail text, header or threshold yields no rows. */
  def pageRows(file: String, page: Int, words: Seq[PageWord]): Seq[PageRow] = {
    def named(text: String) = words.filter(_.text == text)
    def sameLine(a: PageWord, b: PageWord) = math.abs(a.top - b.top) < 2
    val sorted = words.sortBy(w => (w.top, w.x0, w.text))
    val detail = sorted.map(_.text).mkString(" ").contains("Transaction Details")
    val headerTops = named("Trans")
      .filter(t => named("Post").exists(sameLine(t, _)) && named("Reference").exists(sameLine(t, _)))
      .map(_.top)
    val pairs = for (cred <- named("Credits"); chg <- named("Charges")
                     if sameLine(cred, chg) && chg.x1 > cred.x1) yield (cred.top, cred.x1, chg.x1)
    if (!detail || headerTops.isEmpty || pairs.isEmpty) Nil
    else {
      val (_, credX1, chgX1) = pairs.min
      val body = sorted.filter(_.top > headerTops.min + 5)
      Pdf.anchorRows(body, (w: PageWord) => w.top, 3.0).zipWithIndex.map { case (row, i) =>
        PageRow(file, page, i + 1L, row.map(w => RowWord(w.x0, w.text, w.x1)), (credX1 + chgX1) / 2)
      }
    }
  }

  /** P1/F2-F6/W1/P2/P3/A2: clustered row → transaction projection
    * (pdf_parser.py:283-395) over [[PageRow]]s. `ws` is the row's words in
    * the page's (top, x0, text) order:
    *  - arity ≥ 4 (F2), words[0] and words[1] shaped MM/DD (F3);
    *  - rightmost amount-shaped word = amount (W1, right-to-left argmax);
    *  - vendor/description = words[3..amountIdx) joined (P1/A2);
    *  - drop "PAYMENT THANK YOU" rows (F5) and descriptions < 3 chars (F6);
    *  - strip $/, and cast (P2); negate credits left of the threshold (P3). */
  def parseRows(rows: DataFrame): DataFrame = {
    val texts = transform(col("ws"), w => w.getField("text"))
    val n = size(col("ws"))
    // W1: rightmost index (1-based) whose text is amount-shaped, scanning
    // candidates ≥ 3 like the reference (pdf_parser.py:346-350 scans
    // 0-based i ≥ 2); the left fold keeps the highest matching index.
    // Guarded on arity: Catalyst may evaluate this fused with other
    // predicates before the n ≥ 4 filter, and sequence(3, 2) would run
    // DESCENDING into an out-of-bounds element_at.
    val amtIdx = when(n >= 3,
      aggregate(
        sequence(lit(3), n), lit(0),
        (acc, i) => when(element_at(texts, i).rlike(amountShape), i).otherwise(acc))
    ).otherwise(lit(0))

    rows
      .filter(n >= 4)                                  // F2
      .filter(element_at(texts, 1).rlike(mmdd) && element_at(texts, 2).rlike(mmdd)) // F3
      .withColumn("amt_idx", amtIdx)
      .filter(col("amt_idx") >= 5)  // F4: found AND ≥ 4 0-based (pdf_parser.py:367-368)
      .withColumn("post_date", element_at(texts, 2))
      .withColumn("description",
        concat_ws(" ", slice(texts, lit(4), greatest(col("amt_idx") - 4, lit(0)))))
      .filter(!upper(col("description")).contains("PAYMENT THANK YOU")) // F5
      .filter(length(col("description")) >= 3)         // F6
      .withColumn("amount_raw",
        regexp_replace(element_at(texts, col("amt_idx")), "[$,]", "").cast("decimal(12,2)"))
      .filter(col("amount_raw").isNotNull)             // P2 null-safe parse
      .withColumn("amount_x1",
        element_at(transform(col("ws"), w => w.getField("x1")), col("amt_idx")))
      .withColumn("amount",                            // P3 credit negation
        when(col("amount_x1") < col("column_threshold"), -col("amount_raw"))
          .otherwise(col("amount_raw")))
      .select(col("file"), col("page"), col("row_id"),
        col("post_date").as("date"), col("description").as("vendor"),
        col("amount"), col("description"))
  }

  /** SURVEY.md §7.4: the reference keeps `MM/DD` strings and never resolves
    * the year. Parity keeps strings; this opt-in enrichment derives a real
    * DateType given the statement year (statement-period boundary rule:
    * December dates on a January statement belong to `year - 1`). */
  def withResolvedDates(txns: DataFrame, statementYear: Int, statementMonth: Int): DataFrame = {
    val mm = split(col("date"), "/").getItem(0).cast("int")
    val yr = when(mm > statementMonth, lit(statementYear - 1)).otherwise(lit(statementYear))
    txns.withColumn("date_resolved",
      to_date(concat_ws("-", yr, format_string("%02d", mm),
        split(col("date"), "/").getItem(1))))
  }

  /** A6 empty-input guard (main.py:108-112): fail fast with the reference's
    * abort semantics instead of writing an empty report. */
  def requireTransactions(txns: DataFrame): DataFrame = {
    if (txns.isEmpty)
      throw new IllegalStateException(
        "No transactions found — check input statements (main.py:108-112 semantics)")
    txns
  }

  /** The full pipeline: words → transactions (one lazy plan, §3.1). Words
    * with a null field are dropped before the fold; [[graft.sources.Ingest]]'s
    * `WordExtractor` tuple cannot produce a null coordinate. */
  def parse(words: DataFrame): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    parseRows(words.select(col("file"), col("page").cast("int").as("page"), col("text"),
        col("x0").cast("double"), col("x1").cast("double"), col("top").cast("double"))
      .na.drop()
      .as[PageWord]
      .groupByKey(w => (w.file, w.page))
      .flatMapGroups { (key: (String, Int), it: Iterator[PageWord]) =>
        pageRows(key._1, key._2, it.toVector)
      }
      .toDF())
  }
}
