package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.functions.{MoneyParse, VersionCmp}

/** Property-based tier (SURVEY.md §5.3). Pure-function properties run at
  * full ScalaCheck volume; Spark-backed properties cap cases (each case is
  * a Spark job). */
object PureProperties extends Properties("pure") {

  val money: Gen[BigDecimal] =
    Gen.chooseNum(-99999999L, 99999999L).map(c => BigDecimal(c) / 100)

  property("money_parse round-trips formatted decimals") = forAll(money) { d =>
    val plain = d.setScale(2).toString
    val parsed = MoneyParse.parse((if (d >= 0) "$" else "") + plain)
    parsed != null && BigDecimal(parsed.toBigDecimal.bigDecimal) == d.setScale(2)
  }

  property("money_parse handles comma grouping") = forAll(money.suchThat(_ >= 0)) { d =>
    val s = java.text.NumberFormat.getInstance(java.util.Locale.US)
      .format(d.setScale(2).bigDecimal)
    val withCents = if (s.contains(".")) s else s + ".00"
    val parsed = MoneyParse.parse("$" + withCents)
    parsed != null && BigDecimal(parsed.toBigDecimal.bigDecimal) == d.setScale(2)
  }

  property("money_parse rejects garbage") = forAll(Gen.alphaStr) { s =>
    val r = MoneyParse.parse(s)
    r == null || s.exists(_.isDigit)
  }

  val version: Gen[String] =
    Gen.listOfN(3, Gen.chooseNum(0, 99)).map(_.mkString("."))

  property("version_cmp is antisymmetric") = forAll(version, version) { (a, b) =>
    VersionCmp.compare(a, b) == -VersionCmp.compare(b, a)
  }

  property("version_cmp is transitively consistent with numeric order") =
    forAll(version, version, version) { (a, b, c) =>
      val (x, y, z) = (VersionCmp.compare(a, b), VersionCmp.compare(b, c), VersionCmp.compare(a, c))
      !(x > 0 && y > 0) || z > 0
    }

  /** The completeness argument behind Dedup.simHashPairsR (generalized
    * pigeonhole, Manku/Jain/Das Sarma WWW'07): with m = maxHamming + r
    * disjoint blocks covering 60 bits, any pair within maxHamming differing
    * bits leaves ≥ r blocks untouched, so SOME r-combo of blocks matches
    * exactly on all members — the combo equi-join can never miss a pair
    * the all-pairs scan would find. Uses the same block-bounds formula and
    * masked-code combo keys as the Spark implementation. */
  property("generalized pigeonhole banding is complete for hamming <= maxHamming") =
    forAll(Gen.chooseNum(1, 12), Gen.chooseNum(1, 3), Gen.long,
           Gen.listOf(Gen.chooseNum(0, 59))) {
      (maxHamming, r, seed, flipBits) =>
        val bits = 60
        val a = seed & ((1L << bits) - 1)
        val flips = flipBits.distinct.take(maxHamming)
        val b = flips.foldLeft(a)((c, j) => c ^ (1L << j))
        val m = maxHamming + r
        val bounds = (0 until m).scanLeft(0) { (acc, blk) =>
          acc + bits / m + (if (blk < bits % m) 1 else 0)
        }
        def blockMask(blk: Int): Long =
          ((1L << (bounds(blk + 1) - bounds(blk))) - 1) << bounds(blk)
        val someComboMatches = (0 until m).combinations(r).exists { blks =>
          val mask = blks.map(blockMask).reduce(_ | _)
          (a & mask) == (b & mask)
        }
        someComboMatches
    }

  property("codeBits is monotone, bounded, and covers the corpus") =
    forAll(Gen.chooseNum(1L, 1L << 50), Gen.chooseNum(1L, 1L << 50)) { (n, m) =>
      import graft.similarity.Knn.codeBits
      val (lo, hi) = (math.min(n, m), math.max(n, m))
      codeBits(lo) <= codeBits(hi) &&
        codeBits(n) >= 8 && codeBits(n) <= 24 &&
        (n <= 256 || n > (1L << 24) || (1L << codeBits(n)) >= n)
    }

  property("codeBits is exactly ceil(log2) at and around powers of two") =
    forAll(Gen.chooseNum(8, 24)) { k =>
      import graft.similarity.Knn.codeBits
      // float-log formulations are off-by-one at 2^29/2^31/2^39/2^47;
      // the leading-zeros form must be exact: 2^k needs k bits, 2^k+1 needs k+1
      codeBits(1L << k) == math.min(24, k) &&
        codeBits((1L << k) + 1) == math.min(24, k + 1) &&
        codeBits((1L << k) - 1) == math.min(24, math.max(8, k))
    }

  property("version_cmp treats missing components as zero") = forAll(version) { v =>
    VersionCmp.compare(v + ".0", v) == 0 && VersionCmp.compare("v" + v, v) == 0
  }
}

/** Row clustering ([[graft.sources.Pdf.anchorRows]], which the Statement
  * fold and `Pdf.extractTables` share) is exactly the reference's greedy
  * rule on arbitrary jittered layouts. A pure function: full volume. */
class ClusteringPropertySpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.scalacheck.Prop.propBoolean

  /** pdf_parser.py:267-276 verbatim: the anchor is the row's FIRST word and
    * is not updated as words append. */
  def greedyReference(tops: List[Double], gap: Double = 3.0): List[Int] = {
    val sorted = tops.sorted
    var anchor = sorted.head; var row = 0
    sorted.map { t =>
      if (math.abs(t - anchor) >= gap) { row += 1; anchor = t }
      row
    }
  }

  test("clustering ≡ greedy reference on random layouts (property)") {
    val genTops = Gen.chooseNum(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0.0, 300.0).map(t => math.rint(t * 10) / 10)))
    val prop = forAll(genTops) { tops =>
      tops.nonEmpty ==> {
        val gotSizes = graft.sources.Pdf.anchorRows(tops.sorted, identity[Double], 3.0)
          .map(_.size).toList
        val ref = greedyReference(tops)
        val refSizes = ref.groupBy(identity).toList.sortBy(_._1).map(_._2.size)
        Prop(gotSizes == refSizes) :| s"got $gotSizes want $refSizes tops=$tops"
      }
    }
    val result = Test.check(Test.Parameters.default, prop)
    assert(result.passed, result.status.toString)
  }
}
