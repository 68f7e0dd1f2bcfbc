package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.ops.{BandChooser, Dedup, Multimodal, Vectors}

/** The banded chooser's certification arithmetic, pure Scala — no
  * Spark session: the families below are only constructed, never
  * measured.
  */
class CertifySpec extends AnyFunSuite with Matchers {

  // two configs at equal candidate cost: 10 candidates, 9 verified, 9 true
  private val tied = Map(2 -> ((10L, 9L)), 4 -> ((10L, 9L)))

  private def pick(f: BandChooser.Family): Seq[Int] =
    BandChooser.certify(Seq(2, 4), 0L, 0L, tied, 9L, 0L, 0L, f.preferLarger)
      .filter(_.chosen).map(_.cfg)

  test("tie direction per family: LSH picks the larger rows-per-band, " +
    "SimHash and Hamming pick fewer bands, cosine picks more planes") {
    pick(Dedup.minhashFamily(16, 0.5, None)) shouldBe Seq(4)
    pick(Dedup.simhashFamily(6)) shouldBe Seq(2)
    pick(Multimodal.hammingFamily(4)) shouldBe Seq(2)
    pick(Vectors.cosineFamily(0.9)) shouldBe Seq(4)
  }

  test("the cheapest feasible config wins before any tie, and the " +
    "within-group terms count as candidates, verified and true") {
    val certs = BandChooser.certify(Seq(2, 4, 8), withinCand = 3L,
      withinTrue = 2L, Map(2 -> ((20L, 8L)), 4 -> ((7L, 6L)), 8 -> ((1L, 1L))),
      truthCross = 8L, precisionFloorPpm = 500000L, recallFloorPpm = 600000L,
      preferLarger = true)
    certs.map(c => (c.cfg, c.nCand, c.nVer, c.nTrue)) shouldBe Seq(
      (2, 23L, 10L, 10L), (4, 10L, 8L, 10L), (8, 4L, 3L, 10L))
    certs.map(_.prec) shouldBe Seq(Some(434782L), Some(800000L), Some(750000L))
    certs.map(_.rec) shouldBe Seq(Some(1000000L), Some(800000L), Some(300000L))
    // 2 fails precision, 8 fails recall: 4 is the only feasible config
    certs.map(_.feasible) shouldBe Seq(false, true, false)
    certs.map(_.chosen) shouldBe Seq(false, true, false)
  }

  test("zero candidates: NULL precision and an infeasible config") {
    val certs = BandChooser.certify(Seq(2, 4), 0L, 0L, Map(2 -> ((4L, 4L))),
      truthCross = 4L, 0L, 0L, preferLarger = false)
    val c4 = certs.find(_.cfg == 4).get
    (c4.nCand, c4.prec, c4.rec) shouldBe ((0L, None, Some(0L)))
    c4.feasible shouldBe false
    certs.filter(_.chosen).map(_.cfg) shouldBe Seq(2)
  }

  test("zero truth: every config infeasible, nothing chosen, NULL recall") {
    val certs = BandChooser.certify(Seq(2, 4), 0L, 0L,
      Map(2 -> ((5L, 0L)), 4 -> ((3L, 0L))), truthCross = 0L, 0L, 0L,
      preferLarger = true)
    certs.map(_.rec) shouldBe Seq(None, None)
    certs.exists(_.feasible) shouldBe false
    certs.exists(_.chosen) shouldBe false
  }
}
