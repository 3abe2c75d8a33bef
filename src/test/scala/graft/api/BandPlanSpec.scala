package graft.api

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[BandedLsh.planBands]] / [[BandedLsh.candidateProbability]] —
  * pure math, no Spark session. The contract: the returned plan meets the
  * recall target at the threshold, uses the largest feasible bandSize
  * (steepest S-curve = least verification work), and respects the 64-band
  * budget.
  */
class BandPlanSpec extends AnyFunSuite {
  import BandedLsh.{candidateProbability => p, planBands}

  test("returned plan always meets the recall target at the threshold") {
    for {
      threshold <- Seq(0.3, 0.5, 0.6, 0.8, 0.9)
      recall <- Seq(0.5, 0.9, 0.99)
    } {
      val (b, r) = planBands(threshold, recall)
      assert(b >= 1 && b <= 64 && r >= 1 && r <= 16)
      assert(p(threshold, b, r) >= recall,
        s"t=$threshold want=$recall got b=$b r=$r -> ${p(threshold, b, r)}")
      // maximality: one more row would blow the band budget (or be maxRows)
      if (r < 16) {
        val needMore = math.ceil(
          math.log1p(-recall) / math.log(1 - math.pow(threshold, r + 1))).toInt
        assert(needMore > 64, s"t=$threshold recall=$recall: r+1 also feasible, not maximal")
      }
    }
  }

  test("the reference's 8x3 example sits where the planner puts it") {
    // README.md's fixed 8-band/3-row setup: at jaccard 0.6 it catches
    // 1-(1-0.6^3)^8 ≈ 85.8%. The planner's 64-band budget lands on the
    // same 3-row curve for a 99.99% target (38 bands; 4 rows would need
    // 67), and steepens to 6 rows for the example's own 85% (40 bands;
    // 7 rows would need 67)
    val got = p(0.6, 8, 3)
    assert(math.abs(got - 0.8577) < 0.001)
    assert(planBands(0.6, 0.9999) == ((38, 3)))
    assert(planBands(0.6, 0.85) == ((40, 6)))
  }

  test("S-curve is monotone in s and steeper with more rows") {
    val xs = (1 to 19).map(_ * 0.05)
    xs.sliding(2).foreach { case Seq(a, c) =>
      assert(p(a, 8, 3) < p(c, 8, 3))
    case _ => }
    // more rows at matched mid-curve: lower admit rate below threshold
    assert(p(0.3, 32, 6) < p(0.3, 8, 3), "steeper curve must admit fewer low-sim pairs")
  }

  test("unsatisfiable targets throw instead of under-recalling") {
    // bandSize 1 at threshold 0.05 needs 135 bands for 99.9% recall
    intercept[IllegalArgumentException] { planBands(0.05, 0.999) }
    intercept[IllegalArgumentException] { planBands(0.0, 0.9) }
    intercept[IllegalArgumentException] { planBands(0.6, 1.0) }
  }
}
