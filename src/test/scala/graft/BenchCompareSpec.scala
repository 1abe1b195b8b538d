package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Bench.regressions]] — the self-describing compare block's
  * exit rule — to scripts/bench_compare.py's gate semantics with
  * hand-worked cases: two-sided (ratio AND absolute), baseline-absent
  * and non-positive-baseline gates never regress, boundary values
  * are strict. A drift between the Scala block and the python script
  * would make the driver's artifact disagree with the close-out tool
  * that audits it. */
class BenchCompareSpec extends AnyFunSuite {

  test("two-sided rule: ratio alone and absolute alone both pass; " +
      "only ratio AND absolute together regress") {
    val base = Map("tiny" -> 0.1, "heavy" -> 10.0, "both" -> 2.0)
    val now = Map(
      "tiny" -> 0.4,   // 4.0x but +0.3 s — ms-noise, not a regression
      "heavy" -> 11.4, // +1.4 s but 1.14x — host drift, not a regression
      "both" -> 3.5)   // 1.75x AND +1.5 s — regression
    assert(Bench.regressions(base, now) ===
      Seq(("both", 2.0, 3.5)))
  }

  test("boundaries are strict: exactly 1.5x or exactly +1.0 s does " +
      "not regress (mirrors python's > comparisons)") {
    val base = Map("r" -> 2.0, "a" -> 1.9)
    val now = Map(
      "r" -> 3.0,  // exactly 1.5x (and +1.0 s): not > threshold
      "a" -> 2.9)  // 1.53x but exactly +1.0 s: not > absSec
    assert(Bench.regressions(base, now).isEmpty)
  }

  test("gates new to this run, or with a non-positive baseline, " +
      "never regress; output is name-sorted") {
    val base = Map("gone" -> 5.0, "zero" -> 0.0, "b" -> 1.0, "a" -> 1.0)
    val now = Map("new_gate" -> 99.0, "zero" -> 50.0,
      "b" -> 9.0, "a" -> 9.0)
    assert(Bench.regressions(base, now) ===
      Seq(("a", 1.0, 9.0), ("b", 1.0, 9.0)))
  }

  test("custom thresholds thread through") {
    val base = Map("g" -> 1.0)
    val now = Map("g" -> 1.8)
    assert(Bench.regressions(base, now).isEmpty) // 1.8x, +0.8s < 1.0
    assert(Bench.regressions(base, now, ratio = 1.5, absSec = 0.5) ===
      Seq(("g", 1.0, 1.8)))
  }

  // ---- band-exit rule (r11 verdict item 2) --------------------------

  test("band rule: inside the band never regresses, even when the " +
      "band min would have flagged under the single-baseline rule") {
    // a bimodal gate observed at 1.1–2.6 s: a 2.5 s reading is 2.3x
    // the band MIN (old rule would flag against an old 1.1 reading)
    // but inside the committed envelope — not a regression
    val bands = Map("bimodal" -> (1.1, 2.6))
    assert(Bench.bandRegressions(bands, Map("bimodal" -> 2.5)).isEmpty)
  }

  test("band rule is two-sided against band MAX: ratio alone and " +
      "absolute alone both pass") {
    val bands = Map(
      "tiny" -> (0.05, 0.1),   // 0.4 s = 4x max but +0.3 s
      "heavy" -> (8.0, 10.0),  // 11.4 s = +1.4 s but 1.14x
      "both" -> (1.5, 2.0))    // 3.5 s = 1.75x max AND +1.5 s
    val now = Map("tiny" -> 0.4, "heavy" -> 11.4, "both" -> 3.5)
    assert(Bench.bandRegressions(bands, now) ===
      Seq(("both", 2.0, 3.5)))
  }

  test("band boundaries are strict; unbanded and non-positive-max " +
      "gates never band-regress; output is name-sorted") {
    val bands = Map("r" -> (1.0, 2.0), "zero" -> (0.0, 0.0),
      "b" -> (0.5, 1.0), "a" -> (0.5, 1.0))
    val now = Map(
      "r" -> 2.5,       // exactly 1.25x (and +0.5 s): not > margin
      "zero" -> 50.0,   // non-positive max: never regresses
      "new_gate" -> 99.0,
      "b" -> 9.0, "a" -> 9.0)
    assert(Bench.bandRegressions(bands, now) ===
      Seq(("a", 1.0, 9.0), ("b", 1.0, 9.0)))
  }

  test("one flag rule adjudicates the first and the second reading: " +
      "banded gates by the band, unbanded gates by the baseline") {
    val bands = Map("banded" -> (1.0, 2.0))
    // the banded gate's own baseline entry must not be consulted
    val base = Map("banded" -> 0.5, "plain" -> 2.0)
    val inside = Map("banded" -> 3.0, "plain" -> 3.0)  // 1.5x, +1.0 s
    val outside = Map("banded" -> 3.5, "plain" -> 3.5) // 1.75x, +1.5 s
    assert(Bench.flagged(bands, base, inside) === Nil)
    assert(Bench.flagged(bands, base, outside) ===
      Seq(("banded", 2.0, 3.5, "band"), ("plain", 2.0, 3.5, "baseline")))
    // Bench's second-run inBand is flagged on a one-gate reading: it
    // agrees with the first reading gate by gate
    for (reading <- Seq(inside, outside); (n, v) <- reading)
      assert(Bench.flagged(bands, base, Map(n -> v)).isEmpty ===
        !Bench.flagged(bands, base, reading).exists(_._1 == n), (n, v))
  }
}
