package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the drift ledger's pure logic (graft.BenchDrift) — the flag
  * rule, the retry verdict that makes the cold ledger self-adjudicating
  * (round 12), the prior-artifact block parse, and the load-gate
  * predicate — so the bench's adjudication semantics are spec-frozen
  * without running a bench. */
class BenchDriftSpec extends AnyFunSuite {

  test("flag rule: ratio > 1.5 AND excess > 0.5 s, both required") {
    // the round-10 rule, unchanged: sub-second walls are noise
    assert(BenchDrift.flagged(prior = 2.0, now = 4.0))    // 2x, +2 s
    assert(!BenchDrift.flagged(prior = 0.2, now = 0.6))   // 3x but +0.4 s
    assert(!BenchDrift.flagged(prior = 10.0, now = 12.0)) // +2 s but 1.2x
    assert(!BenchDrift.flagged(prior = 2.0, now = 3.0))   // exactly 1.5x
    // the boundary: excess must EXCEED 0.5
    assert(!BenchDrift.flagged(prior = 0.9, now = 1.4))
    assert(BenchDrift.flagged(prior = 0.9, now = 1.41))
  }

  test("retry verdict: ambient iff the retry would not itself flag; " +
    "a clean steady column exonerates a noisy retry") {
    // the round-11 driver's worst entry: gr_components_incr cold
    // 9.37 -> 39.48 s; a retry near the prior exonerates as ambient,
    // a retry reproducing the excess (with steady ALSO moved) indicts
    def v(prior: Double, retry: Double,
          sPrior: Double = 1.0, sNow: Double = 10.0): String =
      BenchDrift.verdictOpt(prior, retry, Some(sPrior), Some(sNow))
    assert(v(prior = 9.37, retry = 10.1) == "ambient")
    assert(v(prior = 9.37, retry = 38.0) == "reproduced")
    // boundary follows the flag rule exactly
    assert(v(prior = 2.0, retry = 3.0) == "ambient")
    assert(v(prior = 2.0, retry = 3.1) == "reproduced")
    // sub-second priors: a big ratio alone never reproduces
    assert(v(prior = 0.19, retry = 0.60) == "ambient")
    // the first run's own false positive (mm_resize_stats): retry 4.79
    // against prior cold 0.82 flags, but steady 0.75 -> 0.92 is clean —
    // code cannot have regressed cold-only on a non-memoized path
    assert(v(prior = 0.815, retry = 4.789, sPrior = 0.747, sNow = 0.915)
      == "ambient_steady_clean")
    // and a flagged retry WITH a flagged steady stays reproduced
    assert(v(prior = 0.815, retry = 4.789, sPrior = 0.747, sNow = 2.5)
      == "reproduced")
  }

  test("verdictOpt: missing steady evidence yields 'unknown', never " +
    "the exoneration path (ADVICE r12)") {
    // with both steady legs present, the steady comparison decides
    assert(BenchDrift.verdictOpt(prior = 0.815, retry = 0.9,
      priorSteady = Some(0.747), nowSteady = Some(0.915)) == "ambient")
    assert(BenchDrift.verdictOpt(prior = 0.815, retry = 4.789,
      priorSteady = Some(0.747), nowSteady = Some(0.915))
      == "ambient_steady_clean")
    assert(BenchDrift.verdictOpt(prior = 0.815, retry = 4.789,
      priorSteady = Some(0.747), nowSteady = Some(2.5)) == "reproduced")
    // a flagged retry with EITHER steady leg missing must not default
    // to exoneration — the old MaxValue/0.0 sentinels could never flag
    // and silently produced ambient_steady_clean
    assert(BenchDrift.verdictOpt(prior = 0.815, retry = 4.789,
      priorSteady = None, nowSteady = Some(0.915)) == "unknown")
    assert(BenchDrift.verdictOpt(prior = 0.815, retry = 4.789,
      priorSteady = Some(0.747), nowSteady = None) == "unknown")
    // an unflagged retry is ambient regardless of steady evidence
    assert(BenchDrift.verdictOpt(prior = 0.815, retry = 0.9,
      priorSteady = None, nowSteady = None) == "ambient")
  }

  test("block parse reads the named map out of a BENCH_FULL line") {
    val txt = """{"metric":"total","value":1.0,"unit":"sec",""" +
      """"queries":{"a_q":1.500,"b_q":0.250},""" +
      """"cold_total":9.9,"queries_cold":{"a_q":2.000,"b_q":1.000},""" +
      """"errors":[],"sf":"x"}"""
    assert(BenchDrift.block(txt, "queries") ==
      Map("a_q" -> 1.5, "b_q" -> 0.25))
    assert(BenchDrift.block(txt, "queries_cold") ==
      Map("a_q" -> 2.0, "b_q" -> 1.0))
    assert(BenchDrift.block(txt, "missing").isEmpty)
    assert(BenchDrift.block("not json at all", "queries").isEmpty)
  }

  test("load gate: numeric compare against the threshold, robust to " +
    "garbage") {
    assert(BenchDrift.contended("4.33", 2.0))
    assert(!BenchDrift.contended("0.61", 2.0))
    assert(!BenchDrift.contended("2.0", 2.0)) // strict
    assert(!BenchDrift.contended("", 2.0))
    assert(!BenchDrift.contended("n/a", 2.0))
  }
}
