package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's two variance guards: the intra-run spread check
  * lives in the rep loop; these cover the committed-baseline parser
  * and the uniform-contention comparison (a query whose every rep is
  * slow-but-tight slipped past the spread check in round 12).
  */
class BenchGuardSpec extends AnyFunSuite {

  private val line =
    """{"metric":"total","value":138.9,"unit":"sec","reps":3,""" +
      """"queries":{"q_a":1.5,"q_b":0.25,"q_dead":null},""" +
      """"runs":{"q_a":[1.6,1.5,1.4]},"n_failed":0,"failed":[],""" +
      """"variance_flagged":[],"cpus":32,"sf":"/root/testdata/sf0.1"}"""

  test("layers carry driver_s: a rep's wall time outside the union of " +
    "its jobs' intervals") {
    // a 10 s rep; jobs 1-4 s and 3-6 s overlap (5 s covered), the job
    // from 8 s runs past the rep's end (2 s covered)
    assert(Harness.uncoveredMs(0L, 10000L,
      Seq((1000L, 4000L), (3000L, 6000L), (8000L, 12000L))) === 3000L)
    assert(Harness.uncoveredMs(0L, 10000L, Nil) === 10000L)
    assert(Harness.Layers(1, 1, 1, 0.0, 0.0, 0, 0, 0, 3.0).json
      .contains("\"driver_s\":3.0"))
  }

  test("layers carry rep_compiles: every rep's compile count in rep " +
    "order, so a cold first rep reads apart from contention") {
    val l = Harness.Layers(1, 1, 1, 0.0, 0.0, 0, 0, 0, 3.0)
    assert(l.copy(repCompiles = Seq(31L, 0L, 0L)).json
      .endsWith(""""driver_s":3.0,"rep_compiles":[31,0,0]}"""))
    // absent when no rep was recorded
    assert(!l.json.contains("rep_compiles"))
  }

  test("parseBaselineMedians reads the queries map, skips nulls") {
    val m = Bench.parseBaselineMedians(line, "/root/testdata/sf0.1", 32)
    assert(m === Map("q_a" -> 1.5, "q_b" -> 0.25))
  }

  test("a baseline recorded at another scale factor is ignored") {
    assert(Bench.parseBaselineMedians(line, "/root/testdata/sf0.01", 32)
      === Map.empty)
    assert(Bench.parseBaselineMedians("not json at all", "x", 32)
      === Map.empty)
    // ...or at another core count, or without a recorded one (the
    // 8-core sweeps that overwrote the 32-core baseline carried none)
    assert(Bench.parseBaselineMedians(line, "/root/testdata/sf0.1", 8)
      === Map.empty)
    assert(Bench.parseBaselineMedians(line.replace(""""cpus":32,""", ""),
      "/root/testdata/sf0.1", 32) === Map.empty)
    // ...or by a run with every size gate forced distributed
    assert(Bench.parseBaselineMedians(line.replace(""""cpus":32,""",
      """"cpus":32,"local_paths":false,"""), "/root/testdata/sf0.1", 32)
      === Map.empty)
  }

  test("parseBaselineMedians survives a nested object inside queries " +
    "— brace counting, not first-close-brace truncation") {
    val nested =
      """{"metric":"total","value":9.9,"unit":"sec","reps":3,""" +
        """"queries":{"q_a":1.5,"q_meta":{"inner":{"x":1}},"q_b":0.25,""" +
        """"q_esc":"brace } in string","q_c":2.0},""" +
        """"runs":{},"cpus":4,"sf":"/root/testdata/sf0.1"}"""
    val m = Bench.parseBaselineMedians(nested, "/root/testdata/sf0.1", 4)
    // every numeric top-level query survives; the old indexOf('}')
    // scan would have stopped at q_meta's inner close brace
    assert(m("q_a") === 1.5)
    assert(m("q_b") === 0.25)
    assert(m("q_c") === 2.0)
  }

  test("healedHeadline: a clean quiet-pass median heals to " +
    "min(quiet, sweep); a dirty quiet pass leaves the sweep median") {
    // contaminated sweep, clean quiet pass → healed to the quiet median
    val (hq, okq, unq) = Bench.healedHeadline(Seq(6.0, 6.2, 6.1),
      Seq(1.1, 1.3), Some(1.0))
    assert(okq && math.abs(hq - 1.2) < 1e-9 && unq === 6.1)
    // quiet pass still slow (>1.5x baseline) → NOT healed; the quiet
    // reps fold into the median as ordinary measurements
    val (h, ok, un) = Bench.healedHeadline(Seq(6.0, 6.2, 6.1),
      Seq(5.9, 6.0), Some(1.0))
    assert(!ok && h === 6.0 && un === 6.1)
    // genuine regression: quiet median ~2x baseline exceeds the 1.5x
    // gate, so the regression stays in the headline unmasked
    val (hr, okr, _) = Bench.healedHeadline(Seq(2.1, 2.0, 2.2),
      Seq(2.0, 2.1), Some(1.0))
    assert(!okr && hr === 2.1)
    // healing never RAISES the headline: sweep median already below
    // the (clean) quiet median → not healed, fold-median instead
    val (hm, okm, _) = Bench.healedHeadline(Seq(0.8, 0.9, 4.0),
      Seq(1.0, 1.1), Some(1.0))
    assert(!okm && hm === 1.0)
    // no committed baseline → cannot adjudicate a heal; the quiet
    // reps still pull the fold-median toward steady state
    assert(Bench.healedHeadline(Seq(6.0, 1.0), Seq(1.0, 1.0), None)
      === ((1.0, false, 3.5)))
    // failed quiet reps are discarded; a lone good one still heals
    assert(Bench.healedHeadline(Seq(6.0, 6.2, 6.1), Seq(-1.0, 1.2),
      Some(1.0)) === ((1.2, true, 6.1)))
    // no ok reps anywhere → failure sentinel
    assert(Bench.healedHeadline(Nil, Nil, Some(1.0))
      === ((-1.0, false, -1.0)))
    // no ok sweep reps but a clean quiet pass → the quiet median
    val (hn, okn, unn) = Bench.healedHeadline(Nil, Seq(1.0, 1.2),
      Some(1.0))
    assert(okn && math.abs(hn - 1.1) < 1e-9 && unn === -1.0)
  }

  test("a synthetic contaminated run self-heals ALL flags via the " +
    "quiet pass, to within 1.2x of the committed baseline total") {
    // 20 queries, committed medians 0.2..4.0s; contention multiplies
    // every sweep rep by 4x (uniform — the shape that poisoned three
    // driver artifacts); the post-sweep quiet pass lands at ~1.1x
    val baseline = (1 to 20).map(i => s"q_$i" -> i * 0.2).toMap
    val healedTotal = baseline.map { case (q, b) =>
      val contaminated = Seq(b * 4.0, b * 4.1, b * 3.9)
      // the uniform guard fires (all reps > 3x baseline) → flagged,
      // queued for the quiet pass
      assert(Bench.uniformlyAboveBaseline(Some(b), contaminated))
      val quiet = Seq(b * 1.1, b * 1.15)
      val (h, healed, unhealed) = Bench.healedHeadline(
        contaminated, quiet, Some(b))
      assert(healed, q)
      assert(unhealed === b * 4.0, q) // the audit trail keeps the raw median
      h
    }.sum
    val committedTotal = baseline.values.sum
    assert(healedTotal <= 1.2 * committedTotal)
  }

  test("healedHeadline corroboration: a real ~1.4x regression that " +
    "coincides with a contention flag does NOT heal below the " +
    "fastest sweep rep") {
    // genuinely regressed to ~2x baseline, PLUS contention spreading
    // the later reps: the sweep's fastest rep (2.0) is credible
    // (<= 3x baseline) and every sweep rep saw >= 2.0 — a flukey
    // 2-rep quiet median of 1.0 must not become the headline
    val (h, ok, un) = Bench.healedHeadline(Seq(2.0, 6.5, 7.0),
      Seq(0.9, 1.1), Some(1.0))
    assert(ok) // still healed: contention above the credible rep sheds
    assert(h === 2.0) // ...but capped at the fastest corroborated rep
    assert(un === 6.5)
    // same shape but the quiet median IS corroborated by the fastest
    // sweep rep (within 1.5x): heals to the quiet median as before
    val (h2, ok2, _) = Bench.healedHeadline(Seq(1.0, 4.0, 4.2),
      Seq(1.05, 1.1), Some(1.0))
    assert(ok2 && math.abs(h2 - 1.075) < 1e-9)
  }

  test("waitForQuiet: bounded poll until the load drops, capped; " +
    "disabled thresholds and unreporting platforms never wait") {
    // load drops below threshold after 3 polls -> waited 30s
    var calls = 0
    val loads = Iterator(3.2, 2.8, 1.4, 0.6, 0.5)
    var slept = 0
    val w = Bench.waitForQuiet(1.0, 600, 10,
      () => { calls += 1; loads.next() }, s => slept += s)
    assert(w === 30 && slept === 30 && calls === 4)
    // cap: load never drops -> waits exactly capSec, not forever
    assert(Bench.waitForQuiet(1.0, 25, 10, () => 9.9, _ => ()) === 25)
    // already quiet -> no wait
    assert(Bench.waitForQuiet(1.0, 600, 10, () => 0.2, _ => ()) === 0)
    // platform reports -1 -> no wait (can't gate on missing data)
    assert(Bench.waitForQuiet(1.0, 600, 10, () => -1.0, _ => ()) === 0)
    // threshold <= 0 disables the gate
    assert(Bench.waitForQuiet(0.0, 600, 10, () => 9.9, _ => ()) === 0)
  }

  test("mid-sweep re-gate evidence: jsonIntMap renders only non-zero " +
    "waits, sorted, and the re-gate waits through a returning " +
    "co-tenant but caps per entry") {
    // the JSON evidence map: zero waits (the common case on a quiet
    // host) stay out, so the artifact line does not grow by 214 keys
    assert(Bench.jsonIntMap(Nil) === "{}")
    assert(Bench.jsonIntMap(List("q_b" -> 15, "q_a" -> 0, "q_c" -> 60))
      === """{"q_b":15,"q_c":60}""")
    // a co-tenant spike at query start: waits in 5s polls until the
    // load decays below the 4.0 default, never past the 60s cap —
    // same waitForQuiet core as the pre-sweep gate, re-gate geometry
    val loads = Iterator(6.5, 5.1, 3.4)
    assert(Bench.waitForQuiet(4.0, 60, 5,
      () => loads.next(), _ => ()) === 10)
    assert(Bench.waitForQuiet(4.0, 60, 5, () => 9.0, _ => ()) === 60)
    // self-load after a multi-second local[32] burst (~+2 on the
    // 1-min EMA) must NOT trigger the re-gate
    assert(Bench.waitForQuiet(4.0, 60, 5, () => 2.3, _ => ()) === 0)
  }

  test("uniformlyAboveBaseline: all reps must exceed 3x the median") {
    // uniformly contended: every rep slow, tight spread — flagged
    assert(Bench.uniformlyAboveBaseline(Some(1.0), Seq(3.2, 3.4, 3.3)))
    // one rep at steady state clears the query
    assert(!Bench.uniformlyAboveBaseline(Some(1.0), Seq(3.2, 2.9, 3.3)))
    // no baseline / zero baseline / no reps: never flags
    assert(!Bench.uniformlyAboveBaseline(None, Seq(9.0, 9.0)))
    assert(!Bench.uniformlyAboveBaseline(Some(0.0), Seq(9.0)))
    assert(!Bench.uniformlyAboveBaseline(Some(1.0), Nil))
  }
}
