package graft

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Pins the pure mover-verdict rule (Bench.verdictOf) — in particular
  * the micro-query class guard and absolute-delta confirm floor added
  * for VERDICT r11 Next #2, using the committed r11 incident numbers
  * as the regression fixture. No SparkSession needed: the rule is a
  * pure function of the measured ratios.
  */
class BenchSpec extends AnyFunSuite {
  private def verdict(fr: Double, delta: Double, isMicro: Boolean,
      drift: Double = 1.0, microDrift: Double = 1.0,
      degraded: Boolean = false, absDelta: Double = 0.35,
      sentinel: => Option[Double] = None): String =
    Bench.verdictOf(fr, delta, isMicro, drift, microDrift, degraded,
      absDelta, sentinel)._1

  test("r11 q_kmv_distinct incident: 0.253 -> 0.526 with a quiet " +
      "class-blind drift can no longer confirm (delta 0.273 < 0.35)") {
    // sixth official r11 run: fresh_min 0.526, floor 0.253, suite_drift
    // 1.29 read quiet, contemporaneous mid sentinel 1.12 — CONFIRMED
    // under the r11 rule, falsified by a zero-diff argument. Under the
    // r12 rule the absolute delta is below measurement resolution.
    val v = verdict(fr = 0.526 / 0.253, delta = 0.526 - 0.253,
      isMicro = true, drift = 1.29, microDrift = 1.29,
      sentinel = Some(1.12))
    assert(v == "below_confirm_floor")
  }

  test("micro mover inside the micro-class median clears as " +
      "ambient_class_drift even when the suite number is quiet") {
    // micro class running 2.5x hot while suite drift reads 1.1: a
    // 2.9x micro mover is within 1.5 * 2.5 — class ambient, and the
    // verdict string says WHICH evidence cleared it
    val v = verdict(fr = 2.9, delta = 0.5, isMicro = true,
      drift = 1.1, microDrift = 2.5)
    assert(v == "ambient_class_drift")
  }

  test("non-micro movers are NOT cleared by micro-class drift") {
    // a heavy query 2.9x over floor with quiet suite drift must not
    // hide behind a hot micro class
    val v = verdict(fr = 2.9, delta = 6.0, isMicro = false,
      drift = 1.1, microDrift = 2.5)
    assert(v == "confirmed_regression")
  }

  test("a genuine micro regression that moves ALONE (class median " +
      "quiet) with a real absolute delta still confirms") {
    // e.g. 0.6s floor -> 1.4s fresh: delta 0.8 > 0.35, class quiet,
    // quiet contemporaneous sentinel -> confirmed
    val v = verdict(fr = 1.4 / 0.6, delta = 0.8, isMicro = true,
      drift = 1.05, microDrift = 1.1, sentinel = Some(1.05))
    assert(v == "confirmed_regression")
  }

  test("a hot contemporaneous sentinel downgrades a would-be confirm " +
      "to ambient (r10 rule preserved)") {
    val v = verdict(fr = 2.4, delta = 0.8, isMicro = true,
      drift = 1.05, microDrift = 1.1, sentinel = Some(1.4))
    assert(v == "ambient_drift")
  }

  test("degraded window still downgrades beyond-drift movers with a " +
      "real delta to suspect_window (r10 rule preserved)") {
    val v = verdict(fr = 2.4, delta = 3.0, isMicro = false,
      drift = 1.35, microDrift = 1.35, degraded = true)
    assert(v == "suspect_window")
  }

  test("sub-delta movers are unconfirmable at ANY window quality — " +
      "below_confirm_floor outranks suspect_window") {
    val v = verdict(fr = 2.2, delta = 0.2, isMicro = true,
      drift = 1.35, microDrift = 1.35, degraded = true)
    assert(v == "below_confirm_floor")
  }

  test("the confirm sentinel is never probed on cleared/ambient paths " +
      "(lazy by-name argument)") {
    var probed = false
    Bench.verdictOf(1.2, 0.05, isMicro = true, drift = 1.0,
      microDrift = 1.0, windowDegraded = false, absDeltaSec = 0.35,
      { probed = true; Some(1.0) })
    assert(!probed, "cleared_noise must not pay a sentinel probe")
    Bench.verdictOf(2.0, 0.1, isMicro = true, drift = 1.0,
      microDrift = 1.5, windowDegraded = false, absDeltaSec = 0.35,
      { probed = true; Some(1.0) })
    assert(!probed, "class-ambient must not pay a sentinel probe")
  }

  test("ratio at/below 1.5 is cleared_noise regardless of class") {
    assert(verdict(1.5, 10.0, isMicro = false) == "cleared_noise")
    assert(verdict(1.49, 0.1, isMicro = true) == "cleared_noise")
  }

  test("windowDegradedOf: suite-only drift with decisively quiet probes " +
      "and a quiet streaming class is NOT a degraded window (the r12 " +
      "post-close shape)") {
    // both post-close runs: suite 1.46-1.51, both sentinels 1.00-1.01,
    // streaming median ~1.0 -> the floors' warm-minimum bias, not the
    // machine; must not inflate degraded_streak
    assert(!Bench.windowDegradedOf(1.51, 1.01, 1.0, 1.42))
    assert(!Bench.windowDegradedOf(1.46, 1.0, 1.0, 1.43))
  }

  test("windowDegradedOf: the r10 CPU-contention shape stays degraded — " +
      "quiet batch sentinels with a hot streaming class") {
    // 28 spinners: batch sentinels 0.98-1.1 while streaming ran 4-6x
    assert(Bench.windowDegradedOf(1.35, 1.05, 4.2, 1.4))
  }

  test("windowDegradedOf: slow sentinels keep the window degraded, and " +
      "sub-1.3 drift is never degraded by drift alone") {
    assert(Bench.windowDegradedOf(1.45, 1.4, 1.0, 1.4))
    // one sentinel missing -> probeMax is +inf at the call site
    assert(Bench.windowDegradedOf(1.45, Double.MaxValue, 1.0, 1.4))
    assert(!Bench.windowDegradedOf(1.3, Double.MaxValue, 9.0, 1.4))
  }

  test("windowDegradedOf: the r13 driver window — heavy-query stalls " +
      "with quiet micro sentinels — declares degraded on the in-suite " +
      "spread median; committed clean closes stay clean (VERDICT r13 " +
      "Next #3, pinned both ways)") {
    // BENCH_r13.json / floor_evidence_auto.json: suite_drift 1.27,
    // probe_drift 1.00, probe_max 0.84, stream_median 1.24, in-suite
    // spread median 1.59 with per-query spreads 19.6x/51.5x on
    // untouched code — the probe override was blind to the stall mode
    assert(Bench.windowDegradedOf(1.27, 0.84, 1.24, 1.59),
      "the r13 driver window replay must read degraded")
    // the r13 clean-window closes: spread medians 1.42-1.43
    assert(!Bench.windowDegradedOf(1.09, 0.9, 1.0, 1.43))
    assert(!Bench.windowDegradedOf(1.22, 1.0, 1.1, 1.42))
  }

  // ---- composeFloors (VERDICT r12 Next #3: in-suite floor basis +
  // one-time rebase; the steady state stays the r7 monotone-min rule) --

  private val reg = Seq("q_a", "q_b", "q_c", "q_new")

  test("composeFloors steady state is monotone min: floors never rise, " +
      "errored queries keep their previous floor, dropped queries vanish") {
    val prev = Map("q_a" -> 1.0, "q_b" -> 2.0, "q_gone" -> 5.0)
    val cur = Map("q_a" -> 0.8, "q_b" -> 9.0) // q_b spiked in-suite
    val out = Bench.composeFloors(prev, cur, reg,
      windowDegraded = false, rebase = false)
    assert(out == Map("q_a" -> 0.8, "q_b" -> 2.0))
  }

  test("composeFloors pins first-time floors only from a clean window " +
      "(the r9 Next #4 rule survives the refactor)") {
    val cur = Map("q_new" -> 1.3)
    assert(Bench.composeFloors(Map.empty, cur, reg, windowDegraded = false,
      rebase = false) == Map("q_new" -> 1.3))
    assert(Bench.composeFloors(Map.empty, cur, reg, windowDegraded = true,
      rebase = false).isEmpty)
  }

  test("composeFloors rebase replaces warm-polluted minima with this " +
      "run's in-suite floors — UPWARD moves allowed, errored queries " +
      "still keep prev") {
    // the r12 shape: prev floors carry warm adjudication-probe minima
    // (0.5) that cold in-suite reps (0.9) can never match
    val prev = Map("q_a" -> 0.5, "q_b" -> 2.0, "q_c" -> 1.0)
    val cur = Map("q_a" -> 0.9, "q_b" -> 1.8) // q_c errored this run
    val out = Bench.composeFloors(prev, cur, reg,
      windowDegraded = false, rebase = true)
    assert(out == Map("q_a" -> 0.9, "q_b" -> 1.8, "q_c" -> 1.0))
  }

  test("composeFloors rebase bypasses the floor-relative degraded flag " +
      "(the flag is measured against the floors being repaired) and " +
      "pins first-time floors") {
    val prev = Map("q_a" -> 0.5)
    val cur = Map("q_a" -> 0.9, "q_new" -> 1.2)
    val out = Bench.composeFloors(prev, cur, reg,
      windowDegraded = true, rebase = true)
    assert(out == Map("q_a" -> 0.9, "q_new" -> 1.2))
  }

  test("rebaseStableOf: the floor-independent gate — quiet-but-slow " +
      "windows pass, the r10 contention shape and any run with " +
      "confirms/errors/wall truncation refuse") {
    // the r13 opening window: 0 confirms, 0 errors, stream 1.22 vs
    // warm floors, idle machine -> rebase may proceed
    assert(Bench.rebaseStableOf(0, 0, wallHit = false, 1.22, 0, 0))
    // r10 CPU-contention rehearsal: streaming class 4-6x
    assert(!Bench.rebaseStableOf(0, 0, wallHit = false, 4.2, 0, 0))
    // a real regression or broken run must never become the baseline
    assert(!Bench.rebaseStableOf(1, 0, wallHit = false, 1.0, 0, 0))
    assert(!Bench.rebaseStableOf(0, 2, wallHit = false, 1.0, 0, 0))
    assert(!Bench.rebaseStableOf(0, 0, wallHit = true, 1.0, 0, 0))
  }

  test("rebaseStableOf: on a uniformly slower host the stream bound " +
      "scales with the suite drift (r16) — stream moving WITH the " +
      "suite passes, stream hotter than the suite still refuses") {
    // the r16 refused run: suite 1.48, stream 1.71 (ratio 1.16), every
    // floor-independent signal quiet -> must pass under the scaled bound
    assert(Bench.rebaseStableOf(0, 0, wallHit = false, 1.71, 0, 0,
      effDrift = 1.48))
    // contention signature: stream far hotter than the suite's drift
    assert(!Bench.rebaseStableOf(0, 0, wallHit = false, 4.2, 0, 0,
      effDrift = 1.48))
    assert(!Bench.rebaseStableOf(0, 0, wallHit = false, 2.0, 0, 0,
      effDrift = 1.48))
    // the scaled bound never drops below the original 1.5 floor
    assert(Bench.rebaseStableOf(0, 0, wallHit = false, 1.45, 0, 0,
      effDrift = 1.0))
  }

  test("rebaseStableOf: a wall-starved adjudication (unadjudicated or " +
      "probe-error movers, wallHit still false) refuses the rebase — " +
      "ADVICE r13: unverified movers must never become the baseline") {
    assert(!Bench.rebaseStableOf(0, 0, wallHit = false, 1.0, 69, 0))
    assert(!Bench.rebaseStableOf(0, 0, wallHit = false, 1.0, 0, 3))
    assert(Bench.rebaseStableOf(0, 0, wallHit = false, 1.0, 0, 0))
  }

  test("spreadEvidenceOf: the spread median is admissible only in the " +
      "official configuration — a healthy sf0.01 dev window reads 1.8+ " +
      "from fixed-overhead rep variance and must not declare degraded") {
    assert(Bench.spreadEvidenceOf(official = true, 1.59) == 1.59)
    assert(Bench.spreadEvidenceOf(official = false, 1.88) == 1.0)
    // composed: the dev reading through the full rule is clean
    assert(!Bench.windowDegradedOf(1.0, 1.0, 1.0,
      Bench.spreadEvidenceOf(official = false, 1.88)))
  }

  test("moverOrderOf: breadth pass visits movers in descending " +
      "in-suite-ratio order, name-tiebroken (VERDICT r13 Next #2)") {
    val raw = Map("q_tail" -> 1.6, "q_head" -> 7.0, "q_mid" -> 2.4,
      "q_tie_b" -> 1.9, "q_tie_a" -> 1.9)
    assert(Bench.moverOrderOf(raw) ==
      Seq("q_head", "q_mid", "q_tie_a", "q_tie_b", "q_tail"))
  }

  test("escalationWantOf: a <=1.5x breadth probe clears with no extra " +
      "reps; uncleared movers escalate to the class count; a thrown " +
      "probe retries the full class count") {
    // cleared on the single cheap probe: no escalation
    assert(Bench.escalationWantOf(2.0, Seq(2.9)) == 0)
    assert(Bench.escalationWantOf(10.0, Seq(14.9)) == 0)
    // uncleared: heavy floors escalate to min-of-2, the rest to 3 reps
    assert(Bench.escalationWantOf(10.0, Seq(16.0)) == 1)
    assert(Bench.escalationWantOf(2.0, Seq(3.5)) == 2)
    // breadth probe threw: retry the full class count
    assert(Bench.escalationWantOf(10.0, Nil) == 2)
    assert(Bench.escalationWantOf(2.0, Nil) == 3)
  }

  test("suspectQueryOf: the r14 driver run's exact numbers (VERDICT " +
      "r14 Next #2) — q_dedup_clusters' tight 1.7x evidence reads " +
      "suspect_query, q_stream_kmv's at-floor probe reads cleared") {
    // q_dedup_clusters: fresh [2.447, 2.541, 2.430] vs floor 1.401 on
    // a clean window (drift 1.29) — ambient under the old binary, and
    // round-15 isolated probes proved the floor stale (re-pinned 1.98)
    val dc = Seq(2.447, 2.541, 2.430)
    assert(Bench.verdictOf(dc.min / 1.401, dc.min - 1.401,
      isMicro = false, drift = 1.29, microDrift = 1.29,
      windowDegraded = false, absDeltaSec = 0.35, None)._1
      == "ambient_drift")
    assert(Bench.suspectQueryOf(dc, 1.401, windowDegraded = false))
    // q_stream_kmv: fresh at 1.02x floor — fr <= 1.5 can never be
    // suspect regardless of spread
    assert(!Bench.suspectQueryOf(Seq(0.51, 0.52), 0.5,
      windowDegraded = false))
    // degraded windows cannot mint suspects (the discriminator has
    // declared its own evidence untrustworthy there)
    assert(!Bench.suspectQueryOf(dc, 1.401, windowDegraded = true))
    // loose reps are ambient noise, not a suspect
    assert(!Bench.suspectQueryOf(Seq(2.4, 5.1), 1.401,
      windowDegraded = false))
    // single-rep evidence has no spread — never suspect
    assert(!Bench.suspectQueryOf(Seq(2.43), 1.401,
      windowDegraded = false))
  }

  test("suspectResolutionOf: carried suspects clear at <=1.3x, re-pin " +
      "on a second tight >1.3x reading, defer on degraded windows, " +
      "drop as loose otherwise") {
    assert(Bench.suspectResolutionOf(1.19, 1.84, windowDegraded = false)
      == "suspect_cleared") // the r15 q_kmeans_fit resolution shape
    assert(Bench.suspectResolutionOf(1.41, 1.20, windowDegraded = false)
      == "suspect_repinned") // the r15 q_dedup_clusters shape
    assert(Bench.suspectResolutionOf(1.41, 1.20, windowDegraded = true)
      == "suspect_deferred")
    assert(Bench.suspectResolutionOf(1.6, 2.1, windowDegraded = false)
      == "suspect_cleared_loose")
  }

  test("classFreshClearOf: the r14 driver tail (VERDICT r14 Next #3a) " +
      "— micro movers probing 2.1-2.8x while the whole micro class " +
      "probes the same clear on class evidence; a quiet class clears " +
      "nothing") {
    // the four micro movers of the r14 unadjudicated tail: fresh
    // ratios 2.14 (q_json_roundtrip), 2.20 (q_asof_join), 2.84
    // (q_lexical), 2.76 (q_recursive_spine)
    val microRatios = Seq(2.14, 2.20, 2.84, 2.76)
    val m = Bench.classFreshMedianOf(microRatios)
    assert(m.contains(2.76)) // upper median of the even-sized pool
    assert(Bench.classFreshClearOf(2.14, m))
    assert(Bench.classFreshClearOf(2.84, m))
    // a mover 1.5x beyond even the hot class median does NOT clear
    assert(!Bench.classFreshClearOf(4.2, m))
    // quiet class (median <= 1.2): rule is inert, floor verdict stands
    assert(!Bench.classFreshClearOf(1.6, Some(1.1)))
    // fewer than 3 class members is no population
    assert(Bench.classFreshMedianOf(Seq(2.0, 2.1)).isEmpty)
    assert(!Bench.classFreshClearOf(2.0, None))
  }

  test("escalationReserve bounds extra-rep spending to the 10 worst " +
      "borderlines (VERDICT r14 Next #3b)") {
    assert(Bench.escalationReserve == 10)
  }

  test("spreadThresholdOf: pinned P75 x 1.10 over the last clean " +
      "official windows, floored at the calibrated 1.55 (VERDICT r14 " +
      "Next #8)") {
    // the recorded r14/r15 clean official history: 1.46 open, 1.29/
    // 1.30 mid, 1.41 driver, 1.30 r15 open — threshold stays 1.55
    assert(Bench.spreadThresholdOf(Seq(1.46, 1.29, 1.30, 1.41, 1.30))
      == 1.55)
    // fewer than 4 windows: the constant stands
    assert(Bench.spreadThresholdOf(Nil) == 1.55)
    assert(Bench.spreadThresholdOf(Seq(1.46, 1.29, 1.41)) == 1.55)
    // clean windows creeping toward the constant raise the threshold
    // before a 1.5-1.55 window can mint a phantom streak
    assert(Bench.spreadThresholdOf(Seq(1.45, 1.48, 1.50, 1.53)) == 1.65)
    // and the composed rule: a 1.56 spread on that history is NOT
    // degraded, while under the fixed constant it would have been
    assert(!Bench.windowDegradedOf(1.0, 1.0, 1.0, 1.56,
      Bench.spreadThresholdOf(Seq(1.45, 1.48, 1.50, 1.53))))
    assert(Bench.windowDegradedOf(1.0, 1.0, 1.0, 1.56))
  }

  test("Verify's JSON encoder round-trips control chars, quotes and " +
      "backslashes") {
    val tricky = "a\u0001b\"c\\d\ne"
    val json = Verify.jsonObject(Seq("k" -> tricky))
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(json, classOf[java.util.Map[String, String]])
    assert(back.get("k") == tricky)
  }

  // ---- the floor file, the artifacts and the extracted adjudication --

  private def floorOf(txt: String, sf: String, cpus: String) =
    Bench.FloorFile.parse(new ObjectMapper().readTree(txt), sf, cpus)

  private val floorTxt = """{"__sf":"/d/sf0.1","__cpus":"32",""" +
    """"__degraded_streak":2,"__suspect":["q_b","q_b"],""" +
    """"__spread_hist":[1.4,1.5],"q_a":0.5,"q_b":1.25}"""

  test("FloorFile: a file of another scale factor reads as empty") {
    assert(floorOf(floorTxt, "/d/sf0.01", "32") ==
      Bench.FloorFile.empty)
    assert(floorOf(floorTxt, "/d/sf0.1", "32") ==
      Bench.FloorFile(Map("q_a" -> 0.5, "q_b" -> 1.25), 2, Seq("q_b"),
        Seq(1.4, 1.5)))
  }

  test("FloorFile: a file of another cpu count reads as empty") {
    assert(floorOf(floorTxt, "/d/sf0.1", "4") ==
      Bench.FloorFile.empty)
  }

  test("FloorFile: a file with no __cpus counts as the official 32") {
    val old = """{"__sf":"/d/sf0.1","q_a":0.5}"""
    assert(floorOf(old, "/d/sf0.1", "32").floors ==
      Map("q_a" -> 0.5))
    assert(floorOf(old, "/d/sf0.1", "4") ==
      Bench.FloorFile.empty)
  }

  test("FloorFile: a file with no __suspect or __spread_hist gives empty " +
      "lists") {
    val old = """{"__sf":"/d/sf0.1","__cpus":"32","__degraded_streak":1,""" +
      """"q_a":0.5}"""
    assert(floorOf(old, "/d/sf0.1", "32") ==
      Bench.FloorFile(Map("q_a" -> 0.5), 1, Nil, Nil))
  }

  test("the contract line, detail, evidence and floor file are valid " +
      "JSON when the sf path holds a quote and a backslash") {
    val sf = "/d/a\"b\\c/sf0.01"
    // q_a moved 2x in-suite against a 0.5 floor; its probe clears it
    val o = Bench.adjudicate(Map("q_a" -> Seq(1.0, 1.3)),
      Bench.FloorFile(Map("q_a" -> 0.5), 0, Nil, Nil), Set("q_a"),
      official = false, errors = 0, wallHit = false,
      rebaseRequested = false, (_, _) => Seq(0.6), () => true)
    assert(o.verdicts.entries.map(_.verdict) == Seq("cleared_noise"))
    val run = Bench.Run(sf, "4", Map("q_a" -> 1.0), Nil, Nil, Nil,
      Map("q_a" -> 3), Map("q_a" -> 1.3), Set.empty, budgetHit = false,
      repCutHit = false, wallHit = false, wallSec = 2.0)
    val (line, files) = Bench.render(run, o, official = false)
    val mapper = new ObjectMapper()
    val parsed = (files.map(_._2) :+ line).map(mapper.readTree)
    assert(parsed.map(j => Option(j.get("sf")).getOrElse(j.get("__sf"))
      .asText).distinct == Seq(sf))
    assert(parsed(1).get("adjudications").get(0).get("verdict").asText ==
      "cleared_noise")
    // the floor file reads back through its own gate
    assert(floorOf(files(2)._2, sf, "4").floors ==
      Map("q_a" -> 0.5))
  }

  test("a dev run renders only _dev artifacts, so it leaves the official " +
      "detail, evidence, floor and line files untouched") {
    val o = Bench.adjudicate(Map("q_a" -> Seq(1.0)), Bench.FloorFile.empty,
      Set("q_a"), official = false, errors = 0, wallHit = false,
      rebaseRequested = false, (_, _) => Nil, () => true)
    val run = Bench.Run("/d/sf0.01", "4", Map("q_a" -> 1.0), Nil, Nil, Nil,
      Map("q_a" -> 1), Map.empty, Set.empty, budgetHit = false,
      repCutHit = false, wallHit = false, wallSec = 1.0)
    val official = Seq("bench_detail.json", "floor_evidence_auto.json",
      "bench_floor.json", "bench_line.json")
    assert(Bench.render(run, o, official = false)._2.map(_._1) ==
      official.map(_.replace(".json", "_dev.json")))
    assert(Bench.render(run, o, official = true)._2.map(_._1) == official)
  }

  test("adjudicate: a carried suspect is probed first and re-pinned on " +
      "tight >1.3x reps, or deferred and carried again past the wall") {
    val prev = Bench.FloorFile(Map("q_s" -> 1.0), 0, Seq("q_s"), Nil)
    def run(wallLeft: Boolean) = Bench.adjudicate(Map("q_s" -> Seq(1.0)),
      prev, Set("q_s"), official = false, errors = 0, wallHit = false,
      rebaseRequested = false, (_, _) => Seq(1.5, 1.55, 1.6),
      () => wallLeft)
    val repinned = run(wallLeft = true)
    assert(repinned.verdicts.entries.map(_.verdict) == Seq("suspect_repinned"))
    assert(repinned.floors == Map("q_s" -> 1.5))
    assert(repinned.verdicts.carried.isEmpty)
    val deferred = run(wallLeft = false)
    assert(deferred.verdicts.carried == Set("q_s"))
    assert(deferred.floors == Map("q_s" -> 1.0))
  }

  test("replay: the 110 adjudications recorded under the current verdict " +
      "rules reproduce through judgeMovers, except q_salted_agg (its " +
      "evidence rounds reps to 3 decimals, and 1.102/0.468 = 2.3547 sits " +
      "within rounding of its class-fresh bound 1.5 x 1.57 = 2.355)") {
    // floor_evidence_r15.json predates these rules (no spread_threshold
    // or suspect_query keys) and is left out
    val mapper = new ObjectMapper()
    val replayed = Seq("floor_evidence_auto.json",
        "floor_evidence_r16_rebase.json").flatMap { f =>
      val ev = mapper.readTree(new java.io.File(f))
      def num(k: String) = ev.get(k).asDouble
      val recorded = ev.get("adjudications").asScala.toSeq
      def byQuery[T](v: com.fasterxml.jackson.databind.JsonNode => T) =
        recorded.map(a => a.get("query").asText -> v(a)).toMap
      val reps = byQuery(_.get("fresh_reps").asScala.map(_.asDouble).toSeq)
      // the breadth probe returns the first recorded rep, an escalation
      // the rest; each call's rep count is kept to compare
      var calls = Map.empty[String, Seq[Int]]
      val probe = (n: String, want: Int) => {
        val before = calls.getOrElse(n, Nil)
        calls += n -> (before :+ want)
        if (before.isEmpty) reps(n).take(1) else reps(n).drop(1)
      }
      val drifts = Bench.Drifts(math.max(num("suite_drift"),
        num("probe_drift")), num("stream_drift"), num("micro_drift"),
        ev.get("window_degraded").asBoolean)
      val got = Bench.judgeMovers(drifts,
        byQuery(_.get("prev_floor").asDouble),
        byQuery(_.get("in_suite_ratio").asDouble), Nil, reps.keySet,
        Bench.Sentinels(None, None, None, None), probe, () => true)
      assert(got.map(_.query) == recorded.map(_.get("query").asText))
      got.zip(recorded).map { case (g, r) =>
        val n = g.query
        val sameCalls = calls(n) ==
          (1 +: (if (reps(n).size > 1) Seq(reps(n).size - 1) else Nil))
        n -> (sameCalls &&
          mapper.readTree(Bench.json(g.obj)).toString == r.toString)
      }
    }
    assert(replayed.size == 110)
    assert(replayed.collect { case (n, false) => n } == Seq("q_salted_agg"))
  }
}
