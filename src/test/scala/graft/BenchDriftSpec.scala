package graft

import org.scalatest.funsuite.AnyFunSuite

/** The drift gate's decision logic (round-16 instrument) is pure — pin it
  * without forking JVMs: flat-JSON extraction against the real envelope
  * and floors-file shapes, mover selection (ratio, cap, worst-first,
  * no-floor-no-mover), and the unresolved-drift adjudication (fresh JVM
  * heals vs fails to heal).
  */
class BenchDriftSpec extends AnyFunSuite {

  /** The original r16 gate: one tier, 3x the floor and 0.75 s over it. */
  private val OneTier = Seq((3.0, 0.75))

  test("extractObj pulls the flat object after the key, first brace closes") {
    val env = """{"metric":"total","queries":{"q_a":1.5,"q_b":0.25},""" +
      """"queries_median":{"q_a":2.0,"q_b":0.30},"cal_per_query":{"q_a":0.02}}"""
    assert(BenchDrift.parseNumMap(BenchDrift.extractObj(env, "queries")) ===
      Map("q_a" -> 1.5, "q_b" -> 0.25))
    // the LATER maps must not bleed in (the bug a greedy regex over the
    // whole envelope would have)
    assert(BenchDrift.parseNumMap(BenchDrift.extractObj(env, "queries_median")) ===
      Map("q_a" -> 2.0, "q_b" -> 0.30))
    assert(BenchDrift.extractObj(env, "absent") === "")
    assert(BenchDrift.parseNumMap("") === Map.empty)
  }

  test("extractObj handles the floors file with a _meta object before floors") {
    val f = """{"_meta":{"drift_ratio":3.0,"note":"text with q_fake 9.9"},""" +
      """"floors":{"q_x":0.5,"q_y":1.25}}"""
    assert(BenchDrift.parseNumMap(BenchDrift.extractObj(f, "floors")) ===
      Map("q_x" -> 0.5, "q_y" -> 1.25))
  }

  test("selectMovers: ratio gate, worst-excess-first ordering, cap, no floor = no mover") {
    val mins = Seq("q_a" -> 9.0, "q_b" -> 0.9, "q_c" -> 50.0, "q_new" -> 99.0)
    val floors = Map("q_a" -> 1.0, "q_b" -> 1.0, "q_c" -> 1.0) // q_new: none
    val m = BenchDrift.selectMoversTiered(mins, floors, OneTier, cap = 8)
    assert(m === Seq("q_c" -> 50.0, "q_a" -> 9.0)) // b under 3x; new skipped
    assert(BenchDrift.selectMoversTiered(mins, floors, OneTier, cap = 1) ===
      Seq("q_c" -> 50.0))
    // a zero/negative floor can never gate (guards a corrupt floors file)
    assert(BenchDrift.selectMoversTiered(Seq("q_z" -> 5.0), Map("q_z" -> 0.0),
      OneTier, 8) === Nil)
  }

  test("absolute guard: sub-second jitter over 3x ratio never trips the gate") {
    // a 0.14s query seen at 0.44s is 3.1x but only +0.3s — scheduling
    // noise, not the multi-second outlier class (q_join_left_outer, r16)
    val floors = Map("q_small" -> 0.14, "q_big" -> 0.5)
    assert(BenchDrift.selectMoversTiered(Seq("q_small" -> 0.44), floors, OneTier, 8)
      === Nil)
    // q_knn_quantized's real r15 outlier clears both bars
    assert(BenchDrift.selectMoversTiered(Seq("q_big" -> 4.43), floors, OneTier, 8)
      === Seq("q_big" -> 4.43))
    // same guard on the adjudication side
    assert(BenchDrift.unresolvedTiered(Seq("q_small" -> 0.44), Map.empty,
      floors, OneTier) === Nil)
    assert(BenchDrift.unresolvedTiered(Seq("q_big" -> 4.43), Map.empty,
      floors, OneTier) === Seq(("q_big", 4.43, 0.5)))
  }

  test("unresolved: fresh JVM heals below ratio x floor; failure to heal stays listed") {
    val movers = Seq("q_a" -> 9.0, "q_b" -> 9.0, "q_c" -> 9.0)
    val floors = Map("q_a" -> 1.0, "q_b" -> 1.0, "q_c" -> 1.0)
    // a: healed to 0.5; b: fresh still high; c: no fresh result at all
    val fresh = Map("q_a" -> 0.5, "q_b" -> 8.0)
    val out = BenchDrift.unresolvedTiered(movers, fresh, floors, OneTier)
    assert(out === Seq(("q_b", 8.0, 1.0), ("q_c", 9.0, 1.0)))
    // min over both JVMs: a fresh rep can only improve the published min
    assert(BenchDrift.unresolvedTiered(Seq("q_d" -> 4.0), Map("q_d" -> 7.0),
      Map("q_d" -> 1.0), OneTier) === Seq(("q_d", 4.0, 1.0)))
  }

  test("no silent cap: over-ratio queries beyond the retry cap still adjudicate as drifted") {
    // Bench takes movers = selectMoversTiered(..., cap) for the fresh-JVM
    // retry but feeds the UNCAPPED over-ratio list to unresolvedTiered() — overflow
    // queries land in `drifted` with their battery min
    val mins = (1 to 12).map(i => (s"q_$i", 10.0 + i))
    val floors = mins.map { case (k, _) => k -> 1.0 }.toMap
    val overRatio = BenchDrift.selectMoversTiered(mins, floors, OneTier, Int.MaxValue)
    assert(overRatio.size === 12)
    val movers = overRatio.take(8)
    // fresh JVM heals only the retried 8; the other 4 must still be listed
    val fresh = movers.map { case (k, _) => k -> 0.5 }.toMap
    val drifted = BenchDrift.unresolvedTiered(overRatio, fresh, floors, OneTier)
    assert(drifted.map(_._1).toSet ===
      overRatio.drop(8).map(_._1).toSet)
  }

  test("extractObj anchors on the literal key:{ shape — an escaped error " +
      "string before queries cannot mis-anchor (r17 ADVICE)") {
    // the fresh-JVM envelope puts `errors` BEFORE `queries`; the escaped
    // message here contains both the word queries and a bare '{'
    val env = """{"metric":"total","errors":{"q_bad":"parse \"queries\" at {pos 3}"},""" +
      """"queries":{"q_a":1.5,"q_b":0.25}}"""
    assert(BenchDrift.parseNumMap(BenchDrift.extractObj(env, "queries")) ===
      Map("q_a" -> 1.5, "q_b" -> 0.25))
  }

  test("mid-band tier: the q_knn_wide class (1.75-3x, multi-second) is a " +
      "mover; both committed tiers pinned") {
    assert(BenchDrift.DefaultTiers === Seq((3.0, 0.75), (1.75, 1.0)))
    val tiers = BenchDrift.DefaultTiers
    val floors = Map("q_knn_wide" -> 4.22, "q_small" -> 0.5, "q_big" -> 0.5)
    // r16's exact escape: 11.1 s vs 4.22 floor = 2.64x — invisible to the
    // 3x bar, caught by the 1.75x AND >1.0s-absolute mid band
    assert(BenchDrift.selectMoversTiered(Seq("q_knn_wide" -> 11.125),
      floors, tiers, 12) === Seq("q_knn_wide" -> 11.125))
    // a small query at 2x floor (+0.5s) trips NEITHER tier — the mid band
    // has its own 1.0s absolute guard so jitter stays out
    assert(BenchDrift.selectMoversTiered(Seq("q_small" -> 1.0),
      floors, tiers, 12) === Nil)
    // catastrophe tier unchanged: 3x and +0.75s still fires
    assert(BenchDrift.selectMoversTiered(Seq("q_big" -> 4.43),
      floors, tiers, 12) === Seq("q_big" -> 4.43))
    // adjudication uses the same tiers: an unhealed mid-band mover lands
    // in drifted; a healed one leaves
    assert(BenchDrift.unresolvedTiered(Seq("q_knn_wide" -> 11.125),
      Map.empty, floors, tiers) === Seq(("q_knn_wide", 11.125, 4.22)))
    assert(BenchDrift.unresolvedTiered(Seq("q_knn_wide" -> 11.125),
      Map("q_knn_wide" -> 4.23), floors, tiers) === Nil)
  }

  test("recovery subset: floorless queries always re-measure; then " +
      ">1.5x floor and >0.15s excess, biggest absolute excess first, capped") {
    val floors = Map("q_a" -> 1.0, "q_b" -> 0.2, "q_c" -> 2.0, "q_d" -> 0.1)
    val mins = Seq(
      "q_a" -> 1.4,  // 1.4x — under ratio, out
      "q_b" -> 0.32, // 1.6x but +0.12s — under the absolute bar, out
      "q_c" -> 7.0,  // 3.5x, +5.0s — in, biggest excess
      "q_d" -> 0.5,  // 5x, +0.4s — in
      "q_new" -> 9.0) // NO floor — nothing can prove its contaminated
                      // reading sane, so it re-measures unconditionally
                      // (else the clean stamp publishes it and gen_floors
                      // bakes the poisoned number in as its floor)
    assert(BenchDrift.recoverySubset(mins, floors, 1.5, 0.15, 48) ===
      Seq("q_new", "q_c", "q_d"))
    assert(BenchDrift.recoverySubset(mins, floors, 1.5, 0.15, 2) ===
      Seq("q_new", "q_c"))
    // a zero/negative floor counts as floorless (corrupt floors guard)
    assert(BenchDrift.recoverySubset(Seq("q_z" -> 0.3),
      Map("q_z" -> 0.0), 1.5, 0.15, 48) === Seq("q_z"))
  }

  test("cooldown: waits out transient load, bounded tries, reports sleeps") {
    // poisoned box that quiets on the third reading
    val readings = Iterator(0.9, 0.8, 0.25)
    var sleeps = 0
    val (last, tries) = BenchDrift.cooldownUntilQuiet(
      () => readings.next(), gate = 0.287, maxTries = 10, () => sleeps += 1)
    assert(last === 0.25 && tries === 2 && sleeps === 2)
    // box that never quiets: gives up after maxTries sleeps
    val (last2, tries2) = BenchDrift.cooldownUntilQuiet(
      () => 0.9, gate = 0.287, maxTries = 3, () => ())
    assert(last2 === 0.9 && tries2 === 3)
  }

  test("envelopeClean reads the subset JVM's own sentinels") {
    val clean = """{"metric":"total","calibration_sec":{"pre":0.24,"mid":0.25,"post":0.26},"queries":{"q_a":1.0}}"""
    val dirty = """{"metric":"total","calibration_sec":{"pre":0.24,"mid":0.55,"post":0.26},"queries":{"q_a":1.0}}"""
    assert(BenchDrift.envelopeClean(clean, 0.287))
    assert(!BenchDrift.envelopeClean(dirty, 0.287))
    assert(!BenchDrift.envelopeClean("""{"queries":{"q_a":1.0}}""", 0.287),
      "an envelope without sentinels is never trusted")
  }

  test("poisoned-box e2e: the final artifact is clean after recovery, or " +
      "carries the explicit unresolved stamp") {
    val calGate = 1.2 * 0.239
    // --- path 1: box quiets, subset re-measures clean -> artifact CLEAN
    val readings = Iterator(0.8, 0.3, 0.21)
    val (c1, _) = BenchDrift.cooldownUntilQuiet(() => readings.next(),
      calGate, 10, () => ())
    val quiet = c1 <= calGate
    assert(quiet)
    val floors = Map("q_hot" -> 0.5, "q_ok" -> 0.2)
    val subset = BenchDrift.recoverySubset(
      Seq("q_hot" -> 3.0, "q_ok" -> 0.21), floors, 1.5, 0.15, 48)
    assert(subset === Seq("q_hot"), "only the inflated query re-measures")
    val freshEnv = """{"calibration_sec":{"pre":0.24,"mid":0.24,"post":0.25},"queries":{"q_hot":0.52}}"""
    val subsetClean = BenchDrift.envelopeClean(freshEnv, calGate)
    assert(BenchDrift.finalVerdict(runContaminated = true, attempted = true,
      quiet = quiet, subsetClean = subsetClean) === ((false, false)),
      "recovered run publishes a clean artifact")
    // and the healed min is what merges into the published stats
    val fresh = BenchDrift.parseNumMap(
      BenchDrift.extractObj(freshEnv, "queries"))
    assert(fresh("q_hot") < 3.0)
    // --- path 2: box never quiets -> explicit unresolved stamp
    val (c2, _) = BenchDrift.cooldownUntilQuiet(() => 0.9, calGate, 10, () => ())
    assert(BenchDrift.finalVerdict(true, attempted = true,
      quiet = c2 <= calGate, subsetClean = false) === ((true, true)))
    // --- path 3: box quiets but the subset JVM itself ran dirty ->
    // unresolved (never trust a dirty re-measure)
    assert(BenchDrift.finalVerdict(true, attempted = true, quiet = true,
      subsetClean = false) === ((true, true)))
    // --- path 4: quiet box, NOTHING over the recovery bar -> the battery
    // mins already converged; clean
    assert(BenchDrift.recoverySubset(Seq("q_ok" -> 0.21), floors,
      1.5, 0.15, 48) === Nil)
    assert(BenchDrift.finalVerdict(true, attempted = true, quiet = true,
      subsetClean = true) === ((false, false)))
    // --- clean run / subset-mode run: verdict untouched
    assert(BenchDrift.finalVerdict(false, false, false, false) === ((false, false)))
    assert(BenchDrift.finalVerdict(true, attempted = false, false, false) ===
      ((true, false)))
  }

  test("the committed BENCH_FLOORS.json parses and covers the bench-era catalog") {
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get("BENCH_FLOORS.json"))
    val floors = BenchDrift.parseNumMap(BenchDrift.extractObj(txt, "floors"))
    assert(floors.size >= 250, s"only ${floors.size} floors parsed")
    assert(floors.values.forall(v => v > 0 && v < 60),
      "floors must be positive sub-minute seconds")
    // every floor names a query that still exists (stale floors are
    // harmless to the gate but signal a forgotten regeneration)
    val gone = floors.keySet.diff(SparkEntry.queries.keySet)
    assert(gone.isEmpty, s"floors for absent queries: $gone")
  }
}
