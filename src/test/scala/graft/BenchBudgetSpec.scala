package graft

import org.scalatest.funsuite.AnyFunSuite

/** The r17 wall-clock-budget gate: BENCH_r17.json was rc 124 — the
  * driver killed the ~57-min bench on a loaded host, so round 17 had
  * no independent bench record at all. BenchBudget makes the record's
  * EXISTENCE robust the way the degraded gates made its QUALITY
  * robust: optional blocks are shed loudly (recorded in budget_shed)
  * in a fixed priority order — 10× streaming first, then extra/noisy
  * passes, then the warmup refinement — while the mandatory core
  * (timed passes, scale ratios, baseline-parity streaming, artifact
  * writes) always runs.
  *
  * r18 additions under test here: the baseline-parity streaming
  * blocks moved FIRST (directive #3, so nothing reserves for them),
  * the core gained ONE recorded degradation step (directive #2 —
  * pass 3 is dropped when elapsed crosses 80% of budget, as
  * `core_shed`), a degraded best-3 spread can buy a two-pass retry
  * within budget (directive #1b), and the load-aware start waits out
  * an ambient spike before the budget clock even starts (directive
  * #1a, `awaitQuietHost`).
  *
  * The shed order is enforced by what each gate RESERVES (mandatory
  * remainder only, never a lower-priority optional block), so this
  * spec drives a fake-clock simulation of Bench.main's exact gate
  * sequence and pins which blocks survive at each budget level.
  */
class BenchBudgetSpec extends AnyFunSuite {

  test("GRAFT_BENCH_BUDGET_SEC is validated, clamped, and defaulted") {
    def env(v: String) = Map("GRAFT_BENCH_BUDGET_SEC" -> v)
    assert(BenchBudget.fromEnv(Map.empty) == 2400.0)
    // garbage must not crash the bench (the ABPanel .toInt lesson)
    assert(BenchBudget.fromEnv(env("soon")) == 2400.0)
    assert(BenchBudget.fromEnv(env("")) == 2400.0)
    assert(BenchBudget.fromEnv(env("900")) == 900.0)
    assert(BenchBudget.fromEnv(env("1e4")) == 10000.0)
    // zero/negative/absurdly small would shed everything and produce a
    // nonsense record — clamped to the 300 s floor
    assert(BenchBudget.fromEnv(env("0")) == 300.0)
    assert(BenchBudget.fromEnv(env("-5")) == 300.0)
    assert(BenchBudget.fromEnv(env("60")) == 300.0)
  }

  test("allow() sheds once, reports via onShed, and never un-sheds") {
    var now = 0L
    val shedEvents = scala.collection.mutable.ArrayBuffer
      .empty[(String, Double)]
    val b = new BenchBudget(100.0, () => now,
      (blk, rem) => shedEvents += ((blk, rem)))
    assert(b.allow("a", 50.0, 40.0)) // 90 <= 100 fits
    assert(!b.allow("b", 50.0, 60.0)) // 110 > 100
    assert(!b.allow("b", 50.0, 60.0)) // asked again: still refused...
    assert(b.shed == Seq("b")) // ...but recorded and reported ONCE
    assert(shedEvents == Seq(("b", 100.0)))
    now = (80 * 1e9).toLong
    assert(b.remainingSec == 20.0 && b.elapsedSec == 80.0)
    assert(!b.allow("c", 30.0))
    assert(b.shed == Seq("b", "c"))
  }

  /** Bench.main's gate sequence with a fake clock: same block names,
    * same cost estimates and mandatory reserves (pass ≈ 100 s — the
    * sf0.1 catalog's measured scale — streaming-first mandatory 480 s,
    * twins 90 s, 10× 240 s, artifact margin 60 s).
    * Returns (budget_shed, core_shed). Mandatory blocks always advance
    * the clock — the simulation cannot "save" them, exactly like main.
    * `retryNeeded` emulates a degraded best-3 verdict after the
    * passes. */
  private def driveGates(budgetSec: Double, passSec: Double = 100.0,
      retryNeeded: Boolean = false): (Seq[String], Seq[String]) = {
    var now = 0L
    def advance(sec: Double): Unit = now += (sec * 1e9).toLong
    val b = new BenchBudget(budgetSec, () => now)
    val coreShed = scala.collection.mutable.ArrayBuffer.empty[String]
    advance(60.0) // sf0.001 warmup (mandatory)
    advance(480.0) // streaming warm + A/B N=5 + full-volume N=5
    // (mandatory, runs FIRST — r18 directive #3)
    if (b.allow("st_twins", 90.0, 60.0)) advance(90.0)
    advance(passSec) // first target warm pass (mandatory)
    if (b.allow("warmup_refinement", passSec, 4 * passSec + 60.0))
      advance(passSec)
    advance(2 * passSec) // timed passes 1-2 (mandatory, the 2-pass floor)
    // the core-shed lever (r18 directive #2): pass 3 only while under
    // 80% of budget
    if (b.elapsedSec <= 0.8 * budgetSec) advance(passSec)
    else coreShed += "pass3"
    // the 4th pass is only reachable off a full 3-pass spread
    if (coreShed.isEmpty && b.allow("extra_pass", passSec, passSec + 60.0))
      advance(passSec)
    if (retryNeeded && b.allow("degraded_retry", 2 * passSec,
        passSec + 60.0))
      advance(2 * passSec)
    if (b.allow("noisy_repass", 0.2 * passSec, passSec + 60.0))
      advance(0.2 * passSec)
    advance(passSec) // scale-ratio mid+small passes (mandatory)
    if (b.allow("streaming_10x", 240.0, 60.0)) advance(240.0)
    (b.shed, coreShed.toSeq)
  }

  test("a generous budget sheds nothing") {
    assert(driveGates(3600.0) == ((Nil, Nil)))
  }

  test("then the 10x streaming volume") {
    // first to starve as the budget tightens: reserved by nothing
    assert(driveGates(1500.0) == ((Seq("streaming_10x"), Nil)))
  }

  test("then the refinements — while the timed core stays whole") {
    val (shed, coreShed) = driveGates(1200.0)
    assert(shed == Seq("warmup_refinement", "extra_pass", "noisy_repass",
      "streaming_10x"))
    // everything optional gave ground; the 3 timed passes did not
    assert(coreShed.isEmpty)
  }

  test("at the clamp floor the core itself degrades loudly, last") {
    val (shed, coreShed) = driveGates(BenchBudget.MinBudgetSec)
    // extra_pass is absent by construction: with pass 3 core-shed
    // there is no 3-pass spread to trigger it, so its gate is never
    // asked — refusal lists carry only decisions that were actually
    // faced
    assert(shed == Seq("st_twins", "warmup_refinement", "noisy_repass",
      "streaming_10x"))
    assert(coreShed == Seq("pass3"))
  }

  test("the default budget completes everything on a quiet host") {
    // 2400 s at the measured ~100 s/pass: the whole chain fits — the
    // budget only ever bites when the host misbehaves
    assert(driveGates(BenchBudget.DefaultBudgetSec) == ((Nil, Nil)))
  }

  test("on a loaded host the default budget still sheds nothing") {
    // 1.6× pass cost (the documented load-spike regime): the official
    // record keeps the timed passes, both streaming volume points and
    // the refinements
    assert(driveGates(BenchBudget.DefaultBudgetSec, passSec = 160.0)
      == ((Nil, Nil)))
  }

  test("r18's 5x-pass spike no longer overruns: the core sheds pass 3") {
    // the r18 official run's failure mode (directive #2): every
    // optional block shed, yet the mandatory passes under the spike
    // overran a 2400 s budget by 36%. At a simulated 5× pass cost the
    // core now drops its third pass at the 80% mark — recorded, not
    // silent — instead of running to an rc-124 horizon.
    val (shed, coreShed) =
      driveGates(BenchBudget.DefaultBudgetSec, passSec = 500.0)
    assert(coreShed == Seq("pass3"))
    assert(shed.contains("warmup_refinement") &&
      shed.contains("streaming_10x"))
  }

  test("a degraded verdict buys a two-pass retry when the budget fits") {
    // directive #1b: on the default budget the retry runs and nothing
    // starves
    assert(driveGates(BenchBudget.DefaultBudgetSec, retryNeeded = true)
      == ((Nil, Nil)))
    // under a tight budget the retry itself is refused, loudly
    val (shed, _) = driveGates(1400.0, retryNeeded = true)
    assert(shed.contains("degraded_retry"))
  }

  // --- the load-aware start (directive #1a) ---

  private def quietArgs(loads: Iterator[Double], maxWait: Double = 600.0) = {
    var now = 0L
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Double]
    val res = Bench.awaitQuietHost(maxWait, 2.0, 15.0,
      () => if (loads.hasNext) Some(loads.next()) else None,
      s => { sleeps += s; now += (s * 1e9).toLong },
      () => now)
    (res, sleeps.toSeq)
  }

  test("a quiet or sensorless host starts immediately — zero wait") {
    val ((w, f, l), sleeps) = quietArgs(Iterator(0.5))
    assert(w == 0.0 && f == 0.5 && l == 0.5 && sleeps.isEmpty)
    // no /proc/loadavg (non-Linux): proceed, never stall
    val ((w2, f2, _), sleeps2) = quietArgs(Iterator.empty)
    assert(w2 == 0.0 && f2 == -1.0 && sleeps2.isEmpty)
  }

  test("a decaying spike is waited out until below-bar AND falling") {
    // 9.9 → 6 → 3 → 1.9 → 1.7: quiet needs TWO consecutive below-bar
    // samples with the second falling-or-flat
    val ((w, f, l), sleeps) =
      quietArgs(Iterator(9.9, 6.0, 3.0, 1.9, 1.7))
    assert(f == 9.9 && l == 1.7 && w == 60.0 && sleeps.size == 4)
  }

  test("below the bar but RISING is not quiet — the spike is inbound") {
    // 3 → 1.5 → 1.8 (rising .3 > the .1 jitter band) → 1.85 (flat)
    val ((w, _, l), _) = quietArgs(Iterator(3.0, 1.5, 1.8, 1.85))
    assert(l == 1.85 && w == 45.0)
  }

  test("the wait is bounded: a sustained spike times out and proceeds") {
    val ((w, f, l), sleeps) =
      quietArgs(Iterator.continually(9.9), maxWait = 60.0)
    assert(w == 60.0 && f == 9.9 && l == 9.9 && sleeps.size == 4)
  }
}
