package graft

/** The r15 artifact gate: a host-degraded bench run must self-describe
  * (`host_degraded` + culprit pass) and must be UNABLE to overwrite a
  * previous clean full-bench artifact. The r15 driver record —
  * pass totals [112.0, 621.3, 112.8, 206.9] — is the pinned fixture.
  */
class BenchGateSpec extends SparkSuite {

  test("the r15 degraded run is flagged with its culprit pass") {
    val (degraded, culprit) =
      Bench.degradedVerdict(Seq(112.0, 621.3, 112.8, 206.9))
    // best-3 = [112.0, 112.8, 206.9] -> spread 84.7% > 15%
    assert(degraded)
    assert(culprit == 2) // the 621.3 s pass
  }

  test("a quiet run is clean and names no culprit") {
    val (degraded, culprit) =
      Bench.degradedVerdict(Seq(57.8, 56.3, 58.2))
    assert(!degraded && culprit == -1)
  }

  test("one outlier pass above a tight best-3 is culprit-named but not degraded") {
    // the designed-for case: the >10% trigger bought a 4th pass and
    // the engine reproduces itself once the noise pass is set aside
    val (degraded, culprit) =
      Bench.degradedVerdict(Seq(56.0, 90.0, 57.0, 56.5))
    assert(!degraded)
    assert(culprit == 2)
  }

  test("degenerate inputs never flag") {
    assert(Bench.degradedVerdict(Seq(57.0)) == (false, -1))
    assert(Bench.degradedVerdict(Seq.empty) == (false, -1))
    assert(Bench.degradedVerdict(Seq(0.0, 0.0, 0.0)) == (false, -1))
  }

  test("a degraded run cannot overwrite a clean prior artifact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gate")
    val out = dir.resolve("bench_full.json").toString
    // no prior artifact: degraded may claim the path (self-describing)
    assert(Bench.artifactTarget(out, degraded = true) == out)
    // clean prior: a degraded run is diverted
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      """{"total_min":57.1,"host_degraded":false}""")
    assert(Bench.artifactTarget(out, degraded = true) == out + ".degraded")
    // a clean run always lands on the canonical path
    assert(Bench.artifactTarget(out, degraded = false) == out)
    // degraded prior: a degraded rerun may overwrite it
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      """{"total_min":457.1,"host_degraded":true}""")
    assert(Bench.artifactTarget(out, degraded = true) == out)
    // and a pre-gate legacy artifact (no field at all) counts as clean
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      """{"total_min":57.1}""")
    assert(Bench.artifactTarget(out, degraded = true) == out + ".degraded")
    // fail CLOSED: an existing-but-unreadable prior diverts too (a
    // read hiccup must never let a degraded run destroy a record)
    val locked = dir.resolve("unreadable").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(locked))
    assert(Bench.artifactTarget(locked, degraded = true)
      == locked + ".degraded")
  }

  test("r16's 152.3%-spread streaming mean is flagged and falls back") {
    // the r16 final run: st_append_fullvolume_mean 30.9 ms published
    // headline-quotable off a 152.3% spread across its 3 runs, while
    // the clean 215-query close had measured 41.8 ms at 1.9% spread
    val measured = Map(
      "st_append_fullvolume_mean" -> 0.0309,
      "st_append_fullvolume_mean_spread_pct" -> 152.3,
      "st_update_earliest_fullvolume_mean" -> 0.0345,
      "st_update_earliest_fullvolume_mean_spread_pct" -> 5.4,
      "st_fullvolume_runs" -> 3.0)
    val prior = Some(
      """{"streaming":{"st_append_fullvolume_mean":0.0418,
        |"st_append_fullvolume_mean_degraded":0,
        |"st_update_earliest_fullvolume_mean":0.049}}""".stripMargin)
    val g = Bench.gateStreaming(measured, prior)
    // noisy metric: flagged, measured value kept visible, headline
    // falls back to the prior clean 41.8 ms
    assert(g("st_append_fullvolume_mean_degraded") == 1.0)
    assert(g("st_append_fullvolume_mean_measured") == 0.0309)
    assert(g("st_append_fullvolume_mean") == 0.0418)
    // quiet metric: untouched, explicitly clean
    assert(g("st_update_earliest_fullvolume_mean_degraded") == 0.0)
    assert(g("st_update_earliest_fullvolume_mean") == 0.0345)
    assert(!g.contains("st_update_earliest_fullvolume_mean_measured"))
    // keys without a published spread are never gated
    assert(!g.contains("st_fullvolume_runs_degraded"))
  }

  test("a degraded or unproven prior value is never used as fallback") {
    val measured = Map(
      "st_append_fullvolume_mean" -> 0.0309,
      "st_append_fullvolume_mean_spread_pct" -> 152.3)
    val degradedPrior = Some(
      """{"st_append_fullvolume_mean":0.0301,
        |"st_append_fullvolume_mean_degraded":1}""".stripMargin)
    val g = Bench.gateStreaming(measured, degradedPrior)
    assert(g("st_append_fullvolume_mean_degraded") == 1.0)
    // no clean prior -> the measured value stands, flagged not hidden
    assert(g("st_append_fullvolume_mean") == 0.0309)
    // and with no prior at all, same behavior
    val g2 = Bench.gateStreaming(measured, None)
    assert(g2("st_append_fullvolume_mean") == 0.0309 &&
      g2("st_append_fullvolume_mean_degraded") == 1.0)
    // a PRE-GATE legacy prior (value present, no _degraded flag) is
    // refused too: the first in-vivo firing fell back to r16's legacy
    // 30.9 ms — a number that itself shipped off a 152.3% spread.
    // "Assumed clean" is not clean; fallback needs an explicit 0.
    val legacyPrior = Some("""{"st_append_fullvolume_mean":0.0309}""")
    val g3 = Bench.gateStreaming(measured, legacyPrior)
    assert(g3("st_append_fullvolume_mean") == 0.0309 &&
      g3("st_append_fullvolume_mean_degraded") == 1.0 &&
      g3("st_append_fullvolume_mean_measured") == 0.0309)
    assert(Bench.cleanPriorMetric(legacyPrior,
      "st_append_fullvolume_mean").isEmpty)
  }

  test("a spread exactly on the 25% bar is clean (bar is exclusive)") {
    val g = Bench.gateStreaming(Map(
      "st_append_fullvolume_mean" -> 0.042,
      "st_append_fullvolume_mean_spread_pct" -> 25.0), None)
    assert(g("st_append_fullvolume_mean_degraded") == 0.0)
    assert(g("st_append_fullvolume_mean") == 0.042)
  }

  test("cleanPriorMetric parses the artifact's number formats") {
    val txt = Some(
      """{"a_mean":0.0418,"a_mean_degraded":0,
        |"b_mean":-1.0,"b_mean_degraded":0.0,
        |"c_mean":3.0E-4,"c_mean_degraded":0,
        |"d_mean":12,"d_mean_degraded":0}""".stripMargin)
    assert(Bench.cleanPriorMetric(txt, "a_mean").contains(0.0418))
    assert(Bench.cleanPriorMetric(txt, "b_mean").contains(-1.0))
    assert(Bench.cleanPriorMetric(txt, "c_mean").contains(3.0e-4))
    assert(Bench.cleanPriorMetric(txt, "d_mean").contains(12.0))
    assert(Bench.cleanPriorMetric(txt, "missing").isEmpty)
    assert(Bench.cleanPriorMetric(None, "a_mean").isEmpty)
  }

  test("cleanPriorMetric is anchored to the streaming object (r17 advice)") {
    // a key echoed OUTSIDE the streaming map (a headline copy earlier
    // in the file) must not shadow the authoritative streaming value —
    // whole-file first-match would return 0.99 here
    val echoed = Some(
      """{"a_mean":0.99,"a_mean_degraded":0,
        |"streaming":{"a_mean":0.0418,"a_mean_degraded":0,
        |"b_mean":0.05,"b_mean_degraded":1}}""".stripMargin)
    assert(Bench.cleanPriorMetric(echoed, "a_mean").contains(0.0418))
    // the streaming object is AUTHORITATIVE, not a first preference: a
    // degraded-in-streaming key is refused even if a clean-looking
    // echo exists outside
    assert(Bench.cleanPriorMetric(echoed, "b_mean").isEmpty)
    // legacy artifact with no streaming object: whole-text fallback
    val legacy = Some("""{"a_mean":0.0418,"a_mean_degraded":0}""")
    assert(Bench.cleanPriorMetric(legacy, "a_mean").contains(0.0418))
    // unbalanced streaming object (truncated artifact): fallback too
    val truncated = Some("""{"streaming":{"a_mean":0.0418,"a_mean_degraded":0""")
    assert(Bench.streamingObject(truncated.get).isEmpty)
    assert(Bench.cleanPriorMetric(truncated, "a_mean").contains(0.0418))
  }

  test("streamingObject is anchored and string-safe (r18 advice #3)") {
    // a '{' inside an EARLIER string value must not mis-anchor the
    // scope to an unrelated object — the brace must immediately
    // follow the key's ':'
    val decoy =
      """{"note":"streaming","other":{"x":1},
        |"streaming":{"a_mean":0.5,"a_mean_degraded":0}}""".stripMargin
    assert(Bench.streamingObject(decoy)
      .contains("""{"a_mean":0.5,"a_mean_degraded":0}"""))
    // a non-object streaming field anchors nothing (legacy fallback)
    assert(Bench.streamingObject("""{"streaming":"none","a":1}""").isEmpty)
    // braces INSIDE string values within the object must not
    // unbalance the count (query names, escaped quotes)
    val braced =
      """{"streaming":{"worst":"q_{brace}","msg":"say \"}\"","a_mean":2.0}}"""
    assert(Bench.streamingObject(braced)
      .contains("""{"worst":"q_{brace}","msg":"say \"}\"","a_mean":2.0}"""))
  }

  test("published best-3 spread and the verdict share one definition") {
    val r15 = Seq(112.0, 621.3, 112.8, 206.9)
    // best-3 = [112.0, 112.8, 206.9] -> (206.9-112.0)/112.0 = 84.73%
    assert(math.abs(Bench.best3SpreadPct(r15) - 84.73) < 0.01)
    assert(Bench.best3SpreadPct(Seq(57.0)) == -1.0)
    assert(Bench.best3SpreadPct(Seq.empty) == -1.0)
    // the all-pass spread behind pass_spread_pct and culprit_pass:
    // (621.3-112.0)/112.0 = 454.73%
    assert(math.abs(Bench.passSpreadPct(r15) - 454.73) < 0.01)
    assert(Bench.passSpreadPct(Seq(57.0)) == -1.0)
    assert(Bench.passSpreadPct(Seq(0.0, 57.0)) == -1.0)
    for (totals <- Seq(r15, Seq(100.0, 105.0, 109.0), Seq(100.0, 111.0),
        Seq(100.0, 100.0, 110.0), Seq(57.0)))
      assert((Bench.degradedVerdict(totals)._2 > 0) ==
        (Bench.passSpreadPct(totals) > 10.0), totals)
  }

  test("streamingAtVolume emits exactly the fullvolume and 10x keys " +
      "that gateStreaming and the headline read") {
    assert(Bench.referenceBatchSizes(1).size == 639)
    assert(Bench.referenceBatchSizes(1).sum == 10000)
    assert(Bench.referenceBatchSizes(10).sum == 100000)
    def expected(l: String): Set[String] = Set(
      s"st_append_${l}_mean", s"st_append_${l}_mean_spread_pct",
      s"st_append_${l}_median", s"st_append_${l}_triggers",
      s"st_append_${l}_p95", s"st_append_${l}_p99",
      s"st_update_earliest_${l}_mean",
      s"st_update_earliest_${l}_mean_spread_pct",
      s"st_update_earliest_${l}_median",
      s"st_update_earliest_${l}_p95", s"st_update_earliest_${l}_p99",
      s"st_${l}_epoch0_replay_sec", s"st_${l}_epoch0_replay_sec_spread_pct",
      s"st_${l}_runs", s"st_${l}_msgs", s"st_${l}_backlog_rows")
    for (label <- Seq("fullvolume", "10x")) {
      val m = Bench.streamingAtVolume(spark, label, Seq(3, 2, 2),
        backlogRows = 20, runs = 2)
      assert(m.keySet == expected(label))
      assert(m(s"st_${label}_msgs") == 7.0)
      assert(m(s"st_${label}_runs") == 2.0)
      assert(m(s"st_${label}_backlog_rows") == 20.0)
      assert(m(s"st_append_${label}_mean") > 0.0)
      assert(m(s"st_${label}_epoch0_replay_sec") > 0.0)
      // the gate flags exactly the three spread-carrying metrics
      val added = Bench.gateStreaming(m, None).keySet -- m.keySet
      assert(added.filter(_.endsWith("_degraded")) == Set(
        s"st_append_${label}_mean_degraded",
        s"st_update_earliest_${label}_mean_degraded",
        s"st_${label}_epoch0_replay_sec_degraded"))
    }
  }
}
