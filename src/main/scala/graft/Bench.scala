package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.tools.CatalogHarness

/** Benchmark main — runs every SparkEntry.queries entry against
  * SPARK_GRAFT_SF_DIR (min of three timed passes per query) and prints
  * JSON lines: one line per timed pass (per-query times + cumulative
  * janino-compile counters), the per-query min map, a THREE-point
  * scale-ratio check (sf/100, sf/10, sf), and LAST the headline line
  * carrying everything that must survive tail truncation: totals,
  * per-pass totals, codegen-compile counts, flagged queries, and the
  * 10 worst scale ratios by name.
  *
  * A warmup pass (untimed) absorbs session/codegen/parquet-footer init
  * so per-query numbers measure the queries, not JVM startup.
  *
  * Round-7 postmortem baked in here: BENCH_r07 showed a uniform ~+1 s
  * floor on untouched queries. Two JVM-wide mechanisms can produce
  * exactly that signature (uniform, persists through min-of-three,
  * worst on codegen-heavy plans):
  *  (a) Spark's generated-class cache is a 100-entry LRU
  *      (spark.sql.codegen.cache.maxEntries, StaticSQLConf); the
  *      catalog holds far more than 100 codegen units, so every pass
  *      janino-recompiles every stage inside its timed window. Fixed:
  *      maxEntries raised to 10000 in [[graft.tools.CatalogHarness]].
  *  (b) the JIT code cache (default 240m) fills mid-run after 8 catalog
  *      passes and HotSpot disables compilation for the rest of the
  *      JVM's life. Fixed: -XX:ReservedCodeCacheSize=1g in build.sbt.
  * The per-pass log lines + codegen counters printed below are the
  * evidence trail: flat pass totals and a near-zero compile delta on
  * passes 2..n mean both fixes hold; growing totals or thousands of
  * recompiles per pass point straight at the guilty mechanism.
  */
object Bench {

  /** Host-noise verdict over the timed target-SF pass totals (r15
    * verdict #2/#6 — BENCH_r15's driver run published pass totals
    * [112.0, 621.3, 112.8, 206.9] as a round record):
    *
    *  - `host_degraded`: true when the spread of the three FASTEST
    *    passes exceeds `barPct` (default 15%) — i.e. even after the
    *    >10% trigger bought a 4th pass and the single worst pass is
    *    set aside, the run does not reproduce itself. Such a run must
    *    not become a round's official record.
    *  - `culprit_pass`: the 1-based index of the slowest pass when the
    *    all-passes spread exceeds 10% — the one line a reader needs
    *    instead of diffing four per-pass maps; -1 when no pass stands
    *    out.
    */
  /** (max−min)/min percent spread of the three fastest totals — ONE
    * definition for the published `pass_spread_best3_pct` and the
    * `host_degraded` verdict derived from it, so they cannot
    * desynchronize. -1 on degenerate inputs.
    */
  def best3SpreadPct(passTotals: Seq[Double]): Double = {
    val best3 = passTotals.sorted.take(3)
    if (best3.size < 2 || best3.min <= 0) -1.0
    else (best3.max - best3.min) / best3.min * 100.0
  }

  def degradedVerdict(passTotals: Seq[Double],
      barPct: Double = 15.0): (Boolean, Int) = {
    val allSpread =
      if (passTotals.size < 2 || passTotals.min <= 0) -1.0
      else (passTotals.max - passTotals.min) / passTotals.min * 100.0
    val culprit =
      if (allSpread > 10.0) passTotals.indexOf(passTotals.max) + 1 else -1
    (best3SpreadPct(passTotals) > barPct, culprit)
  }

  /** Where the full bench artifact may be written: a degraded run is
    * NEVER allowed to overwrite a previous clean artifact — it lands at
    * `<out>.degraded` instead (r15 verdict #2: the artifact-writing
    * path itself must make publishing a >15%-best3 run as final
    * impossible, not just discouraged). A missing or itself-degraded
    * prior artifact may be overwritten — the new file carries
    * `"host_degraded":true` and self-describes.
    */
  def artifactTarget(out: String, degraded: Boolean): String = {
    if (!degraded) out
    else {
      val p = java.nio.file.Paths.get(out)
      // FAIL CLOSED: an existing-but-unreadable prior artifact is
      // treated as clean (divert), so a read hiccup can never let a
      // degraded run destroy a clean record (review finding, r16)
      val priorClean = java.nio.file.Files.exists(p) && {
        try !java.nio.file.Files.readString(p)
          .contains("\"host_degraded\":true")
        catch { case _: Throwable => true }
      }
      if (priorClean) out + ".degraded" else out
    }
  }

  /** Streaming-block degraded verdict (r16 verdict #2): the batch pass
    * totals are gate-protected above, but the baseline-parity streaming
    * numbers (BASELINE.md rows 1-4 — the reference's own headline
    * experiment) were not, and r16's final run published a 30.9 ms
    * headline mean off a **152.3%** run spread with no flag. For every
    * min-of-N streaming metric `k` whose run spread ships as
    * `k_spread_pct`: spread > `barPct` (25%) ⇒ the map gains
    * `k_degraded` = 1, this run's measurement moves to `k_measured`,
    * and the headline key `k` falls back to the prior CLEAN artifact's
    * value — so a noisy-host minimum can never become the quotable
    * number while the honest measurement stays published beside it. A
    * missing prior, or a prior that itself flagged `k` degraded, leaves
    * the measured value in place (flagged, not hidden). Spread ≤ bar ⇒
    * `k_degraded` = 0, value untouched.
    */
  def gateStreaming(m: Map[String, Double], priorJson: Option[String],
      barPct: Double = 25.0): Map[String, Double] = {
    val gated = m.keys.filter(k => m.contains(k + "_spread_pct"))
    gated.foldLeft(m) { (acc, k) =>
      if (m(k + "_spread_pct") <= barPct) acc + ((k + "_degraded") -> 0.0)
      else {
        val flagged = acc +
          ((k + "_degraded") -> 1.0) + ((k + "_measured") -> m(k))
        // a prior -1 failure sentinel is not a measurement — never a
        // fallback
        cleanPriorMetric(priorJson, k).filter(_ > 0) match {
          case Some(v) => flagged + (k -> v)
          case None    => flagged
        }
      }
    }
  }

  /** `"key":value` from a prior bench_full artifact — but ONLY when
    * that artifact EXPLICITLY marks the key clean (`<key>_degraded: 0`).
    * A degraded fallback chain must bottom out at a PROVEN-clean
    * measurement: a prior that flags the key degraded is refused, and
    * so is a pre-gate legacy artifact with no flag at all — the first
    * in-vivo firing of this gate (r17) fell back to r16's legacy
    * 30.9 ms append mean, the exact number the r16 verdict had called
    * headline-invalid (it shipped off a 152.3% spread before the gate
    * existed); "assumed clean" is not clean. Unreadable/absent prior ⇒
    * None (the measured value then stands, flagged).
    *
    * The search is ANCHORED to the artifact's `"streaming":{...}`
    * object when one exists (r17 advice #2: a whole-file first-match
    * would let a key echoed anywhere earlier — a headline copy, a
    * comment-like field — shadow the authoritative streaming-map
    * value); only a legacy artifact with no streaming object falls
    * back to whole-text search. */
  def cleanPriorMetric(priorJson: Option[String],
      key: String): Option[Double] = priorJson.flatMap { txt =>
    val scope = streamingObject(txt).getOrElse(txt)
    def num(k: String): Option[Double] = {
      val p = ("\"" + java.util.regex.Pattern.quote(k) +
        "\"\\s*:\\s*(-?[0-9][0-9.eE+-]*)").r
      p.findFirstMatchIn(scope).flatMap(m => m.group(1).toDoubleOption)
    }
    if (num(key + "_degraded").exists(_ <= 0.5)) num(key) else None
  }

  /** The balanced-brace `"streaming":{...}` object of a bench_full
    * artifact — the one authoritative home of the streaming metrics.
    * None when absent or unbalanced (then the caller's legacy
    * whole-text fallback applies).
    *
    * Two scanner rules (r18 advice #3 — the old first-'{'-after-key
    * scan was safe only against the current writer's output): the
    * opening brace must IMMEDIATELY follow the key's ':' (a
    * non-object `"streaming"` field, or a '{' inside some earlier
    * string value, anchors nothing), and brace counting skips quoted
    * strings — a '{' or '}' inside a string literal (a query named
    * after a brace, an escaped message) must not unbalance the
    * scope. */
  def streamingObject(txt: String): Option[String] = {
    "\"streaming\"\\s*:\\s*\\{".r.findFirstMatchIn(txt).flatMap { m =>
      val start = m.end - 1
      var depth = 0
      var j = start
      var end = -1
      var inStr = false
      while (j < txt.length && end < 0) {
        val c = txt.charAt(j)
        if (inStr) {
          if (c == '\\') j += 1 // the escaped char is part of the string
          else if (c == '"') inStr = false
        } else {
          if (c == '"') inStr = true
          else if (c == '{') depth += 1
          else if (c == '}') { depth -= 1; if (depth == 0) end = j }
        }
        j += 1
      }
      if (end > start) Some(txt.substring(start, end + 1)) else None
    }
  }

  /** 1-minute load average from /proc/loadavg; None where unreadable
    * (non-Linux, sandbox) — the caller must then proceed, never stall. */
  def readLoadAvg1(): Option[Double] = try {
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+").headOption.flatMap(_.toDoubleOption)
  } catch { case _: Throwable => None }

  /** Load-aware start (r18 directive #1a): BENCH_r18's official run
    * landed its first timed pass on a 9.9-load host spike (pass totals
    * [323.6, 94.8, 114.5] s) and the whole record was — correctly —
    * diverted as degraded. The fix is to not START measuring into a
    * spike: poll the 1-min load and wait, bounded by `maxWaitSec`,
    * until it is below `barLoad` AND not rising (the documented
    * spike-decay pattern on this host). Runs before any of THIS
    * process's Spark work, so the reading is the host as the timed
    * blocks will find it — honestly including whatever loadavg an
    * `sbt compile` immediately before launch left behind (loadavg
    * cannot attribute; waiting out a self-compile tail costs a couple
    * of bounded minutes and buys the streaming section a genuinely
    * settling host). A 32-thread catalog pass pins loadavg near the
    * core count for minutes after it ends, which is why this check
    * cannot be meaningfully re-run mid-bench (the degraded-retry arm
    * covers mid-run spikes instead).
    *
    * Returns (waitedSec, firstLoad, lastLoad); first/last are -1 when
    * the sensor is unreadable. Injectable load/sleep/clock for the
    * spec. Never throws, never waits past the bound.
    */
  def awaitQuietHost(maxWaitSec: Double, barLoad: Double,
      pollSec: Double = 15.0,
      load: () => Option[Double] = () => readLoadAvg1(),
      sleep: Double => Unit = s => Thread.sleep(math.max(0, (s * 1000).toLong)),
      clock: () => Long = () => System.nanoTime()): (Double, Double, Double) = {
    val first = load().getOrElse(-1.0)
    if (first < 0 || first < barLoad) return (0.0, first, first)
    val start = clock()
    var prev = first
    var cur = first
    var waited = 0.0
    var quiet = false
    while (!quiet && waited < maxWaitSec) {
      sleep(math.min(pollSec, maxWaitSec - waited))
      waited = (clock() - start) / 1e9
      prev = cur
      cur = load().getOrElse(-1.0)
      // a sensor that vanishes mid-wait ends the wait (proceed); once
      // a spike has been OBSERVED, quiet requires two consecutive
      // below-bar samples with the second falling-or-flat (±0.1 — two
      // successive /proc/loadavg reads of a decaying average jitter at
      // that scale): a single dip below the bar, or a below-bar
      // reading that is climbing, is the spike's edge, not its end
      quiet = cur < 0 ||
        (cur < barLoad && prev < barLoad && cur <= prev + 0.1)
    }
    (math.round(waited * 10) / 10.0, first, cur)
  }

  /** The reference's 639 trigger sizes (415 of 16 msgs, then 224 of
    * 15: exactly 10,000 msgs), each multiplied by `scale`. */
  def referenceBatchSizes(scale: Int): Seq[Int] =
    (0 until 639).map(i => (if (i < 415) 16 else 15) * scale)

  /** The reference's headline experiment at one volume: per-trigger
    * latency of append+latest vs update+earliest over `batchSizes`
    * feedback messages, after an epoch-0 replay of `backlogRows` rows
    * ([[graft.streaming.ModesBenchmark]]). `runs` runs; each metric
    * publishes the MIN of the per-run values (a genuinely slow pipeline
    * is slow every run, a noisy host isn't) and the means and the
    * replay also their max/min run spread, which [[gateStreaming]]
    * reads. Keys are `st_append_<label>_*`,
    * `st_update_earliest_<label>_*` and `st_<label>_*`; tail
    * percentiles are there because the 10× mean ran ~1.5× its median
    * (r14 verdict #8) — GC/state-store pauses land in the tail. Empty
    * when a run throws. */
  def streamingAtVolume(spark: SparkSession, label: String,
      batchSizes: Seq[Int], backlogRows: Int,
      runs: Int): Map[String, Double] = try {
    val starts = batchSizes.scanLeft(0)(_ + _)
    def once(): graft.streaming.ModesBenchmark.Result = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_bench_stream_$label")
      try {
        val batches = batchSizes.zip(starts).map { case (n, from) =>
          graft.streaming.FeedbackGenerator.batch("random", from, n)
        }
        graft.streaming.ModesBenchmark.run(spark, batches, dir,
          backlogRows = backlogRows)
      } finally rmrf(dir)
    }
    val results = Seq.fill(runs)(once())
    def spreadPct(xs: Seq[Double]): Double =
      math.round((xs.max / math.max(xs.min, 1e-9) - 1) * 1000) / 10.0
    val appendMeans = results.map(_.append.meanMs)
    val updateMeans = results.map(_.updateEarliest.meanMs)
    val replays = results.map(_.epoch0ReplayMs)
    val append = results.minBy(_.append.meanMs).append
    val update = results.minBy(_.updateEarliest.meanMs).updateEarliest
    val (a, u, st) =
      (s"st_append_$label", s"st_update_earliest_$label", s"st_$label")
    Map(
      s"${a}_mean" -> appendMeans.min / 1000.0,
      s"${a}_mean_spread_pct" -> spreadPct(appendMeans),
      s"${a}_median" -> append.medianMs / 1000.0,
      s"${a}_triggers" -> append.n.toDouble,
      s"${a}_p95" -> append.p95Ms / 1000.0,
      s"${a}_p99" -> append.p99Ms / 1000.0,
      s"${u}_mean" -> updateMeans.min / 1000.0,
      s"${u}_mean_spread_pct" -> spreadPct(updateMeans),
      s"${u}_median" -> update.medianMs / 1000.0,
      s"${u}_p95" -> update.p95Ms / 1000.0,
      s"${u}_p99" -> update.p99Ms / 1000.0,
      s"${st}_epoch0_replay_sec" -> replays.min / 1000.0,
      s"${st}_epoch0_replay_sec_spread_pct" -> spreadPct(replays),
      s"${st}_runs" -> runs.toDouble,
      s"${st}_msgs" -> batchSizes.sum.toDouble,
      s"${st}_backlog_rows" -> backlogRows.toDouble)
  } catch { case _: Throwable => Map.empty }

  // temp hygiene: the streaming A/B checkpoints and the probe corpus
  // would otherwise leak multi-MB/GB directories per invocation and
  // eventually fill /tmp across rounds
  private def rmrf(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = CatalogHarness.session()

    // Load-aware start (r18 directive #1a) — BEFORE the budget clock
    // starts: the wait is a recorded preamble, not bench work, so a
    // 6-minute quiet-wait cannot eat the evidence the budget protects.
    // Bounded and bar env-tunable; defaults from the judge's documented
    // host pattern (spikes decay in minutes; ambient quiet is load < 2).
    val loadBar = sys.env.get("GRAFT_BENCH_LOAD_BAR")
      .flatMap(_.toDoubleOption).filter(_ > 0).getOrElse(2.0)
    val loadWaitMax = sys.env.get("GRAFT_BENCH_LOAD_WAIT_MAX_SEC")
      .flatMap(_.toDoubleOption).filter(_ >= 0).getOrElse(360.0)
    val (loadWaitedSec, loadAtStart, loadAfterWait) =
      awaitQuietHost(loadWaitMax, loadBar)
    println(s"""{"metric":"load_wait","waited_sec":$loadWaitedSec,"load_at_start":$loadAtStart,"load_after_wait":$loadAfterWait,"bar":$loadBar,"max_wait_sec":$loadWaitMax}""")

    // r17 directive #1: the wall-clock budget starts ticking here —
    // everything below asks `budget.allow` before an OPTIONAL block
    // and sheds it loudly when it no longer fits (see BenchBudget doc)
    val budget = new BenchBudget(BenchBudget.fromEnv(sys.env),
      onShed = (block, remaining) => println(
        s"""{"metric":"budget_shed","block":"$block","remaining_sec":${math.round(remaining)}}"""))
    println(s"""{"metric":"budget","budget_sec":${budget.budgetSec}}""")
    // quiet-host cost estimates for the gated blocks, from the r16
    // driver bench (57:16 total) and the r17/r18 builder closes: the
    // mandatory streaming blocks (warm once + N=5 A/B + N=5
    // full-volume) ~8 min, the sf0.001 twins parity block ~1.5 min,
    // the 10× volume point ~4 min, the big-probe sweep (corpus
    // generation + min-of-2 probes + paired bases) ~10 min. Estimates,
    // not caps — a block that starts is never killed mid-flight; the
    // budget decides only whether it STARTS.
    // (the mandatory streaming blocks need no cost constant anymore:
    // they run FIRST — r18 directive #3 — so no later gate reserves
    // for them)
    val TwinsEstSec = 90.0
    val Streaming10xEstSec = 240.0
    val BigProbeEstSec = 600.0
    val ArtifactMarginSec = 60.0

    spark.range(1000000).selectExpr("sum(id)").collect()

    // cumulative janino compilation count for this JVM — the delta
    // across a pass is the number of generated classes that were NOT
    // served from the codegen cache during that pass
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    // Warmup at the smallest SF: measured, this is NOT redundant with
    // the timed passes — dropping it raised the reported min from
    // ~30s to ~39s on a quiet host (C2 JIT and codegen caches need the
    // extra execution to reach steady state across 111 query plans).
    val warmDir = "/root/testdata/sf0.001"
    SparkEntry.queries.keys.foreach(CatalogHarness.timeOnce(spark, _, warmDir))
    // bucket layout is a one-time data-organization cost (written once,
    // amortized over every later join) — do it in setup so the timed
    // q26 run measures the exchange-free join, not a parquet write
    def layoutSetup(dir: String): Unit = {
      try graft.operators.BucketedOps.ensureBucketed(spark, dir)
      catch { case _: Throwable => () }
      try graft.operators.PartitionedOps.ensurePartitioned(spark, dir)
      catch { case _: Throwable => () }
    }
    layoutSetup(sfDir)
    println(s"""{"metric":"warmup_done","codegen_compiles":${compiles()}}""")

    // BASELINE-PARITY STREAMING, FIRST (r18 directive #3): the
    // full-volume append/update means were spread-flagged three rounds
    // running (62-146%) — always measured AFTER ~6 catalog passes had
    // heated the host. The streaming section now runs before any
    // target-SF pass, directly behind the load-aware start, and the
    // full-volume point takes min-of-5 instead of min-of-3. One
    // UNTIMED warm run absorbs the streaming path's first-execution
    // JIT/state-store init (the catalog warmup above does not touch
    // foreachBatch/CSV-metrics code), so run 1 of the timed N no
    // longer carries cold-start into the spread.
    //
    // streaming per-trigger latency A/B — the reference's headline
    // experiment (BASELINE.md: append 70.40 ms mean vs update+earliest
    // 82.97 ms). Reported in seconds-per-trigger alongside the batch
    // queries so the comparison is direct.
    // N=5 runs per invocation with mean ± stddev ± n PUBLISHED (r8
    // item: the A/B mean drifted 31.4→39.6 ms across rounds with the
    // host-load explanation living in prose — the variance now ships
    // in the artifact, so a cross-round delta is attributable from the
    // numbers alone; the min is kept for continuity with r7/r8 lines)
    val streaming: Map[String, Double] = try {
      def once(): (Double, Double) = {
        val dir = java.nio.file.Files.createTempDirectory("graft_bench_stream")
        try {
          val batches = (0 until 40).map(i =>
            graft.streaming.FeedbackGenerator.batch("random", i * 25, 25))
          val res = graft.streaming.ModesBenchmark.run(spark, batches, dir,
            backlogFactor = 15)
          (res.append.meanMs, res.updateEarliest.meanMs)
        } finally rmrf(dir)
      }
      once() // untimed streaming-path warmup, result discarded
      val n = 5
      val runs = Seq.fill(n)(once())
      def stats(xs: Seq[Double]): (Double, Double) = {
        val m = xs.sum / xs.size
        val sd = math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1))
        (m / 1000.0, sd / 1000.0)
      }
      val (am, asd) = stats(runs.map(_._1))
      val (um, usd) = stats(runs.map(_._2))
      Map(
        "st_append_trigger_mean" -> am,
        "st_append_trigger_stddev" -> asd,
        "st_append_trigger_min" -> runs.map(_._1).min / 1000.0,
        "st_update_earliest_trigger_mean" -> um,
        "st_update_earliest_trigger_stddev" -> usd,
        "st_update_earliest_trigger_min" -> runs.map(_._2).min / 1000.0,
        "st_trigger_runs" -> n.toDouble)
    } catch { case _: Throwable => Map.empty[String, Double] }

    // FULL-VOLUME streaming parity (r11 verdict #6): the baseline's
    // published numbers come from 639 triggers / 10,000 msgs (append)
    // and a 146,626-row epoch-0 replay (update+earliest; 6,662.54 ms).
    // One point at EXACTLY those volumes makes the 2×-faster headline
    // audit-proof at like-for-like load. Gated to the per-round sf0.1
    // run. r13 verdict #4 / r18 directive #3: it is the headline
    // baseline-parity number, and a single measurement let a +27%
    // host-load drift masquerade as a regression — so min-of-5.
    val streamingFull: Map[String, Double] =
      if (!sfDir.endsWith("sf0.1")) Map.empty
      else streamingAtVolume(spark, "fullvolume", referenceBatchSizes(1),
        backlogRows = 146626, runs = 5)

    // STREAMING-TWINS EVIDENCE (r18 directive #5): SprtStream and
    // SemDedupStream are spec-proven twins of their batch operators,
    // but until now that proof lived only in CI — invisible to the
    // artifact diff. Re-run the parity check here at sf0.001 and ship
    // it: per twin, the streamed row count vs the batch operator's, an
    // exact-equality parity bit, and the wall-clock of the one trigger
    // that carries the data — so a regression in the
    // transformWithState path shows up in bench_full.json, not only in
    // a test run. Cheap (~1.5 min); budget-gated like any optional
    // block (first to be asked, so it sheds only when the budget is
    // already blown at streaming's end).
    val stTwins: Map[String, Double] =
      if (!budget.allow("st_twins", TwinsEstSec, ArtifactMarginSec))
        Map.empty
      else try {
        import spark.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        val provKey = "spark.sql.streaming.stateStore.providerClass"
        val prevProv = spark.conf.getOption(provKey)
        spark.conf.set(provKey, "org.apache.spark.sql.execution." +
          "streaming.state.RocksDBStateStoreProvider")
        try {
          def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
            df.collect().map(_.toString).toSet
          // one harness for every twin: absorb the untimed prefix (the
          // corpus/bootstrap), then time the SINGLE trigger that
          // carries the data, and compare the sink's rows against the
          // batch operator's — Row.toString sets; the schemas match
          // column-for-column by each twin's construction
          def twin[T](name: String, batch: Set[String], untimed: Seq[T],
              timed: Seq[T], stream: MemoryStream[T],
              out: org.apache.spark.sql.Dataset[_]): Seq[(String, Double)] = {
            val q = out.writeStream.format("memory")
              .queryName("bench_twin_" + name).outputMode("append").start()
            val dt = try {
              if (untimed.nonEmpty) {
                stream.addData(untimed)
                q.processAllAvailable()
              }
              val t0 = System.nanoTime()
              stream.addData(timed)
              q.processAllAvailable()
              (System.nanoTime() - t0) / 1e9
            } finally q.stop()
            val streamed = rows(spark.table("bench_twin_" + name))
            Seq(
              s"st_twin_${name}_parity" ->
                (if (streamed == batch) 1.0 else 0.0),
              s"st_twin_${name}_rows" -> streamed.size.toDouble,
              s"st_twin_${name}_batch_rows" -> batch.size.toDouble,
              s"st_twin_${name}_trigger_sec" -> dt)
          }
          // SPRT twin: the whole sf0.001 census in ONE trigger — the
          // timed trigger therefore carries every (variant, day) row
          val sprt: Seq[(String, Double)] = {
            val census = graft.operators.StatsOps
              .sprtDailyCensus(graft.core.Tables.events(spark, warmDir))
              .collect().toSeq
              .map(r => graft.streaming.SprtStream.DailyCensus(
                r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
              .sortBy(c => (c.day, c.variant))
            val stream =
              MemoryStream[graft.streaming.SprtStream.DailyCensus](spark)
            twin("sprt",
              rows(graft.operators.StatsOps.statSprt(spark, warmDir)),
              Nil, census, stream,
              graft.streaming.SprtStream.sprtStream(stream.toDF()))
          }
          // semdedup twin: bootstrap absorbed untimed, then the whole
          // delta snapshot as the ONE timed trigger (the monitor's
          // steady-state shape: delta-vs-kept work only)
          val sem: Seq[(String, Double)] = {
            val assigned = graft.sim.SimilarityOps
              .semDedupIncrAssigned(spark, warmDir)
              .select("vec_id", "cluster", "vec", "is_delta")
              .collect().toSeq
              .map(r => graft.streaming.SemDedupStream.VecIn(r.getLong(0),
                r.getLong(1), r.getSeq[Double](2).toArray, r.getBoolean(3)))
              .sortBy(_.vec_id)
            val (delta, base) = assigned.partition(_.is_delta)
            val stream =
              MemoryStream[graft.streaming.SemDedupStream.VecIn](spark)
            twin("semdedup",
              rows(graft.sim.SimilarityOps.embSemDedupIncr(spark, warmDir)),
              base, delta, stream,
              graft.streaming.SemDedupStream.semDedupStream(stream.toDF()))
          }
          // ingest-dedup twin: corpus absorbed untimed, then the whole
          // delivery as the ONE timed trigger (point-probe MapState —
          // the flat-per-delivery-cost claim, measured)
          val ingest: Seq[(String, Double)] = {
            val assigned = graft.dedup.DedupOps
              .bloomIncrAssigned(spark, warmDir)
              .collect().toSeq
              .map(r => graft.streaming.IngestDedupStream.DocIn(
                r.getLong(0), r.getLong(1), r.getBoolean(2)))
              .sortBy(_.doc_id)
            val (delta, corpus) = assigned.partition(_.is_delta)
            val stream =
              MemoryStream[graft.streaming.IngestDedupStream.DocIn](spark)
            twin("ingest",
              rows(graft.dedup.DedupOps.dedupBloomIncremental(spark, warmDir)),
              corpus, delta, stream,
              graft.streaming.IngestDedupStream
                .ingestDedupStream(stream.toDF()))
          }
          (sprt ++ sem ++ ingest).toMap
        } finally {
          prevProv match {
            case Some(v) => spark.conf.set(provKey, v)
            case None => spark.conf.unset(provKey)
          }
          Seq("sprt", "semdedup", "ingest")
            .foreach(n => spark.catalog.dropTempView("bench_twin_" + n))
        }
      } catch { case _: Throwable => Map.empty[String, Double] }
    if (stTwins.nonEmpty)
      println(s"""{"metric":"st_twins",${stTwins.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + math.round(v * 10000) / 10000.0 }
        .mkString(",")}}""")

    // ADAPTIVE untimed warmup at the TARGET SF (round-8 item: pass 1
    // ran ~53% above steady state — sf-sized shuffle buffers, page
    // cache, and deeper JIT tiers were being measured inside the first
    // timed window; the sf0.001 warmup above cannot absorb those.
    // Round-9 showed one pass still left 46.9 → 31.92 s decay across
    // the timed passes, and round-10 local runs showed two FIXED passes
    // still decaying ~7%/pass into the timed window). Warm until two
    // consecutive warmup totals agree within 7% — i.e. until the JVM
    // has demonstrably stopped getting faster — capped at 4 passes so a
    // noisy host cannot stall the bench. Each warmup's own total is
    // printed: the decay curve is evidence, not a guess.
    var prevWarm = Double.MaxValue
    var warmIdx = 0
    var converged = false
    // warmup pass 1 always runs (it also supplies the pass-cost
    // estimate every later gate uses); passes 2-4 are a REFINEMENT —
    // the last thing worth shedding, so their gate reserves the full
    // mandatory remainder: 3 timed passes + the scale-ratio passes
    // (~1 pass-equivalent across mid+small) + the artifact margin (the
    // baseline-parity streaming blocks already RAN above — r18
    // directive #3 moved them ahead of everything pass-shaped — so no
    // gate reserves for them anymore)
    while (warmIdx < 4 && !converged && (warmIdx == 0 ||
        budget.allow("warmup_refinement", prevWarm,
          4 * prevWarm + ArtifactMarginSec))) {
      warmIdx += 1
      val w0 = compiles()
      val t0 = System.nanoTime()
      SparkEntry.queries.keys.foreach(CatalogHarness.timeOnce(spark, _, sfDir))
      val wt = (System.nanoTime() - t0) / 1e9
      converged = wt >= prevWarm * 0.93
      println(s"""{"metric":"warmup_target_sf_done","idx":$warmIdx,"total":${math.round(wt * 100) / 100.0},"converged":$converged,"codegen_compile_delta":${compiles() - w0}}""")
      prevWarm = wt
    }

    // Three timed passes at the target SF, reporting the per-query MIN:
    // steady-state throughput. A single pass is hostage to whatever else
    // the host is doing during its 30-second window — one page-cache-cold
    // read or CPU-contention burst lands on a random query and dominates
    // the total; the r4→r5 history showed 2× swings on the heavy queries
    // from exactly that. The min of three runs measures the engine, not
    // the neighbor's I/O.
    // a failed query records -1, NOT its elapsed time: an instant
    // failure would otherwise read as a very fast legitimate run and
    // poison the scale ratios below with false superlinear flags
    def timedPass(dir: String, idx: Int): Map[String, Double] = {
      val c0 = compiles()
      val pass = SparkEntry.queries.keys
        .map(n => n -> CatalogHarness.timeOnce(spark, n, dir)).toMap
      // one diagnostic line per pass: the 20 SLOWEST per-query times
      // (capped so several pass lines survive the artifact's fixed
      // stdout-tail budget — r8 lost all but one full pass line to
      // truncation), plus the compile delta so codegen-cache thrash is
      // measured, not guessed. JVM decay shows as pass-1<pass-2<pass-3
      // totals; host noise as one outlier pass. FAILED queries (-1)
      // are force-included ahead of the cap — a transient per-pass
      // failure is exactly what this log exists to attribute.
      val (fails, oks) = pass.toSeq.partition(_._2 < 0)
      val qs = (fails ++ oks.sortBy { case (_, v) => -v }
          .take(math.max(0, 20 - fails.size)))
        .sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + math.round(v * 1000) / 1000.0 }
        .mkString("{", ",", "}")
      val total = pass.values.filter(_ >= 0).sum
      println(s"""{"metric":"pass","dir":"$dir","idx":$idx,"total":${math.round(total * 100) / 100.0},"codegen_compile_delta":${compiles() - c0},"queries_slowest20":$qs}""")
      pass
    }
    def minOf(passes: Seq[Map[String, Double]]): Map[String, Double] =
      passes.head.keys.map(k => k -> CatalogHarness.bestOf(passes.map(_(k)))).toMap
    // per-query MEDIAN across passes (r9 item: the sum-of-minima
    // headline sat ~5× below its own best pass total, so minima alone
    // were not an honest throughput figure; the median is robust to one
    // noisy pass while staying comparable to a real pass total) is
    // computed below from the combined sample lists.
    // 3 passes, plus a 4th when the pass-total spread exceeds 10%
    // (r14 verdict #4: a 15.3% spread weakens every per-query delta
    // claim; one more agreeing sample restores a trustworthy min and
    // median on a noisy host, while a quiet host never pays for it).
    //
    // CORE-SHED LEVER (r18 directive #2): the r18 official run shed
    // every optional block yet still overran its 2,400 s budget by
    // 36% — the mandatory 3-4 passes under a load spike simply cost
    // that much, and nothing could give ground. The core now has ONE
    // recorded degradation step: when elapsed crosses 80% of the
    // budget after pass 2, pass 3 is dropped (min still honest,
    // spread computed over what ran, never fewer than 2 passes) and
    // the artifact carries `core_shed:["pass3"]` so a 2-pass record
    // self-describes instead of silently overrunning into an rc 124.
    val coreShedBuf = scala.collection.mutable.ArrayBuffer.empty[String]
    val bigPasses0: Seq[Map[String, Double]] = {
      val firstTwo = (1 to 2).map(i => timedPass(sfDir, i))
      val three =
        if (budget.elapsedSec <= 0.8 * budget.budgetSec)
          firstTwo :+ timedPass(sfDir, 3)
        else {
          coreShedBuf += "pass3"
          println(s"""{"metric":"core_shed","block":"pass3","elapsed_sec":${math.round(budget.elapsedSec)},"budget_sec":${budget.budgetSec}}""")
          firstTwo
        }
      val totals = three.map(_.values.filter(_ >= 0).sum)
      if (three.size == 3 && totals.min > 0 &&
          (totals.max - totals.min) / totals.min > 0.10 &&
          // extra passes outrank the 10× streaming and the probe (which
          // are deliberately NOT reserved here) but must not eat the
          // scale-ratio passes
          budget.allow("extra_pass", totals.min,
            totals.min + ArtifactMarginSec)) {
        println(s"""{"metric":"extra_pass_trigger","pass_totals":[${totals.map(t => math.round(t * 100) / 100.0).mkString(",")}],"spread_over_10pct":true}""")
        three :+ timedPass(sfDir, 4)
      } else three
    }
    // DEGRADED RETRY (r18 directive #1b): when even the best 3 of the
    // passes so far disagree by >15%, the run is headed for the
    // degraded divert — which protects the record's quality but (as in
    // r18) leaves the round without a clean official artifact. Before
    // accepting that, buy two more timed passes if the budget still
    // fits them: a transient spike leaves the retry passes agreeing
    // with the fastest original pass (best-3 then reads clean — the
    // min-of-N discipline, two more samples), while a genuine sustained
    // slowdown reproduces and the divert proceeds with the retry
    // recorded. No quiet-wait here: after our own 32-thread passes,
    // loadavg reads THIS process for minutes, so a load poll at this
    // point cannot distinguish neighbor noise from self.
    val hostDegradedPreRetry =
      degradedVerdict(bigPasses0.map(_.values.filter(_ >= 0).sum))._1
    val bigPasses: Seq[Map[String, Double]] = {
      val minPass = bigPasses0.map(_.values.filter(_ >= 0).sum).min
      if (hostDegradedPreRetry && minPass > 0 &&
          // same reservation rule as extra_pass/noisy_repass: the
          // retry must leave room for the mandatory scale-ratio
          // passes (~1 pass-equivalent) + margin, or a spike-priced
          // retry walks the run right back into the rc-124 overrun
          // it exists to prevent (r19 self-review finding #1)
          budget.allow("degraded_retry", 2 * minPass,
            minPass + ArtifactMarginSec)) {
        println(s"""{"metric":"degraded_retry","pass_totals":[${bigPasses0.map(p => math.round(p.values.filter(_ >= 0).sum * 100) / 100.0).mkString(",")}]}""")
        bigPasses0 ++ Seq(timedPass(sfDir, bigPasses0.size + 1),
          timedPass(sfDir, bigPasses0.size + 2))
      } else bigPasses0
    }
    val degradedRetried = bigPasses.size > bigPasses0.size
    // NOISE SELF-DIAGNOSIS (r11 verdict #3: the driver's pass spread
    // hit 14% and three text queries "regressed" in exactly one pass).
    // A query whose max/min pass ratio exceeds 1.5 — with a 0.2 s floor
    // so trivial queries don't churn — gets 2 extra TARGETED passes;
    // min and median then draw from all 5 samples, so one noisy pass
    // can neither fake a regression nor hide one. The noisy list ships
    // in both artifacts: a wide pass spread is now attributable to
    // named queries instead of reading as an engine change.
    val NoisyRatio = 1.5
    val NoisyFloorSec = 0.2
    val noisyQueries: Seq[String] = bigPasses.head.keys.filter { k =>
      val good = bigPasses.map(_(k)).filter(_ >= 0)
      good.size >= 2 && good.min >= NoisyFloorSec &&
        good.max / good.min > NoisyRatio
    }.toSeq.sorted
    val extraPasses: Seq[Map[String, Double]] =
      if (noisyQueries.isEmpty ||
          // same rank as the 4th pass: reserve the mandatory remainder
          // (the scale passes), never the 10×/probe below it
          !budget.allow("noisy_repass",
            2 * noisyQueries.map(k =>
              bigPasses.map(_(k)).filter(_ >= 0).max).sum,
            bigPasses.map(_.values.filter(_ >= 0).sum).min +
              ArtifactMarginSec)) Seq.empty
      else (1 to 2).map { i =>
        val pass = noisyQueries
          .map(n => n -> CatalogHarness.timeOnce(spark, n, sfDir)).toMap
        val qs = pass.toSeq.sortBy(_._1)
          .map { case (k, v) => "\"" + k + "\":" + math.round(v * 1000) / 1000.0 }
          .mkString("{", ",", "}")
        println(s"""{"metric":"noisy_repass","idx":$i,"queries":$qs}""")
        pass
      }
    val samples: Map[String, Seq[Double]] = bigPasses.head.keys.map { k =>
      k -> (bigPasses.map(_(k)) ++ extraPasses.flatMap(_.get(k)))
        .filter(_ >= 0)
    }.toMap
    def med(sorted: Seq[Double]): Double =
      if (sorted.isEmpty) -1.0
      else if (sorted.size % 2 == 1) sorted(sorted.size / 2)
      else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
    val results = samples.map { case (k, v) => k -> CatalogHarness.bestOf(v) }
    val medians = samples.map { case (k, v) => k -> med(v.sorted) }
    // a query that failed EVERY pass keeps -1 in the min map; it must be
    // reported by name, never summed (r9: 24 silently-erroring queries
    // subtracted 24 s from the headline total and read as a speedup)
    val failedQueries = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    val passTotals = bigPasses.map(p => math.round(p.values.filter(_ >= 0).sum * 100) / 100.0)

    // THREE-point scale check: rerun the catalog at 10× and 100× smaller
    // SFs and flag any query whose big/mid min-time ratio exceeds 15×
    // (10× data plus margin). Plan-shape audits argue no query is
    // superlinear; this MEASURES it — a quadratic candidate join or a
    // driver-side loop shows up as a ratio, not an opinion. The third
    // point (mid/small ratio) separates fixed per-query overhead (ratio
    // ≈1 at small SFs, where data cost is negligible) from real
    // superlinearity (ratio grows at BOTH steps) — a 2-point check
    // cannot tell those apart, which is exactly how the r7 floor hid.
    // Flagging additionally requires the big-SF time to be >= 1 s so a
    // 0.05 s → 0.8 s fixed-overhead jump on a trivial query cannot
    // false-alarm, while anything genuinely superlinear (which IS slow
    // at the big SF by definition) cannot hide.
    val ScaleFlagRatio = 15.0
    // in-run probe corpus multiple — emitted into both artifacts so a
    // cross-run flag difference is attributable to probe config, not
    // guessed at (r11 verdict #8)
    val BigProbeCopies = 10
    def siblingDir(suffix: String): String =
      if (sfDir.endsWith("sf0.1")) sfDir.stripSuffix("sf0.1") + suffix else ""
    val midDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_CHECK_DIR", siblingDir("sf0.01"))
    val smallDir = siblingDir("sf0.001")
    def ratioPass(dir: String): Map[String, Double] =
      if (dir.nonEmpty && dir != sfDir && new java.io.File(dir).isDirectory) {
        // each smaller SF gets the same one-time layout setup the big SF
        // got, so q26/q29/q30's first pass doesn't pay a parquet write
        // inside its timed window and bias the ratio
        layoutSetup(dir)
        minOf((1 to 2).map(i => timedPass(dir, i)))
      } else Map.empty
    val mid = ratioPass(midDir)
    val small = ratioPass(smallDir)
    def ratios(bigM: Map[String, Double], smallM: Map[String, Double]): Map[String, Double] =
      bigM.collect {
        // a failed side (-1) yields no ratio rather than a fake one
        case (k, b) if b >= 0 && smallM.getOrElse(k, -1.0) >= 0 =>
          k -> math.round(b / math.max(smallM(k), 1e-3) * 100.0) / 100.0
      }
    val bigMidRatios = ratios(results, mid)
    val midSmallRatios = ratios(mid, small)
    val flagged = bigMidRatios
      .filter { case (k, r) => r > ScaleFlagRatio && results(k) >= 1.0 }
      .keys.toSeq.sorted


    // 10× the reference's volume (r12 verdict #5): same 639 triggers,
    // 10× the rows per trigger (100,000 msgs) and a 1,466,260-row
    // epoch-0 replay — one decade of the latency-vs-volume curve next
    // to the 1× parity point. The 100 TB claim for ST2/ST3 is that
    // per-trigger latency grows with the PER-TRIGGER batch, not with
    // how long the stream has been running — mean/median ~flat vs the
    // 1× run is that evidence. min-of-2, not 5: this run is ~10× the
    // data, and the 1× point — run earlier, directly behind the
    // load-aware start — already anchors the host-noise estimate.
    val streaming10x: Map[String, Double] =
      if (!sfDir.endsWith("sf0.1")) Map.empty
      // second in the shed order: the 1× full-volume parity point above
      // is the headline number and always runs; this is the extra
      // decade of the latency-vs-volume curve
      else if (!budget.allow("streaming_10x", Streaming10xEstSec,
          ArtifactMarginSec)) Map.empty
      else streamingAtVolume(spark, "10x", referenceBatchSizes(10),
        backlogRows = 1466260, runs = 2)

    // ONE-OFF sf1-equivalent probe (round-8 stretch item): the scale
    // curve tops out at sf0.1 where fixed overhead dominates, so the
    // worst measured big/mid ratios get one more decade of data — 10
    // deterministic salted copies of sf0.1 documents/embeddings/events
    // via graft.tools.ProbeCorpus (see its doc for the salting design;
    // the standalone graft.tools.ScaleProbe pushes the same corpus to
    // 100× for the named heavy families). Only queries over these
    // three tables are probed (the TPC-H side has no generator here);
    // each runs ONCE — this is a probe for superlinearity, not a
    // steady-state timing.
    val (probeFlagged, probeTimes, probeRatios, probePairedBase):
        (Seq[String], Seq[(String, Double)], Seq[(String, Double)],
          Seq[(String, Double)]) = (try {
      val prefixes = Seq("text_", "dedup_", "emb_", "embedding_", "ann_",
        "pipe_", "mm_", "ev_", "graph_event_")
      val worst = bigMidRatios.toSeq.sortBy(-_._2).take(10).map(_._1)
      // the stateful events family never surfaces in the worst-ratio set
      // (its sf0.1 times are small), so it would otherwise NEVER get a
      // measured 10× point — force one funnel and one sessionize probe
      // (r9 advice #7) alongside whatever the ratios flag; r10 verdict
      // #8 additionally pins the three queries with the worst MEASURED
      // 10×-data ratios so their extra decade is always in the artifact
      val forced = Seq("ev_funnel", "ev_sessionize",
        "text_substring_dedup", "text_dup_spans", "text_dsir_weight")
        .filter(SparkEntry.queries.contains)
      val names =
        (worst.filter(n => prefixes.exists(n.startsWith)) ++ forced).distinct
      if (names.isEmpty || !sfDir.endsWith("sf0.1")) None
      // first in the shed order: pure extra-decade evidence, never a
      // headline input — the cheapest block to lose, so nothing above
      // reserves for it and it starves before anything else
      else if (!budget.allow("big_probe", BigProbeEstSec,
          ArtifactMarginSec)) None
      else {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_bigprobe").toString
        val copies = BigProbeCopies
        graft.tools.ProbeCorpus.generate(spark, sfDir, dir, copies)
        def timeMs(n: String, d: String): Double =
          math.round(CatalogHarness.timeOnce(spark, n, d) * 1000) / 1000.0
        // EVERY probed query runs twice and keeps its min — the same
        // min-of-N discipline as the salted probes and the timed
        // passes (r14 verdict #1: single-shot probe noise is what
        // produced the contradictory 18× flags on queries whose ×100
        // salted curves are deeply sublinear). The first probe of a
        // just-written corpus additionally pays the cold page cache;
        // the second run separates that from the query's real shape.
        val firstPass =
          names.map(n => n -> CatalogHarness.bestOf(Seq.fill(2)(timeMs(n, dir))))
        // exceeders after min-of-2 get a THIRD run: a genuinely
        // superlinear query is slow three times, a noisy host isn't
        val times = firstPass.map { case (n, t) =>
          val over = t >= 0 && results.getOrElse(n, -1.0) > 0.0 &&
            t / results(n) > ScaleFlagRatio && t >= 1.0
          n -> (if (over) {
            val t3 = timeMs(n, dir)
            if (t3 >= 0) math.min(t, t3) else t
          } else t)
        }
        // PAIRED base (the r14 18× postmortem): the probe runs many
        // minutes after the timed passes that produced `results`, so
        // sustained host contention in the probe's window inflated
        // probe/base multiplicatively — both r14 "flags" re-measured
        // at 1.5×/2.4× under ScaleProbe's paired protocol, and the
        // data volumes involved (sf0.1: 5k docs, 265k bigram
        // instances, <1k distinct bigrams — megabytes) rule out any
        // spill mechanism. Re-time the base at sf0.1 NOW, under the
        // probe's own host conditions (min-of-2, same rule), and use
        // the larger of steady-state and paired base as denominator:
        // a loaded host inflates both sides instead of just the
        // numerator, while on a quiet host the paired base ≈ the
        // steady-state min and nothing changes.
        val pairedBase: Map[String, Double] = names.map { n =>
          n -> CatalogHarness.bestOf(Seq.fill(2)(timeMs(n, sfDir)))
        }.toMap
        rmrf(java.nio.file.Paths.get(dir))
        // ratio vs max(steady-state min-of-passes, paired base): 10×
        // data, same 15× flag bar as the main scale check
        val ratios = times.collect {
          case (n, t) if t >= 0 && results.getOrElse(n, -1.0) > 0.0 =>
            val base = math.max(results(n), pairedBase.getOrElse(n, -1.0))
            n -> math.round(t / base * 100) / 100.0
        }
        // same absolute-time floor as the main scale check: a
        // sub-second query whose fixed overhead jumps on the cold,
        // just-written probe corpus must not false-alarm; anything
        // genuinely superlinear is slow at 10× by definition
        val probeTime = times.toMap
        val flagged = ratios.filter { case (n, r) =>
          r > ScaleFlagRatio && probeTime(n) >= 1.0
        }.map(_._1)
        def js(m: Seq[(String, Double)]): String =
          m.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v }
            .mkString("{", ",", "}")
        val skipped = worst.filterNot(names.contains)
          .map("\"" + _ + "\"").mkString("[", ",", "]")
        println(s"""{"metric":"big_probe","scale":"10x sf0.1 (sf1-equivalent)","copies":$copies,"scaled_tables":["documents","embeddings","events"],"flag_threshold":$ScaleFlagRatio,"flagged":${flagged.map("\"" + _ + "\"").mkString("[", ",", "]")},"skipped_tpch_side":$skipped,"times_sec":${js(times)},"paired_base_sec":${js(pairedBase.toSeq)},"ratio_vs_sf01":${js(ratios)}}""")
        Some((flagged, times, ratios, pairedBase.toSeq))
      }
    } catch { case _: Throwable => None })
      .getOrElse((Seq.empty[String], Seq.empty[(String, Double)],
        Seq.empty[(String, Double)], Seq.empty[(String, Double)]))

    // r16 verdict #2: per-metric degraded verdicts for the streaming
    // block — the prior artifact is read BEFORE this run overwrites it
    // so a >25%-spread metric can fall back to the last clean value
    // (see gateStreaming's doc). Applied before the headline assembly
    // so headline, stdout maps, and the full artifact all carry the
    // gated values + flags consistently.
    val priorArtifact: Option[String] = try {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("GRAFT_BENCH_FULL_OUT", "bench_full.json"))
      if (java.nio.file.Files.exists(p))
        Some(java.nio.file.Files.readString(p))
      else None
    } catch { case _: Throwable => None }
    val streamingFullG = gateStreaming(streamingFull, priorArtifact)
    val streaming10xG = gateStreaming(streaming10x, priorArtifact)
    val stDegraded = (streamingFullG ++ streaming10xG).collect {
      case (k, v) if k.endsWith("_degraded") && v > 0.5 =>
        k.stripSuffix("_degraded")
    }.toSeq.sorted
    val stDegradedJson =
      stDegraded.map("\"" + _ + "\"").mkString("[", ",", "]")

    val all = results ++ streaming ++ streamingFullG ++ streaming10xG ++ stTwins
    val qs = all.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // totals sum SUCCESSFUL queries only — a failed query's -1 sentinel
    // must not subtract from the headline (see failedQueries above)
    val total = results.values.filter(_ >= 0).sum
    val medianTotal =
      math.round(medians.values.filter(_ >= 0).sum * 100) / 100.0
    def ratioJson(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    // Headline metrics in a compact line of their own, printed LAST:
    // artifact collection keeps the TAIL of stdout, so everything the
    // round's verdict needs — streaming means, pass totals, compile
    // counts, flagged queries, the worst measured ratios BY NAME — must
    // be on the final line or it is truncated away with the long
    // per-query maps (r7 lost all 111 measured ratios exactly that way).
    val stAppend = streaming.getOrElse("st_append_trigger_mean", -1.0)
    val stUpdate = streaming.getOrElse("st_update_earliest_trigger_mean", -1.0)
    val stAppendSd = streaming.getOrElse("st_append_trigger_stddev", -1.0)
    val stUpdateSd = streaming.getOrElse("st_update_earliest_trigger_stddev", -1.0)
    val stN = streaming.getOrElse("st_trigger_runs", 0.0).toInt
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    if (bigMidRatios.nonEmpty)
      println(s"""{"metric":"scale_ratio","small_sf":"$midDir","big_sf":"$sfDir","flag_threshold":$ScaleFlagRatio,"flagged":${flagged.map("\"" + _ + "\"").mkString("[", ",", "]")},"ratios":${ratioJson(bigMidRatios)}}""")
    if (midSmallRatios.nonEmpty)
      println(s"""{"metric":"scale_ratio","small_sf":"$smallDir","big_sf":"$midDir","flag_threshold":$ScaleFlagRatio,"flagged":[],"ratios":${ratioJson(midSmallRatios)}}""")
    val worst10 = bigMidRatios.toSeq.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val flJson = flagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    val ptJson = passTotals.mkString("[", ",", "]")
    val pbJson = probeFlagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-query medians on their own line (ahead of the headline so the
    // headline stays LAST; if stdout-tail truncation eats this line the
    // median_total on the headline still survives)
    val medJson = medians.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + math.round(v * 1000) / 1000.0 }
      .mkString("{", ",", "}")
    println(s"""{"metric":"medians","unit":"sec","median_total":$medianTotal,"queries_median":$medJson}""")
    // r9 item: the headline must carry failure loudly — "failed" names
    // every query whose ALL timed passes errored, and catalog_size vs
    // bench_ok makes a silently-shrunk catalog visible from this line
    // alone (r9's 24-query events outage read as a 25% speedup).
    val fqJson = failedQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    val nqJson = noisyQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    // every optional block the budget refused, in refusal order — an
    // artifact missing its probe/10× sections must say WHY from its
    // own bytes (all gated blocks have run or been refused by here)
    val shedJson = budget.shed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // the core's own recorded degradation (r18 directive #2) — distinct
    // from budget_shed: these are MANDATORY blocks given up mid-run
    val coreShedJson = coreShedBuf.map("\"" + _ + "\"").mkString("[", ",", "]")
    // pass_spread_pct makes run-to-run reproducibility a FIRST-CLASS
    // reading: (max−min)/min over the timed target-SF pass totals. A
    // quiet host lands ≲10%; ambient driver load shows up here instead
    // of silently inflating whichever pass it hit (the r9 verdict's
    // 46.9→31.9 "warmup" was mostly this).
    val spreadPct =
      if (passTotals.size < 2 || passTotals.min <= 0) -1.0
      else math.round((passTotals.max - passTotals.min) / passTotals.min
        * 1000) / 10.0
    // spread of the three FASTEST pass totals: when the >10% trigger
    // above bought a 4th pass, this is the reproducibility of the
    // engine once the one host-noise outlier pass is set aside — the
    // all-passes spread stays published right next to it, so nothing
    // is hidden, just attributed
    val spreadBest3Pct = {
      val s = best3SpreadPct(passTotals)
      if (s < 0) -1.0 else math.round(s * 10) / 10.0
    }
    // r15 #2/#6: one boolean verdict + the culprit pass index, so a
    // reader never has to diff four pass maps to decide "regression or
    // host?" — and the full-artifact write below refuses to clobber a
    // clean prior record with a degraded run
    val (hostDegraded, culpritPass) = degradedVerdict(passTotals)
    if (hostDegraded)
      println(s"""{"metric":"host_degraded","pass_totals":$ptJson,"culprit_pass":$culpritPass,"best3_spread_bar_pct":15.0}""")
    // salted-probe coverage manifest (r12 verdict #6): echo the summary
    // of probe_coverage.json (regenerated by scripts/probe_coverage.py
    // from every SCALE_PROBE_r*/bench_full* artifact) so which queries
    // have NO salted-copy curve — and how far each family has been
    // pushed — is visible in BENCH_r{N}.json without reconstruction.
    // Every catalog query always has this run's three-point real-SF
    // curve regardless; missing file → "{}" rather than a crash.
    val probeCoverage: String = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("probe_coverage.json")), "UTF-8")
      def grab(key: String): String = {
        val i = txt.indexOf("\"" + key + "\"")
        if (i < 0) "null"
        else {
          val start = txt.indexOf(':', i) + 1
          var depth = 0; var j = start; var done = false
          var s = -1; var e = -1
          while (j < txt.length && !done) {
            val c = txt.charAt(j)
            if (c == '{' || c == '[') { if (depth == 0) s = j; depth += 1 }
            else if (c == '}' || c == ']') {
              depth -= 1; if (depth == 0) { e = j; done = true }
            }
            j += 1
          }
          if (s >= 0 && e > s) txt.substring(s, e + 1).replaceAll("\\s+", "")
          else "null"
        }
      }
      val unprobed = grab("salted_unprobed")
      val perFam = grab("max_factor_per_family")
      val cnt =
        if (unprobed == "null") -1
        else unprobed.count(_ == '"') / 2
      s""""salted_unprobed_count":$cnt,"max_factor_per_family":$perFam,"salted_unprobed":$unprobed"""
    } catch { case _: Throwable =>
      """"salted_unprobed_count":-1,"max_factor_per_family":{},"salted_unprobed":[]"""
    }
    println(s"""{"metric":"probe_coverage",$probeCoverage}""")
    // headline-safe short form (the full unprobed list would blow the
    // tail budget): count + per-family max factor only
    val probeCoverageSummary: String = {
      val i = probeCoverage.indexOf(""""salted_unprobed":""")
      val short = if (i < 0) probeCoverage else probeCoverage.substring(0, i)
      if (short.endsWith(",")) short else short + ","
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","median_total":$medianTotal,"catalog_size":${SparkEntry.queries.size},"bench_ok":${results.count(_._2 >= 0)},"failed_count":${failedQueries.size},"failed":$fqJson,"st_append_trigger_mean":$stAppend,"st_append_trigger_stddev":$stAppendSd,"st_update_earliest_trigger_mean":$stUpdate,"st_update_earliest_trigger_stddev":$stUpdateSd,"st_trigger_runs":$stN,"sf":"$sfDir","scale_flagged":${flagged.size},"flagged":$flJson,"worst_scale_ratios":$worst10,"big_probe_flagged":$pbJson,"big_probe_copies":$BigProbeCopies,"big_probe_flag_threshold":$ScaleFlagRatio,"noisy_queries":$nqJson,"st_degraded":$stDegradedJson,"st_append_fullvolume_mean":${streamingFullG.getOrElse("st_append_fullvolume_mean", -1.0)},"st_append_fullvolume_mean_spread_pct":${streamingFullG.getOrElse("st_append_fullvolume_mean_spread_pct", -1.0)},"st_update_earliest_fullvolume_mean":${streamingFullG.getOrElse("st_update_earliest_fullvolume_mean", -1.0)},"st_update_earliest_fullvolume_mean_spread_pct":${streamingFullG.getOrElse("st_update_earliest_fullvolume_mean_spread_pct", -1.0)},"st_fullvolume_epoch0_replay_sec":${streamingFullG.getOrElse("st_fullvolume_epoch0_replay_sec", -1.0)},"st_fullvolume_runs":${streamingFullG.getOrElse("st_fullvolume_runs", 0.0).toInt},"st_append_10x_mean":${streaming10xG.getOrElse("st_append_10x_mean", -1.0)},"st_append_10x_mean_spread_pct":${streaming10xG.getOrElse("st_append_10x_mean_spread_pct", -1.0)},"st_update_earliest_10x_mean":${streaming10xG.getOrElse("st_update_earliest_10x_mean", -1.0)},"st_update_earliest_10x_mean_spread_pct":${streaming10xG.getOrElse("st_update_earliest_10x_mean_spread_pct", -1.0)},"st_10x_epoch0_replay_sec":${streaming10xG.getOrElse("st_10x_epoch0_replay_sec", -1.0)},"st_10x_runs":${streaming10xG.getOrElse("st_10x_runs", 0.0).toInt},${probeCoverageSummary}"pass_totals_big_sf":$ptJson,"pass_spread_pct":$spreadPct,"pass_spread_best3_pct":$spreadBest3Pct,"host_degraded":$hostDegraded,"culprit_pass":$culpritPass,"host_degraded_pre_retry":$hostDegradedPreRetry,"degraded_retry":${if (degradedRetried) 1 else 0},"core_shed":$coreShedJson,"load_waited_sec":$loadWaitedSec,"load_at_start":$loadAtStart,"st_twin_sprt_parity":${stTwins.getOrElse("st_twin_sprt_parity", -1.0)},"st_twin_sprt_trigger_sec":${stTwins.getOrElse("st_twin_sprt_trigger_sec", -1.0)},"st_twin_semdedup_parity":${stTwins.getOrElse("st_twin_semdedup_parity", -1.0)},"st_twin_semdedup_trigger_sec":${stTwins.getOrElse("st_twin_semdedup_trigger_sec", -1.0)},"st_twin_ingest_parity":${stTwins.getOrElse("st_twin_ingest_parity", -1.0)},"st_twin_ingest_trigger_sec":${stTwins.getOrElse("st_twin_ingest_trigger_sec", -1.0)},"budget_sec":${budget.budgetSec},"budget_elapsed_sec":${math.round(budget.elapsedSec)},"budget_shed":$shedJson,"codegen_compiles_total":${compiles()}}""")
    // FULL machine-readable artifact (r10 verdict item #2): stdout-tail
    // truncation eats the long per-query maps, so everything a verdict
    // needs to diff round-over-round — every per-query min AND median,
    // every per-pass time, all scale ratios, streaming stats — also
    // lands in ONE json file (committed per round as bench_full_rN.json)
    try {
      def jm(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + math.round(v * 10000) / 10000.0 }
        .mkString("{", ",", "}")
      val passJson = bigPasses.zipWithIndex
        .map { case (p, i) => s""""pass${i + 1}":${jm(p)}""" }
        .mkString(",")
      val full =
        s"""{"sf":"$sfDir","total_min":$total,"median_total":$medianTotal,
           |"catalog_size":${SparkEntry.queries.size},
           |"bench_ok":${results.count(_._2 >= 0)},
           |"failed":$fqJson,
           |"pass_totals_big_sf":$ptJson,"pass_spread_pct":$spreadPct,
           |"pass_spread_best3_pct":$spreadBest3Pct,
           |"host_degraded":$hostDegraded,"culprit_pass":$culpritPass,
           |"per_query_min":${jm(results)},
           |"per_query_median":${jm(medians)},
           |$passJson,
           |"per_query_min_mid_sf":${jm(mid)},
           |"per_query_min_small_sf":${jm(small)},
           |"scale_ratio_big_mid":${jm(bigMidRatios)},
           |"scale_ratio_mid_small":${jm(midSmallRatios)},
           |"scale_flagged":$flJson,"big_probe_flagged":$pbJson,
           |"big_probe_copies":$BigProbeCopies,
           |"big_probe_flag_threshold":$ScaleFlagRatio,
           |"noisy_queries":$nqJson,
           |"big_probe_times_sec":${jm(probeTimes.toMap)},
           |"big_probe_paired_base_sec":${jm(probePairedBase.toMap)},
           |"big_probe_ratio_vs_sf01":${jm(probeRatios.toMap)},
           |"streaming":${jm(streaming ++ streamingFullG ++ streaming10xG)},"st_degraded":$stDegradedJson,
           |"st_twins":${jm(stTwins)},
           |"core_shed":$coreShedJson,
           |"host_degraded_pre_retry":$hostDegradedPreRetry,
           |"degraded_retry":${if (degradedRetried) 1 else 0},
           |"load_waited_sec":$loadWaitedSec,
           |"load_at_start":$loadAtStart,"load_after_wait":$loadAfterWait,
           |"probe_coverage":{$probeCoverage},
           |"budget_sec":${budget.budgetSec},
           |"budget_elapsed_sec":${math.round(budget.elapsedSec)},
           |"budget_shed":$shedJson,
           |"codegen_compiles_total":${compiles()}}""".stripMargin
          .replace("\n", "")
      // ALWAYS-PARSEABLE summary (r18 directive #1c): the degraded
      // divert protects bench_full.json's clean lineage, but it left
      // the driver's record with parsed:null two rounds running — the
      // official artifact must never be hidden by its own quality
      // gate. bench_last.json carries this run's FULL summary
      // unconditionally (it self-describes via host_degraded /
      // core_shed / degraded_retry inside), written FIRST so even a
      // divert-path failure cannot lose it; bench_full.json keeps the
      // clean-lineage divert semantics unchanged.
      // each write in its own try: a failure on one surface must not
      // silently take the other down with it (the whole point of the
      // always-parseable path is that SOMETHING lands)
      try {
        val lastOut = sys.env.getOrElse("GRAFT_BENCH_LAST_OUT",
          "bench_last.json")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(lastOut), full)
        println(s"""{"metric":"bench_last_written","path":"$lastOut","host_degraded":$hostDegraded}""")
      } catch { case _: Throwable => () }
      val out = artifactTarget(
        sys.env.getOrElse("GRAFT_BENCH_FULL_OUT", "bench_full.json"),
        hostDegraded)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), full)
      println(s"""{"metric":"bench_full_written","path":"$out","host_degraded":$hostDegraded}""")
    } catch { case _: Throwable => () }
    spark.stop()
  }
}

/** Wall-clock budget for Bench.main — the r17 round lost its only
  * independent bench record to a driver-side timeout (`BENCH_r17.json`
  * = rc 124, parsed null: the full run costs ~57 min quiet and this
  * host has documented periodic load spikes, so any stretch blew the
  * driver's cap). The degraded gates protect the record's QUALITY;
  * this protects its EXISTENCE: the mandatory core (warmup, the three
  * timed passes, the scale-ratio passes, the baseline-parity streaming
  * blocks, the artifact writes) always runs, and the optional
  * refinements are shed — loudly, recorded in `budget_shed`, never
  * silently — when the remaining clock cannot fit them PLUS the
  * estimated mandatory remainder.
  *
  * Shed priority under a tightening budget (r17 directive #1's order)
  * is enforced by WHAT each gate reserves, not by a scheduler: every
  * gate reserves only the MANDATORY blocks still ahead of it, never a
  * lower-priority optional block — so the big probe (reserved by
  * nothing) starves first, then the 10× streaming volume, then the
  * extra/noisy passes, then the adaptive-warmup refinement.
  *
  * @param budgetSec total wall-clock allowance, measured from
  *                  construction (main constructs this first thing)
  * @param clock     injectable nanoTime for the spec
  * @param onShed    called once per shed block with (block,
  *                  remainingSec) — main prints a `budget_shed` metric
  *                  line so the stdout timeline shows the decision
  */
final class BenchBudget(val budgetSec: Double,
    clock: () => Long = () => System.nanoTime(),
    onShed: (String, Double) => Unit = (_, _) => ()) {
  private val startNanos = clock()
  private val shedBuf = scala.collection.mutable.ArrayBuffer.empty[String]
  def elapsedSec: Double = (clock() - startNanos) / 1e9
  def remainingSec: Double = budgetSec - elapsedSec
  /** Every block refused so far, in refusal order. */
  def shed: Seq[String] = shedBuf.toSeq
  /** true ⇔ `estCostSec + mandatoryReserveSec` fits in the remaining
    * clock. false records `block` in the shed list (once — the warmup
    * loop may ask repeatedly). */
  def allow(block: String, estCostSec: Double,
      mandatoryReserveSec: Double = 0.0): Boolean = {
    val ok = remainingSec >= estCostSec + mandatoryReserveSec
    if (!ok && !shedBuf.contains(block)) {
      shedBuf += block
      onShed(block, remainingSec)
    }
    ok
  }
}

object BenchBudget {
  /** `GRAFT_BENCH_BUDGET_SEC`, validated: a malformed value must not
    * crash the bench (the ABPanel `.toInt` lesson, r17 advice #1) and
    * a zero/negative/absurdly-small one must not produce a record
    * that shed everything — parse with toDoubleOption and clamp to
    * ≥ 300 s; garbage or absent ⇒ the 2400 s default (r16's quiet
    * driver run took 57:16 under a ~1 h cap, so 40 min of in-main
    * budget leaves sbt/JVM startup plus load headroom). A close run
    * that wants the FULL evidence sets it large explicitly. */
  val DefaultBudgetSec = 2400.0
  val MinBudgetSec = 300.0
  def fromEnv(env: Map[String, String]): Double =
    env.get("GRAFT_BENCH_BUDGET_SEC").flatMap(_.toDoubleOption)
      .map(v => math.max(v, MinBudgetSec)).getOrElse(DefaultBudgetSec)
}
