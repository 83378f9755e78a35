package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Runs one benchmark workload and prints its result as the last line
  * of standard output:
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{name:{value,unit}}}`.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work-dir <dir>`. With `--trace 0` the metrics are the end-to-end
  * ones; with `--trace 1` they are the per-layer ones, and the spans are
  * written to `<work-dir>/trace-<workload>-<seed>.json`.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, workDir: File)

  val Workloads: Map[String, Ctx => Unit] = Map(
    "ml_batch" -> MlBatch.run,
    "reco_serve" -> RecoServe.run)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opts = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", new File(kv("work-dir")))
    val run = Workloads.getOrElse(opts.workload, {
      System.err.println(s"unknown workload ${opts.workload}; known: " +
        Workloads.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    })
    opts.workDir.mkdirs()
    val ctx = new Ctx(opts)
    val code =
      try {
        run(ctx)
        ctx.layer("jvm.peak_rss_mb", Stats.peakRssMb, "MB")
        ctx.metric("retained_heap_mb", Stats.retainedHeapMb, "MB")
        println(ctx.resultJson)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally ctx.close()
    sys.exit(code)
  }
}

/** One run's state: the session, the trace, the checks and the metrics
  * the workload reports. */
final class Ctx(val opts: Main.Opts) {
  val trace = new Trace(opts.trace, s"${opts.workload}-${opts.seed}-${System.currentTimeMillis()}")
  private var session: SparkSession = _
  val attribution: Option[Attribution] =
    if (opts.trace) Some(new Attribution) else None
  val jobs = new JobCounter

  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
  /** Operations attempted and failed; a failed check fails its
    * operation, which the workload counts here. */
  var attempted = 0L
  var failed = 0L
  var failedChecks = 0L

  def spark: SparkSession = session
  def traced: Boolean = opts.trace
  def dir(name: String): File = { val d = new File(opts.workDir, name); d.mkdirs(); d }

  /** Starts the session [[Ctx.SetupRepeats]] times (stopping all but
    * the last) and returns the median start time in seconds: `setup_s`.
    * Each start
    * builds the session from [[GraftSession]], runs one trivial job so
    * lazy set-up is done, and then runs `programSetup` (model load,
    * service start) followed by its teardown on every start but the last.
    */
  def startSession(programSetup: SparkSession => (() => Unit)): Double = {
    val times = (1 to Ctx.SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      val s = trace.record("core.session_start") {
        val s = GraftSession.getOrCreate("graftbench")
        s.range(1).count()
        s
      }
      val teardown = programSetup(s)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < Ctx.SetupRepeats) { teardown(); s.stop() }
      else session = s
      dt
    }
    session.sparkContext.addSparkListener(jobs)
    attribution.foreach(session.sparkContext.addSparkListener)
    layer("core.session_start_s", Stats.median(trace.durations("core.session_start")), "s")
    Stats.median(times)
  }

  /** A correctness check: a failure marks the run incorrect and counts
    * as one failed operation. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok))
    if (!ok) {
      failedChecks += 1
      System.err.println(s"[check FAILED] $name $detail")
    }
  }

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** A per-layer metric; only reported in traced runs. */
  def layer(name: String, value: Double, unit: String): Unit =
    if (traced) metric(name, value, unit)

  /** Counters of a span, after every event so far was delivered. */
  def counters(span: String): Attribution.Counters = {
    Attribution.drain(spark.sparkContext)
    attribution.map(_(span)).getOrElse(new Attribution.Counters)
  }

  /** Reports the Spark-side per-layer metrics of one span, per
    * operation: every counter is divided by `ops`. */
  def sparkLayer(prefix: String, span: String, ops: Int,
      fields: Seq[String]): Unit = if (traced) {
    val c = counters(span)
    val n = math.max(1, ops).toDouble
    val all = Map(
      "jobs" -> (c.jobs.toDouble, "count"), "stages" -> (c.stages.toDouble, "count"),
      "tasks" -> (c.tasks.toDouble, "count"),
      "executor_cpu_s" -> (c.cpuNs / 1e9, "s"),
      "scheduler_delay_s" -> (c.schedulerDelayMs / 1e3, "s"),
      "gc_s" -> (c.gcMs / 1e3, "s"),
      "shuffle_bytes" -> (c.shuffleBytes.toDouble, "bytes"),
      "spill_bytes" -> (c.spillBytes.toDouble, "bytes"),
      "result_bytes" -> (c.resultBytes.toDouble, "bytes"),
      "failed_tasks" -> (c.failedTasks.toDouble, "count"))
    fields.foreach { f => val (v, u) = all(f); metric(s"$prefix.$f", v / n, u) }
  }

  def correct: Boolean = checks.nonEmpty && checks.forall(_._2)

  def resultJson: String = {
    val ms = metrics.toSeq.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val failedOps = math.max(failed, if (failedChecks > 0) 1L else 0L)
    Json.obj("correct" -> correct, "attempted" -> math.max(1L, attempted),
      "failed" -> failedOps, "metrics" -> Json.Raw(Json.obj(ms: _*)))
  }

  def close(): Unit = {
    if (traced && session != null) {
      Attribution.drain(session.sparkContext)
      val f = new File(opts.workDir, s"trace-${opts.workload}-${opts.seed}.json")
      val json = trace.toJson(attribution.map(_.all).getOrElse(Map.empty))
      Files.write(f.toPath, json.getBytes(StandardCharsets.UTF_8))
    }
    if (session != null) session.stop()
  }
}

object Ctx {
  val SetupRepeats = 5
}
