package graft.tools

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.GraftSession

/** The session and the query-timing loop shared by every catalog entry
  * point: Bench, Verify, ABPanel, MiniBench, PlanDump and ScaleProbe.
  *
  * Depends only on `GraftSession.builder` and `SparkEntry.queries`:
  * scripts/ab_bench.sh copies this file next to ABPanel into a checkout
  * of an older commit, so both sides of the A/B time queries with the
  * same loop in the same session.
  */
object CatalogHarness {

  /** GraftSession plus the catalog-wide settings.
    *
    * Spark's generated-class cache is a 100-entry LRU
    * (`spark.sql.codegen.cache.maxEntries`, a static conf, so it must be
    * set before the session exists). The catalog compiles to several
    * hundred whole-stage-codegen units, so the default LRU thrashes and
    * re-runs janino for the whole catalog on every pass, inside the
    * timed windows (one of the two causes of BENCH_r07's uniform ~+1 s
    * per-query floor; see Bench's doc). Raised to 10000 here.
    *
    * The seventeen plan-audited bounded-census windows each log a
    * "WindowExec: No Partition Defined" warning per execution; across
    * 219 queries × ~10 passes that is thousands of identical lines,
    * which flooded BENCH_r17's driver tail and buried the rc-124
    * diagnosis. Their boundedness is machine-checked structurally
    * (PlanAuditSpec's SinglePartition-window walk), so the warning
    * carries no information here: that one logger goes to ERROR, after
    * `setLogLevel`, which resets only the root level.
    */
  def session(): SparkSession = {
    val spark = GraftSession.builder()
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }

  /** Unpersist every RDD the last query left cached. Queries that
    * `localCheckpoint` shared subplans leave RDD blocks behind; dropping
    * them between queries keeps one query's storage pressure from
    * skewing the next one's timing. */
  def dropPersisted(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))

  /** Seconds for one `count()` of catalog query `name` over `dir`, or
    * -1.0 when it throws: an instant failure must never read as a very
    * fast run (it would poison min-of-N and the scale ratios). The
    * failure is reported on stderr. */
  def timeOnce(spark: SparkSession, name: String, dir: String): Double = {
    val query = SparkEntry.queries.get(name)
    val t0 = System.nanoTime()
    val ok = try {
      query.getOrElse(throw new NoSuchElementException(
        s"no catalog query $name"))(spark, dir).count()
      true
    } catch { case e: Throwable =>
      System.err.println(s"[catalog] $name failed: ${e.getMessage}"); false
    }
    val dt = (System.nanoTime() - t0) / 1e9
    dropPersisted(spark)
    if (ok) dt else -1.0
  }

  /** The best (minimum) of the successful samples; -1.0 when every
    * sample failed. A real regression is slow every time, a GC pause
    * or a host blip is not. */
  def bestOf(samples: Seq[Double]): Double = {
    val good = samples.filter(_ >= 0)
    if (good.isEmpty) -1.0 else good.min
  }
}
