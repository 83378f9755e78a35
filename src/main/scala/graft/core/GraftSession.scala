package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine: every session in the repo —
  * the catalog mains, perfbench and the test suites — is built here.
  *
  * Local-mode defaults are tuned for the test harness (`local[N]`, N from
  * SPARK_GRAFT_CPUS); on a real cluster the same builder settings apply
  * except `master`, which spark-submit provides. Shuffle partitions match
  * core count locally — on a 1000-executor cluster this would be set to
  * ~2-3x total cores (AQE coalesces down as needed).
  *
  * [[GraftExtensions]] is registered at construction, so every session
  * plans the same way from its first query: the engine's SQL functions
  * resolve and hinted range joins plan as `graft.plans.IntervalJoin`.
  */
object GraftSession {

  def builder(appName: String = "graft"): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      // events.parquet is TIMESTAMP(NANOS); set once here instead of
      // mutating the live session from inside a table loader
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new GraftExtensions)
  }

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` with the runtime confs `pairs` set, then puts each key
    * back as it was: its prior value, or unset when it had none. */
  def withConf[T](spark: SparkSession, pairs: (String, String)*)(
      body: => T): T = {
    val prior = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
