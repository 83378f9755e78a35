package graft.core

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Pins the three contracts the r19 optimizations lean on
  * (graft.core.Spread):
  *  - evalOnce is row-preserving for every input, nulls included;
  *  - evalOnce actually stops the filter-pushdown re-evaluation (the
  *    guide §4.4 duplication) — demonstrated with an accumulator-
  *    counting expression: the plain select+filter shape evaluates
  *    the expression MORE than once per row, the evalOnce shape
  *    exactly once;
  *  - byKey spreads a narrow scan to defaultParallelism partitions
  *    but is a strict NO-OP (same DataFrame instance) when the input
  *    already carries at least that many partitions — the guard that
  *    keeps it free at cluster scale.
  */
class SpreadSpec extends SparkSuite {
  import spark.implicits._

  test("evalOnce preserves rows exactly, including nulls") {
    val df = Seq(Some(1L), None, Some(3L), Some(3L), None)
      .toDF("v")
    val plain = df.select(col("v").as("x"))
    val once = df.select(Spread.evalOnce(col("v")).as("x"))
    def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(r => if (r.isNullAt(0)) "null" else r.getLong(0).toString)
        .toSeq.sorted
    assert(rows(once) === rows(plain))
    assert(once.count() === df.count())
  }

  test("evalOnce pins an expensive expression to one eval per row " +
      "where select+filter re-evaluates it") {
    val acc = spark.sparkContext.longAccumulator("evals")
    val counting = udf { (v: Long) => acc.add(1); v * 2 }
    val df = spark.range(1000).toDF("id")

    def evalsFor(shape: org.apache.spark.sql.DataFrame): Long = {
      acc.reset()
      shape.write.format("noop").mode("overwrite").save()
      acc.value
    }

    // plain aliased select + 2-conjunct filter on the derived column:
    // pushdown substitutes the alias into each pushed conjunct
    val plain = evalsFor(df
      .select(col("id"), counting(col("id")).as("c"))
      .filter(col("c") >= 0 && col("c") <= 4000))
    // same semantics behind the Generate barrier
    val once = evalsFor(df
      .select(col("id"), Spread.evalOnce(counting(col("id"))).as("c"))
      .filter(col("c") >= 0 && col("c") <= 4000))

    assert(once === 1000L,
      s"evalOnce shape ran the expression $once times for 1000 rows")
    assert(plain > once,
      s"control did not reproduce the duplication (plain=$plain)")
  }

  test("byKey spreads a 1-partition relation to defaultParallelism " +
      "and is a no-op on an already-parallel one") {
    val narrow = spark.range(0, 100, 1, numPartitions = 1).toDF("id")
    val spreadN = Spread.byKey(narrow, col("id"))
    assert(spreadN.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    assert(spreadN.select(sum("id")).head.getLong(0) ===
      narrow.select(sum("id")).head.getLong(0))

    val wide = spark.range(0, 100, 1,
      numPartitions = spark.sparkContext.defaultParallelism + 2).toDF("id")
    assert(Spread.byKey(wide, col("id")) eq wide,
      "byKey must return the input unchanged when the scan already " +
        "has >= defaultParallelism partitions")
  }

  test("byKey's partition probe runs no Spark job (r19 verdict nit: " +
      "the rdd conversion is plan-build work only)") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = spark.range(0, 100, 1, numPartitions = 2).toDF("id")
      Spread.byKey(df, col("id"))
      Spread.acrossCores(df)
      // listener delivery is async: wait until every event posted so
      // far, a job start included, has reached the listener
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      assert(jobs.get() === 0,
        s"partition probe launched ${jobs.get()} job(s); it must stay " +
          "a driver-side plan walk")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
