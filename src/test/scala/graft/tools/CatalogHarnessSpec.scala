package graft.tools

import graft.{SparkEntry, SparkSuite}

class CatalogHarnessSpec extends SparkSuite {

  test("timeOnce returns -1.0 for a query that throws, not its elapsed time") {
    assert(CatalogHarness.timeOnce(spark, "q12_daily_events",
      "/nonexistent/sf") === -1.0)
    assert(CatalogHarness.timeOnce(spark, "no_such_query", sf0001) === -1.0)
    assert(CatalogHarness.timeOnce(spark, "q12_daily_events", sf0001) >= 0.0)
  }

  test("timeOnce leaves no persisted RDD behind a localCheckpoint query") {
    val name = "stat_theta_overlap"
    SparkEntry.queries(name)(spark, sf0001).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      s"precondition: $name leaves its localCheckpoint cached")
    CatalogHarness.dropPersisted(spark)
    assert(CatalogHarness.timeOnce(spark, name, sf0001) >= 0.0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("bestOf ignores failed samples and is -1.0 when all failed") {
    assert(CatalogHarness.bestOf(Seq(0.7, -1.0, 0.5, 0.9)) === 0.5)
    assert(CatalogHarness.bestOf(Seq(-1.0, 2.0)) === 2.0)
    assert(CatalogHarness.bestOf(Seq(-1.0, -1.0)) === -1.0)
    assert(CatalogHarness.bestOf(Nil) === -1.0)
  }
}
