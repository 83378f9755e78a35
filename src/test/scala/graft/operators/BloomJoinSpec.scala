package graft.operators

import graft.SparkSuite
import graft.core.GraftSession.withConf
import graft.core.Tables
import org.apache.spark.sql.functions._

/** Runtime Bloom-filter join pruning (Spark 3.5+/4.x): for a shuffle
  * join with a selective creation side, Catalyst injects a
  * bloom_filter_agg on the small side and a might_contain probe on the
  * big side's scan, dropping non-joining rows BEFORE the shuffle.
  * At 100 TB this is a first-class lever (the shuffle is the cost);
  * defaults gate it at 10 GB application-side scans, so the spec
  * lowers the thresholds to demonstrate and pin the behavior.
  */
class BloomJoinSpec extends SparkSuite {

  test("selective dim join injects a bloom filter on the fact side") {
    withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB"
    ) {
      val li = Tables.lineitem(spark, sf001)
      val ords = Tables.orders(spark, sf001)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ords, li("l_orderkey") === ords("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no bloom probe injected:\n${plan.take(4000)}")
      // and it must not have broken the result
      val n = joined.collect()
      assert(n.length == 1 && n(0).getString(0) == "1-URGENT")
    }
  }
}
