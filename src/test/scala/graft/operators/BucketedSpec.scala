package graft.operators

import graft.SparkSuite
import graft.core.GraftSession.withConf
import graft.core.Tables
import org.apache.spark.sql.functions._

class BucketedSpec extends SparkSuite {

  test("bucketed join plan has no shuffle exchange on either join input") {
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (ordersTbl, custTbl) = BucketedOps.ensureBucketed(spark, sf0001)
      val joined = spark.table(ordersTbl)
        .join(spark.table(custTbl).hint("merge"),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_mktsegment")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!plan.contains("ShuffleExchange"),
        s"bucketed join should not shuffle:\n$plan")
    }
  }

  test("bucketed join result matches the raw-parquet join") {
    val bucketed = BucketedOps.q26BucketedJoin(spark, sf0001).collect()
    val raw = Tables.orders(spark, sf0001)
      .join(Tables.customer(spark, sf0001),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("c_mktsegment")
      .collect()
    assert(bucketed.toSeq == raw.toSeq)
  }
}
