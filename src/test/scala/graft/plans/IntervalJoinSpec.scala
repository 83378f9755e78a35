package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.functions._

class IntervalJoinSpec extends SparkSuite {
  import spark.implicits._

  test("hinted range join plans as IntervalJoinExec, unhinted does not") {
    val dim = spark.range(0, 100).select(col("id").as("bin"),
      (col("id") * 10.0).as("lo"), ((col("id") + 1) * 10.0).as("hi"))
    val fact = Seq(5.0, 15.0, 999.5).toDF("v")
    val hinted = fact.join(broadcast(dim),
      col("v") >= col("lo") && col("v") < col("hi"))
    assert(hinted.queryExecution.executedPlan.toString
      .contains("IntervalJoin"))
    val unhinted = fact.join(dim,
      col("v") >= col("lo") && col("v") < col("hi"))
    assert(!unhinted.queryExecution.executedPlan.toString
      .contains("IntervalJoin"))
  }

  test("matches the brute-force join on overlapping intervals") {
    // overlapping dim: every v in [0,100) sits in ~3 intervals
    val dim = spark.range(0, 50).select(col("id").as("iid"),
      (col("id") * 2.0).as("lo"), (col("id") * 2.0 + 6.0).as("hi"))
      .localCheckpoint()
    val fact = spark.range(0, 200)
      .select((col("id") * 0.5).as("v")).localCheckpoint()
    val custom = fact.join(broadcast(dim),
        col("v") >= col("lo") && col("v") < col("hi"))
      .select("v", "iid").collect().map(r => (r.getDouble(0), r.getLong(1)))
      .toSet
    val brute = fact.crossJoin(dim)
      .filter(col("v") >= col("lo") && col("v") < col("hi"))
      .select("v", "iid").collect().map(r => (r.getDouble(0), r.getLong(1)))
      .toSet
    assert(custom == brute, s"missing ${brute -- custom}; extra ${custom -- brute}")
    assert(custom.nonEmpty)
  }

  test("strictness variants and left-outer nulls behave correctly") {
    val dim = Seq((0, 0.0, 10.0), (1, 10.0, 20.0)).toDF("iid", "lo", "hi")
    val fact = Seq(10.0, 25.0).toDF("v")
    // closed-open [lo, hi): 10.0 belongs to interval 1 only
    val co = fact.join(broadcast(dim),
        col("v") >= col("lo") && col("v") < col("hi"), "left")
      .select("v", "iid").collect()
      .map(r => (r.getDouble(0), if (r.isNullAt(1)) -1 else r.getInt(1)))
      .toSet
    assert(co == Set((10.0, 1), (25.0, -1)))
    // open-closed (lo, hi]: 10.0 belongs to interval 0 only
    val oc = fact.join(broadcast(dim),
        col("v") > col("lo") && col("v") <= col("hi"), "left")
      .select("v", "iid").collect()
      .map(r => (r.getDouble(0), if (r.isNullAt(1)) -1 else r.getInt(1)))
      .toSet
    assert(oc == Set((10.0, 0), (25.0, -1)))
  }

  test("-0.0 probe matches +0.0 bound exactly as the stock join does") {
    // Catalyst's >=/< treat -0.0 == 0.0 (SQLOrderingUtil); the exec
    // orders with the interpreted ordering, so -0.0 must land in the
    // [0.0, 10.0) interval — Double.compareTo would have dropped it.
    val dim = Seq((0, 0.0, 10.0), (1, -10.0, 0.0)).toDF("iid", "lo", "hi")
    val fact = Seq(-0.0, 0.0).toDF("v")
    def ids(hinted: Boolean) = {
      val d = if (hinted) broadcast(dim) else dim
      fact.join(d, col("v") >= col("lo") && col("v") < col("hi"))
        .select("iid").collect().map(_.getInt(0)).sorted.toSeq
    }
    assert(ids(hinted = true) == ids(hinted = false))
    assert(ids(hinted = true) == Seq(0, 0))
  }

  test("non-atomic (array) bounds fall back to the stock join") {
    val dim = Seq((0, Seq(0), Seq(9)), (1, Seq(10), Seq(19)))
      .toDF("iid", "lo", "hi")
    val fact = Seq(Seq(5), Seq(12)).toDF("v")
    val j = fact.join(broadcast(dim),
      col("v") >= col("lo") && col("v") < col("hi"))
    assert(!j.queryExecution.executedPlan.toString.contains("IntervalJoin"))
    // and it still executes correctly via Spark's own join
    assert(j.select("iid").collect().map(_.getInt(0)).sorted.toSeq == Seq(0, 1))
  }

  test("merge-hinted dim plans the range-partitioned exec, no BNLJ") {
    val dim = spark.range(0, 5000).select(col("id").as("bin"),
      (col("id") * 10.0).as("lo"), ((col("id") + 1) * 10.0).as("hi"))
    val fact = Seq(5.0, 15.0, 49999.5).toDF("v")
    val j = fact.join(dim.hint("merge"),
      col("v") >= col("lo") && col("v") < col("hi"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("RangeIntervalJoin"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(j.collect().map(_.getAs[Long]("bin")).sorted.toSeq ==
      Seq(0L, 1L, 4999L))
  }

  test("range-partitioned path matches brute force incl. spanning intervals") {
    // overlapping dim with a few WIDE intervals that straddle many range
    // buckets — exercises the replicate-to-every-overlapped-bucket path
    val dim = spark.range(0, 50).select(col("id").as("iid"),
      (col("id") * 2.0).as("lo"), (col("id") * 2.0 + 6.0).as("hi"))
      .unionAll(Seq((1000L, 0.0, 100.0), (1001L, 30.0, 90.0))
        .toDF("iid", "lo", "hi"))
      .localCheckpoint()
    val fact = spark.range(0, 200)
      .select((col("id") * 0.5).as("v")).localCheckpoint()
    val custom = fact.join(dim.hint("merge"),
        col("v") >= col("lo") && col("v") < col("hi"))
      .select("v", "iid").collect().map(r => (r.getDouble(0), r.getLong(1)))
      .toSet
    val brute = fact.crossJoin(dim)
      .filter(col("v") >= col("lo") && col("v") < col("hi"))
      .select("v", "iid").collect().map(r => (r.getDouble(0), r.getLong(1)))
      .toSet
    assert(custom == brute,
      s"missing ${brute -- custom}; extra ${custom -- brute}")
    assert(custom.nonEmpty)
  }

  test("range-partitioned left-outer and strictness match the broadcast path") {
    val dim = Seq((0, 0.0, 10.0), (1, 10.0, 20.0)).toDF("iid", "lo", "hi")
    val fact = Seq(10.0, 25.0).toDF("v")
    def run(d: org.apache.spark.sql.DataFrame) =
      fact.join(d, col("v") > col("lo") && col("v") <= col("hi"), "left")
        .select("v", "iid").collect()
        .map(r => (r.getDouble(0), if (r.isNullAt(1)) -1 else r.getInt(1)))
        .toSet
    assert(run(dim.hint("merge")) == run(broadcast(dim)))
    assert(run(dim.hint("merge")) == Set((10.0, 0), (25.0, -1)))
  }

  test("binned aggregate matches the arithmetic formulation on testdata") {
    val got = IntervalJoinQueries.q31IntervalJoin(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = graft.core.Tables.orders(spark, sf0001)
      .groupBy(floor(col("o_totalprice") / 300.0).as("bin"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
  }
}
