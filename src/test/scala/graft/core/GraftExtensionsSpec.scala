package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.etl.MovieLens
import graft.operators.RelationalOps

/** The suite session comes from [[GraftSession.builder]], so it carries
  * [[GraftExtensions]] from its first query: no test or query installs
  * anything on a live session. */
class GraftExtensionsSpec extends SparkSuite {
  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Left-outer range join in its brute-force form: every (fact, dim)
    * pair filtered by `cond`, then re-attached to the facts by `key` so
    * an unmatched fact keeps one null-extended row. No hint, so the
    * interval-join rule never sees it. */
  private def bruteLeft(fact: DataFrame, dim: DataFrame, key: String,
      cond: Column, cols: Seq[String]): DataFrame = {
    val matched = fact.crossJoin(dim).filter(cond).select(key, cols: _*)
    fact.join(matched, Seq(key), "left")
  }

  test("the suite session resolves the engine's SQL functions") {
    val cos = spark
      .sql("select round(cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)), 6)")
      .head().getDouble(0)
    assert(cos == 1.0)
    val top = spark.sql("select topk_ids(s, id, 2) from values " +
        "(3.0d, 10L), (8.0d, 11L), (5.0d, 12L) as t(s, id)")
      .head().getSeq[Long](0)
    assert(top == Seq(11L, 12L))
    val bottom = spark.sql("select bottomk_distinct(id % 4, 3) from range(10)")
      .head().getSeq[Long](0)
    assert(bottom == Seq(0L, 1L, 2L))
  }

  test("q21_range_label plans IntervalJoin and matches the brute force") {
    val got = RelationalOps.q21RangeLabel(spark, sf0001)
    assert(plan(got).contains("IntervalJoin"), plan(got))
    assert(!plan(got).contains("BroadcastNestedLoopJoin"), plan(got))
    val c = Tables.customer(spark, sf0001)
    val dim = RelationalOps.balTiers.toDF("lo", "hi", "tier")
    val want = bruteLeft(c, dim, "c_custkey",
        col("c_acctbal") >= col("lo") && col("c_acctbal") < col("hi"),
        Seq("tier"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n"), round(avg("c_acctbal"), 2).as("avg_bal"))
      .orderBy("tier")
    assert(!plan(want).contains("IntervalJoin"), plan(want))
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("enrichUsers plans IntervalJoin and matches the brute force") {
    // 5-digit, ZIP+4, short and non-digit zips: the last three give a
    // null probe, which the left-outer join keeps as state "Other"
    val zips = Seq("48067", "02460", "55455-1234", "98107-2117", "12",
      "", "abcde", "N2L-3G1", "T8N", "00912", "99999")
    val users = zips.zipWithIndex
      .map { case (z, i) => (i, "F", 25, 1, z) }
      .toDF("userId", "gender", "age", "occupation", "zip")
    val got = MovieLens.enrichUsers(spark, users)
    assert(plan(got).contains("IntervalJoin"), plan(got))
    assert(!plan(got).contains("BroadcastNestedLoopJoin"), plan(got))
    val digits = regexp_replace(col("zip"), "[^0-9]", "")
    val pre = users.withColumn("p",
      when(length(digits) >= 3, substring(digits, 1, 3).cast("int")))
    val ranges = MovieLens.zipStateRangesDisjoint.toDF("lo", "hi", "state")
    val want = bruteLeft(pre, ranges, "userId",
        col("p") >= col("lo") && col("p") <= col("hi"), Seq("state"))
      .select(col("userId"), coalesce(col("state"), lit("Other")))
    assert(!plan(want).contains("IntervalJoin"), plan(want))
    val gotRows = got.select(col("userId"), col("state")).collect().toSeq
      .sortBy(_.getInt(0))
    val wantRows = want.collect().toSeq.sortBy(_.getInt(0))
    assert(gotRows == wantRows)
    assert(gotRows.length == zips.length)
    assert(gotRows.count(_.getString(1) == "Other") >= 4, gotRows)
  }
}
