package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._

class TopKByScoreSpec extends SparkSuite {
  import spark.implicits._

  test("topk ids come out in score-desc, id-asc order across partitions") {
    val df = Seq(
      ("a", 5.0, 1L), ("a", 9.0, 2L), ("a", 9.0, 3L), ("a", 1.0, 4L),
      ("a", 7.0, 5L), ("b", 2.0, 6L))
      .toDF("g", "score", "id")
      .repartition(8) // force partial buffers + a real merge
    val got = df.groupBy("g")
      .agg(TopKByScore.topkIds(col("score"), col("id"), 3).as("top"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(got("a") == Seq(2L, 3L, 5L)) // 9.0 tie -> lower id first
    assert(got("b") == Seq(6L))
  }

  test("partial aggregation state is bounded: plan shows partial_topkbyscore") {
    val df = Seq((1, 1.0, 1L)).toDF("g", "score", "id")
    val plan = df.groupBy("g")
      .agg(TopKByScore.topkIds(col("score"), col("id"), 2).as("top"))
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("partial_topkbyscore"),
      s"expected two-phase agg in:\n$plan")
  }

  test("non-constant or null k fails at analysis, not on executors") {
    val df = Seq((1, 1.0, 1L)).toDF("g", "score", "id")
    // non-foldable k: a column reference
    val nonFoldable = intercept[org.apache.spark.sql.AnalysisException] {
      df.groupBy("g")
        .agg(TopKByScore.topkIdsExpr(col("score"), col("id"),
          col("g").cast("int"))).collect()
    }
    assert(nonFoldable.getMessage.toLowerCase.contains("foldable") ||
      nonFoldable.getMessage.toLowerCase.contains("constant"))
    // null k literal
    val nullK = intercept[org.apache.spark.sql.AnalysisException] {
      df.groupBy("g")
        .agg(TopKByScore.topkIdsExpr(col("score"), col("id"),
          lit(null).cast("int"))).collect()
    }
    assert(nullK.getMessage.toLowerCase.contains("null"))
  }

  test("topk_ids is callable from SQL via GraftExtensions") {
    Seq((1, 3.0, 10L), (1, 8.0, 11L), (1, 5.0, 12L))
      .toDF("g", "score", "id").createOrReplaceTempView("topk_t")
    val got = spark.sql(
      "SELECT g, topk_ids(score, id, 2) AS top FROM topk_t GROUP BY g")
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(got(1) == Seq(11L, 12L))
  }
}
