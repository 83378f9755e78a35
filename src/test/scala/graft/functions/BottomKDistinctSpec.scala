package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** [[BottomKDistinct]] vs the declarative reference
  * `slice(array_sort(collect_set(x)), 1, k)` on seeded random
  * multisets — plus the SQL registration and the analysis-time k
  * guard.
  */
class BottomKDistinctSpec extends SparkSuite {

  test("matches distinct+sort+take on seeded random groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { trial =>
      val k = 1 + rnd.nextInt(12)
      val rows = List.fill(200)(
        (rnd.nextInt(7).toLong, (rnd.nextInt(101) - 50).toLong))
      val df = rows.toDF("g", "v")
      val got = df.groupBy("g")
        .agg(BottomKDistinct.bottomkDistinct(col("v"), k).as("bk"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList)
        .toMap
      val want = rows.groupBy(_._1).view
        .mapValues(_.map(_._2).distinct.sorted.take(k).toList).toMap
      assert(got == want, s"trial $trial k=$k")
    }
  }

  test("map-side merge keeps O(k) partial state semantics") {
    import spark.implicits._
    // 1 group spread over many partitions: every partial buffer caps
    // at k, and the merged result is still the exact global bottom-k
    val df = spark.range(0, 100000).select(
      lit(1L).as("g"), (col("id") * 2654435761L % 1000003L).as("v"))
      .repartition(16)
    val got = df.groupBy("g")
      .agg(BottomKDistinct.bottomkDistinct(col("v"), 5).as("bk"))
      .collect()(0).getSeq[Long](1).toList
    val want = df.select("v").collect().map(_.getLong(0))
      .distinct.sorted.take(5).toList
    assert(got == want)
  }

  test("SQL registration and constant-k analysis guard") {
    spark.range(0, 10).createOrReplaceTempView("bottomk_t")
    val r = spark
      .sql("SELECT bottomk_distinct(id % 4, 3) AS bk FROM bottomk_t")
      .collect()(0).getSeq[Long](0).toList
    assert(r == List(0L, 1L, 2L))
    val err = intercept[Exception] {
      spark.sql("SELECT bottomk_distinct(id, cast(id as int)) FROM bottomk_t")
        .collect()
    }
    assert(err.getMessage.contains("foldable") ||
      err.getMessage.toLowerCase.contains("constant"))
  }
}
