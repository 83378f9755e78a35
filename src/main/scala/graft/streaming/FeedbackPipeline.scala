package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** The live-counts feedback pipeline (`app3/live_counts.py`,
  * `apps_mediciones/live_counts_*.py`): JSON feedback → parse → age
  * binning → {memory sink | foreachBatch}.
  *
  * Streaming semantics replicated exactly (SURVEY §2.10): default
  * micro-batch trigger, PERMISSIVE from_json (malformed → null row),
  * processing-time only (no watermark — the reference has none; event
  * -time windows live in [[EventWindows]] as the engine's extension).
  */
object FeedbackPipeline {

  /** `{gender, occupation, age, ratings:[{filmId,rating}]}` —
    * `app3/live_counts.py:29-39`. */
  val ratingSchema: StructType = StructType(Seq(
    StructField("filmId", IntegerType),
    StructField("rating", IntegerType)))

  val feedbackSchema: StructType = StructType(Seq(
    StructField("gender", StringType),
    StructField("occupation", StringType),
    StructField("age", IntegerType),
    StructField("ratings", ArrayType(ratingSchema))))

  /** 7-way age binning — `app3/live_counts.py:52-61`, exact labels. */
  val ageBin: Column =
    when(col("age") < 18, "<18")
      .when(col("age") >= 18 && col("age") <= 24, "18-24")
      .when(col("age") >= 25 && col("age") <= 34, "25-34")
      .when(col("age") >= 35 && col("age") <= 44, "35-44")
      .when(col("age") >= 45 && col("age") <= 49, "45-49")
      .when(col("age") >= 50 && col("age") <= 55, "50-55")
      .otherwise("56+")

  /** value:string → (gender, occupation, age, age_bin).
    * `app3/live_counts.py:48-61`. Works on both streaming and batch
    * DataFrames (used by tests for differential checks).
    */
  def parse(raw: DataFrame): DataFrame =
    raw
      .select(from_json(col("value").cast("string"), feedbackSchema)
        .as("json"))
      .select("json.gender", "json.occupation", "json.age")
      .withColumn("age_bin", ageBin)

  /** Memory sink, append mode (S9) — accumulates every row of every
    * batch into the in-memory table `queryName`. */
  def startMemoryAppend(parsed: DataFrame, queryName: String)
      : StreamingQuery =
    parsed.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .start()

  /** foreachBatch sink (S10) — custom per-micro-batch callback on the
    * stream-execution thread, as in the measured variants. */
  def startForeachBatch(parsed: DataFrame,
      fn: (DataFrame, Long) => Unit, outputMode: String = "append")
      : StreamingQuery =
    parsed.writeStream
      .outputMode(outputMode)
      .foreachBatch(fn)
      .start()

  /** Aggregated live counts in complete mode — the engine-side version
    * of the dashboards' per-request `value_counts` (SURVEY §2.4 A8
    * moved into Spark): stateful streaming count per key, the whole
    * result table rewritten to the memory sink every trigger.
    */
  def startCountsUpdate(parsed: DataFrame, keyCol: String,
      queryName: String): StreamingQuery =
    parsed.groupBy(col(keyCol)).count()
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("complete")
      .start()
}
