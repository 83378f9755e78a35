package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Stream-source facade (SURVEY §2.10 S6/S7).
  *
  * The reference subscribes to Kafka (`app/spark_stream.py:20-24` etc.);
  * this environment has no broker or connector jar, so the engine
  * abstracts the source: every implementation yields a streaming
  * DataFrame with a single string `value` column — exactly what the
  * Kafka source yields after `value.cast("string")` — and downstream
  * pipelines are source-agnostic.
  */
sealed trait StreamSource {
  def load(spark: SparkSession): DataFrame
}

/** Kafka facade — compiles against the stock API and carries the same
  * options as the reference (`subscribe`, `startingOffsets`); untested
  * here because no broker/connector exists in the environment (documented
  * deviation, SURVEY §7.3).
  */
final case class KafkaSource(bootstrap: String, topic: String,
    startingOffsets: String = "latest") extends StreamSource {

  /** The exact DataStreamReader option payload the reference passes —
    * `kafka.bootstrap.servers` + `subscribe` (`app/spark_stream.py:
    * 20-24`, `app3/live_counts.py:42-45`), plus `startingOffsets` for
    * the measured earliest variant (`apps_mediciones/
    * live_counts_update_earliest.py:47-49`; the reference omits the
    * option for its default-latest apps — explicit "latest" is the
    * documented same-semantics spelling). SourcesContractSpec pins
    * this map for both S6 and S7 until a broker exists to test
    * against.
    */
  def options: Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribe" -> topic,
    "startingOffsets" -> startingOffsets)

  def load(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.readStream
      .format("kafka")
      .options(options)
      .load()
      .select(col("value").cast("string").as("value"))
  }
}

/** File-based JSON-lines source (each line = one message). */
final case class FileLinesSource(path: String,
    maxFilesPerTrigger: Option[Int] = None) extends StreamSource {
  def load(spark: SparkSession): DataFrame = {
    val r = spark.readStream
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.text(path)
  }
}

/** Driver-fed in-memory source for tests and local benchmarks. A batch
  * is read over `defaultParallelism` partitions, so parsing a large
  * backlog runs on every core instead of in one task that carries the
  * whole batch. The stream deals a batch's rows round-robin across the
  * partitions: the multiset of rows in a batch is what was added, their
  * order within the batch is not.
  */
final class MemorySource(spark: SparkSession) extends StreamSource {
  import spark.implicits._
  val stream: MemoryStream[String] =
    MemoryStream[String](spark, spark.sparkContext.defaultParallelism)
  def add(msgs: Seq[String]): Unit = stream.addData(msgs)
  def load(s: SparkSession): DataFrame = stream.toDF()
}

/** Rate-limited synthetic producer profiles mirroring the reference's
  * bots (`bots/bot_*.py`, SURVEY §2.10 ST9) — generates feedback JSON
  * deterministically; rate pacing is the caller's concern (tests push
  * batches directly).
  */
object FeedbackGenerator {
  /** Deterministic message k for a demographic profile. */
  def message(profile: String, k: Int): String = {
    val rnd = new scala.util.Random(profile.hashCode.toLong * 31 + k)
    val (gender, occ, age) = profile match {
      case "inserso" => ("Mujer", "Jubilado", 66 + rnd.nextInt(25))
      case "revista" => ("Mujer", "Estudiante", 10 + rnd.nextInt(7))
      case "masculino" => ("Hombre", "Programador", 25 + rnd.nextInt(16))
      case _ =>
        (if (rnd.nextBoolean()) "Hombre" else "Mujer",
          "Otro / No especificado", 10 + rnd.nextInt(81))
    }
    val ratings = (1 to 5)
      .map(i => s"""{"filmId": ${1 + rnd.nextInt(5)}, "rating": ${1 + rnd.nextInt(5)}}""")
      .mkString("[", ", ", "]")
    s"""{"gender": "$gender", "occupation": "$occ", "age": $age, "ratings": $ratings}"""
  }

  def batch(profile: String, from: Int, n: Int): Seq[String] =
    (from until from + n).map(k => message(profile, k))
}
