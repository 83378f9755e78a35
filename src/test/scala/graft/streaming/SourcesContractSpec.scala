package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Source-facade contract (S6/S7 honesty without a broker): the Kafka
  * facade must build the EXACT reader option payloads the reference's
  * apps pass, and every non-Kafka implementation must satisfy the same
  * downstream contract — a STREAMING DataFrame with a single string
  * `value` column, which is what the Kafka source yields after
  * `value.cast("string")` and what every downstream pipeline consumes.
  */
class SourcesContractSpec extends SparkSuite {

  test("KafkaSource carries the reference's reader options (S6 latest)") {
    // app/spark_stream.py:20-24 + app3/live_counts.py:42-45 — broker,
    // topic subscription, default-latest offsets
    val s = KafkaSource("kafka:9092", "feedback")
    assert(s.options == Map(
      "kafka.bootstrap.servers" -> "kafka:9092",
      "subscribe" -> "feedback",
      "startingOffsets" -> "latest"))
  }

  test("KafkaSource earliest variant matches the measured app (S7)") {
    // apps_mediciones/live_counts_update_earliest.py:47-49
    val s = KafkaSource("kafka:9092", "feedback",
      startingOffsets = "earliest")
    assert(s.options("startingOffsets") == "earliest")
    assert(s.options - "startingOffsets" ==
      KafkaSource("kafka:9092", "feedback").options - "startingOffsets")
  }

  private val contract = StructType(Seq(StructField("value", StringType)))

  test("MemorySource satisfies the downstream value-column contract") {
    val src = new MemorySource(spark)
    val df = src.load(spark)
    assert(df.isStreaming)
    assert(df.schema == contract)
    src.add(Seq("""{"a": 1}""", """{"a": 2}"""))
    val q = df.writeStream.format("memory").queryName("contract_mem")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("contract_mem").count() == 2L)
    } finally q.stop()
  }

  test("MemorySource reads one add as one trigger over every core") {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    val src = new MemorySource(spark)
    val parts = spark.sparkContext.defaultParallelism
    // more messages than partitions, so that each partition gets rows
    val msgs = (0 until 10 * parts + 3).map(i => s"""{"k": ${i % 7}}""")
    src.add(msgs)
    val q = src.load(spark)
      .select(col("value"), spark_partition_id().as("part"))
      .writeStream.format("memory").queryName("memory_source_parts")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq ==
        Seq(msgs.size.toLong))
      val rows = spark.table("memory_source_parts").collect()
      assert(rows.map(_.getInt(1)).distinct.sorted.toSeq == (0 until parts))
      // the same multiset of messages; their order within the batch is
      // not part of the contract
      assert(rows.map(_.getString(0)).groupBy(identity).view.mapValues(_.length).toMap ==
        msgs.groupBy(identity).view.mapValues(_.length).toMap)
    } finally q.stop()
  }

  test("FileLinesSource satisfies the downstream value-column contract") {
    val dir = java.nio.file.Files.createTempDirectory("graft_src_contract")
    try {
      java.nio.file.Files.writeString(dir.resolve("batch0.jsonl"),
        "{\"a\": 1}\n{\"a\": 2}\n{\"a\": 3}\n")
      val df = FileLinesSource(dir.toString, maxFilesPerTrigger = Some(1))
        .load(spark)
      assert(df.isStreaming)
      assert(df.schema == contract)
      val q = df.writeStream.format("memory").queryName("contract_file")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table("contract_file").count() == 3L)
      } finally q.stop()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
