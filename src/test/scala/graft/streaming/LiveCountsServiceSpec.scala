package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

/** End-to-end check for the /counts dashboard shim: MemoryStream →
  * FeedbackPipeline parse + memory sink → HTTP GET /counts, compared
  * against a driver-side tally of the generated messages.
  */
class LiveCountsServiceSpec extends SparkSuite {

  private def get(port: Int, path: String): (Int, String) = {
    val url = java.net.URI.create(s"http://localhost:$port$path").toURL
    val conn = url.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (in == null) "" else
      new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    conn.disconnect()
    (code, body)
  }

  test("GET /counts returns the gender/occupation/age_bin tallies") {
    val src = new MemorySource(spark)
    val parsed = FeedbackPipeline.parse(src.load(spark))
    val q = FeedbackPipeline.startMemoryAppend(parsed, "feedback_http")
    val svc = LiveCountsService.start(spark, "feedback_http")
    try {
      // empty table: the endpoint answers with three empty objects
      val (c0, b0) = get(svc.port, "/counts")
      assert(c0 == 200)
      val m = new ObjectMapper()
      val empty = m.readTree(b0)
      assert(Seq("gender", "occupation", "age").forall(d =>
        empty.path(d).isObject && empty.path(d).size == 0), b0)

      val msgs = FeedbackGenerator.batch("inserso", 0, 20) ++
        FeedbackGenerator.batch("masculino", 0, 15) ++
        FeedbackGenerator.batch("random", 0, 10)
      src.add(msgs)
      q.processAllAvailable()

      val (code, body) = get(svc.port, "/counts")
      assert(code == 200)
      val got = m.readTree(body)

      // independent driver tally over the raw JSON messages
      def field(msg: String, k: String): String = {
        val n = m.readTree(msg)
        if (k == "age") {
          val a = n.get("age").asInt
          if (a < 18) "<18" else if (a <= 24) "18-24"
          else if (a <= 34) "25-34" else if (a <= 44) "35-44"
          else if (a <= 49) "45-49" else if (a <= 55) "50-55" else "56+"
        } else n.get(if (k == "age") "age" else k).asText
      }
      Seq("gender" -> "gender", "occupation" -> "occupation",
        "age" -> "age").foreach { case (dim, k) =>
        val want = msgs.groupBy(field(_, k)).view.mapValues(_.size).toMap
        val node = got.path(dim)
        val names = {
          val it = node.fieldNames()
          Iterator.continually(if (it.hasNext) it.next() else null)
            .takeWhile(_ != null).toSeq
        }
        val gm = names.map(n => n -> node.get(n).asLong()).toMap
        assert(gm == want.map { case (a, b) => a -> b.toLong },
          s"$dim: got $gm want $want")
      }

      // the root serves the self-contained dashboard page
      val (hc, hb) = get(svc.port, "/")
      assert(hc == 200 && hb.contains("<svg") && hb.contains("/counts"), hb.take(120))
      // contract edges: other paths 404
      assert(get(svc.port, "/nope")._1 == 404)
    } finally { svc.stop(); q.stop() }
  }

  /** The dashboard counts as a Spark aggregation over the sink's table:
    * one `groupBy` per dimension, nulls left out. */
  private def groupByOracle(table: String): Map[String, Map[String, Long]] =
    Seq("gender" -> "gender", "occupation" -> "occupation", "age" -> "age_bin")
      .map { case (dim, c) =>
        dim -> spark.table(table).where(col(c).isNotNull).groupBy(col(c)).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }.toMap

  private def parseCounts(body: String): Map[String, Map[String, Long]] = {
    val root = new ObjectMapper().readTree(body)
    root.fieldNames().asScala.map { dim =>
      val node = root.get(dim)
      dim -> node.fieldNames().asScala.map(k => k -> node.get(k).asLong()).toMap
    }.toMap
  }

  test("computeCounts and GET /counts match a groupBy after every trigger, with no job") {
    val src = new MemorySource(spark)
    val q = FeedbackPipeline.startMemoryAppend(
      FeedbackPipeline.parse(src.load(spark)), "feedback_fold")
    val svc = LiveCountsService.start(spark, "feedback_fold")
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val malformed = Seq("{not json", "", """{"gender": "Mujer", "age": """)
      val ageless = Seq(
        """{"gender": "Mujer", "occupation": "Estudiante", "ratings": []}""",
        """{"gender": "Hombre", "occupation": "Programador", "age": null}""")
      val noGender = """{"occupation": "Jubilado", "age": 70}"""
      val triggers = Seq(
        Seq.empty[String],
        FeedbackGenerator.batch("inserso", 0, 30) ++ malformed ++ ageless,
        FeedbackGenerator.batch("revista", 0, 25) :+ noGender,
        malformed,
        FeedbackGenerator.batch("random", 0, 40) ++ ageless ++
          FeedbackGenerator.batch("masculino", 0, 20))
      triggers.zipWithIndex.foreach { case (msgs, i) =>
        if (msgs.nonEmpty) src.add(msgs)
        q.processAllAvailable()
        val want = groupByOracle("feedback_fold")
        assert(want("age").values.sum == triggers.take(i + 1).map(_.size).sum)
        GraftListenerBus.drain(spark.sparkContext)
        val before = jobs.get()
        assert(LiveCountsService.computeCounts(spark, "feedback_fold") == want,
          s"trigger $i")
        val (code, body) = get(svc.port, "/counts")
        assert(code == 200 && parseCounts(body) == want, s"trigger $i: $body")
        GraftListenerBus.drain(spark.sparkContext)
        assert(jobs.get() == before, s"trigger $i: /counts ran ${jobs.get() - before} jobs")
      }

      // a table that is not a memory sink is an error that names it
      spark.range(3).createOrReplaceTempView("counts_not_a_sink")
      val err = intercept[IllegalArgumentException](
        LiveCountsService.computeCounts(spark, "counts_not_a_sink"))
      assert(err.getMessage.contains("counts_not_a_sink"))
      val other = LiveCountsService.start(spark, "counts_not_a_sink")
      try {
        val (code, body) = get(other.port, "/counts")
        assert(code == 500 && body.contains("counts_not_a_sink"), s"$code $body")
      } finally other.stop()
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      svc.stop(); q.stop()
    }
  }
}
