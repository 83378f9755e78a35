package graft.reco

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSuite
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class RecommenderServiceSpec extends SparkSuite {

  private lazy val model = FoldInRecommender.fromFactors(
    Array(10, 11, 12, 13),
    Array(
      Array(1.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0),
      Array(0.0, 0.0, 1.0),
      Array(1.0, 1.0, 0.0)),
    Map(10 -> "A", 11 -> "B", 12 -> "C", 13 -> "D"))

  private def post(port: Int, path: String, body: String)
      : (Int, String) = {
    val conn = URI.create(s"http://localhost:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    // bodyless responses (404 with length -1) have a null error stream
    val text =
      if (is == null) ""
      else new String(is.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (code, text)
  }

  test("POST /recommend answers the fold-in top-N as JSON") {
    val h = RecommenderService.start(model, spark = Some(spark))
    try {
      val (code, body) = post(h.port, "/recommend",
        """{"ratings":[{"filmId":10,"rating":4},{"filmId":11,"rating":2}]}""")
      assert(code == 200)
      // same algebra as the hand-built-Y RecoSpec case: item 13 = 6/1.1
      // leads, item 12 scores 0
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val recs = mapper.readTree(body).get("recommendations")
      assert(recs.size == 2)
      assert(recs.get(0).get("filmId").asInt == 13)
      assert(recs.get(0).get("title").asText == "D")
      assert(math.abs(recs.get(0).get("score").asDouble - 6.0 / 1.1) < 1e-9)
      assert(recs.get(1).get("filmId").asInt == 12)
      // the request was mirrored into the reference's temp view
      val logged = spark.sql(
        "SELECT filmId, rating FROM last_request_ratings ORDER BY filmId")
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
      assert(logged == Seq((10, 4.0), (11, 2.0)))
    } finally h.stop()
  }

  test("malformed payloads get 400, unknown paths 404 (reference parity)") {
    val h = RecommenderService.start(model)
    try {
      assert(post(h.port, "/recommend", """{"ratings":[]}""")._1 == 400)
      assert(post(h.port, "/recommend", "not json")._1 == 400)
      assert(post(h.port, "/other", "{}")._1 == 404)
      // a bad entry is refused with a message naming the bad field
      Seq(
        """[{"rating":4}]""" -> "filmId",
        """[{"filmId":10}]""" -> "rating",
        """[{"filmId":10,"rating":"abc"}]""" -> "rating",
        """[{"filmId":1.7,"rating":4}]""" -> "filmId",
        """[{"filmId":10,"rating":4},{"filmId":11}]""" -> "ratings[1].rating",
        """[7]""" -> "filmId"
      ).foreach { case (ratings, field) =>
        val (code, body) = post(h.port, "/recommend", s"""{"ratings":$ratings}""")
        assert(code == 400 && body.contains(field), s"$ratings -> $code $body")
      }
      // integer and fractional ratings are both numbers
      assert(post(h.port, "/recommend",
        """{"ratings":[{"filmId":10,"rating":4},{"filmId":11,"rating":2.5}]}""")._1 == 200)
    } finally h.stop()
  }

  test("concurrent requests each get their own answer, run no job, leak no thread") {
    val rnd = new scala.util.Random(7)
    val ids = (1 to 300).map(_ * 3).toArray
    val big = FoldInRecommender.fromFactors(ids,
      Array.fill(ids.length)(Array.fill(8)(rnd.nextDouble())),
      ids.map(i => i -> s"film $i").toMap)
    val requests = Array.tabulate(4, 25) { (t, j) =>
      val r = new scala.util.Random(t * 1000 + j)
      Seq.fill(1 + r.nextInt(12))(ids(r.nextInt(ids.length)) -> (1 + r.nextInt(5)).toDouble)
        .distinctBy(_._1)
    }
    def ours(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("recommend-http-")).toSet
    val before = ours()
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val h = RecommenderService.start(big, topN = 7, spark = Some(spark))
    val mapper = new ObjectMapper()
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    GraftListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val served = try {
      val threads = requests.map { reqs =>
        new Thread(() => reqs.foreach { seeds =>
          val body = seeds.map { case (id, r) => s"""{"filmId":$id,"rating":${r.toInt}}""" }
            .mkString("""{"ratings":[""", ",", "]}")
          val (code, text) = post(h.port, "/recommend", body)
          val got = if (code != 200) Nil else
            mapper.readTree(text).get("recommendations").elements().asScala.map { n =>
              (n.get("filmId").asInt, n.get("title").asText, n.get("score").asDouble)
            }.toSeq
          val want = big.recommend(seeds, 7).map(r => (r.filmId, r.title, r.score))
          if (code != 200 || got != want) bad.add(s"$seeds: $code $text")
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      ours() -- before
    } finally {
      GraftListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      h.stop()
    }
    assert(bad.isEmpty, bad.asScala.take(3).mkString("; "))
    assert(jobs.get == 0, s"${jobs.get} Spark jobs while serving")
    val logged = spark.table("last_request_ratings").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(requests.flatten.contains(logged), s"view holds $logged")
    val fields = spark.table("last_request_ratings").schema.fields
    assert(fields.map(f => (f.name, f.dataType.simpleString, f.nullable)).toSeq ==
      Seq(("filmId", "int", false), ("rating", "double", false)))
    // the handlers ran on the service's pool, and stop() ended it
    assert(served.nonEmpty)
    assert(served.forall(!_.isAlive), served.filter(_.isAlive).map(_.getName))
  }
}
