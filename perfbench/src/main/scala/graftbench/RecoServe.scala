package graftbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.reco.{FoldInRecommender, RecommenderService}

/** `reco_serve`: 4 closed-loop clients (one per core) send
  * `POST /recommend` to [[RecommenderService]] over a fold-in model of
  * MovieLens-1M's shape (3,706 items × rank 20). The service gets the
  * session, so every request registers `last_request_ratings` as the
  * reference does. Requests carry 1–50 seed ratings; a few name an
  * unknown film and a few are malformed (these must get 400).
  *
  * End to end: `op_p50_ms`/`op_tail_ms` are the p50/p95 request latency,
  * `throughput_per_s` the requests per second.
  */
object RecoServe {

  val Clients = 4
  val TopN = 5
  val Reg = 0.1
  /** Every this-many-th well-formed response is checked in full. */
  val CheckEvery = 10
  /** Warm-up before the window. The service handles one request at a
    * time, so HTTP alone warms its code slowly: after a 1 s warm-up,
    * latencies kept falling for the first 10–15 s of the window. The
    * request path therefore runs in process on `WarmThreads` threads
    * first, then over HTTP. */
  val WarmThreads = 3
  val WarmInProcessSeconds = 6.0
  val WarmHttpSeconds = 2.0

  final case class Outcome(idx: Int, code: Int, body: String, ms: Double)

  def run(ctx: Ctx): Unit = {
    val gm = Gen.recoModel(ctx.opts.seed)
    val reqs = Gen.recoRequests(ctx.opts.seed, gm, 20000)
    var model: FoldInRecommender.Model = null
    var service: RecommenderService.Handle = null
    val setupS = ctx.startSession { s =>
      model = FoldInRecommender.fromFactors(gm.ids, gm.factors, gm.titles)
      val h = RecommenderService.start(model, topN = TopN, reg = Reg, spark = Some(s))
      service = h
      () => h.stop()
    }
    ctx.metric("setup_s", setupS, "s")
    val sc = ctx.spark.sparkContext
    val url = s"http://localhost:${service.port}/recommend"

    warmInProcess(ctx.spark, model, reqs, WarmInProcessSeconds)
    closedLoop(url, reqs, WarmHttpSeconds, new AtomicInteger(reqs.length * 3 / 4))
    Attribution.drain(sc)
    val jobsBefore = ctx.jobs.jobs
    val gcBefore = Stats.gcSeconds
    val t0 = System.nanoTime()
    val outcomes = ctx.trace.record("serve.window")(
      closedLoop(url, reqs, ctx.opts.seconds, new AtomicInteger(0)))
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcS = Stats.gcSeconds - gcBefore
    Attribution.drain(sc)
    val servingJobs = ctx.jobs.jobs - jobsBefore
    service.stop()

    // checks, outside the timed window
    ctx.attempted += outcomes.length
    ctx.check("serve.no_spark_jobs", servingJobs == 0, s"$servingJobs jobs while serving")
    var bad = 0
    outcomes.foreach { o =>
      val r = reqs(o.idx)
      val ok =
        if (r.malformed) o.code == 400
        else o.code == 200 && (o.idx % CheckEvery != 0 || matches(o.body, r.seeds, gm))
      if (!ok) {
        bad += 1
        if (bad <= 3) System.err.println(s"[reco_serve] request ${o.idx} ${o.code} ${o.body.take(200)}")
      }
    }
    ctx.check("serve.responses", bad == 0, s"$bad bad responses")
    ctx.check("serve.malformed_seen", outcomes.exists(o => reqs(o.idx).malformed))
    ctx.failed += bad

    val ok200 = outcomes.filter(_.code == 200).map(_.ms)
    val lat = outcomes.map(_.ms)
    val p50 = Stats.median(lat)
    val p95 = Stats.percentile(lat, 0.95)
    val p99 = Stats.percentile(lat, 0.99)
    System.err.println(f"[reco_serve] n=${lat.length} p50=$p50%.2fms p99=$p99%.2fms " +
      f"rps=${lat.length / wallS}%.1f jobs=$servingJobs")
    ctx.metric("op_p50_ms", p50, "ms")
    ctx.metric("op_tail_ms", p95, "ms")
    ctx.metric("throughput_per_s", lat.length / wallS, "1/s")

    if (ctx.traced) {
      // the same request stream, in process: fold-in and ranking alone
      val good = reqs.filterNot(_.malformed).take(math.max(200, ok200.length))
      val recUs = mutable.ArrayBuffer.empty[Double]
      val foldUs = mutable.ArrayBuffer.empty[Double]
      good.foreach { r =>
        val t = System.nanoTime()
        ctx.trace.record("foldin.recommend")(model.recommend(r.seeds, TopN, Reg))
        val t1 = System.nanoTime()
        ctx.trace.record("foldin.foldInVector")(model.foldInVector(r.seeds, Reg))
        recUs += (t1 - t) / 1e3
        foldUs += (System.nanoTime() - t1) / 1e3
      }
      ctx.layer("foldin.recommend_us_p50", Stats.median(recUs.toSeq), "us")
      ctx.layer("foldin.recommend_us_p99", Stats.percentile(recUs.toSeq, 0.99), "us")
      ctx.layer("foldin.foldInVector_us_p50", Stats.median(foldUs.toSeq), "us")
      ctx.layer("serve.http_overhead_ms_p50",
        math.max(0.0, Stats.median(ok200) - Stats.median(recUs.toSeq) / 1e3), "ms")
      ctx.layer("serve.requests", outcomes.length.toDouble, "count")
      ctx.layer("serve.p99_ms", p99, "ms")
      ctx.layer("serve.http_4xx", outcomes.count(o => o.code >= 400 && o.code < 500).toDouble, "count")
      ctx.layer("serve.http_5xx", outcomes.count(_.code >= 500).toDouble, "count")
      ctx.layer("serve.spark_jobs", servingJobs.toDouble, "count")
      ctx.layer("serve.gc_s", gcS, "s")
    }
  }

  /** What the service does per well-formed request (the
    * `last_request_ratings` registration and `recommend`), on
    * `WarmThreads` threads for `seconds`. */
  private def warmInProcess(spark: SparkSession, model: FoldInRecommender.Model,
      reqs: Array[Gen.RecoRequest], seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val next = new AtomicInteger(reqs.length / 2)
    val threads = (1 to WarmThreads).map { c =>
      val t = new Thread(() => {
        while (System.nanoTime() < deadline) {
          val r = reqs(next.getAndIncrement() % reqs.length)
          if (!r.malformed) {
            spark.createDataFrame(r.seeds).toDF("filmId", "rating")
              .createOrReplaceTempView("last_request_ratings")
            model.recommend(r.seeds, TopN, Reg)
          }
        }
      }, s"reco-warm-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
  }

  /** `Clients` threads, each sending its next request only after the
    * previous one completed, for `seconds`. Request i goes to whichever
    * client takes index i next. */
  private def closedLoop(url: String, reqs: Array[Gen.RecoRequest], seconds: Double,
      next: AtomicInteger): Seq[Outcome] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Outcome]()
    val threads = (1 to Clients).map { c =>
      val t = new Thread(() => {
        while (System.nanoTime() < deadline) {
          val i = next.getAndIncrement() % reqs.length
          val t0 = System.nanoTime()
          val (code, body) = post(url, reqs(i).body)
          out.add(Outcome(i, code, body, (System.nanoTime() - t0) / 1e6))
        }
      }, s"reco-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  private def post(url: String, body: String): (Int, String) = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    c.setFixedLengthStreamingMode(bytes.length)
    c.getOutputStream.write(bytes)
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val resp = if (in == null) "" else new String(in.readAllBytes(), StandardCharsets.UTF_8)
    if (in != null) in.close()
    (code, resp)
  }

  private val mapper = new ObjectMapper()

  /** Whether a response equals the independent solve: same films in the
    * same order; scores within 1e-6 (relative). Where two candidates'
    * scores are that close, either order is accepted. */
  def matches(body: String, seeds: Seq[(Int, Double)], m: Gen.RecoModel): Boolean = {
    val want = Reference.recommend(m, seeds, TopN, Reg)
    val got = mapper.readTree(body).path("recommendations").elements().asScala.map { n =>
      (n.get("filmId").asInt, n.get("score").asDouble)
    }.toSeq
    got.length == want.length && got.zip(want).forall { case ((gi, gs), (wi, ws)) =>
      val close = math.abs(gs - ws) <= 1e-6 * math.max(1.0, math.abs(ws))
      close && (gi == wi || want.exists { case (id, s) =>
        id == gi && math.abs(s - ws) <= 1e-6 * math.max(1.0, math.abs(ws)) })
    }
  }
}

/** Fold-in recommendation in plain arrays, written apart from the
  * engine's Breeze code: ridge solve by Cholesky, a full score sort,
  * ties broken by filmId. */
object Reference {

  def recommend(m: Gen.RecoModel, seeds: Seq[(Int, Double)], topN: Int,
      reg: Double): Seq[(Int, Double)] = {
    val row = m.ids.zipWithIndex.toMap
    val known = seeds.filter { case (id, _) => row.contains(id) }
    val k = m.factors.head.length
    val a = Array.ofDim[Double](k, k)
    val b = new Array[Double](k)
    known.foreach { case (id, r) =>
      val y = m.factors(row(id))
      for (i <- 0 until k) {
        b(i) += y(i) * r
        for (j <- 0 until k) a(i)(j) += y(i) * y(j)
      }
    }
    for (i <- 0 until k) a(i)(i) += reg
    val u = choleskySolve(a, b)
    val rated = known.map(_._1).toSet
    m.ids.indices.iterator.filterNot(i => rated.contains(m.ids(i)))
      .map { i =>
        val y = m.factors(i)
        var s = 0.0
        var j = 0
        while (j < k) { s += y(j) * u(j); j += 1 }
        (m.ids(i), s)
      }
      .toArray.sortBy { case (id, s) => (-s, id) }.take(topN).toSeq
  }

  /** Solves a·x = b for a symmetric positive-definite `a`. */
  def choleskySolve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    val l = Array.ofDim[Double](n, n)
    for (i <- 0 until n; j <- 0 to i) {
      var s = a(i)(j)
      for (p <- 0 until j) s -= l(i)(p) * l(j)(p)
      l(i)(j) = if (i == j) math.sqrt(s) else s / l(j)(j)
    }
    val y = new Array[Double](n)
    for (i <- 0 until n) {
      var s = b(i)
      for (p <- 0 until i) s -= l(i)(p) * y(p)
      y(i) = s / l(i)(i)
    }
    val x = new Array[Double](n)
    for (i <- n - 1 to 0 by -1) {
      var s = y(i)
      for (p <- i + 1 until n) s -= l(p)(i) * x(p)
      x(i) = s / l(i)(i)
    }
    x
  }
}
