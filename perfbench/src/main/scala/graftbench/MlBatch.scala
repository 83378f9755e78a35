package graftbench

import java.net.{HttpURLConnection, URI}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.storage.StorageLevel

import graft.etl.{MovieLens, MovieLensAnalytics}
import graft.graph.BipartiteGraph
import graft.reco.{AlsTrainer, FoldInRecommender}
import graft.streaming.{FeedbackPipeline, LiveCountsService, MemorySource}

/** `ml_batch`: the reference's offline chain on a generated
  * MovieLens-shaped `.dat` set — ETL, analytics, ALS, graph and the
  * fold-in model export — plus the live-counts dashboard's restart: the
  * reference's 146,626-message feedback backlog replayed through
  * `FeedbackPipeline` as epoch 0 into the memory sink, a few small
  * triggers as the bots trickle in, then the dashboard's counts, in
  * process and as `GET /counts` from [[LiveCountsService]]. One
  * operation is one pass of the whole chain, from the inputs to every
  * result.
  *
  * A run makes exactly two passes, whatever `--seconds` says. The first
  * runs in a fresh JVM and session, as a batch job submitted on its own
  * does, and pays class loading, JIT compilation and code generation.
  * The second reuses the warmed JVM.
  *
  * End to end: `op_p50_ms` is the warm pass, `op_tail_ms` the cold
  * pass and `throughput_per_s` the rating lines per second of the warm
  * pass.
  */
object MlBatch {

  /** MovieLens-100K's shape (943 users, 1,682 films, 100,000 ratings):
    * a warm pass takes about 20 s on 4 cores, a cold one about twice
    * that. ALS's 15 iterations dominate, and cost about the same at
    * MovieLens-1M's ten times the ratings, which would not leave room
    * for two passes in one run. */
  val Shape: Gen.MlShape = Gen.MlShape(943, 1682, 100000)
  val PageRankIters = 10
  val TopN = 10
  /** `genresWon` ranks the winners among this many top films. */
  val WonAmong = 100

  /** The reference's backlog, replayed as epoch 0. */
  val Backlog = 146626
  val Table = "feedback_raw"
  /** Triggers after the replay, each adding 100 ms of the bots'
    * 1,100 msg/s. */
  val LiveTriggers = 10
  val LiveBatch: Int = Gen.ReferenceRate / 10
  val CountsGets = 3
  val Phases = Seq("addBatch", "queryPlanning", "getBatch", "latestOffset", "walCommit",
    "commitOffsets")

  /** The feedback a pass streams and the dashboard counts it must end
    * with. */
  final case class Feedback(backlog: Seq[String], live: Seq[Seq[String]],
      counts: Map[String, Map[String, Long]])

  /** One trigger's progress event. */
  final case class Progress(queryId: java.util.UUID, batchId: Long, rows: Long,
      durations: Map[String, Long])

  def run(ctx: Ctx): Unit = {
    var service: LiveCountsService.Handle = null
    val setupS = ctx.startSession { s =>
      val h = LiveCountsService.start(s, Table)
      service = h
      () => h.stop()
    }
    ctx.metric("setup_s", setupS, "s")
    val (files, tallies) = Gen.movieLens(ctx.dir(s"ml-${ctx.opts.seed}"), Shape, ctx.opts.seed)
    val backlog = Gen.feedback(ctx.opts.seed, Backlog)
    val live = Gen.feedback(ctx.opts.seed + 1, LiveTriggers * LiveBatch)
    val feedback = Feedback(backlog.map(_.json).toSeq,
      live.map(_.json).toSeq.grouped(LiveBatch).toSeq,
      Gen.countsOf(backlog.iterator ++ live.iterator))

    val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(Progress(p.id, p.batchId, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    }
    ctx.spark.streams.addListener(listener)
    val countsUrl = s"http://localhost:${service.port}/counts"

    val c0 = System.nanoTime()
    ctx.trace.record("batch.cold_pass")(
      pass(ctx, files, tallies, feedback, countsUrl, progress, cold = true))
    val coldS = (System.nanoTime() - c0) / 1e9
    val w0 = System.nanoTime()
    val rmse = ctx.trace.record("batch.pass")(
      pass(ctx, files, tallies, feedback, countsUrl, progress, cold = false))
    val warmS = (System.nanoTime() - w0) / 1e9
    ctx.spark.streams.removeListener(listener)
    service.stop()
    System.err.println(f"[ml_batch] cold=$coldS%.2f warm=$warmS%.2f " +
      f"ratings=${tallies.ratingLines} rmse=$rmse%.4f in (${tallies.plantedRmse}%.4f, ${tallies.biasRmse}%.4f)")
    ctx.metric("op_p50_ms", warmS * 1e3, "ms")
    ctx.metric("op_tail_ms", coldS * 1e3, "ms")
    ctx.metric("throughput_per_s", tallies.ratingLines / warmS, "1/s")
    ctx.layer("batch.cold_pass_s", coldS, "s")
    ctx.layer("als.holdout_rmse", rmse, "stars")
    reportLayers(ctx)
  }

  /** One pass of the chain; checks every output against the generator's
    * tallies and returns the ALS holdout RMSE. */
  def pass(ctx: Ctx, files: Gen.MlFiles, t: Gen.MlTallies, fb: Feedback, countsUrl: String,
      progress: java.util.Collection[Progress], cold: Boolean): Double = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    // the cold pass runs under its own span names, so that the
    // per-layer metrics describe the warm pass only
    val tag = if (cold) "cold." else ""
    def tr[T](name: String)(body: => T): T = ctx.trace(sc, tag + name)(body)
    def check(name: String, ok: Boolean, detail: => String = ""): Unit =
      ctx.check(name, ok, detail)
    ctx.attempted += 1
    val failedBefore = ctx.failedChecks

    val full = tr("etl.build") {
      val df = MovieLens.buildRatingsFull(spark, files.movies, files.users, files.ratings)
        .persist(StorageLevel.MEMORY_ONLY)
      val n = df.count()
      check("etl.rows", n == t.ratingLines, s"$n != ${t.ratingLines}")
      if (!cold) ctx.layer("etl.rows_out", n.toDouble, "count")
      df
    }

    val top = tr("analytics.topFilms") {
      MovieLensAnalytics.topFilms(full, TopN).collect()
        .map(r => (r.getAs[Int]("filmId"), r.getAs[Long]("num_notas"))).toSeq
    }
    check("analytics.topFilms", top == Gen.topFilms(t, TopN), s"$top")
    val perGenre = tr("analytics.topPerGenre")(MovieLensAnalytics.topPerGenre(full).collect())
      .map(r => r.getAs[String]("genre") -> (r.getAs[Int]("filmId"), r.getAs[Long]("num_notas")))
    val perGenreWant = Gen.topPerGenre(t)
    check("analytics.topPerGenre", perGenre.length == perGenreWant.size &&
      perGenre.toMap == perGenreWant, s"${perGenre.toSeq} != $perGenreWant")
    val won = tr("analytics.genresWon")(MovieLensAnalytics.genresWon(full, WonAmong).collect())
      .map(r => (r.getAs[Int]("filmId"), r.getAs[Long]("num_notas"), r.getAs[Long]("cant"))).toSeq
    val wonWant = Gen.genresWon(t, WonAmong)
    check("analytics.genresWon", won == wonWant, s"$won != $wonWant")
    val movies = MovieLens.cleanMovies(MovieLens.readDat(spark, files.movies, MovieLens.moviesSchema))
    val genres = tr("analytics.genreCounts")(MovieLensAnalytics.genreCounts(movies).collect())
      .map(r => r.getString(0) -> r.getLong(1))
    check("analytics.genreCounts", genres.toMap == Gen.genreCounts(t), s"${genres.toSeq}")

    val prepared = tr("als.prepare") {
      val df = AlsTrainer.prepare(full).persist(StorageLevel.MEMORY_ONLY)
      val n = df.count()
      check("als.prepare.rows", n == t.validPairs, s"$n != ${t.validPairs}")
      df
    }
    val (train, test) = tr("als.split")(AlsTrainer.split(prepared))
    val model = tr("als.train")(AlsTrainer.train(train))
    val rmse = tr("als.rmse")(AlsTrainer.rmse(model, test))
    // ALS must learn part of the planted low-rank structure, which no
    // bias-only model can, and cannot beat the planted noise: a score
    // near it means the holdout leaked into training
    check("als.rmse", rmse > 0.95 * t.plantedRmse && rmse < t.biasRmse,
      f"rmse $rmse%.4f outside (${0.95 * t.plantedRmse}%.4f, ${t.biasRmse}%.4f)")

    val edges = prepared.filter(pmod(col("userId").cast("long") * 7919L + col("filmId"),
      lit(Gen.GraphSampleMod.toLong)) === 0)
    val g = tr("graph.build") {
      val g = BipartiteGraph.build(edges, "userId", "filmId", "rating").cache()
      g.edges.count()
      g
    }
    val (inDeg, outDeg) = tr("graph.degrees") {
      (BipartiteGraph.itemInDegrees(spark, g).agg(sum("in_degree"), count(lit(1))).head(),
        BipartiteGraph.userOutDegrees(spark, g).agg(sum("out_degree"), count(lit(1))).head())
    }
    check("graph.degrees", inDeg.getLong(0) == t.sampleEdges && outDeg.getLong(0) == t.sampleEdges &&
      inDeg.getLong(1) == t.sampleFilms && outDeg.getLong(1) == t.sampleUsers,
      s"$inDeg $outDeg vs ${t.sampleEdges} ${t.sampleFilms} ${t.sampleUsers}")
    val ranks = tr("graph.pagerank")(BipartiteGraph.itemPageRank(spark, g, PageRankIters).limit(TopN).collect())
    check("graph.pagerank", ranks.length == math.min(TopN, t.sampleFilms) &&
      ranks.forall(r => r.getDouble(1) > 0))
    val comps = tr("graph.components")(BipartiteGraph.componentSizes(spark, g).collect())
    val compTotal = comps.map(_.getLong(1)).sum
    check("graph.components", compTotal == t.sampleUsers + t.sampleFilms,
      s"$compTotal != ${t.sampleUsers + t.sampleFilms}")
    g.unpersist(blocking = false)

    val foldIn = tr("foldin.fromModel")(FoldInRecommender.fromModel(model, movies))
    check("foldin.fromModel", foldIn.rank == AlsTrainer.Config().rank &&
      foldIn.itemIds.nonEmpty && foldIn.itemIds.sameElements(foldIn.itemIds.sorted))

    // the live-counts stream after a restart: the backlog is epoch 0,
    // then one small trigger per live batch; the query's execution
    // thread inherits the span that starts it
    val queryId = tr("stream") {
      val source = new MemorySource(spark)
      source.add(fb.backlog)
      val q = FeedbackPipeline.startMemoryAppend(
        FeedbackPipeline.parse(source.load(spark)), Table)
      ctx.trace.record(tag + "stream.replay")(q.processAllAvailable())
      ctx.trace.record(tag + "stream.live")(fb.live.foreach { b =>
        source.add(b)
        q.processAllAvailable()
      })
      q.stop()
      q.exception.foreach(e => throw e)
      q.id
    }
    Attribution.drain(sc) // delivers the query's progress events too
    val events = progress.asScala.toSeq.filter(p => p.queryId == queryId && p.rows > 0)
    val (epoch0, liveTriggers) = events.partition(_.batchId == 0)
    check("stream.triggers", epoch0.map(_.rows) == Seq(fb.backlog.length.toLong) &&
      liveTriggers.map(_.rows) == fb.live.map(_.length.toLong),
      s"rows per trigger ${events.map(_.rows)}")
    if (!cold) reportTriggers(ctx, epoch0, liveTriggers)

    val counts = tr("counts.compute")(LiveCountsService.computeCounts(spark, Table))
    check("counts.compute", counts == fb.counts, s"$counts != ${fb.counts}")
    // the dashboard's reads: the JDK server's threads run their jobs
    // outside any span
    val jobsBefore = if (ctx.traced && !cold) ctx.counters(Attribution.Unattributed).jobs else 0L
    val gets = (1 to CountsGets).map { _ =>
      val t0 = System.nanoTime()
      val (code, body) = ctx.trace.record(tag + "counts.get")(http(countsUrl))
      (code, body, (System.nanoTime() - t0) / 1e6)
    }
    check("counts.http", gets.forall { case (code, body, _) =>
      code == 200 && parseCounts(body) == fb.counts
    }, gets.map(g => s"${g._1} ${g._2.take(200)}").mkString("; "))

    if (!cold && ctx.traced) {
      val getJobs = ctx.counters(Attribution.Unattributed).jobs - jobsBefore
      ctx.layer("counts.p50_ms", Stats.median(gets.map(_._3)), "ms")
      ctx.layer("counts.jobs_per_request", getJobs.toDouble / CountsGets, "count")
    }

    prepared.unpersist(blocking = true)
    full.unpersist(blocking = true)
    if (ctx.failedChecks > failedBefore) ctx.failed += 1
    rmse
  }

  /** The warm pass's triggers: epoch 0, the replay, and the small live
    * ones. */
  private def reportTriggers(ctx: Ctx, epoch0: Seq[Progress],
      liveTriggers: Seq[Progress]): Unit = {
    def ms(p: Progress, phase: String): Double = p.durations.getOrElse(phase, 0L).toDouble
    ctx.layer("stream.replay_epoch0_ms", epoch0.map(ms(_, "triggerExecution")).sum, "ms")
    val trig = liveTriggers.map(ms(_, "triggerExecution"))
    ctx.layer("stream.trigger_ms_p50", Stats.median(trig), "ms")
    ctx.layer("stream.trigger_ms_mean", Stats.mean(trig), "ms")
    Phases.foreach { ph =>
      ctx.layer(s"stream.${ph}_ms_p50", Stats.median(liveTriggers.map(ms(_, ph))), "ms")
    }
  }

  private val Steps = Seq("etl.build", "analytics.topFilms", "analytics.topPerGenre",
    "analytics.genresWon", "analytics.genreCounts", "als.prepare", "als.split", "als.train",
    "als.rmse", "graph.build", "graph.degrees", "graph.pagerank", "graph.components",
    "foldin.fromModel", "stream", "counts.compute")

  /** Per-layer metrics of the warm pass, from the spans and the Spark
    * listener. */
  private def reportLayers(ctx: Ctx): Unit = if (ctx.traced) {
    def span(name: String): Double = ctx.trace.durations(name).sum
    Steps.dropRight(2).foreach(s => ctx.layer(s + "_s", span(s), "s"))
    ctx.layer("stream.replay_catchup_s", span("stream.replay"), "s")
    ctx.layer("counts.compute_ms_p50", span("counts.compute") * 1e3, "ms")
    ctx.sparkLayer("stream", "stream", 1, Seq("jobs", "executor_cpu_s", "gc_s"))
    ctx.sparkLayer("etl", "etl.build", 1, Seq("jobs", "tasks",
      "executor_cpu_s", "gc_s", "shuffle_bytes"))
    val an = Seq("topFilms", "topPerGenre", "genresWon", "genreCounts").map("analytics." + _)
    ctx.layer("analytics.shuffle_bytes", an.map(ctx.counters(_).shuffleBytes.toDouble).sum, "bytes")
    ctx.sparkLayer("als.train", "als.train", 1, Seq("jobs", "stages",
      "tasks", "executor_cpu_s", "scheduler_delay_s", "gc_s", "shuffle_bytes", "spill_bytes"))
    val gs = Seq("build", "degrees", "pagerank", "components").map("graph." + _)
    ctx.layer("graph.jobs", gs.map(ctx.counters(_).jobs.toDouble).sum, "count")
    ctx.layer("graph.shuffle_bytes", gs.map(ctx.counters(_).shuffleBytes.toDouble).sum, "bytes")
    ctx.layer("foldin.result_bytes", ctx.counters("foldin.fromModel").resultBytes.toDouble, "bytes")
    // pass wall time not covered by any Spark stage of the pass
    val stageMs = Stats.unionLength(Steps.flatMap(ctx.counters(_).stageSpans))
    ctx.layer("batch.outside_stages_s", math.max(0.0, span("batch.pass") - stageMs / 1e3), "s")
  }

  private val mapper = new ObjectMapper()

  /** A `/counts` body as per-dimension value -> count maps. */
  def parseCounts(body: String): Map[String, Map[String, Long]] =
    if (body == null || body.isEmpty) Map.empty
    else {
      val root = mapper.readTree(body)
      Seq("gender", "occupation", "age").map { dim =>
        dim -> root.path(dim).properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
      }.toMap
    }

  /** GET `url`: status and body. */
  def http(url: String): (Int, String) = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      val body = if (in == null) "" else new String(in.readAllBytes(), "UTF-8")
      (code, body)
    } finally c.disconnect()
  }
}
